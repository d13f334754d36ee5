package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import U._

/** Round-6 additions (SURVEY §2.28): distributed linear algebra over the
  * embedding table (power-iteration PCA, per-dimension standardization),
  * the GPT-3-appendix-style contamination REPORT (overlap rates, not a
  * filter), and k-core peeling on the co-purchase graph.
  *
  * Exactness posture: the embedding queries ride the house integer/
  * decimal grids — per-dim moments as exact BIGINT sums over the 1e-6
  * integer grid, per-row dot products as in-order HOF folds rounded to
  * 1e-6 (the graft_dot / list_reduce convention), cross-row float sums
  * through dsum. Every derived double (z-scores, eigenvector entries)
  * is a deterministic IEEE expression over those exact inputs, so the
  * driver's hash compare holds at any partitioning.
  */
object Basis {

  /** (vec_id, d, x double, g = 1e-6-grid BIGINT) — the exploded embedding
    * view the moment-based queries share. 64 rows per vector; partial
    * aggregation collapses it to 64 groups map-side, so the explode never
    * survives a shuffle. */
  private def gridded(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "xf")))
      .select(col("vec_id"), col("d"),
        col("xf").cast("double").as("x"),
        expr("CAST(round(CAST(xf AS DOUBLE) * 1000000.0) AS BIGINT)").as("g"))

  /** One k-core peeling round, exposed pre-checkpoint so PlanSpec can
    * pin the per-round shape (one keyed degree aggregate + two left-semi
    * endpoint joins — never all-pairs; the declared query
    * localCheckpoints each round, which hides the joins from the final
    * plan). */
  private[graft] def kcoreRound(e: DataFrame, k: Int): DataFrame = {
    val surv = e.groupBy("src").agg(count(lit(1)).as("deg"))
      .where(col("deg") >= k).select("src")
    e.join(surv, Seq("src"), "left_semi")
      .join(surv.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
      .select("src", "dst")
  }

  /** q_llm_mmr_rerank's candidate pull, exposed pre-checkpoint so
    * PlanSpec can pin its shape (the declared query localCheckpoints
    * this frame, which hides the join from the final plan): per capped
    * query, the top-20-by-similarity candidates drawn from the trained
    * quantizer's bucketed probe⋈assignment equi-join — 8 queries × 5
    * probed cells is a 40-row broadcast against the assignment frame,
    * and a candidate carries ONE cell, so it matches at most one probe
    * row (no post-join dedup needed). */
  private[graft] def mmrCandidatePull(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import org.apache.spark.sql.expressions.Window
    val (probesAll, cand) = Learn.trainedProbeFrames(s, d, 16, 5)
    val qs = probesAll.where(col("qid") < 8)
      .select(col("qid"), col("qe"), col("probe"))
    val wTop = Window.partitionBy("qid").orderBy(col("sim").desc, col("cid"))
    cand.join(broadcast(qs),
        col("probe") === col("ccell") && col("qid") =!= col("cid2"))
      .select(col("qid"), col("cid2").as("cid"),
        expr("round(graft_dot(qe, ce), 6)").as("sim"), col("ce"))
      .withColumn("rk", row_number().over(wTop)).where(col("rk") <= 20)
      .select("qid", "cid", "sim", "ce")
  }

  val queries: Map[String, Q] = Map(

    // Per-dimension z-score standardization — the feature-normalization
    // pass every embedding pipeline runs before clustering/ANN. Moments
    // are EXACT integer sums on the 1e-6 grid (Σg, Σg² per dim — 64
    // groups, pure map-side combine), so μ/σ are identical doubles in
    // both engines; z = (g − μ)/σ rounded to 1e-6. Output capped to the
    // first 20 vectors (the report shape) — the stats pass still scans
    // everything. At true 100 TB row counts Σg² wants DECIMAL(38,0)
    // instead of BIGINT (overflow at ~4e7 vectors); BIGINT keeps the
    // whole aggregation in codegen'd long arithmetic at every probed
    // scale (×100 = 200k vectors ⇒ Σg² ≲ 5e18).
    "q_llm_embed_standardize" -> ((s, d) => {
      val ex = gridded(s, d)
      val st = ex.groupBy("d").agg(
        sum(col("g")).as("sg"),
        sum(col("g") * col("g")).as("sg2"),
        count(lit(1)).as("n"))
      val mu = col("sg").cast("double") / col("n")
      ex.where(col("vec_id") < 20)
        .join(broadcast(st), "d")
        .select(col("vec_id"), col("d"),
          round((col("g").cast("double") - mu) /
            sqrt(col("sg2").cast("double") / col("n") - mu * mu), 6).as("z"))
        .orderBy("vec_id", "d")
    }),

    // Top principal direction by two rounds of distributed power
    // iteration on the (uncentered) second-moment matrix, without ever
    // materializing the 64×64 Gram: each round is one linear pass
    // computing per-row scores s = ⟨x, v⟩ (in-order fold, rounded to
    // 1e-6) and one 64-group aggregate w_d = Σ x_d·s (exact decimal
    // sums) — the matrix-free Gram-vector product. v renormalizes on
    // the 1e-6 grid between rounds (‖w‖ via an exact 64-term decimal
    // sum of w², sqrt/div IEEE-identical cross-engine). Seed v₀ =
    // 1/8·𝟙 (exactly representable). Output: the unit direction after
    // round 2 plus λ = ‖w₂‖ (the Rayleigh estimate of the top
    // second-moment eigenvalue, scaled by N). Two shuffles total, both
    // 64-group; the vector frames are KB-sized broadcasts.
    "q_llm_pca_power" -> ((s, d) => {
      val emb = Tables(s, d, "embeddings")
      val ex = gridded(s, d).select("vec_id", "d", "x")

      // one power-iteration round: per-row score against `vvCol` (an
      // array<double> column expression available on `emb`), then the
      // matrix-free product, norm, and renormalized (d, v) frame + norm
      def round1(scores: DataFrame): (DataFrame, DataFrame) = {
        // per-row product ROUNDED to the 1e-6 grid BEFORE the decimal
        // cast (the ts_xcorr/zipf_fit discipline): x·sc carries ~12+
        // significant decimals, and U.D's exactness precondition is ≤6 —
        // an unrounded cast would leave rows near a 0.5e-6 boundary to
        // the engines' (differing) double→decimal tie behavior
        val w = ex.join(scores, "vec_id")
          .groupBy("d").agg(dsum(round(col("x") * col("sc"), 6)).as("w"))
          .select(col("d"), round(col("w"), 6).as("w6"))
        val nrm = w.agg(
          sqrt(sum((col("w6") * col("w6")).cast(DecimalType(32, 12)))
            .cast("double")).as("nrm"))
        val v = w.crossJoin(broadcast(nrm))
          .select(col("d"), round(col("w6") / col("nrm"), 6).as("v"))
        (v, nrm)
      }

      val s1 = emb.select(col("vec_id"), expr(
        """round(aggregate(embedding, 0D,
             (acc, e) -> acc + CAST(e AS DOUBLE) * 0.125), 6)""").as("sc"))
      val (v1, _) = round1(s1)
      val vv1 = v1.agg(expr(
        "transform(array_sort(collect_list(struct(d, v))), p -> p.v)").as("vv"))
      val s2 = emb.crossJoin(broadcast(vv1)).select(col("vec_id"), expr(
        """round(aggregate(zip_with(embedding, vv, (e, y) -> CAST(e AS DOUBLE) * y),
             0D, (acc, p) -> acc + p), 6)""").as("sc"))
      val (v2, n2) = round1(s2)
      v2.crossJoin(broadcast(n2))
        .select(col("d"), col("v"), round(col("nrm"), 6).as("lambda"))
        .orderBy("d")
    }),

    // Contamination REPORT (the GPT-3 appendix-C shape): for every
    // benchmark document (the held-out 1/97 split the decontamination
    // family uses), the fraction of its distinct 5-grams that appear
    // anywhere in the training split. Reports severity per bench doc
    // instead of dropping rows — the audit artifact a release ships
    // next to the filtered corpus. The train gram set is corpus-scale,
    // so the probe is a keyed equi-join on the gram (NO broadcast),
    // one shuffle each side; bench docs shorter than 5 tokens carry no
    // grams and drop out naturally.
    "q_llm_contamination_report" -> ((s, d) => {
      val docs = Tables(s, d, "documents").withColumn("tk", textTokens)
      val train = docs.where(col("doc_id") % 97 =!= 0)
        .select(explode(array_distinct(grams5)).as("g"))
        .distinct().withColumn("hit", lit(1))
      docs.where(col("doc_id") % 97 === 0)
        .select(col("doc_id"), explode(array_distinct(grams5)).as("g"))
        .join(train, Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .select(col("doc_id"), col("n_grams"), col("n_hit"),
          round(col("n_hit") * lit(100.0) / col("n_grams"), 6)
            .as("overlap_pct"))
        .orderBy("doc_id")
    }),

    // MMR diversified re-ranking (Carbonell–Goldstein maximal marginal
    // relevance): for each capped query, greedily pick k=5 of its
    // top-20-by-similarity candidates maximizing λ·sim(q,c) −
    // (1−λ)·max_{s∈selected} sim(c,s) — the diversity re-rank every
    // retrieval-augmented pipeline runs after ANN. The candidate pull
    // rides the memoized TRAINED quantizer exactly like
    // q_llm_hard_negatives (Learn.trainedProbeFrames): each query probes
    // its 5 nearest cells and candidates come from the bucketed
    // probe⋈assignment equi-join — ~5/16 of the table at fixture scale,
    // a FIXED probe budget (probes × N/cells rows) at any N — replacing
    // the round-6 full-table broadcast-NLJ, the last brute-force scan in
    // the ANN family (measured recall of the probed top-20 vs the
    // brute-force pull: BASELINE.md "ANN recall"). Everything after
    // operates on KB-scale per-query frames: the 20×20
    // pairwise-similarity table and four unrolled greedy rounds, each
    // one bounded left-anti + max-aggregate + argmax (house
    // min(struct)). Lazy checkpoints keep the accumulating selection's
    // lineage flat. All similarities and MMR scores on the 1e-6 grid.
    "q_llm_mmr_rerank" -> ((s, d) => {
      val cands = mmrCandidatePull(s, d).localCheckpoint(false)
      val pairs = cands.select(col("qid"), col("cid").as("a"), col("ce").as("ae"))
        .join(cands.select(col("qid"), col("cid").as("b"), col("ce").as("be")), "qid")
        .where(col("a") =!= col("b"))
        .select(col("qid"), col("a"), col("b"),
          expr("round(graft_dot(ae, be), 6)").as("psim"))
        .localCheckpoint(false)
      val c = cands.select("qid", "cid", "sim")
      def argmax(df: org.apache.spark.sql.DataFrame, score: org.apache.spark.sql.Column) =
        df.withColumn("negs", -score)
          .groupBy("qid").agg(min(struct(col("negs"), col("cid"))).as("m"))
          .select(col("qid"), col("m.cid").as("cid"), (-col("m.negs")).as("score"))
      var sel = argmax(c, col("sim")).withColumn("r", lit(1))
      for (r <- 2 to 5) {
        val mp = pairs
          .join(sel.select(col("qid"), col("cid").as("b")), Seq("qid", "b"))
          .groupBy(col("qid"), col("a").as("cid"))
          .agg(max(col("psim")).as("mp"))
        val scored = c.join(sel.select("qid", "cid"), Seq("qid", "cid"), "left_anti")
          .join(mp, Seq("qid", "cid"))
          .select(col("qid"), col("cid"),
            round(lit(0.7) * col("sim") - lit(0.3) * col("mp"), 6).as("mmr"))
        sel = sel.unionAll(argmax(scored, col("mmr")).withColumn("r", lit(r)))
          .localCheckpoint(false)
      }
      sel.select(col("qid"), col("r"), col("cid"), col("score"))
        .orderBy("qid", "r")
    }),

    // HITS hubs/authorities (two fixed iterations) on the bipartite
    // co-purchase graph — customers are pure hubs, suppliers pure
    // authorities, so the mutual-reinforcement update is two keyed
    // aggregates per round (a ← Σ h over in-edges, h ← Σ a over
    // out-edges), each followed by an L2 renormalization on the 1e-6
    // grid (the pca_power discipline: exact integer/decimal norm sums,
    // IEEE-identical sqrt/div, round to 6). Iteration 1's authority
    // update from h₀ = 𝟙 is exactly the in-degree — integer, so the
    // first norm is an exact BIGINT sum of squares. Output: top-20
    // authorities with scores. Never materializes anything wider than
    // the node frames; both aggregates ride the edge key.
    "q_graph_hits" -> ((s, d) => {
      // r15: two structural fixes, same arithmetic.
      // (1) Without barriers between rounds, the final lazy tree
      //     re-derives every upstream node frame per REFERENCE — deg 8×,
      //     a1 4×, h1r 2×, 14 incidence scans, ~12 exchanges (the r14
      //     locked plan). Each tiny node frame (≤|P|,|C| rows) now takes
      //     a lazy localCheckpoint, so the propagation LINEARIZES: every
      //     aggregate runs once, and the per-round plan is one edge scan
      //     + one keyed agg.
      // (2) The incidence scans ride the src-partitioned+sorted shared
      //     edge cache (U.coPurchaseEdges) instead of a hits-local oi
      //     checkpoint: the supplier-src half IS oi keyed by p and the
      //     customer-src half IS oi keyed by c, so the in-degree agg and
      //     each propagation join consume the cached partitioning with
      //     no edge-side Exchange (the r14 bucket+sort idiom; the node
      //     frames, not the edges, are the shuffled side). Offset
      //     single-sourced in U.supplierIdOffset — a divergent literal
      //     here would silently desync HITS's node ids from the rest.
      val E = U.coPurchaseEdges(s, d)
      val eP = E.filter(col("src") >= U.supplierIdOffset)
        .select(col("src").as("p"), col("dst").as("c"))
      val eC = E.filter(col("src") < U.supplierIdOffset)
        .select(col("src").as("c"), col("dst").as("p"))
      // round 1: authority = in-degree (h0 = 1), L2-normalized exactly
      val deg = eP.groupBy("p").agg(count(lit(1)).as("deg"))
        .localCheckpoint(false)
      val n1 = deg.agg(
        sqrt(sum(col("deg") * col("deg")).cast("double")).as("nrm"))
      val a1 = deg.crossJoin(broadcast(n1))
        .select(col("p"), round(col("deg") / col("nrm"), 6).as("a"))
        .localCheckpoint(false)
      // hub update: h(c) = Σ a(p) over c's suppliers, renormalized
      val h1r = eP.join(a1, "p").groupBy("c").agg(dsum(col("a")).as("h"))
        .select(col("c"), round(col("h"), 6).as("h6"))
        .localCheckpoint(false)
      val n2 = h1r.agg(sqrt(sum((col("h6") * col("h6"))
        .cast(org.apache.spark.sql.types.DecimalType(32, 12)))
        .cast("double")).as("nrm"))
      val h1 = h1r.crossJoin(broadcast(n2))
        .select(col("c"), round(col("h6") / col("nrm"), 6).as("h"))
        .localCheckpoint(false)
      // round 2: authority from the renormalized hubs
      val a2r = eC.join(h1, "c").groupBy("p").agg(dsum(col("h")).as("a"))
        .select(col("p"), round(col("a"), 6).as("a6"))
        .localCheckpoint(false)
      val n3 = a2r.agg(sqrt(sum((col("a6") * col("a6"))
        .cast(org.apache.spark.sql.types.DecimalType(32, 12)))
        .cast("double")).as("nrm"))
      a2r.crossJoin(broadcast(n3))
        .select(col("p").as("node"), round(col("a6") / col("nrm"), 6).as("authority"))
        .orderBy(col("authority").desc, col("node"))
        .limit(20)
    }),

    // k-core peeling (k=8, three fixed rounds) on the co-purchase graph:
    // each round drops nodes of degree < k and keeps only edges between
    // survivors — the standard iterative-peeling recipe, declared at a
    // FIXED round count so the plan (and the oracle's unrolled CTE twin)
    // is static; full peeling loops this same round to a fixed point
    // with the BFS checkpoint discipline. Each round is one keyed
    // degree aggregate + two left-semi equi-joins on the endpoints —
    // never an all-pairs step. Output: the 3-times-peeled graph's nodes
    // with their residual degree.
    "q_graph_kcore_peel" -> ((s, d) => {
      // k chosen against the corpus's degree profile so the peel REMOVES
      // nodes at every gate scale (6/6/39 at sf0.001/0.01/0.1) — a k
      // below every customer degree would make the ≥k filter vacuously
      // green (the idle-customers lesson)
      val k = 8
      // each round references its input edge frame THREE times (degree
      // agg + two semi-join probes): without a barrier the co-purchase
      // lineage re-executes 3^rounds times (measured 48 s at sf0.1 —
      // the round-6 bench caught it). localCheckpoint(false) (the BFS/CC
      // discipline) flattens every round to one materialization. It is
      // not execution-free: under AQE each round's checkpoint runs that
      // round's shuffle stages as jobs when it is built, before any action.
      def peel(e: DataFrame): DataFrame =
        kcoreRound(e, k).localCheckpoint(false)
      // kcore keeps its e0 checkpoint (unlike bfs/sp/label-prop): each
      // peel round references the CURRENT edge frame 3× and filters it,
      // so the src partitioning only serves round 1 while the raw-RDD
      // re-read speed serves all three — measured r14: dropping this
      // ckpt read 2.87 s vs 1.61 s with it
      val e0 = U.coPurchaseEdges(s, d).localCheckpoint(false)
      val e3 = peel(peel(peel(e0)))
      e3.groupBy("src").agg(count(lit(1)).as("deg"))
        .select(col("src").as("node"), col("deg"))
        .orderBy("node")
    })
  )

  private val oKcoreRound = (eIn: String, dOut: String, sOut: String, eOut: String) =>
    s"""$dOut AS (SELECT src, COUNT(*) AS deg FROM $eIn GROUP BY src),
       $sOut AS (SELECT src FROM $dOut WHERE deg >= 8),
       $eOut AS (SELECT e.src, e.dst FROM $eIn e
                 JOIN $sOut a ON e.src = a.src
                 JOIN $sOut b ON e.dst = b.src)"""

  val oracle: Map[String, String] = Map(
    "q_llm_embed_standardize" ->
      """WITH x AS (SELECT vec_id, CAST(i - 1 AS INT) AS d,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS g
           FROM embeddings, range(1, 65) t(i)),
         st AS (SELECT d, SUM(g) AS sg, SUM(g * g) AS sg2, COUNT(*) AS n
                FROM x GROUP BY d)
         SELECT vec_id, d,
           round((CAST(g AS DOUBLE) - CAST(sg AS DOUBLE) / n) /
             sqrt(CAST(sg2 AS DOUBLE) / n -
               (CAST(sg AS DOUBLE) / n) * (CAST(sg AS DOUBLE) / n)), 6) AS z
         FROM x JOIN st USING (d) WHERE vec_id < 20 ORDER BY vec_id, d""",

    "q_llm_pca_power" ->
      """WITH x AS (SELECT vec_id, CAST(i - 1 AS INT) AS d,
             CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, range(1, 65) t(i)),
         s1 AS (SELECT vec_id, round(list_reduce(
             list_transform(embedding, e -> CAST(e AS DOUBLE) * 0.125),
             (a, b) -> a + b), 6) AS sc FROM embeddings),
         w1 AS (SELECT d, CAST(SUM(CAST(round(x.x * sc, 6) AS DECIMAL(18,6))) AS DOUBLE) AS w
                FROM x JOIN s1 USING (vec_id) GROUP BY d),
         w1r AS (SELECT d, round(w, 6) AS w6 FROM w1),
         n1 AS (SELECT sqrt(CAST(SUM(CAST(w6 * w6 AS DECIMAL(32,12))) AS DOUBLE))
                  AS nrm FROM w1r),
         v1 AS (SELECT d, round(w6 / nrm, 6) AS v FROM w1r, n1),
         vv1 AS (SELECT list(v ORDER BY d) AS vv FROM v1),
         s2 AS (SELECT vec_id, round(list_reduce(
             list_transform(range(1, 65),
               i -> CAST(embedding[i] AS DOUBLE) * vv[i]),
             (a, b) -> a + b), 6) AS sc FROM embeddings, vv1),
         w2 AS (SELECT d, CAST(SUM(CAST(round(x.x * sc, 6) AS DECIMAL(18,6))) AS DOUBLE) AS w
                FROM x JOIN s2 USING (vec_id) GROUP BY d),
         w2r AS (SELECT d, round(w, 6) AS w6 FROM w2),
         n2 AS (SELECT sqrt(CAST(SUM(CAST(w6 * w6 AS DECIMAL(32,12))) AS DOUBLE))
                  AS nrm FROM w2r)
         SELECT d, round(w6 / nrm, 6) AS v, round(nrm, 6) AS lambda
         FROM w2r, n2 ORDER BY d""",

    "q_llm_contamination_report" ->
      s"""WITH dtk AS (SELECT doc_id, string_split(text, ' ') AS tk
             FROM documents),
         gr AS (SELECT doc_id, unnest(list_distinct($oGrams5)) AS g FROM dtk),
         train AS (SELECT DISTINCT g FROM gr WHERE doc_id % 97 <> 0),
         b AS (SELECT gr.doc_id, CASE WHEN t.g IS NULL THEN 0 ELSE 1 END AS hit
               FROM gr LEFT JOIN train t ON gr.g = t.g
               WHERE gr.doc_id % 97 = 0)
         SELECT doc_id, COUNT(*) AS n_grams, CAST(SUM(hit) AS BIGINT) AS n_hit,
           round(CAST(SUM(hit) AS BIGINT) * 100.0 / COUNT(*), 6) AS overlap_pct
         FROM b GROUP BY doc_id ORDER BY doc_id""",

    "q_llm_mmr_rerank" -> {
      // one greedy MMR round: max-sim-to-selected over sAll{r-1}, score
      // remaining candidates, argmax → s{r}; selection accumulates
      def round(r: Int): String = {
        val prev = s"sall${r - 1}"
        s"""m$r AS (SELECT p.qid, p.a AS cid, MAX(p.psim) AS mp
               FROM pairs p JOIN $prev s ON p.qid = s.qid AND p.b = s.cid
               GROUP BY p.qid, p.a),
           sc$r AS (SELECT c.qid, c.cid,
                 round(0.7 * c.sim - 0.3 * m.mp, 6) AS mmr
               FROM cands c JOIN m$r m ON c.qid = m.qid AND c.cid = m.cid
               WHERE NOT EXISTS (SELECT 1 FROM $prev s
                 WHERE s.qid = c.qid AND s.cid = c.cid)),
           s$r AS (SELECT qid, cid, mmr AS score, $r AS r
               FROM (SELECT *, row_number() OVER (PARTITION BY qid
                 ORDER BY mmr DESC, cid) AS rk FROM sc$r) WHERE rk = 1),
           sall$r AS (SELECT qid, cid, score, r FROM $prev
                      UNION ALL SELECT qid, cid, score, r FROM s$r)"""
      }
      s"""WITH ${Learn.oTrainedCtes},
         cd AS (SELECT qr.vec_id AS qid, cand.vec_id AS cid,
               round(list_sum(list_transform(range(1, 65),
                 i -> CAST(qr.embedding[i] AS DOUBLE) * CAST(cand.ce[i] AS DOUBLE))), 6)
                 AS sim
             FROM ranked qr JOIN cand
               ON qr.cid = cand.ccell AND qr.vec_id <> cand.vec_id
             WHERE qr.vec_id < 8),
         cands AS (SELECT qid, cid, sim
             FROM (SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, cid) AS rk FROM cd) WHERE rk <= 20),
         pairs AS (SELECT x.qid, x.cid AS a, y.cid AS b,
               round(list_sum(list_transform(range(1, 65),
                 i -> CAST(ea.embedding[i] AS DOUBLE)
                   * CAST(eb.embedding[i] AS DOUBLE))), 6) AS psim
             FROM cands x
             JOIN cands y ON x.qid = y.qid AND x.cid <> y.cid
             JOIN embeddings ea ON ea.vec_id = x.cid
             JOIN embeddings eb ON eb.vec_id = y.cid),
         sall1 AS (SELECT qid, cid, sim AS score, 1 AS r
             FROM (SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, cid) AS rk FROM cands) WHERE rk = 1),
         ${(2 to 5).map(round).mkString(",\n         ")}
         SELECT qid, CAST(r AS INT) AS r, cid, score
         FROM sall5 ORDER BY qid, r"""
    },

    "q_graph_hits" ->
      s"""WITH ${U.oCoPurchase},
         cp AS (SELECT cust AS c, supp AS p FROM oi),
         deg AS (SELECT p, COUNT(*) AS deg FROM cp GROUP BY p),
         n1 AS (SELECT sqrt(CAST(SUM(deg * deg) AS DOUBLE)) AS nrm FROM deg),
         a1 AS (SELECT p, round(deg / nrm, 6) AS a FROM deg, n1),
         h1r AS (SELECT c, round(CAST(SUM(CAST(a AS DECIMAL(18,6))) AS DOUBLE), 6)
                   AS h6
                 FROM cp JOIN a1 USING (p) GROUP BY c),
         n2 AS (SELECT sqrt(CAST(SUM(CAST(h6 * h6 AS DECIMAL(32,12))) AS DOUBLE))
                  AS nrm FROM h1r),
         h1 AS (SELECT c, round(h6 / nrm, 6) AS h FROM h1r, n2),
         a2r AS (SELECT p, round(CAST(SUM(CAST(h AS DECIMAL(18,6))) AS DOUBLE), 6)
                   AS a6
                 FROM cp JOIN h1 USING (c) GROUP BY p),
         n3 AS (SELECT sqrt(CAST(SUM(CAST(a6 * a6 AS DECIMAL(32,12))) AS DOUBLE))
                  AS nrm FROM a2r)
         SELECT p AS node, round(a6 / nrm, 6) AS authority
         FROM a2r, n3 ORDER BY authority DESC, node LIMIT 20""",

    "q_graph_kcore_peel" ->
      s"""WITH ${U.oCoPurchase},
         e0 AS (SELECT cust AS src, supp AS dst FROM oi
                UNION ALL SELECT supp AS src, cust AS dst FROM oi),
         ${oKcoreRound("e0", "d1", "s1", "e1")},
         ${oKcoreRound("e1", "d2", "s2", "e2")},
         ${oKcoreRound("e2", "d3", "s3", "e3")}
         SELECT src AS node, COUNT(*) AS deg FROM e3
         GROUP BY src ORDER BY node"""
  )
}
