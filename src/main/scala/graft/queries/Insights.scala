package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import U._

/** Round-3 batch 2 (SURVEY §2.16): IR/graph/retention analytics, the
  * binned range-join shape, exact-arithmetic anomaly detection, int8
  * embedding quantization, and a doc-to-doc kNN graph.
  *
  * Scale notes: PageRank runs in 1e-9 fixed-point BIGINT (deterministic
  * across engines AND across partitionings — float mass would drift with
  * merge order); each iteration is one join on src + one partial-
  * aggregated sum-and-count on dst that also yields the next round's
  * per-edge share, and the node list joins once, after the last round.
  * The binned range join turns an interval containment predicate into an
  * equi-join on the month bin with a range residual — the shape that
  * keeps a point-in-interval join off the nested-loop path when BOTH
  * sides are large. The outlier query compares
  * n·σ²-scaled squared deviations in DECIMAL(38,0) — no sqrt, no float
  * compare, so the flag set is bit-identical in DuckDB's HUGEINT mirror.
  * The kNN graph bounds candidates by IVF cell (16 cells, 5 probes ⇒
  * ~5n²/16 scored pairs; at real scale you grow the bit count so the
  * per-cell population stays fixed and the volume stays ~5n·K).
  */
object Insights {

  /** Per-user 7-day sliding windows over the daily milli-unit event
    * totals — the scaffold shared by the raw (`q_ts_simsearch`) and
    * z-normalized (`q_ts_simsearch_znorm`) similarity searches. One
    * definition: the window geometry (milli grid, 7-day frame, full-
    * window filter) must stay identical or the two searches silently
    * match different subsequences; both DuckDB twins mirror this
    * shape in their shared daily/d2 CTE form. */
  private def dailyWindows(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    // memoized + lazily persist()ed per (session, sfDir) — the U.coPurchase
    // discipline: the raw and z-normalized searches each consumed this
    // events-scan + keyed-window lineage TWICE (query-pattern broadcast +
    // probe side), so one bench pass re-derived it up to 4×; the frame is
    // node-bounded (users × days rows, 7 longs each). persist() stays
    // lazy so plan-only consumers remain execution-free.
    graft.Memo(s, s"dailywin:$d") {
      val daily = Tables(s, d, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(sum(expr("CAST(round(value * 1000) AS BIGINT)")).as("tot"))
      val w = Window.partitionBy("user_id").orderBy("day")
      val wins = daily
        .withColumn("rn", row_number().over(w))
        .withColumn("arr", collect_list(col("tot")).over(w.rowsBetween(0, 6)))
        .where(size(col("arr")) === 7)
      if (sys.env.getOrElse("SPARK_GRAFT_CACHE", "true") != "false")
        wins.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else wins
    }

  val queries: Map[String, Q] = Map(

    // Label-propagation community detection (Raghavan et al.) over the
    // co-purchase graph — the lightweight alternative to modularity
    // clustering: each node adopts its neighbors' MAJORITY label, ties
    // to the smallest label. Updates are SEMI-SYNCHRONOUS by bipartite
    // side (odd rounds update suppliers, even rounds customers, 4
    // rounds = 2 alternations): fully synchronous LPA on a bipartite
    // graph just SWAPS the sides' labels each round — the known
    // oscillation pathology, measured here as modularity −0.5 (every
    // edge cross-community) before the fix. Per round: one equi-join
    // (side-filtered edges × labels), one (dst, lbl) count aggregate,
    // the majority pick as a SECOND-LEVEL aggregate — max of the
    // (count, −label) struct, whose lexicographic order IS "largest
    // count, ties to smallest label" — so the pick rides partial
    // aggregation instead of a per-dst window sort, and one node-sized
    // merge join folding updates into the carried frame; never a
    // global window, never all-pairs. Label frames localCheckpoint
    // (lazily) per round, the q_llm_dedup_cc rule. Rounds are FIXED,
    // not run-to-convergence: the declared query must be deterministic
    // and one-pass-per-round is the per-round cost being demonstrated;
    // convergence looping is the same driver shape as q_llm_dedup_cc.
    "q_graph_label_prop" -> ((s, d) => labelProp(s, d).orderBy("id")),

    // Louvain community detection (Blondel et al. 2008), one local-move
    // PHASE — the modularity-GREEDY member of the community family
    // (q_graph_label_prop adopts the majority neighbor label with no
    // objective; this moves each node to the neighbor community with
    // the best modularity GAIN, the step Louvain iterates): 4
    // semi-synchronous rounds alternating bipartite sides (the LPA
    // oscillation rule), every gain an EXACT integer — ΔQ·2m² =
    // 2m·k_iC − k_i·Σtot(C∖i) needs no floats, so the argmax cannot
    // drift cross-engine; factors ride DECIMAL(38,0) (the ks_drift
    // overflow rule: k_i·Σtot passes 2⁶³ at ~10⁶-degree nodes). Move
    // iff the best foreign community's gain strictly beats staying
    // (ties stay — deterministic); candidates are NEIGHBOR communities
    // only (the Louvain invariant — a non-adjacent community can only
    // lose the k_iC term). Per round: one edge⋈label shuffle for
    // k_iC, one node-sized degree-mass aggregate, keyed node-sized
    // joins — never all-pairs, never a global window; label frames
    // lazily localCheckpoint (the CC rule), whole loop memoized per
    // (session, sfDir) via [[louvain]].
    "q_graph_louvain" -> ((s, d) => louvain(s, d).orderBy("id")),

    // Louvain LEVEL TWO — the coarsening phase that makes q_graph_louvain
    // the full algorithm: phase-1 communities become super-nodes of a
    // WEIGHTED community graph (edge weight = inter-community edge
    // count, self-loops = internal mass — the aggregate a distributed
    // Louvain materializes between levels; community-count-sized, built
    // in ONE edge⋈label⋈label pass), then one synchronous weighted move
    // round over super-nodes: singleton start makes the weighted gain
    // ΔQ·2m² = 2m·w_iC − wdeg_i·wdeg_C (same exact-integer DECIMAL(38,0)
    // discipline; staying gains exactly 0, so move iff the best
    // neighbor's gain is strictly positive, ties to the smaller
    // super-node label). Synchronous evaluation is the published
    // distributed-Louvain variant — every super-node decides against
    // the same snapshot, deterministic by construction. Output maps
    // every ORIGINAL node to its level-2 community, so downstream
    // consumers (modularity, size histograms) read it exactly like the
    // phase-1 frame.
    "q_graph_louvain_coarse" -> ((s, d) => louvainCoarse(s, d).orderBy("id")),

    // Louvain TO CONVERGENCE (round 12) — the full Blondel et al. loop:
    // phase-1 local moves continue past q_graph_louvain's 4 fixed rounds
    // until modularity stops improving, then (coarsen,
    // move-until-no-improvement) LEVELS until a whole level accepts
    // nothing — ΔQ = 0, the convergence criterion, read off the exact
    // integer Q·(2m)² so "stopped improving" is never a float call.
    // Every semi-synchronous round is Q-GUARDED (accepted only if the
    // exact modularity numerator strictly rises): unguarded parallel
    // moves PILE ON — measured at sf0.01, free-running rounds collapse
    // the graph to ONE community (Q = 0); the guarded loop climbs
    // 418M → 664M and lands modularity 0.0705 vs the fixed two-level
    // pair's 0.0426 (sf0.1: 0.0530 vs 0.0428; InsightsSpec asserts
    // full ≥ coarse through the declared entries, ScaleSpec re-proves
    // at ×8). Convergence is driver-coordinated (one DECIMAL(38,0)
    // scalar per round — the ccLabels discipline), data moves only
    // through keyed joins, and the round/level caps [[FullR1Cap]]/
    // [[FullR2Cap]]/[[FullLevelCap]] are part of the SEMANTICS: the
    // DuckDB twin unrolls exactly the caps, and the acceptance gate
    // makes post-fixpoint rounds provable no-ops, so a convergence
    // LOOP hash-matches a fixed UNROLL. Cost per round = one
    // edge⋈label shuffle + node-sized joins + the qNum edge pass —
    // edge-linear at any N, never all-pairs, never a global window.
    "q_graph_louvain_full" -> ((s, d) => louvainFull(s, d).orderBy("id")),

    // Per-community CONDUCTANCE of the level-2 Louvain partition —
    // the cut-based quality metric complementing modularity (modularity
    // rewards density vs a null model; conductance φ(C) = cut(C)/
    // min(vol(C), vol(V∖C)) prices the boundary — the number a
    // partitioning-for-locality decision reads). Rides the memoized
    // louvainCoarse labels the same way q_graph_modularity rides
    // labelProp: two node-sized tag joins, one per-community aggregate
    // over exact longs, a 1-row broadcast for 2m; φ rounds the one
    // integer ratio to the 1e-9 grid (cut = 0 pins φ = 0 exactly — the
    // whole-graph community has no boundary, and 0/0 must not NaN).
    // Community-count rows out at any N.
    "q_graph_conductance" -> ((s, d) => {
      val e = U.coPurchaseEdges(s, d)
      val l2 = louvainCoarse(s, d)
      val tagged = e
        .join(l2.select(col("id"), col("lbl").as("ls")), col("src") === col("id"))
        .drop("id")
        .join(l2.select(col("id"), col("lbl").as("ld")), col("dst") === col("id"))
        .drop("id")
      val per = tagged.groupBy(col("ls").as("community"))
        .agg(count(lit(1)).as("vol"),
          sum((col("ls") =!= col("ld")).cast("long")).as("cut"))
      val sizes = l2.groupBy(col("lbl").as("community"))
        .agg(count(lit(1)).as("n_nodes"))
      val m2f = e.agg(count(lit(1)).as("m2"))
      per.join(sizes, "community").crossJoin(broadcast(m2f))
        .select(col("community"), col("n_nodes"), col("vol"), col("cut"),
          when(col("cut") === 0L, lit(0.0)).otherwise(
            round(col("cut").cast("double") /
              least(col("vol"), col("m2") - col("vol")), 9))
            .as("conductance"))
        .orderBy("community")
    }),

    // Modularity score of the label-propagation communities — the
    // quality number every community detection reports: Q = Σ_c
    // [E2_cc/E2 − (d_c/E2)²] over the directed edge count E2 (= 2m on
    // this both-directions list), within-community edges E2_cc, and
    // community degree mass d_c. Two equi-joins tag each edge's
    // endpoint labels (the label frame is node-sized — co-partitioned
    // hash joins at any scale, broadcast at demo scale), one per-label
    // aggregate, per-community terms pinned to the 1e-9 grid before
    // the exact decimal sum (integer ratios → one libm-free double
    // expression each). Output is one row at any N.
    "q_graph_modularity" -> ((s, d) => {
      val e = U.coPurchaseEdges(s, d)
      val lbl = labelProp(s, d)
      val tagged = e
        .join(lbl.select(col("id"), col("lbl").as("ls")), e("src") === col("id"))
        .drop("id")
        .join(lbl.select(col("id"), col("lbl").as("ld")), col("dst") === col("id"))
      val per = tagged.groupBy("ls")
        .agg(count(lit(1)).as("dc"),
          sum((col("ls") === col("ld")).cast("long")).as("within"))
      val tot = per.agg(sum("dc").as("e2"))
      per.crossJoin(broadcast(tot))
        .agg(count(lit(1)).as("n_communities"), max(col("e2")).as("e2"),
          sum(expr(
            """CAST(round(CAST(within AS DOUBLE) / e2
               - (CAST(dc AS DOUBLE) / e2) * (CAST(dc AS DOUBLE) / e2), 9)
               AS DECIMAL(18,9))""")).cast("double").as("modularity"))
    }),

    // Inverted index (the classic IR/MapReduce demo): word → document
    // frequency + comma-joined sorted postings list. Distinct (word, doc)
    // explode, one shuffle on word, postings joined as a string so the
    // output is flat-hashable. At 100 TB postings for stopwords are the
    // skew risk — the df column is exactly the signal a real pipeline
    // uses to split hot terms (cf. q_llm_vocab_prune).
    "q_mr_inverted_index" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("df"),
          expr("array_join(transform(array_sort(collect_list(doc_id)), v -> CAST(v AS STRING)), ',')")
            .as("postings"))
        .orderBy("word")),

    // PageRank, 3 iterations, on the bipartite customer↔supplier graph
    // (edges = distinct order→supply relationships, both directions).
    // Ranks live in 1e-9 fixed point: share = pr div deg and
    // pr' = 0.15 + 0.85·Σshare all in BIGINT — exact, order-independent,
    // and identical in the DuckDB unrolled-CTE mirror. Headroom: 85·Σ
    // stays under 2^63 up to ~10^7 nodes; past that the same query runs
    // with DECIMAL(38,0) ranks. Dangling mass (customers with no orders)
    // is dropped, the standard simplified formulation.
    // Each round is one join and one aggregate: the edge list is
    // symmetric and distinct, so count(*) over a node's in-edges IS its
    // out-degree, and the next share comes out of the same groupBy that
    // sums this round's mass. A node with no edges never sends and never
    // receives, so the node list joins once, after the last round, and
    // fills those nodes at the 0.15 base (every edge endpoint is a node —
    // TPC-H foreign keys; InsightsSpec pins both properties).
    "q_graph_pagerank" -> ((s, d) => {
      val edges = U.coPurchaseEdges(s, d)
      val nodes = Tables(s, d, "customer").select(col("c_custkey").as("id"))
        .unionAll(Tables(s, d, "supplier")
          .select((col("s_suppkey") + U.supplierIdOffset).as("id")))
      val pr = "150000000 + (85 * sum(share)) div 100"
      def step(share: org.apache.spark.sql.DataFrame, out: String, name: String) =
        edges.join(share, edges("src") === share("id"))
          .groupBy(col("dst").as("id")).agg(expr(out).as(name))
      var share = edges.groupBy(col("src").as("id"))
        .agg(expr("1000000000 div count(1)").as("share"))
      for (_ <- 1 to 2) share = step(share, s"($pr) div count(1)", "share")
      nodes.join(step(share, pr, "pr"), Seq("id"), "left")
        .select(col("id"), coalesce(col("pr"), lit(150000000L)).as("pr"))
        .orderBy("id")
    }),

    // Weekly cohort retention triangle: users cohorted by first active
    // ISO week; n_users = actives of cohort c in week c+k. Two linear
    // shuffles (distinct user-week, then min per user) + one partial-
    // aggregated rollup — no window over the event stream, no distinct
    // inside the final agg (user-weeks are already unique).
    "q_ts_retention_cohort" -> ((s, d) => {
      val act = Tables(s, d, "events")
        .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
        .distinct()
      val coh = act.groupBy("user_id").agg(min(col("wk")).as("cwk"))
      act.join(coh, "user_id")
        .groupBy(col("cwk"), expr("CAST(datediff(wk, cwk) div 7 AS INT)").as("offset_w"))
        .agg(count(lit(1)).as("n_users"))
        .select(date_format(col("cwk"), "yyyy-MM-dd").as("cohort_week"),
          col("offset_w"), col("n_users"))
        .orderBy("cohort_week", "offset_w")
    }),

    // Binned range join: "how many service intervals are open at each
    // month-start checkpoint". Intervals [d0, d1) are exploded to the
    // month bins they cover (≤ 5 — duration is bounded by construction),
    // checkpoints carry their own bin, and the join is EQUI on the bin
    // with the containment predicate as residual — no nested loop even
    // when both sides are large. Durations are synthesized from the key
    // (the corpus has no natural interval pair; shipdate can precede
    // orderdate in this testdata).
    "q_join_range_binned" -> ((s, d) => {
      val iv = Tables(s, d, "orders").select(
        col("o_orderkey"),
        to_date(col("o_orderdate")).as("d0"),
        expr("date_add(CAST(o_orderdate AS DATE), CAST(o_orderkey % 120 + 1 AS INT))").as("d1"),
        col("o_totalprice"))
      // checkpoint spine from the data (broadcast 1-row bounds)
      val b = iv.agg(min(col("d0")).as("lo"), max(col("d1")).as("hi"))
      val cps = b.select(explode(expr("sequence(trunc(lo, 'MM'), hi, interval 1 month)")).as("c"))
      val binned = iv.withColumn("m",
        explode(expr("sequence(trunc(d0, 'MM'), trunc(d1, 'MM'), interval 1 month)")))
      binned.join(cps, col("m") === col("c") && col("d0") <= col("c") && col("c") < col("d1"))
        .groupBy("c")
        .agg(count(lit(1)).as("n_open"), dsum(col("o_totalprice")).as("open_value"))
        .select(date_format(col("c"), "yyyy-MM-dd").as("checkpoint"),
          col("n_open"), col("open_value"))
        .orderBy("checkpoint")
    }),

    // Exact-arithmetic outlier audit (|z| > 3 per event_type) with NO
    // float compare: values scale to a 1e-6 integer grid, and
    // (n·x − S)² > 9·(n·Q − S²) is evaluated in DECIMAL(38,0) — the
    // DuckDB mirror uses HUGEINT and flags the identical row set. Stats
    // are one partial-aggregated pass; the 5-row stats dim broadcasts
    // back onto the fact scan.
    "q_dq_outlier_exact" -> ((s, d) => {
      val c = Tables(s, d, "events").select(col("event_id"), col("event_type").as("seg"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("x"))
      val st = c.groupBy("seg").agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sq"))
      c.join(broadcast(st), "seg")
        .withColumn("dev", expr("CAST(n AS DECIMAL(38,0)) * x - sx"))
        .withColumn("isout", expr("dev * dev > 9 * (CAST(n AS DECIMAL(38,0)) * sq - CAST(sx AS DECIMAL(38,0)) * sx)"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("isout"), 1L).otherwise(0L)).as("n_outliers"),
          expr("array_join(transform(array_sort(collect_list(CASE WHEN isout THEN event_id END)), v -> CAST(v AS STRING)), ',')")
            .as("outlier_ids"))
        .orderBy("seg")
    }),

    // Symmetric int8 quantization of the embedding column: scale =
    // max|x|/127 per vector, codes = round(x/scale) — the 4× memory cut
    // every large ANN index takes before sharding. Output is the exact
    // integer profile (sum/min/max/L1) plus the raw double amax, all
    // bit-identical in DuckDB (same IEEE ops in the same order; round
    // ties go away-from-zero in both engines).
    "q_llm_embed_quantize" -> ((s, d) =>
      Tables(s, d, "embeddings")
        .withColumn("amax", expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .withColumn("codes", expr(
          """CASE WHEN amax = 0 THEN transform(embedding, x -> 0)
             ELSE transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127 / amax) AS INT)) END"""))
        .select(col("vec_id"),
          expr("size(embedding)").as("n_dim"),
          col("amax"),
          expr("aggregate(codes, 0L, (a, v) -> a + v)").as("code_sum"),
          expr("array_min(codes)").as("code_min"),
          expr("array_max(codes)").as("code_max"),
          expr("aggregate(codes, 0L, (a, v) -> a + abs(v))").as("code_l1"))
        .orderBy("vec_id")),

    // Web-domain mix analysis: extract host/section from the document
    // URL (synthesized deterministically — the corpus carries no URL
    // column) with parse_url, then aggregate doc count and token share
    // per domain — the domain-balance report every web-scrape curation
    // run starts from. Token totals are exact integers; the share is one
    // double division over a broadcast 1-row global.
    "q_llm_domain_mix" -> ((s, d) => {
      val docs = Tables(s, d, "documents").withColumn("url",
        concat(lit("https://"), col("source"), lit("-"), col("doc_id") % 7,
          lit(".example.com/"), col("lang"), lit("/"), col("doc_id")))
      val perHost = docs.select(
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          size(split(col("text"), " ")).as("ntok"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("tok_total"),
          countDistinct(expr("split_part(path, '/', 2)")).as("n_sections"))
      val total = perHost.agg(sum(col("tok_total")).as("g"))
      perHost.crossJoin(broadcast(total))
        .select(col("host"), col("n_docs"), col("tok_total"), col("n_sections"),
          (col("tok_total").cast("double") / col("g")).as("tok_share"))
        .orderBy("host")
    }),

    // Robust outlier audit via MAD (median absolute deviation): med and
    // mad are both exact rank selections on the 1e-6 integer grid, and
    // the flag dev > 3·mad is a pure BIGINT compare — the robust
    // complement of q_dq_outlier_exact (a handful of extreme rows can't
    // drag the threshold). Two windowed selection passes per segment;
    // the at-scale variant swaps them for approx_percentile cutpoints
    // (same trade as q_win_ntile_pct, SURVEY §2.5).
    "q_dq_outlier_mad" -> ((s, d) => {
      val c = Tables(s, d, "events").select(col("event_id"), col("event_type").as("seg"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("x"))
      // the 5-row count dim broadcasts into BOTH selection passes — a
      // count-over-partition window here would add a second sort per pass
      val cnt = c.groupBy("seg").agg(count(lit(1)).as("n"))
      val wMed = Window.partitionBy("seg").orderBy("x", "event_id")
      val med = c
        .withColumn("rn", row_number().over(wMed))
        .join(broadcast(cnt), "seg")
        .where(col("rn") === expr("(n + 1) div 2"))
        .select(col("seg"), col("x").as("med"))
      val dev = c.join(broadcast(med), "seg")
        .withColumn("dev", abs(col("x") - col("med")))
      val wMad = Window.partitionBy("seg").orderBy("dev", "event_id")
      val mad = dev
        .withColumn("rn", row_number().over(wMad))
        .join(broadcast(cnt), "seg")
        .where(col("rn") === expr("(n + 1) div 2"))
        .select(col("seg"), col("dev").as("mad"))
      dev.join(broadcast(mad), "seg")
        .withColumn("isout", col("dev") > lit(3) * col("mad"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n_rows"), max(col("med")).as("med_micro"),
          max(col("mad")).as("mad_micro"),
          sum(when(col("isout"), 1L).otherwise(0L)).as("n_outliers"))
        .orderBy("seg")
    }),

    // Winnowing fingerprints (the MOSS document-fingerprint scheme):
    // hash every 5-gram, slide a w=4 window over the hash sequence, and
    // select each window's minimal hash (leftmost on ties) — guarantees
    // any shared run of ≥ w+k−1 tokens contributes a shared fingerprint,
    // while keeping the selected set a ~2/(w+1) fraction of grams. All
    // relational: one frame-window min + a fan-4 equi self-join; output
    // one profile row per doc (linear).
    "q_llm_winnow" -> ((s, d) => {
      val gr = Tables(s, d, "documents").withColumn("tk", textTokens)
        .select(col("doc_id"), posexplode(grams5).as(Seq("pos", "g")))
        .select(col("doc_id"), col("pos"), expr(hexFold("md5(g)", 15)).as("h"))
      val wFrame = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
      val wDoc = Window.partitionBy("doc_id")
      val starts = gr
        .withColumn("ng", count(lit(1)).over(wDoc))
        .withColumn("wmin", min(col("h")).over(wFrame))
        .where(col("pos") <= col("ng") - 4)
        .select(col("doc_id"), col("pos").as("j"), col("wmin"))
      val sel = starts.join(gr, Seq("doc_id"))
        .where(col("pos").between(col("j"), col("j") + 3) && col("h") === col("wmin"))
        .groupBy("doc_id", "j").agg(min(col("pos")).as("sp"), max(col("wmin")).as("sh"))
        .select(col("doc_id"), col("sp"), col("sh")).distinct()
      Tables(s, d, "documents").select("doc_id")
        .join(sel.groupBy("doc_id").agg(count(lit(1)).as("n_fp"),
          expr("bit_xor(sh)").as("fp_xor"), min(col("sh")).as("fp_min")), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_fp"), lit(0L)).as("n_fp"),
          col("fp_xor"), col("fp_min"))
        .orderBy("doc_id")
    }),

    // Degree distribution of the bipartite order graph (the first
    // diagnostic of any graph workload — is it power-law-skewed?): node
    // degree → node count, split by side, zero-degree nodes included.
    "q_graph_degree_hist" -> ((s, d) => {
      val oi = U.coPurchase(s, d)
      val nodes = Tables(s, d, "customer")
        .select(col("c_custkey").as("id"), lit("customer").as("side"))
        .unionAll(Tables(s, d, "supplier")
          .select((col("s_suppkey") + U.supplierIdOffset).as("id"),
            lit("supplier").as("side")))
      // one pass over oi (explode both endpoints), not a unionAll of two
      // branches — the union re-evaluated the join+distinct twice
      val deg = oi.select(explode(array(col("cust"), col("supp"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      nodes.join(deg, Seq("id"), "left")
        .select(col("side"), coalesce(col("deg"), lit(0L)).as("deg"))
        .groupBy("side", "deg").agg(count(lit(1)).as("n_nodes"))
        .orderBy("side", "deg")
    }),

    // Per-group OLS regression (price on quantity) from exact decimal
    // sums: slope/intercept/corr are pure arithmetic over six
    // partial-aggregated exact sums — one shuffle, no second pass, and
    // the final double ops are the same expressions in DuckDB, so even
    // the floats hash-match. The mergeable-moments shape every
    // distributed regression/covariance matrix build uses.
    "q_agg_regression" -> ((s, d) =>
      Tables(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          dsum(col("l_quantity")).as("sx"), dsum(col("l_extendedprice")).as("sy"),
          dsum(col("l_quantity") * col("l_quantity")).as("sxx"),
          dsum(col("l_extendedprice") * col("l_extendedprice")).as("syy"),
          dsum(col("l_quantity") * col("l_extendedprice")).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx"))).as("slope"),
          ((col("sy") - col("sx") * ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")))) / col("n")).as("intercept"),
          // corr is the one output touching syy (~2e14: its decimal→double
          // conversion exceeds 2^53 and double-rounds differently across
          // engines, ~3 ulps) — round to the 1e-9 grid on both sides
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))), 9).as("corr"))
        .orderBy("l_returnflag")),

    // Semantic dedup end-to-end: IVF-cell candidate pairs scored by the
    // codegen'd dot product, thresholded at cosine ≥ 0.42 (embeddings
    // are unit-norm), collapsed to the linear dup-group shape (one row
    // per vector, smallest-id representative) — the embedding-space
    // counterpart of the MinHash/SimHash lexical dedups, composed from
    // the same cell bound + dupGroups pieces. Candidates are same-cell
    // only: at scale the bit count grows so each cell — and with it the
    // per-task pair volume — stays constant.
    "q_llm_dedup_semantic" -> ((s, d) => dedupSemanticWithBits(s, d, 4)),

    // Perplexity-proxy quality score: per-doc mean unigram negative
    // log-likelihood under the corpus's own add-1-smoothed unigram LM —
    // the KenLM-style quality filter of web curation, reduced to its
    // relational core. The LM is a tiny broadcast dim (one row per
    // distinct term); per-term nll is rounded to the 1e-9 grid BEFORE
    // the per-doc sum (log2 may differ by an ulp across engines — the
    // early rounding pins both to the same grid point), and the sum
    // itself runs in exact decimals so partition order can't perturb it.
    "q_llm_ppl_proxy" -> ((s, d) => {
      val tok = Tables(s, d, "documents")
        .select(col("doc_id"), explode(textTokens).as("term"))
      val totals = tok.agg(count(lit(1)).as("nn"),
        countDistinct(col("term")).as("vv"))
      val lm = tok.groupBy("term").agg(count(lit(1)).as("c"))
        .crossJoin(broadcast(totals))
        .select(col("term"),
          expr("CAST(round(log2(nn + vv) - log2(c + 1), 9) AS DECIMAL(18,9))")
            .as("nll"))
      tok.join(broadcast(lm), "term")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          // decimal sum → double FIRST, then one double division — a
          // decimal division would hit engine-specific scale rules
          round(sum(col("nll")).cast("double") / count(lit(1)), 6).as("avg_nll"))
        .orderBy("doc_id")
    }),

    // Bigram-LM quality score — the context-aware upgrade of
    // q_llm_ppl_proxy's unigram model (the actual KenLM-style filter
    // shape): per-doc mean negative log-likelihood of each bigram under
    // the corpus's add-1-smoothed conditional P(w2|w1) = (c(w1,w2)+1) /
    // (c(w1)+V). Unlike the unigram LM, the bigram table is NOT a tiny
    // broadcast dim at web scale — so the scoring join is an EQUI join
    // on (w1,w2), co-partitioned with the doc-bigram frame, and the
    // unigram counts fold into the bigram table once (never per doc
    // row). Per-bigram nll is rounded to the 1e-9 grid BEFORE the
    // per-doc decimal sum (the ppl_proxy rule): log2 may differ by an
    // ulp across engines, and the early rounding pins both. Docs with
    // fewer than 2 tokens have no bigrams and drop out on both sides.
    "q_llm_bigram_lm" -> ((s, d) => {
      val tk = Tables(s, d, "documents").withColumn("tk", textTokens)
      val big = tk.select(col("doc_id"), explode(expr(
          """transform(slice(tk, 1, greatest(size(tk) - 1, 0)),
               (x, i) -> struct(x AS w1, tk[i + 1] AS w2))""")).as("bg"))
        .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
      val uni = tk.select(explode(col("tk")).as("w1"))
        .groupBy("w1").agg(count(lit(1)).as("c1"))
      val vocab = uni.agg(count(lit(1)).as("vv"))
      val lm = big.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
        .join(uni, "w1").crossJoin(broadcast(vocab))
        .select(col("w1"), col("w2"),
          expr("CAST(round(log2(c1 + vv) - log2(c2 + 1), 9) AS DECIMAL(18,9))")
            .as("nll"))
      big.join(lm, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("nll")).cast("double") / count(lit(1)), 6).as("avg_nll"))
        .orderBy("doc_id")
    }),

    // Time-series subsequence similarity search (the distributed
    // data-series search shape of the retrieved EDBT'19/VLDB'23 papers):
    // per-user daily totals on a 1e-3 integer grid, sliding 7-day
    // windows via an ordered frame collect, squared Euclidean distance
    // to a data-derived query pattern — all BIGINT-exact (milli grid
    // bounds diff² · 7 under 2^53, so even the double view is exact),
    // global top-20 through TakeOrderedAndProject. At scale each user's
    // series lives in one partition (the window needs no cross-user
    // data) and the query pattern broadcasts.
    "q_ts_simsearch" -> ((s, d) => {
      val wins = dailyWindows(s, d)
      // first full window of the smallest qualifying user — TakeOrdered,
      // not a global window (no single-partition sort)
      val qpat = wins.where(col("rn") === 1)
        .orderBy("user_id").limit(1).select(col("arr").as("qarr"))
      wins.crossJoin(broadcast(qpat))
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("start_day"),
          expr("""aggregate(zip_with(arr, qarr, (a, b) -> (a - b) * (a - b)),
                  0L, (acc, x) -> acc + x)""").as("dist"))
        .orderBy(col("dist"), col("user_id"), col("start_day"))
        .limit(20)
    }),

    // Z-NORMALIZED subsequence similarity (SURVEY §2.35) — the UCR-suite
    // semantics every data-series system (iSAX/Odyssey family) actually
    // matches under, and what q_ts_simsearch's raw-Euclidean form is
    // NOT: each 7-day window is normalized by its own mean/std before
    // the distance, so the query matches SHAPE (a spike, a ramp)
    // regardless of the user's traffic level. Same scale shape as the
    // raw sibling: per-user keyed windows (never a global sort), a
    // 1-row broadcast query pattern, distances summed per window.
    // Determinism discipline: window moments are exact BIGINT sums
    // (Σx, Σx² of integer milli-values); μ/σ/z are doubles from
    // identical operand order in both engines (sqrt is correctly
    // rounded IEEE); each squared z-difference is rounded to the 1e-6
    // grid and summed as exact DECIMAL (order-free — a raw double SUM
    // would drift under DuckDB's unordered group accumulation); flat
    // windows (σ = 0, s2·7 = s1²) carry no shape and are excluded on
    // both sides BEFORE the query pick, as the division guard.
    // OVERFLOW BOUND (the ks_drift documentation rule): s2 = Σ₇ tot²
    // and the guard's s1² stay in BIGINT, exact while every user-DAY
    // total tot < 2³¹·√2 ≈ 3.0·10⁹ milli-units (≈ $3.0M of value per
    // user per day — 3 000× the fixture's ~10⁶ maximum and outside
    // the events domain at any probed scale). Past it Spark wraps
    // silently while DuckDB raises, so a domain that large needs the
    // DECIMAL(38,0) moment form (embed_standardize's rule).
    "q_ts_simsearch_znorm" -> ((s, d) => {
      val wins = dailyWindows(s, d)
        .withColumn("s1", expr("aggregate(arr, 0L, (a, x) -> a + x)"))
        .withColumn("s2", expr("aggregate(arr, 0L, (a, x) -> a + x * x)"))
        .where(col("s2") * 7 =!= col("s1") * col("s1"))
        .withColumn("mu", col("s1") / lit(7.0))
        .withColumn("sg", sqrt(col("s2") / lit(7.0) - col("mu") * col("mu")))
      val qpat = wins.where(col("rn") === 1)
        .orderBy("user_id").limit(1)
        .select(col("arr").as("qarr"), col("mu").as("qmu"),
          col("sg").as("qsg"))
      wins.crossJoin(broadcast(qpat))
        .select(col("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("start_day"),
          explode(expr("""zip_with(arr, qarr, (a, b) ->
              round(((a - mu) / sg - (b - qmu) / qsg) *
                    ((a - mu) / sg - (b - qmu) / qsg), 6))""")).as("sq"))
        .groupBy("user_id", "start_day")
        .agg(U.dsum(col("sq")).as("zdist"))
        .orderBy(col("zdist"), col("user_id"), col("start_day"))
        .limit(20)
    }),

    // Doc-to-doc kNN graph (top-3 neighbors per vector) over the IVF
    // sign-bit cells with Hamming-1 multi-probe — the build step of a
    // semantic-dedup / clustering pass. Candidates are bounded per cell;
    // the join is EQUI on the cell id (shuffle_hash: both sides scale
    // with N, broadcast would be wrong at 100 TB). 16 cells is right for
    // the 2k-vector sf0.1 fixture; at scale the bit count grows with N
    // so per-cell population stays constant while the probe budget (the
    // recall knob) stays fixed — measured at ×10/×100 in BASELINE.md.
    "q_llm_knn_graph" -> ((s, d) => knnGraphWithBits(s, d, 4)),

    // Triangle counting with DEGREE ORIENTATION — the construction that
    // makes the wedge join feasible at scale: orient every edge from its
    // lower-(deg, id) endpoint, enumerate wedges only at each triangle's
    // minimum apex, and close them against the canonical edge set. Per-
    // node fan-out is OUT-degree, bounded by O(√m) on any graph
    // (arboricity argument) vs max-degree for the naive wedge join —
    // the difference between hours and forever on a power-law graph.
    // Every step is an equi-join (orderkey, u, then the (v1,v2) pair);
    // nothing is quadratic in nodes. Graph: parts co-ordered within an
    // order (≤7 lines/order bounds the pair explode) in the final 365
    // shipping days — the window bound is data-derived (broadcast 1-row
    // max), and per-part degree inside it is density-constant as SF
    // grows, so edges/wedges/triangles all scale LINEARLY (measured:
    // ×10.5/×10.9 edges/triangles from sf0.01→sf0.1). Output: per-node
    // triangle support — the local clustering numerator. This is the ONE
    // graph query that deliberately does NOT ride U.coPurchase: that
    // graph is bipartite (customer↔supplier) and therefore triangle-free
    // by construction — counting on it would be vacuously zero — so
    // triangles declares its own unipartite part-co-occurrence graph.
    "q_graph_triangles" -> ((s, d) =>
      nodeTriangles(s, d).where(col("n_tri") > 0)
        .select("id", "n_tri").orderBy("id")),

    // Local clustering coefficient DISTRIBUTION over the same part
    // co-occurrence graph as q_graph_triangles (one memoized per-node
    // (deg, n_tri) frame — the coefficient is a projection on top, zero
    // extra wedge work): cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) for
    // deg ≥ 2, reported as the 10-bin histogram a graph-health
    // dashboard renders (how clustered is the neighborhood structure —
    // boilerplate co-ordering shows up as a mass at cc ≈ 1). The FULL
    // bin domain reports (the psi lesson: a bin empty of nodes still
    // shows n_nodes = 0, never silently vanishes); cc is rounded to
    // the 1e-6 grid BEFORE binning and averaging so both engines bin
    // identically, and bin = least(9, floor(cc·10)) puts the exact-1.0
    // cliques in the top bin. Bounded output (10 rows); cost beyond
    // the shared triangle frame: one node-sized projection + a 10-row
    // aggregate.
    "q_graph_clustering_coeff" -> ((s, d) => {
      val cc = nodeTriangles(s, d).where(col("deg") >= 2)
        .withColumn("cc", round(lit(2.0) * col("n_tri") /
          (col("deg") * (col("deg") - 1)), 6))
        .withColumn("bin", least(lit(9), floor(col("cc") * 10).cast("int"))
          .cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_nodes"),
          U.dsum(col("cc")).as("sum_cc"))
      s.range(10).select(col("id").as("cc_bin"))
        .join(broadcast(cc), col("cc_bin") === col("bin"), "left")
        .select(col("cc_bin"), coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
          when(col("n_nodes") > 0,
            round(col("sum_cc") / col("n_nodes"), 9)).as("avg_cc"))
        .orderBy("cc_bin")
    })
  )

  /** Per-node (id, deg, n_tri) over the 365-day part co-occurrence
    * graph — ONE memoized derivation (the U.coPurchase discipline) for
    * q_graph_triangles and q_graph_clustering_coeff: the wedge
    * enumeration is the expensive pass and the coefficient is a
    * projection on it. Inside: e feeds THREE consumers (deg, the
    * orientation, the closing semi-join) and o TWO (both wedge sides) —
    * lazy localCheckpoints keep those from re-executing the
    * co-occurrence self-join ~6×; the final node frame is lazily
    * persist()ed, so plan-only consumers stay execution-free. */
  private[graft] def nodeTriangles(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.Memo(s, s"part-tri:$d") {
      val l0 = Tables(s, d, "lineitem").select("l_orderkey", "l_partkey", "l_shipdate")
      val hi = l0.agg(max("l_shipdate").as("mx"))
      val li = l0.crossJoin(broadcast(hi))
        .where(col("l_shipdate") >= col("mx") - expr("INTERVAL 365 DAYS"))
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
      val e = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
        .select(col("x.p").as("a"), col("y.p").as("b")).distinct()
        .localCheckpoint(eager = false)
      val deg = e.select(explode(array(col("a"), col("b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val lower = col("dega") < col("degb") ||
        (col("dega") === col("degb") && col("a") < col("b"))
      val o = e
        .join(deg.select(col("id").as("a"), col("deg").as("dega")), "a")
        .join(deg.select(col("id").as("b"), col("deg").as("degb")), "b")
        .select(when(lower, col("a")).otherwise(col("b")).as("u"),
          when(lower, col("b")).otherwise(col("a")).as("v"))
        .localCheckpoint(eager = false)
      val tri = o.as("e1").join(o.as("e2"),
          col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
        .select(col("e1.u").as("w1"), col("e1.v").as("w2"), col("e2.v").as("w3"))
        .join(e, col("w2") === col("a") && col("w3") === col("b"), "left_semi")
      val tcnt = tri
        .select(explode(array(col("w1"), col("w2"), col("w3"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("n_tri"))
      val node = deg.join(tcnt, Seq("id"), "left")
        .select(col("id"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      if (sys.env.getOrElse("SPARK_GRAFT_CACHE", "true") != "false")
        node.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else node
    }

  /** Sign-bit coarse quantizer over the first `bits` embedding dims
    * (2^bits cells). The declared IVF queries use bits=4 — 16 cells,
    * right for the 2k-vector fixture; their scale notes prescribe
    * growing the bit count with N so per-cell population stays constant.
    * These parameterized forms exist so `Scale.extraProbes` can MEASURE
    * that rule at ×10/×100 instead of leaving it as prose. */
  private def cellOfBits(bits: Int) = expr((1 to bits)
    .map(i => s"${1 << (i - 1)} * CAST(element_at(embedding, $i) > 0 AS INT)")
    .mkString(" + "))

  /** Doc-to-doc kNN graph over 2^bits IVF cells. The multi-probe budget
    * stays FIXED at 5 (own cell + 4 one-bit flips) at every bit count —
    * probe count is the recall knob, independent of quantizer size — so
    * per-query candidate volume is constant and total work linear in N. */
  /** 4 SEMI-SYNCHRONOUS label-propagation rounds over
    * [[U.coPurchaseEdges]] — odd rounds update the supplier side,
    * even rounds the customer side (see q_graph_label_prop: the fully
    * synchronous variant oscillates on a bipartite graph) — shared by
    * the declared query and the modularity score so both provably walk
    * the same communities, and memoized per (session, sfDir) (the
    * CC-labels rule, Llm.ccLabels) so the round loop runs once, not
    * once per consuming query; the final frame's lazy localCheckpoint
    * makes the memo effective after its first action. */
  private[graft] def labelProp(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.Memo(s, s"labelprop:$d") {
      val e = U.coPurchaseEdges(s, d) // src-partitioned cache; no ckpt
      var lbl = e.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lbl"))
      for (k <- 1 to 4) {
        val side =
          if (k % 2 == 1) col("dst") >= U.supplierIdOffset
          else col("dst") < U.supplierIdOffset
        val upd = e.where(side).join(lbl, col("src") === lbl("id"))
          .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy(col("dst"))
          .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
          .select(col("dst").as("id"), (-col("m").getField("nl")).as("nu"))
        lbl = lbl.join(upd, Seq("id"), "left")
          .select(col("id"), coalesce(col("nu"), col("lbl")).as("lbl"))
          .localCheckpoint(false)
      }
      lbl
    }

  /** 4 semi-synchronous Louvain local-move rounds over
    * [[U.coPurchaseEdges]] — see the q_graph_louvain entry for the
    * algorithm and determinism notes. `m2` (= 2m, the both-directions
    * edge count) and the static degree frame derive once; each round
    * recomputes the community degree masses from the CURRENT labels —
    * all moving-side nodes decide against one snapshot, then merge.
    * Memoized per (session, sfDir) like [[labelProp]]. */
  private[graft] def louvain(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.Memo(s, s"louvain:$d") {
      val e = U.coPurchaseEdges(s, d) // src-partitioned cache; no ckpt
      val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
        .localCheckpoint(false)
      val m2f = e.agg(count(lit(1)).as("m2")) // = 2m (both directions)
      var lbl = e.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lbl"))
      for (k <- 1 to 4) {
        val side = (c: org.apache.spark.sql.Column) =>
          if (k % 2 == 1) c >= U.supplierIdOffset
          else c < U.supplierIdOffset
        // edges INTO a moving node from each current community
        val kic = e.where(side(col("dst")))
          .join(lbl.select(col("id"), col("lbl").as("clbl")),
            col("src") === col("id"))
          .groupBy(col("dst"), col("clbl")).agg(count(lit(1)).as("kic"))
        // per-community degree mass under the current labels (node-sized)
        val tot = lbl.join(deg, "id").groupBy("lbl").agg(sum("deg").as("tot"))
        // moving-node context: current label, degree, own community mass
        val cur = lbl.where(side(col("id")))
          .join(deg, "id")
          .join(tot.select(col("lbl"), col("tot").as("totcur")), "lbl")
          .select(col("id").as("dst"), col("lbl").as("curlbl"),
            col("deg").as("kd"), col("totcur"))
        // exact integer gain: ΔQ·2m² = 2m·k_iC − k_i·Σtot(C∖i)
        val g = kic.join(cur, "dst")
          .join(tot.select(col("lbl").as("clbl"), col("tot").as("totc")), "clbl")
          .crossJoin(broadcast(m2f))
          .withColumn("g", expr(
            """CAST(m2 AS DECIMAL(38,0)) * kic - CAST(kd AS DECIMAL(38,0)) *
               (CASE WHEN clbl = curlbl THEN totc - kd ELSE totc END)"""))
        val best = g.where(col("clbl") =!= col("curlbl"))
          .groupBy("dst")
          .agg(max(struct(col("g"), (-col("clbl")).as("nl"))).as("mb"))
          .select(col("dst"), col("mb.g").as("gbest"),
            (-col("mb.nl")).as("bestlbl"))
        val stay = g.where(col("clbl") === col("curlbl"))
          .select(col("dst"), col("g").as("gstay"))
        val upd = cur.join(best, Seq("dst"), "left")
          .join(stay, Seq("dst"), "left")
          // no internal edge ⇒ staying scores −k_i·(Σtot(cur)−k_i)
          .withColumn("gs", coalesce(col("gstay"), expr(
            "CAST(0 AS DECIMAL(38,0)) - CAST(kd AS DECIMAL(38,0)) * (totcur - kd)")))
          .select(col("dst").as("id"),
            when(col("gbest").isNotNull && col("gbest") > col("gs"),
              col("bestlbl")).otherwise(col("curlbl")).as("nu"))
        lbl = lbl.join(upd, Seq("id"), "left")
          .select(col("id"), coalesce(col("nu"), col("lbl")).as("lbl"))
          .localCheckpoint(false)
      }
      lbl
    }

  /** Louvain level 2 — coarsen [[louvain]]'s communities into a weighted
    * super-node graph and run one synchronous weighted move round (see
    * the q_graph_louvain_coarse entry). Memoized per (session, sfDir);
    * rides the phase-1 memo, so the marginal cost is the two node-sized
    * tag joins plus community-count-sized aggregates. */
  private[graft] def louvainCoarse(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.Memo(s, s"louvain2:$d") {
      val lbl1 = louvain(s, d)
      val e = U.coPurchaseEdges(s, d)
      val ce = e
        .join(lbl1.select(col("id"), col("lbl").as("cs")), col("src") === col("id"))
        .drop("id")
        .join(lbl1.select(col("id"), col("lbl").as("cd")), col("dst") === col("id"))
        .drop("id")
        .groupBy("cs", "cd").agg(count(lit(1)).as("w"))
        .localCheckpoint(false)
      val wdeg = ce.groupBy(col("cs").as("c")).agg(sum("w").as("wdeg"))
      // Σw over the both-direction community graph = 2m, the same total
      // as phase 1 (self-loops carry the internal mass)
      val m2f = ce.agg(sum("w").as("m2"))
      val cand = ce.where(col("cs") =!= col("cd"))
        .join(wdeg.select(col("c").as("cs"), col("wdeg").as("wi")), "cs")
        .join(wdeg.select(col("c").as("cd"), col("wdeg").as("wc")), "cd")
        .crossJoin(broadcast(m2f))
        .withColumn("g", expr(
          "CAST(m2 AS DECIMAL(38,0)) * w - CAST(wi AS DECIMAL(38,0)) * wc"))
      val moved = cand.groupBy("cs")
        .agg(max(struct(col("g"), (-col("cd")).as("nc"))).as("mb"))
        .select(col("cs").as("lbl"),
          when(col("mb").getField("g") > lit(0),
            -col("mb").getField("nc")).otherwise(col("cs")).as("lbl2"))
      lbl1.join(moved, Seq("lbl"), "left")
        .select(col("id"), coalesce(col("lbl2"), col("lbl")).as("lbl"))
    }

  /** One semi-synchronous WEIGHTED Louvain move round — the [[louvain]]
    * round body generalized to a weighted, possibly self-looped edge
    * frame, so ONE definition serves both phase-1 continuation rounds
    * (w = 1, no self-loops ⇒ sum(w) ≡ the 4-round loop's count) and the
    * super-node move phases of every coarsened level. `mapping(id, com)`
    * is the current membership; `ce(src, dst, w)` the static
    * both-directions weighted edges (self-loops carry internal mass —
    * they are EXCLUDED from k_iC, an edge to yourself is not an edge to
    * another member, but INCLUDED in wdeg/tot, the standard k_i
    * convention); round parity `k` picks the moving side (odd =
    * supplier-labeled ids). Gains are the exact-integer ΔQ·2m² =
    * 2m·k_iC − k_i·Σtot(C∖i) in DECIMAL(38,0); move iff the best
    * foreign gain strictly beats staying, ties stay, foreign ties to
    * the smallest label — bit-identical to the DuckDB twin's HUGEINT
    * window form. */
  private[graft] def wRoundProbe(mapping: org.apache.spark.sql.DataFrame,
      ce: org.apache.spark.sql.DataFrame,
      wdeg: org.apache.spark.sql.DataFrame,
      m2f: org.apache.spark.sql.DataFrame, k: Int)
    : org.apache.spark.sql.DataFrame = wRound(mapping, ce, wdeg, m2f, k)

  /** Exact-integer modularity NUMERATOR Q·(2m)² = 2m·Σ_c within_c −
    * Σ_c (Σtot_c)² of a membership over the weighted edge frame —
    * self-loops count as within mass (they carry a community's internal
    * edges after coarsening), so the super-node value equals the induced
    * node-partition value exactly. DECIMAL(38,0) scalar, collected
    * driver-side: the [[louvainFull]] round-acceptance guard. */
  private[graft] def qNum(mapping: org.apache.spark.sql.DataFrame,
      ce: org.apache.spark.sql.DataFrame,
      wdeg: org.apache.spark.sql.DataFrame,
      m2f: org.apache.spark.sql.DataFrame): java.math.BigDecimal = {
    val within = ce
      .join(mapping.select(col("id"), col("com").as("cs")),
        col("src") === col("id")).drop("id")
      .join(mapping.select(col("id"), col("com").as("cd")),
        col("dst") === col("id")).drop("id")
      .where(col("cs") === col("cd"))
      .agg(coalesce(sum("w"), lit(0L)).as("win"))
    val dsq = mapping.join(wdeg, "id")
      .groupBy("com").agg(sum("wdeg").as("tot"))
      .agg(sum(expr("CAST(tot AS DECIMAL(38,0)) * tot")).as("dsq"))
    within.crossJoin(broadcast(dsq)).crossJoin(broadcast(m2f))
      .select(expr("CAST(m2 AS DECIMAL(38,0)) * win - dsq").as("qn"))
      .collect()(0).getDecimal(0)
  }

  private def wRound(mapping: org.apache.spark.sql.DataFrame,
      ce: org.apache.spark.sql.DataFrame,
      wdeg: org.apache.spark.sql.DataFrame,
      m2f: org.apache.spark.sql.DataFrame, k: Int)
    : org.apache.spark.sql.DataFrame = {
    val side = (c: org.apache.spark.sql.Column) =>
      if (k % 2 == 1) c >= U.supplierIdOffset
      else c < U.supplierIdOffset
    val kic = ce.where(col("src") =!= col("dst") && side(col("dst")))
      .join(mapping.select(col("id"), col("com").as("clbl")),
        col("src") === col("id"))
      .groupBy(col("dst"), col("clbl")).agg(sum("w").as("kic"))
    val tot = mapping.join(wdeg, "id")
      .groupBy("com").agg(sum("wdeg").as("tot"))
    val cur = mapping.where(side(col("id")))
      .join(wdeg, "id")
      .join(tot.select(col("com"), col("tot").as("totcur")), "com")
      .select(col("id").as("dst"), col("com").as("curlbl"),
        col("wdeg").as("kd"), col("totcur"))
    val g = kic.join(cur, "dst")
      .join(tot.select(col("com").as("clbl"), col("tot").as("totc")), "clbl")
      .crossJoin(broadcast(m2f))
      .withColumn("g", expr(
        """CAST(m2 AS DECIMAL(38,0)) * kic - CAST(kd AS DECIMAL(38,0)) *
           (CASE WHEN clbl = curlbl THEN totc - kd ELSE totc END)"""))
    val best = g.where(col("clbl") =!= col("curlbl"))
      .groupBy("dst")
      .agg(max(struct(col("g"), (-col("clbl")).as("nl"))).as("mb"))
      .select(col("dst"), col("mb.g").as("gbest"),
        (-col("mb.nl")).as("bestlbl"))
    val stay = g.where(col("clbl") === col("curlbl"))
      .select(col("dst"), col("g").as("gstay"))
    val upd = cur.join(best, Seq("dst"), "left")
      .join(stay, Seq("dst"), "left")
      .withColumn("gs", coalesce(col("gstay"), expr(
        "CAST(0 AS DECIMAL(38,0)) - CAST(kd AS DECIMAL(38,0)) * (totcur - kd)")))
      .select(col("dst").as("id"),
        when(col("gbest").isNotNull && col("gbest") > col("gs"),
          col("bestlbl")).otherwise(col("curlbl")).as("nu"))
    mapping.join(upd, Seq("id"), "left")
      .select(col("id"), coalesce(col("nu"), col("com")).as("com"))
  }

  /** Round/level caps for [[louvainFull]] — part of the operator's
    * SEMANTICS, not tuning knobs: the declared query runs
    * min(fixpoint, cap) rounds and the DuckDB twin unrolls exactly the
    * cap. The Q-acceptance guard is what lets a CONVERGENCE loop
    * hash-match a fixed unroll: a round is a deterministic function of
    * (label state, side parity), and a REJECTED round leaves the state
    * unchanged — so after two consecutive rejections (one full side
    * cycle) every later round recomputes the same candidate and rejects
    * it again, making the twin's post-stop rounds exact no-ops. Values
    * chosen from measured convergence (BASELINE.md louvain_full rows):
    * sf0.01 accepts phase-1 rounds 6–9 and stops at 10–11; sf0.1 and
    * the ×10 replica fit the same envelope. */
  private[graft] val FullR1Cap = 10 // phase-1 rounds 5..14
  private[graft] val FullR2Cap = 6 // move rounds per coarsened level
  private[graft] val FullLevelCap = 2 // coarsen levels

  /** Eager localCheckpoint + STATS RESET for iterative join loops.
    * localCheckpoint truncates the logical plan, but its LogicalRDD
    * INHERITS the checkpointed plan's sizeInBytes ESTIMATE — and a join
    * loop feeds each round's estimate (a PRODUCT over the round's ~7
    * join levels) into the next round's leaves, so the stat's bit
    * length grows ×4 per round (measured: 5.7k → 23k → 92k → 369k →
    * 1.5M bits over five rounds; by round 11 the driver spent minutes
    * in BigInteger Toom-Cook inside the stats walk — 16 s to PLAN a
    * 16-row round). Rebuilding from the checkpointed RDD through the
    * public createDataFrame API resets the leaf statistic to the
    * session default, keeping per-round planning cost constant; the
    * price is one Row decode pass over a node-sized frame per action,
    * and joins against the frame need explicit broadcast hints (the
    * default stat disables auto-broadcast — every small side in
    * [[wRound]]/[[qNum]] is dim- or node-bounded, so that is a
    * planning-cost trade, not a correctness one). */
  private def ckptReset(df: org.apache.spark.sql.DataFrame)
    : org.apache.spark.sql.DataFrame = {
    val c = df.localCheckpoint(true)
    c.sparkSession.createDataFrame(c.rdd, c.schema)
  }

  /** Louvain TO CONVERGENCE — the full Blondel et al. loop the one-phase
    * [[louvain]] + one-level [[louvainCoarse]] pair demonstrates in
    * fixed form: continue phase-1 local moves until modularity stops
    * improving, then (coarsen, move-until-no-improvement) levels until a
    * whole level accepts nothing (ΔQ = 0). Each round is Q-GUARDED: the
    * semi-synchronous candidate labeling is accepted only if its EXACT
    * integer modularity numerator Q·(2m)² strictly improves ([[qNum]] —
    * one driver-side DECIMAL(38,0) scalar per round, the `Llm.ccLabels`
    * bounded-scalar convergence discipline). The guard is load-bearing,
    * not cosmetic: un-guarded semi-synchronous moves PILE ON (all nodes
    * of a side chasing the same big community at once) — measured at
    * sf0.01, free-running rounds collapse the graph to ONE community
    * (Q = 0) where the guarded loop climbs 418M → 664M and lands
    * modularity 0.0705 vs the fixed two-level pair's 0.0426. Guarded
    * acceptance also makes Q monotone from the 4-round base, which is
    * the q_graph_louvain_full ≥-coarse quality claim's proof sketch.
    * Label frames checkpoint per round through [[ckptReset]] (each
    * round runs a qNum action anyway; plain localCheckpoint is NOT
    * enough — see ckptReset for the compounding-statistics failure it
    * exists to stop). Memoized per (session, sfDir). */
  private[graft] def louvainFull(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.Memo(s, s"louvainfull:$d") {
      val e = U.coPurchaseEdges(s, d) // src-partitioned cache; no ckpt
      val e1 = e.select(col("src"), col("dst"), lit(1L).as("w"))
      val wdeg1 = e1.groupBy(col("src").as("id")).agg(sum("w").as("wdeg"))
        .localCheckpoint(false)
      val m2f1 = e1.agg(sum("w").as("m2"))
      // phase-1 continuation: rounds 5.. from the memoized 4-round frame
      // (side parity carries through, so round 5 moves suppliers)
      var lbl = ckptReset(louvain(s, d).select(col("id"), col("lbl").as("com")))
      var qn = qNum(lbl, e1, wdeg1, m2f1)
      var k = 5
      var rej = 0
      while (k <= 4 + FullR1Cap && rej < 2) {
        val cand = ckptReset(wRound(lbl, e1, wdeg1, m2f1, k))
        val qc = qNum(cand, e1, wdeg1, m2f1)
        if (qc.compareTo(qn) > 0) { lbl = cand; qn = qc; rej = 0 }
        else rej += 1
        k += 1
      }
      // levels: coarsen to the weighted community graph (self-loops =
      // internal mass), move super-nodes under the same guard, fold the
      // relabel into the node mapping
      var nodeLbl = lbl
      var level = 1
      var levelAccepted = 1
      while (level <= FullLevelCap && levelAccepted > 0) {
        val ce = e
          .join(nodeLbl.select(col("id"), col("com").as("cs")),
            col("src") === col("id")).drop("id")
          .join(nodeLbl.select(col("id"), col("com").as("cd")),
            col("dst") === col("id")).drop("id")
          .groupBy("cs", "cd").agg(count(lit(1)).as("w"))
          .select(col("cs").as("src"), col("cd").as("dst"), col("w"))
        val ceR = ckptReset(ce)
        val wdegC = ckptReset(
          ceR.groupBy(col("src").as("id")).agg(sum("w").as("wdeg")))
        val m2fC = ceR.agg(sum("w").as("m2"))
        var com = ckptReset(nodeLbl.select(col("com").as("id")).distinct()
          .select(col("id"), col("id").as("com")))
        var qnC = qNum(com, ceR, wdegC, m2fC)
        var kk = 1
        var rj = 0
        levelAccepted = 0
        while (kk <= FullR2Cap && rj < 2) {
          val cand = ckptReset(wRound(com, ceR, wdegC, m2fC, kk))
          val qc = qNum(cand, ceR, wdegC, m2fC)
          if (qc.compareTo(qnC) > 0) {
            com = cand; qnC = qc; rj = 0; levelAccepted += 1
          } else rj += 1
          kk += 1
        }
        nodeLbl = ckptReset(nodeLbl.select(col("id"), col("com").as("c0"))
          .join(com.select(col("id").as("c0"), col("com").as("cN")), "c0")
          .select(col("id"), col("cN").as("com")))
        level += 1
      }
      nodeLbl.select(col("id"), col("com").as("lbl"))
    }

  /** Modularity Q of an arbitrary (id, lbl) partition over
    * [[U.coPurchaseEdges]] — the q_graph_modularity arithmetic
    * factored out so specs can grade [[louvainFull]] against
    * [[louvainCoarse]] on the SAME definition. */
  private[graft] def modularityOf(s: org.apache.spark.sql.SparkSession,
      d: String, lbl: org.apache.spark.sql.DataFrame): Double = {
    val e = U.coPurchaseEdges(s, d)
    val tagged = e
      .join(lbl.select(col("id"), col("lbl").as("ls")), e("src") === col("id"))
      .drop("id")
      .join(lbl.select(col("id"), col("lbl").as("ld")), col("dst") === col("id"))
    val per = tagged.groupBy("ls")
      .agg(count(lit(1)).as("dc"),
        sum((col("ls") === col("ld")).cast("long")).as("within"))
    val tot = per.agg(sum("dc").as("e2"))
    per.crossJoin(broadcast(tot))
      .agg(sum(expr(
        """CAST(round(CAST(within AS DOUBLE) / e2
           - (CAST(dc AS DOUBLE) / e2) * (CAST(dc AS DOUBLE) / e2), 9)
           AS DECIMAL(18,9))""")).cast("double").as("q"))
      .collect()(0).getDouble(0)
  }

  /** `flips` = how many neighbor cells to probe besides the query's own
    * (the probe BUDGET — the recall knob): first the `bits` single-bit
    * flips, then two-bit flips in index order. The declared query uses 4
    * (5 probes total); Scale.recall measures what the budget buys: with
    * cells ∝ N and the budget FIXED, cost stays linear but the probed
    * fraction (1+flips)/2^bits shrinks and recall@k decays with it, so a
    * constant-recall deployment grows flips with bits. */
  private[graft] def knnGraphWithBits(s: org.apache.spark.sql.SparkSession,
      d: String, bits: Int, flips: Int = 4): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val singles = (0 until bits).map(b => 1 << b)
    val doubles = for { i <- 0 until bits; j <- i + 1 until bits }
      yield (1 << i) | (1 << j)
    val probes = "cell" +: (singles ++ doubles).take(flips)
      .map(m => s"cell ^ $m")
    val emb = Tables(s, d, "embeddings").withColumn("cell", cellOfBits(bits))
    val qs = emb.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      explode(expr(probes.mkString("array(", ", ", ")"))).as("probe"))
    val cand = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"),
      col("cell").as("ccell"))
    val w = Window.partitionBy("qid").orderBy(col("dot").desc, col("cid"))
    qs.join(cand.hint("shuffle_hash"),
        col("probe") === col("ccell") && col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        expr("round(graft_dot(qe, ce), 6)").as("dot"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .orderBy("qid", "rnk")
  }

  /** Semantic dedup over 2^bits IVF cells: same-cell candidate pairs,
    * codegen'd dot ≥ 0.42 confirm, then transitive dup groups. Cells
    * ∝ N keeps per-cell population c constant, so pair volume
    * (cells · c²/2) grows linearly with N. */
  private[graft] def dedupSemanticWithBits(s: org.apache.spark.sql.SparkSession,
      d: String, bits: Int): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = Tables(s, d, "embeddings").withColumn("cell", cellOfBits(bits))
    val a = emb.select(col("vec_id").as("a"), col("embedding").as("ea"),
      col("cell").as("ca"))
    val b = emb.select(col("vec_id").as("b"), col("embedding").as("eb"),
      col("cell").as("cb"))
    val pairs = a.join(b.hint("shuffle_hash"),
        col("ca") === col("cb") && col("a") < col("b"))
      .where(expr("graft_dot(ea, eb)") >= 0.42)
      .select(col("a"), col("b"))
    dupGroups(emb.select(col("vec_id").as("doc_id")), pairs)
      .select(col("doc_id").as("vec_id"), col("keep_id"), col("n_dups"))
  }

  /** One PageRank iteration of the DuckDB mirror (BIGINT fixed point). */
  private def oPrIter(prev: String, cur: String): String =
    s"""i$cur AS (SELECT e.dst, SUM(r.pr // e.deg) AS msum
           FROM e JOIN $prev r ON e.src = r.id GROUP BY e.dst),
       $cur AS (SELECT n.id,
           CAST(150000000 + (85 * COALESCE(i.msum, 0)) // 100 AS BIGINT) AS pr
           FROM nodes n LEFT JOIN i$cur i ON n.id = i.dst)"""

  /** DuckDB twin of [[labelProp]]: the CTE chain `oi, e, l0..l4` with
    * `l4(id, lbl)` as the final labels — shared by the label-prop and
    * modularity oracles exactly as [[labelProp]] is on the Spark side.
    * Round k updates only one bipartite side (odd → suppliers, id ≥
    * 1e6; even → customers), the carried frame merges via LEFT JOIN +
    * COALESCE, mirroring the semi-synchronous Spark loop. */
  /** DuckDB twin of [[louvain]] — the unrolled 4-round CTE chain ending
    * at `v4(id, lbl)`. Gains are HUGEINT (the DECIMAL(38,0) twin); the
    * argmax (ORDER BY g DESC, clbl) and the strict move-beats-stay
    * comparison mirror the Spark struct-max + `>` exactly. */
  private def oLouvainChain: String = {
    def round(prev: String, n: Int): String = {
      val side = (c: String) =>
        if (n % 2 == 1) s"$c >= ${U.supplierIdOffset}"
        else s"$c < ${U.supplierIdOffset}"
      s"""kic$n AS MATERIALIZED (SELECT e.dst, lp.lbl AS clbl, COUNT(*) AS kic
            FROM e JOIN $prev lp ON e.src = lp.id
            WHERE ${side("e.dst")} GROUP BY e.dst, lp.lbl),
         tot$n AS MATERIALIZED (SELECT l.lbl, CAST(SUM(d.deg) AS BIGINT) AS tot
            FROM $prev l JOIN deg d ON l.id = d.id GROUP BY l.lbl),
         cur$n AS MATERIALIZED (SELECT l.id AS dst, l.lbl AS curlbl, d.deg AS kd,
              t.tot AS totcur
            FROM $prev l JOIN deg d ON l.id = d.id
              JOIN tot$n t ON l.lbl = t.lbl
            WHERE ${side("l.id")}),
         g$n AS MATERIALIZED (SELECT k.dst, k.clbl, c.curlbl, c.kd, c.totcur,
              CAST(m.m2 AS HUGEINT) * k.kic - CAST(c.kd AS HUGEINT) *
                (CASE WHEN k.clbl = c.curlbl THEN t.tot - c.kd
                      ELSE t.tot END) AS g
            FROM kic$n k JOIN cur$n c ON k.dst = c.dst
              JOIN tot$n t ON k.clbl = t.lbl, m),
         best$n AS (SELECT dst, g AS gbest, clbl AS bestlbl FROM (
              SELECT dst, g, clbl, ROW_NUMBER() OVER (PARTITION BY dst
                ORDER BY g DESC, clbl) AS rk
              FROM g$n WHERE clbl <> curlbl) WHERE rk = 1),
         stay$n AS (SELECT dst, g AS gstay FROM g$n WHERE clbl = curlbl),
         upd$n AS (SELECT c.dst AS id,
              CASE WHEN b.gbest IS NOT NULL AND b.gbest >
                     COALESCE(s.gstay, 0 - CAST(c.kd AS HUGEINT) *
                       (c.totcur - c.kd))
                   THEN b.bestlbl ELSE c.curlbl END AS nu
            FROM cur$n c LEFT JOIN best$n b ON c.dst = b.dst
              LEFT JOIN stay$n s ON c.dst = s.dst),
         v$n AS MATERIALIZED (SELECT l.id, COALESCE(u.nu, l.lbl) AS lbl
            FROM $prev l LEFT JOIN upd$n u ON l.id = u.id)"""
    }
    s"""${U.oCoPurchase},
       e AS MATERIALIZED (SELECT cust AS src, supp AS dst FROM oi
             UNION ALL SELECT supp AS src, cust AS dst FROM oi),
       deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM e GROUP BY src),
       m AS MATERIALIZED (SELECT COUNT(*) AS m2 FROM e),
       v0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM e),
       ${round("v0", 1)}, ${round("v1", 2)},
       ${round("v2", 3)}, ${round("v3", 4)}"""
  }

  /** DuckDB scalar expression for [[qNum]] over labels CTE `lbl(id, com)`,
    * weighted edges `ce(src, dst, w)`, degrees `wd(id, wdeg)` and the
    * 1-row `m2(m2)`: Q·(2m)² = 2m·Σwithin − Σtot² in HUGEINT (the
    * DECIMAL(38,0) twin). */
  private def oQn(lbl: String, ce: String, wd: String, m2: String): String =
    s"""(SELECT CAST(mm.m2 AS HUGEINT) FROM $m2 mm) *
        (SELECT COALESCE(CAST(SUM(ce.w) AS HUGEINT), 0) FROM $ce ce
          JOIN $lbl qa2 ON ce.src = qa2.id JOIN $lbl qb2 ON ce.dst = qb2.id
          WHERE qa2.com = qb2.com)
      - (SELECT CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) FROM (
          SELECT CAST(SUM(d.wdeg) AS BIGINT) AS t FROM $lbl ql2
          JOIN $wd d ON ql2.id = d.id GROUP BY ql2.com))"""

  /** One Q-GUARDED weighted move round of the louvain_full twin —
    * [[wRound]]'s CTE mirror plus the acceptance gate: the candidate
    * labeling `cd` is adopted into `va` only when its [[oQn]] strictly
    * beats the best accepted value threaded through `qa` (so rejected
    * rounds pass the previous state through unchanged, which is what
    * makes post-fixpoint unrolled rounds exact no-ops). CTE names are
    * `$p$n`-prefixed so phase-1 and per-level chains coexist. */
  private def oGRound(p: String, n: Int, prev: String, qaPrev: String,
      ce: String, wd: String, m2: String): String = {
    val side = (c: String) =>
      if (n % 2 == 1) s"$c >= ${U.supplierIdOffset}"
      else s"$c < ${U.supplierIdOffset}"
    val P = s"$p$n"
    s"""${P}kic AS MATERIALIZED (SELECT ce.dst, mp.com AS clbl,
            CAST(SUM(ce.w) AS BIGINT) AS kic
          FROM $ce ce JOIN $prev mp ON ce.src = mp.id
          WHERE ce.src <> ce.dst AND ${side("ce.dst")}
          GROUP BY ce.dst, mp.com),
       ${P}tot AS MATERIALIZED (SELECT mp.com, CAST(SUM(d.wdeg) AS BIGINT)
            AS tot
          FROM $prev mp JOIN $wd d ON mp.id = d.id GROUP BY mp.com),
       ${P}cur AS MATERIALIZED (SELECT mp.id AS dst, mp.com AS curlbl,
            d.wdeg AS kd, t.tot AS totcur
          FROM $prev mp JOIN $wd d ON mp.id = d.id
            JOIN ${P}tot t ON mp.com = t.com
          WHERE ${side("mp.id")}),
       ${P}g AS MATERIALIZED (SELECT k.dst, k.clbl, c.curlbl, c.kd,
            c.totcur,
            CAST(mm.m2 AS HUGEINT) * k.kic - CAST(c.kd AS HUGEINT) *
              (CASE WHEN k.clbl = c.curlbl THEN t.tot - c.kd
                    ELSE t.tot END) AS g
          FROM ${P}kic k JOIN ${P}cur c ON k.dst = c.dst
            JOIN ${P}tot t ON k.clbl = t.com, $m2 mm),
       ${P}best AS (SELECT dst, g AS gbest, clbl AS bestlbl FROM (
            SELECT dst, g, clbl, ROW_NUMBER() OVER (PARTITION BY dst
              ORDER BY g DESC, clbl) AS rk
            FROM ${P}g WHERE clbl <> curlbl) WHERE rk = 1),
       ${P}stay AS (SELECT dst, g AS gstay FROM ${P}g WHERE clbl = curlbl),
       ${P}upd AS (SELECT c.dst AS id,
            CASE WHEN b.gbest IS NOT NULL AND b.gbest >
                   COALESCE(s.gstay, 0 - CAST(c.kd AS HUGEINT) *
                     (c.totcur - c.kd))
                 THEN b.bestlbl ELSE c.curlbl END AS nu
          FROM ${P}cur c LEFT JOIN ${P}best b ON c.dst = b.dst
            LEFT JOIN ${P}stay s ON c.dst = s.dst),
       ${P}cd AS MATERIALIZED (SELECT mp.id, COALESCE(u.nu, mp.com) AS com
          FROM $prev mp LEFT JOIN ${P}upd u ON mp.id = u.id),
       ${P}qc AS MATERIALIZED (SELECT ${oQn(s"${P}cd", ce, wd, m2)} AS qn),
       ${P}qa AS MATERIALIZED (SELECT CASE
            WHEN (SELECT qn FROM ${P}qc) > (SELECT qa FROM $qaPrev)
            THEN (SELECT qn FROM ${P}qc) ELSE (SELECT qa FROM $qaPrev)
            END AS qa),
       ${P}va AS MATERIALIZED (SELECT c.id,
            CASE WHEN (SELECT qn FROM ${P}qc) > (SELECT qa FROM $qaPrev)
                 THEN c.com ELSE p2.com END AS com
          FROM ${P}cd c JOIN $prev p2 ON c.id = p2.id)"""
  }

  /** The full louvain_full twin: [[oLouvainChain]]'s v4, then
    * `FullR1Cap` Q-guarded phase-1 rounds, then `FullLevelCap` levels of
    * (coarsen + `FullR2Cap` guarded rounds + relabel) — the EXACT unroll
    * of [[louvainFull]]'s capped convergence loop (post-fixpoint rounds
    * no-op under the acceptance gate). Ends at `nlF(id, com)`. */
  private def oLouvainFullCtes: String = {
    val sb = new StringBuilder
    sb ++= oLouvainChain
    sb ++= s""",
       we AS MATERIALIZED (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM e),
       wd0 AS MATERIALIZED (SELECT id, CAST(deg AS BIGINT) AS wdeg FROM deg),
       p4va AS MATERIALIZED (SELECT id, lbl AS com FROM v4),
       p4qa AS MATERIALIZED (SELECT ${oQn("p4va", "we", "wd0", "m")} AS qa)"""
    for (n <- 5 to 4 + Insights.FullR1Cap)
      sb ++= s",\n       ${oGRound("p", n, s"p${n - 1}va", s"p${n - 1}qa", "we", "wd0", "m")}"
    sb ++= s""",
       nl0 AS MATERIALIZED (SELECT id, com FROM p${4 + Insights.FullR1Cap}va)"""
    for (l <- 1 to Insights.FullLevelCap) {
      sb ++= s""",
       ce$l AS MATERIALIZED (SELECT a.com AS src, b.com AS dst,
            CAST(COUNT(*) AS BIGINT) AS w
          FROM e JOIN nl${l - 1} a ON e.src = a.id
            JOIN nl${l - 1} b ON e.dst = b.id GROUP BY 1, 2),
       wd$l AS MATERIALIZED (SELECT src AS id, CAST(SUM(w) AS BIGINT)
            AS wdeg FROM ce$l GROUP BY src),
       mm$l AS MATERIALIZED (SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM ce$l),
       L${l}r0va AS MATERIALIZED (SELECT DISTINCT com AS id, com AS com
          FROM nl${l - 1}),
       L${l}r0qa AS MATERIALIZED (SELECT ${oQn(s"L${l}r0va", s"ce$l", s"wd$l", s"mm$l")} AS qa)"""
      for (n <- 1 to Insights.FullR2Cap)
        sb ++= s",\n       ${oGRound(s"L${l}r", n, s"L${l}r${n - 1}va", s"L${l}r${n - 1}qa", s"ce$l", s"wd$l", s"mm$l")}"
      sb ++= s""",
       nl$l AS MATERIALIZED (SELECT n.id, c.com
          FROM nl${l - 1} n JOIN L${l}r${Insights.FullR2Cap}va c ON n.com = c.id)"""
    }
    sb ++= s""",
       nlF AS MATERIALIZED (SELECT id, com FROM nl${Insights.FullLevelCap})"""
    sb.toString
  }

  /** [[oLouvainChain]] + the coarsen/move CTEs ending at `lv2(id, lbl)`
    * — one text, shared by the louvain_coarse and conductance mirrors
    * (the oLabelChain sharing rule: one definition, every consumer
    * provably walks the same partition). */
  private def oLouvainCoarseCtes: String =
    s"""$oLouvainChain,
       ce AS MATERIALIZED (SELECT ls.lbl AS cs, ld.lbl AS cd,
           COUNT(*) AS w
         FROM e JOIN v4 ls ON e.src = ls.id JOIN v4 ld ON e.dst = ld.id
         GROUP BY 1, 2),
       wdeg AS MATERIALIZED (SELECT cs AS c, CAST(SUM(w) AS BIGINT)
           AS wdeg FROM ce GROUP BY cs),
       cand AS (SELECT ce.cs, ce.cd, CAST(m.m2 AS HUGEINT) * ce.w
           - CAST(wi.wdeg AS HUGEINT) * wc.wdeg AS g
         FROM ce JOIN wdeg wi ON ce.cs = wi.c
           JOIN wdeg wc ON ce.cd = wc.c, m
         WHERE ce.cs <> ce.cd),
       mv AS (SELECT cs, CASE WHEN g > 0 THEN cd ELSE cs END AS lbl2
         FROM (SELECT cs, cd, g, ROW_NUMBER() OVER (PARTITION BY cs
             ORDER BY g DESC, cd) AS rk FROM cand) WHERE rk = 1),
       lv2 AS MATERIALIZED (SELECT v.id, COALESCE(b.lbl2, v.lbl) AS lbl
         FROM v4 v LEFT JOIN mv b ON v.lbl = b.cs)"""

  private def oLabelChain: String = {
    def round(prev: String, out: String, k: Int): String = {
      val side = if (k % 2 == 1) s"e.dst >= ${U.supplierIdOffset}"
        else s"e.dst < ${U.supplierIdOffset}"
      s"""$out AS (SELECT l.id, COALESCE(u.nu, l.lbl) AS lbl
            FROM $prev l LEFT JOIN (
              SELECT id, lbl AS nu FROM (
                SELECT e.dst AS id, lp.lbl, COUNT(*) AS c,
                  ROW_NUMBER() OVER (PARTITION BY e.dst
                    ORDER BY COUNT(*) DESC, lp.lbl) AS rk
                FROM e JOIN $prev lp ON e.src = lp.id
                WHERE $side
                GROUP BY e.dst, lp.lbl) WHERE rk = 1) u ON l.id = u.id)"""
    }
    s"""${U.oCoPurchase},
       e AS (SELECT cust AS src, supp AS dst FROM oi
             UNION ALL SELECT supp AS src, cust AS dst FROM oi),
       l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM e),
       ${round("l0", "l1", 1)}, ${round("l1", "l2", 2)},
       ${round("l2", "l3", 3)}, ${round("l3", "l4", 4)}"""
  }

  /** DuckDB twin of [[nodeTriangles]] — the CTE chain ending at
    * `node(id, deg, n_tri)`, shared by the triangle-count and
    * clustering-coefficient mirrors (one definition, like the frame). */
  private val oPartTriCtes: String =
    """li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
                     FROM lineitem
                     WHERE l_shipdate >= (SELECT MAX(l_shipdate)
                                          - INTERVAL 365 DAY FROM lineitem)),
         e AS (SELECT DISTINCT x.p AS a, y.p AS b
               FROM li x JOIN li y ON x.ok = y.ok AND x.p < y.p),
         deg AS (SELECT id, COUNT(*) AS deg FROM (
                   SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e)
                 GROUP BY id),
         o AS (SELECT
                 CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                      THEN e.a ELSE e.b END AS u,
                 CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                      THEN e.b ELSE e.a END AS v
               FROM e JOIN deg da ON e.a = da.id JOIN deg db ON e.b = db.id),
         tri AS (SELECT e1.u AS w1, e1.v AS w2, e2.v AS w3
                 FROM o e1 JOIN o e2 ON e1.u = e2.u AND e1.v < e2.v
                 WHERE EXISTS (SELECT 1 FROM e
                               WHERE e.a = e1.v AND e.b = e2.v)),
         tcnt AS (SELECT id, COUNT(*) AS n_tri FROM (
                    SELECT w1 AS id FROM tri UNION ALL SELECT w2 AS id FROM tri
                    UNION ALL SELECT w3 AS id FROM tri)
                  GROUP BY id),
         node AS (SELECT deg.id, deg.deg,
                    CAST(coalesce(tcnt.n_tri, 0) AS BIGINT) AS n_tri
                  FROM deg LEFT JOIN tcnt ON deg.id = tcnt.id)"""

  val oracle: Map[String, String] = Map(
    "q_graph_label_prop" ->
      s"""WITH $oLabelChain
         SELECT id, lbl FROM l4 ORDER BY id""",

    "q_graph_louvain" ->
      s"""WITH $oLouvainChain
         SELECT id, lbl FROM v4 ORDER BY id""",

    "q_graph_louvain_coarse" ->
      s"""WITH $oLouvainCoarseCtes
         SELECT id, lbl FROM lv2 ORDER BY id""",

    "q_graph_louvain_full" ->
      s"""WITH $oLouvainFullCtes
         SELECT id, com AS lbl FROM nlF ORDER BY id""",

    "q_graph_conductance" ->
      s"""WITH $oLouvainCoarseCtes,
         tagged AS (SELECT ls.lbl AS ls, ld.lbl AS ld
           FROM e JOIN lv2 ls ON e.src = ls.id
             JOIN lv2 ld ON e.dst = ld.id),
         per AS (SELECT ls AS community, COUNT(*) AS vol,
             CAST(SUM(CASE WHEN ls <> ld THEN 1 ELSE 0 END) AS BIGINT)
               AS cut
           FROM tagged GROUP BY ls),
         sz AS (SELECT lbl AS community, COUNT(*) AS n_nodes
           FROM lv2 GROUP BY lbl)
         SELECT community, n_nodes, vol, cut,
           CASE WHEN cut = 0 THEN 0.0 ELSE
             round(CAST(cut AS DOUBLE) / least(vol, m.m2 - vol), 9)
           END AS conductance
         FROM per JOIN sz USING (community), m
         ORDER BY community""",

    "q_graph_modularity" ->
      s"""WITH $oLabelChain,
         tagged AS (SELECT ls.lbl AS ls, ld.lbl AS ld
           FROM e JOIN l4 ls ON e.src = ls.id JOIN l4 ld ON e.dst = ld.id),
         per AS (SELECT ls, COUNT(*) AS dc,
             CAST(SUM(CASE WHEN ls = ld THEN 1 ELSE 0 END) AS BIGINT)
               AS within
           FROM tagged GROUP BY ls),
         t AS (SELECT CAST(SUM(dc) AS BIGINT) AS e2 FROM per)
         SELECT COUNT(*) AS n_communities, MAX(e2) AS e2,
           CAST(SUM(CAST(round(CAST(within AS DOUBLE) / e2
             - (CAST(dc AS DOUBLE) / e2) * (CAST(dc AS DOUBLE) / e2), 9)
             AS DECIMAL(18,9))) AS DOUBLE) AS modularity
         FROM per, t""",

    "q_mr_inverted_index" ->
      """SELECT word, COUNT(*) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
         FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS word
               FROM documents)
         GROUP BY word ORDER BY word""",

    "q_graph_pagerank" ->
      s"""WITH ${U.oCoPurchase},
         e0 AS (SELECT cust AS src, supp AS dst FROM oi
                UNION ALL SELECT supp, cust FROM oi),
         deg AS (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY src),
         e AS (SELECT e0.src, e0.dst, deg.deg FROM e0 JOIN deg ON e0.src = deg.src),
         nodes AS (SELECT c_custkey AS id FROM customer
                   UNION ALL SELECT s_suppkey + ${U.supplierIdOffset} FROM supplier),
         r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS pr FROM nodes),
         ${oPrIter("r0", "r1")},
         ${oPrIter("r1", "r2")},
         ${oPrIter("r2", "r3")}
         SELECT id, pr FROM r3 ORDER BY id""",

    "q_ts_retention_cohort" ->
      """WITH act AS (SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
         coh AS (SELECT user_id, MIN(wk) AS cwk FROM act GROUP BY user_id)
         SELECT strftime(cwk, '%Y-%m-%d') AS cohort_week,
           CAST(datediff('day', cwk, wk) // 7 AS INT) AS offset_w,
           COUNT(*) AS n_users
         FROM act JOIN coh USING (user_id)
         GROUP BY cwk, offset_w
         ORDER BY cohort_week, offset_w""",

    "q_join_range_binned" ->
      s"""WITH iv AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d0,
             CAST(o_orderdate AS DATE) + CAST(o_orderkey % 120 + 1 AS INT) AS d1,
             o_totalprice
           FROM orders),
         b AS (SELECT MIN(d0) AS lo, MAX(d1) AS hi FROM iv),
         cp AS (SELECT CAST(unnest(generate_series(
                  CAST(date_trunc('month', lo) AS DATE), hi, INTERVAL 1 MONTH)) AS DATE) AS c
                FROM b)
         SELECT strftime(c, '%Y-%m-%d') AS checkpoint,
           COUNT(*) AS n_open, ${oDsum("o_totalprice")} AS open_value
         FROM cp JOIN iv ON d0 <= c AND c < d1
         GROUP BY c ORDER BY checkpoint""",

    "q_dq_outlier_exact" ->
      """WITH c AS (SELECT event_id, event_type AS seg,
             CAST(round(value * 1000000) AS BIGINT) AS x FROM events),
         st AS (SELECT seg, COUNT(*) AS n, SUM(x) AS sx,
                  SUM(CAST(x AS HUGEINT) * x) AS sq
                FROM c GROUP BY seg)
         SELECT seg, COUNT(*) AS n_rows,
           COUNT(*) FILTER ((CAST(n AS HUGEINT) * x - sx) * (CAST(n AS HUGEINT) * x - sx)
                            > 9 * (CAST(n AS HUGEINT) * sq - CAST(sx AS HUGEINT) * sx)) AS n_outliers,
           string_agg(CASE WHEN (CAST(n AS HUGEINT) * x - sx) * (CAST(n AS HUGEINT) * x - sx)
                            > 9 * (CAST(n AS HUGEINT) * sq - CAST(sx AS HUGEINT) * sx)
                      THEN CAST(event_id AS VARCHAR) END, ',' ORDER BY event_id) AS outlier_ids
         FROM c JOIN st USING (seg)
         GROUP BY seg ORDER BY seg""",

    "q_llm_embed_quantize" ->
      """WITH q AS (SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
           FROM embeddings),
         qc AS (SELECT vec_id, embedding, amax,
             CASE WHEN amax = 0 THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding,
                         x -> CAST(round(CAST(x AS DOUBLE) * 127 / amax) AS INT)) END AS codes
           FROM q)
         SELECT vec_id, CAST(len(embedding) AS INT) AS n_dim, amax,
           CAST(list_sum(codes) AS BIGINT) AS code_sum,
           list_min(codes) AS code_min,
           list_max(codes) AS code_max,
           CAST(list_sum(list_transform(codes, v -> abs(v))) AS BIGINT) AS code_l1
         FROM qc ORDER BY vec_id""",

    "q_llm_domain_mix" ->
      """WITH d AS (SELECT doc_id,
             'https://' || source || '-' || CAST(doc_id % 7 AS VARCHAR)
               || '.example.com/' || lang || '/' || CAST(doc_id AS VARCHAR) AS url,
             len(string_split(text, ' ')) AS ntok
           FROM documents),
         p AS (SELECT regexp_extract(url, '^https://([^/]+)/', 1) AS host,
                 regexp_extract(url, '^https://[^/]+(/.*)$', 1) AS path, ntok
               FROM d),
         ph AS (SELECT host, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS tok_total,
                  COUNT(DISTINCT split_part(path, '/', 2)) AS n_sections
                FROM p GROUP BY host),
         t AS (SELECT SUM(tok_total) AS g FROM ph)
         SELECT host, n_docs, tok_total, n_sections,
           CAST(tok_total AS DOUBLE) / g AS tok_share
         FROM ph CROSS JOIN t ORDER BY host""",

    "q_dq_outlier_mad" ->
      """WITH c AS (SELECT event_id, event_type AS seg,
             CAST(round(value * 1000000) AS BIGINT) AS x FROM events),
         rk AS (SELECT seg, x,
                  row_number() OVER (PARTITION BY seg ORDER BY x, event_id) AS rn,
                  COUNT(*) OVER (PARTITION BY seg) AS n
                FROM c),
         med AS (SELECT seg, x AS med FROM rk WHERE rn = (n + 1) // 2),
         dv AS (SELECT c.seg, c.event_id, m.med, abs(c.x - m.med) AS dev
                FROM c JOIN med m USING (seg)),
         rk2 AS (SELECT seg, dev,
                   row_number() OVER (PARTITION BY seg ORDER BY dev, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY seg) AS n
                 FROM dv),
         mad AS (SELECT seg, dev AS mad FROM rk2 WHERE rn = (n + 1) // 2)
         SELECT d.seg, COUNT(*) AS n_rows, MAX(d.med) AS med_micro,
           MAX(m.mad) AS mad_micro,
           COUNT(*) FILTER (d.dev > 3 * m.mad) AS n_outliers
         FROM dv d JOIN mad m USING (seg)
         GROUP BY d.seg ORDER BY seg""",

    "q_llm_winnow" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         ga AS (SELECT doc_id, $oGrams5 AS grams FROM d),
         gr AS (SELECT doc_id, unnest(range(0, len(grams))) AS pos,
                  ${U.oHexFold("md5(unnest(grams))", 15)} AS h
                FROM ga WHERE len(grams) > 0),
         st AS (SELECT doc_id, pos AS j, wmin FROM (
                  SELECT doc_id, pos,
                    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
                    COUNT(*) OVER (PARTITION BY doc_id) AS ng
                  FROM gr)
                WHERE pos <= ng - 4),
         sel AS (SELECT DISTINCT doc_id, sp, sh FROM (
                   SELECT s.doc_id, s.j, MIN(g.pos) AS sp, MIN(s.wmin) AS sh
                   FROM st s JOIN gr g ON g.doc_id = s.doc_id
                     AND g.pos BETWEEN s.j AND s.j + 3 AND g.h = s.wmin
                   GROUP BY s.doc_id, s.j)),
         fp AS (SELECT doc_id, COUNT(*) AS n_fp, bit_xor(sh) AS fp_xor,
                  MIN(sh) AS fp_min
                FROM sel GROUP BY doc_id)
         SELECT b.doc_id, COALESCE(fp.n_fp, 0) AS n_fp, fp.fp_xor, fp.fp_min
         FROM documents b LEFT JOIN fp ON b.doc_id = fp.doc_id
         ORDER BY b.doc_id""",

    "q_graph_degree_hist" ->
      s"""WITH ${U.oCoPurchase},
         nodes AS (SELECT c_custkey AS id, 'customer' AS side FROM customer
                   UNION ALL SELECT s_suppkey + ${U.supplierIdOffset}, 'supplier' FROM supplier),
         dg AS (SELECT id, COUNT(*) AS deg
                FROM (SELECT cust AS id FROM oi UNION ALL SELECT supp FROM oi)
                GROUP BY id),
         nd AS (SELECT n.side, COALESCE(dg.deg, 0) AS deg
                FROM nodes n LEFT JOIN dg ON n.id = dg.id)
         SELECT side, deg, COUNT(*) AS n_nodes
         FROM nd GROUP BY side, deg ORDER BY side, deg""",

    "q_agg_regression" ->
      s"""WITH t AS (SELECT l_returnflag, COUNT(*) AS n,
             ${oDsum("l_quantity")} AS sx, ${oDsum("l_extendedprice")} AS sy,
             ${oDsum("l_quantity*l_quantity")} AS sxx,
             ${oDsum("l_extendedprice*l_extendedprice")} AS syy,
             ${oDsum("l_quantity*l_extendedprice")} AS sxy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
           (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope,
           (sy - sx * ((n*sxy - sx*sy) / (n*sxx - sx*sx))) / n AS intercept,
           round((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 9) AS corr
         FROM t ORDER BY l_returnflag""",

    "q_llm_ppl_proxy" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
         tt AS (SELECT COUNT(*) AS nn, COUNT(DISTINCT term) AS vv FROM tok),
         lm AS (SELECT term,
                  CAST(round(log2(nn + vv) - log2(c + 1), 9) AS DECIMAL(18,9)) AS nll
                FROM (SELECT term, COUNT(*) AS c FROM tok GROUP BY term)
                CROSS JOIN tt)
         SELECT doc_id, COUNT(*) AS n_tok,
           round(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll
         FROM tok JOIN lm USING (term)
         GROUP BY doc_id ORDER BY doc_id""",

    "q_llm_bigram_lm" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         b AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
               FROM tk CROSS JOIN UNNEST(range(1, len(tk))) AS u(i)),
         c1 AS (SELECT w1, COUNT(*) AS c1
                FROM (SELECT unnest(tk) AS w1 FROM tk) GROUP BY w1),
         vv AS (SELECT COUNT(*) AS vv FROM c1),
         lm AS (SELECT bc.w1, bc.w2,
                  CAST(round(log2(c1.c1 + vv.vv) - log2(bc.c2 + 1), 9)
                    AS DECIMAL(18,9)) AS nll
                FROM (SELECT w1, w2, COUNT(*) AS c2 FROM b GROUP BY w1, w2) bc
                JOIN c1 ON bc.w1 = c1.w1 CROSS JOIN vv)
         SELECT b.doc_id, COUNT(*) AS n_bigrams,
           round(CAST(SUM(lm.nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll
         FROM b JOIN lm ON b.w1 = lm.w1 AND b.w2 = lm.w2
         GROUP BY b.doc_id ORDER BY b.doc_id""",

    "q_ts_simsearch" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS tot
           FROM events GROUP BY user_id, day),
         d2 AS (SELECT user_id, day, tot,
                  row_number() OVER w AS rn,
                  COUNT(*) OVER (PARTITION BY user_id) AS nu
                FROM daily
                WINDOW w AS (PARTITION BY user_id ORDER BY day)),
         q AS (SELECT rn AS qi, tot AS qv FROM d2
               WHERE user_id = (SELECT MIN(user_id) FROM d2 WHERE nu >= 7)
                 AND rn <= 7),
         st AS (SELECT user_id, rn AS start, day FROM d2 WHERE rn <= nu - 6),
         dist AS (SELECT s.user_id, s.day,
                    CAST(SUM((x.tot - q.qv) * (x.tot - q.qv)) AS BIGINT) AS dist
                  FROM st s
                  JOIN d2 x ON x.user_id = s.user_id
                    AND x.rn BETWEEN s.start AND s.start + 6
                  JOIN q ON q.qi = x.rn - s.start + 1
                  GROUP BY s.user_id, s.day)
         SELECT user_id, strftime(day, '%Y-%m-%d') AS start_day, dist
         FROM dist ORDER BY dist, user_id, start_day LIMIT 20""",

    "q_ts_simsearch_znorm" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS tot
           FROM events GROUP BY user_id, day),
         d2 AS (SELECT user_id, day, tot,
                  row_number() OVER w AS rn,
                  COUNT(*) OVER (PARTITION BY user_id) AS nu
                FROM daily
                WINDOW w AS (PARTITION BY user_id ORDER BY day)),
         st AS (SELECT s.user_id, s.rn AS start, s.day,
                  CAST(SUM(x.tot) AS BIGINT) AS s1,
                  CAST(SUM(x.tot * x.tot) AS BIGINT) AS s2
                FROM d2 s JOIN d2 x ON x.user_id = s.user_id
                  AND x.rn BETWEEN s.rn AND s.rn + 6
                WHERE s.rn <= s.nu - 6
                GROUP BY s.user_id, s.rn, s.day),
         stv AS (SELECT user_id, start, day, s1 / 7.0 AS mu,
                  sqrt(s2 / 7.0 - (s1 / 7.0) * (s1 / 7.0)) AS sg
                FROM st WHERE s2 * 7 <> s1 * s1),
         qsel AS (SELECT user_id, mu AS qmu, sg AS qsg FROM stv
               WHERE start = 1
                 AND user_id = (SELECT MIN(user_id) FROM stv
                                WHERE start = 1)),
         q AS (SELECT d2.rn AS qi, d2.tot AS qv, qsel.qmu, qsel.qsg
               FROM d2 JOIN qsel USING (user_id) WHERE d2.rn <= 7),
         dist AS (SELECT s.user_id, s.day,
                    CAST(SUM(CAST(round(
                      ((x.tot - s.mu) / s.sg - (q.qv - q.qmu) / q.qsg) *
                      ((x.tot - s.mu) / s.sg - (q.qv - q.qmu) / q.qsg), 6)
                      AS DECIMAL(18,6))) AS DOUBLE) AS zdist
                  FROM stv s
                  JOIN d2 x ON x.user_id = s.user_id
                    AND x.rn BETWEEN s.start AND s.start + 6
                  JOIN q ON q.qi = x.rn - s.start + 1
                  GROUP BY s.user_id, s.day)
         SELECT user_id, strftime(day, '%Y-%m-%d') AS start_day, zdist
         FROM dist ORDER BY zdist, user_id, start_day LIMIT 20""",

    "q_llm_dedup_semantic" ->
      """WITH e AS (SELECT vec_id, embedding,
             CAST(embedding[1] > 0 AS INT) + 2 * CAST(embedding[2] > 0 AS INT)
             + 4 * CAST(embedding[3] > 0 AS INT) + 8 * CAST(embedding[4] > 0 AS INT) AS cell
           FROM embeddings),
         pairs AS (SELECT a.vec_id AS a, b.vec_id AS b
               FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
               WHERE list_sum(list_transform(range(1, 65),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) >= 0.42),
         nbr AS (SELECT a AS vec_id, b AS nbr FROM pairs
                 UNION ALL SELECT b AS vec_id, a AS nbr FROM pairs)
         SELECT t.vec_id,
           least(t.vec_id, coalesce(MIN(n.nbr), t.vec_id)) AS keep_id,
           COUNT(n.nbr) AS n_dups
         FROM embeddings t LEFT JOIN nbr n ON t.vec_id = n.vec_id
         GROUP BY t.vec_id ORDER BY t.vec_id""",

    "q_llm_knn_graph" ->
      """WITH e AS (SELECT vec_id, embedding,
             CAST(embedding[1] > 0 AS INT) + 2 * CAST(embedding[2] > 0 AS INT)
             + 4 * CAST(embedding[3] > 0 AS INT) + 8 * CAST(embedding[4] > 0 AS INT) AS cell
           FROM embeddings),
         q AS (SELECT vec_id AS qid, embedding AS qe,
                 unnest([cell, xor(cell, 1), xor(cell, 2), xor(cell, 4), xor(cell, 8)]) AS probe
               FROM e),
         scored AS (SELECT q.qid, c.vec_id AS cid,
                 round(list_sum(list_transform(range(1, 65),
                   i -> CAST(q.qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))), 6) AS dot
               FROM q JOIN e c ON q.probe = c.cell AND q.qid <> c.vec_id),
         r AS (SELECT qid, cid, dot,
                 CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS INT) AS rnk
               FROM scored)
         SELECT qid, cid, dot, rnk FROM r WHERE rnk <= 3 ORDER BY qid, rnk""",

    "q_graph_triangles" ->
      s"""WITH $oPartTriCtes
         SELECT id, n_tri FROM node WHERE n_tri > 0 ORDER BY id""",

    // same shared node CTE; cc rounded to 1e-6 BEFORE binning/averaging,
    // full 10-bin domain via range(10) (the psi completeness rule)
    "q_graph_clustering_coeff" ->
      s"""WITH $oPartTriCtes,
         cc AS (SELECT id, round(2.0 * n_tri / (deg * (deg - 1)), 6) AS cc
                FROM node WHERE deg >= 2),
         b AS (SELECT least(9, CAST(floor(cc * 10) AS INT)) AS bin,
                 COUNT(*) AS n_nodes,
                 ${U.oDsum("cc")} AS sum_cc
               FROM cc GROUP BY 1),
         dom AS (SELECT CAST(range AS BIGINT) AS cc_bin FROM range(10))
         SELECT dom.cc_bin,
           CAST(coalesce(b.n_nodes, 0) AS BIGINT) AS n_nodes,
           CASE WHEN b.n_nodes > 0 THEN round(b.sum_cc / b.n_nodes, 9) END
             AS avg_cc
         FROM dom LEFT JOIN b ON b.bin = dom.cc_bin
         ORDER BY dom.cc_bin"""
  )
}
