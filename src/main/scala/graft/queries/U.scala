package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers enforcing the SURVEY §7.4 determinism rules.
  *
  * The driver hash-compares each query's parquet output against DuckDB, so
  * every floating aggregate must be order-independent: we cast the per-row
  * double expression (bitwise identical in both engines) to DECIMAL(18,4),
  * sum exactly, and emit as double. Summing raw doubles would drift with
  * partition count / merge order and flip low decimals run-to-run.
  */
object U {
  /** Query signature used throughout: (session, sfDir) => result. */
  type Q = (SparkSession, String) => DataFrame

  // Scale 6, not 4: the testdata's doubles carry at most 2 decimal digits,
  // so row-level products (price·(1−disc)·(1+tax)) carry at most 6 — at
  // scale 6 the decimal grid point is ~5e-7 away from the nearest rounding
  // boundary while the double sits within ~1e-11 of the grid, so Spark's
  // exact BigDecimal cast and DuckDB's scaled-multiply cast agree on every
  // row. At scale 4 they disagreed on boundary rows (observed 3e-4 drift).
  val D: DecimalType = DecimalType(18, 6)

  /** Exact integer accumulator for products that outgrow BIGINT sums
    * (rank·x moments, Σv² second moments — the ks_drift overflow
    * lesson applied wherever a product of two large integers is
    * summed). */
  val DEC38: DecimalType = DecimalType(38, 0)

  /** Order-independent exact sum of a double expression, emitted as double. */
  def dsum(c: Column): Column = sum(c.cast(D)).cast("double")

  /** Exact-sum-based mean, emitted as double (same division in DuckDB). */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** Epoch seconds (floored) of a timestamp column — safe to output where
    * raw timestamps are not (parquet ns vs Spark µs truncation). */
  def epochS(c: Column): Column = c.cast("long")

  def ts(s: String): Column = lit(s).cast("timestamp")

  /** DuckDB fragment: order-independent decimal sum of a double expr. */
  def oDsum(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,6))) AS DOUBLE)"

  def oDavg(expr: String): String = s"${oDsum(expr)} / COUNT(*)"

  /** Spark SQL fragment: fold the first `n` hex digits of `hex` into a
    * BIGINT — the portable-hash idiom every md5-derived integer (minhash,
    * sampling buckets, payload checks) uses; `n ≤ 15` keeps it positive. */
  def hexFold(hex: String, n: Int): String =
    s"CAST(conv(substring($hex, 1, $n), 16, 10) AS BIGINT)"

  /** DuckDB twin of [[hexFold]] — same integer fold, digit by digit. */
  def oHexFold(hex: String, n: Int): String =
    s"""list_reduce(list_transform(string_split(substring($hex, 1, $n), ''),
          c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
          (x, c) -> x * 16 + c)"""

  /** Token array of `text` — the shared tokenizer every text operator
    * builds on (bind as a column named `tk` before using [[grams5]]). */
  def textTokens: Column = split(col("text"), " ")

  /** Scale-gated scan fan-out (r14 optimization — guide §2.5's
    * "repartition immediately after the read" for unsplittable inputs):
    * raise a frame's partition count to the session's parallelism exactly
    * when the upstream scan cannot fill it. The gate/bench fixtures are
    * single small parquet files whose split packing (openCostInBytes
    * floor) yields 1–3 partitions, so a CPU-dense scan stage — the
    * md5-per-token boundary scan, per-frame integer transforms, a
    * levenshtein DP residual on a broadcast-join probe side — ran on ≤3
    * of the session's cores while the rest idled. At real scale
    * partitions ≥ parallelism and the branch adds nothing (no exchange).
    *
    * Applied per-operator at the MEASURED scan-bound entries only. The
    * cache-level version (repartition every base table before persist)
    * was A/B'd and REJECTED: it won the same dozen operators but taxed
    * every stage of all 345 queries with full-width task dispatch
    * (suite 120 → 167 s — OPTIMIZATION_r14.md "cache-level floor A/B").
    * Round-robin is layout-safe here: no declared query reads partition
    * ids off a base frame (sampling/sharding is md5-derived, SURVEY
    * §7.4), and sortBeforeRepartition keeps assignment deterministic.
    *
    * PRECONDITION (r15, advisor item): pass only plain scans — a parquet
    * read, a cached base frame, or a projection/filter of one. The gate
    * reads `df.rdd.getNumPartitions`, and under AQE materializing `.rdd`
    * finalizes the adaptive plan, eagerly executing any upstream shuffle
    * stages — on a frame with an exchange this would silently run jobs
    * at plan-construction time. Every current call site is a plain scan;
    * keep it that way (or gate on the logical plan before adding one
    * that isn't). */
  def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Equi-width grid bin of `value` over broadcast bounds [lo, hi]:
    * `least(nb−1, floor((value − lo) / ((hi − lo) / nb)))`. Deterministic
    * (min/max bounds, no sketch), monotone in `value` (equal values never
    * straddle a boundary, so bins align with any value-led total order),
    * and IEEE-identical in DuckDB. The degenerate lo = hi range is
    * guarded EXPLICITLY on both sides (everything into bin nb−1): left
    * to the raw formula the engines diverge — Spark's 0/0 is Java NaN
    * (floor→NaN, int-cast→0) while DuckDB's division by zero is NULL
    * (LEAST then skips it → nb−1). Bin balance tracks the value
    * distribution — irrelevant to exactness, only to task skew; nb
    * scales with the cluster, not N. */
  def gridBin(value: Column, lo: Column, hi: Column, nb: Int): Column =
    when(hi <= lo, lit(nb - 1)).otherwise(
      least(lit(nb - 1), floor((value - lo) / ((hi - lo) / nb)).cast("int")))

  /** Windowless distributed prefix sum over a ≤nb-row (bin, cnt) frame:
    * off(b) = Σ cnt over bins < b, via a broadcast triangle join — never
    * a single-partition window, which is the construction this helper
    * exists to avoid. Output: (bin, cnt, off); cum = off + cnt. */
  def prefixOffsets(counts: DataFrame, bin: String, cnt: String): DataFrame =
    counts.join(
        broadcast(counts.select(col(bin).as("pfx_b2"), col(cnt).as("pfx_c2"))),
        col("pfx_b2") < col(bin), "left")
      .groupBy(bin, cnt)
      .agg(coalesce(sum("pfx_c2"), lit(0L)).as("off"))

  /** 5-gram array over the token-array column `tk` (0-based Spark lambda
    * index: x = tk[i], window closes at tk[i+4]). Docs shorter than 5
    * tokens yield an empty array. Shared by the exact and the Bloom
    * decontamination paths — they MUST tokenize identically (the
    * AnalyticsSpec equivalence test rides on it). */
  val grams5: Column = expr(
    """transform(slice(tk, 1, greatest(size(tk) - 4, 0)),
         (x, i) -> concat_ws(' ', x, tk[i + 1], tk[i + 2], tk[i + 3], tk[i + 4]))""")

  /** Bigram array over `tk` — same shape as [[grams5]]. Shared by the
    * CWS weighted-dedup shingle frame and the ROUGE-2 pair grade: a
    * tokenization fix must reach both (and their DuckDB twins) or the
    * weighted confirm and the grade silently diverge. */
  val grams2: Column = expr(
    """transform(slice(tk, 1, greatest(size(tk) - 1, 0)),
         (x, i) -> concat_ws(' ', x, tk[i + 1]))""")

  /** DuckDB twin of [[grams2]] (1-based list indexing: range(1, L) =
    * 1..L−1 bigram starts; L ≤ 1 → empty), over a CTE exposing `tk`. */
  val oGrams2: String =
    """list_transform(range(1, greatest(len(tk), 1)),
         i -> tk[i] || ' ' || tk[i+1])"""

  /** DuckDB twin of [[grams5]] (1-based list indexing; range(1, m) = 1..m-1),
    * over a CTE exposing `tk` = string_split(text, ' '). */
  val oGrams5: String =
    """list_transform(range(1, greatest(len(tk) - 3, 1)),
         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4])"""

  /** Parameterized n-gram array over `tk` — the [[grams2]]/[[grams5]]
    * construction at any order (n = 1 is the token array itself). One
    * definition for the BLEU family's four orders, so a tokenization
    * fix reaches all of them at once. */
  def gramsN(n: Int): Column =
    if (n == 1) col("tk")
    else expr(
      s"""transform(slice(tk, 1, greatest(size(tk) - ${n - 1}, 0)),
           (x, i) -> concat_ws(' ', x, ${
             (1 until n).map(k => s"tk[i + $k]").mkString(", ")}))""")

  /** DuckDB twin of [[gramsN]] (1-based list indexing, the
    * [[oGrams2]]/[[oGrams5]] convention). */
  def oGramsN(n: Int): String =
    if (n == 1) "tk"
    else s"""list_transform(range(1, greatest(len(tk) - ${n - 2}, 1)),
           i -> ${(0 until n).map(k => if (k == 0) "tk[i]" else s"tk[i+$k]")
             .mkString(" || ' ' || ")})"""

  /** The quality-classifier logit (fixed linear model over four exact
    * rational features; NO libm ⇒ same-order IEEE ⇒ bit-identical
    * cross-engine). Single definition: q_llm_quality_classifier and the
    * curation-pipeline composite must score IDENTICALLY or the composite's
    * >0 threshold silently diverges from the declared filter. Requires
    * columns `text` and `tk` (the shared tokenizer) in scope. */
  val qualityLogit: Column = {
    val nTok = size(col("tk"))
    lit(-1.9) +
      lit(2.0) * (least(nTok, lit(120)).cast("double") / 120.0) -
      lit(6.0) * (size(expr("filter(tk, t -> t IN ('the', 'a'))")).cast("double") / nTok) +
      lit(2.5) * (size(array_distinct(col("tk"))).cast("double") / nTok) +
      lit(0.05) * (length(regexp_replace(col("text"), " ", "")).cast("double") / nTok)
  }

  /** DuckDB twin of [[qualityLogit]], over a relation exposing text + tk. */
  val oQualityLogit: String =
    """-1.9 + 2.0 * (CAST(least(len(tk), 120) AS DOUBLE) / 120.0)
          - 6.0 * (CAST(len(list_filter(tk, t -> t IN ('the', 'a'))) AS DOUBLE) / len(tk))
          + 2.5 * (CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk))
          + 0.05 * (CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(tk))"""

  /** Integer micro-unit quality score (0..1_000_000, floor division —
    * exact integers sidestep the engines' round() divergence entirely):
    * 0.4·len-score + 0.3·(1−stopword ratio) + 0.3·avg-token-length score.
    * Single definition shared by q_llm_quality and the keep-best dedup
    * representative pick — the "which doc survives" decision must score
    * IDENTICALLY to the declared quality signal. Requires `text`. */
  val qualityE6: Column = expr(
    """CAST(4000 AS BIGINT) * least(size(split(text, ' ')), 100)
       + (CAST(300000 AS BIGINT) * (size(split(text, ' ')) - size(filter(split(text, ' '),
           x -> x IN ('the', 'a', 'and', 'of', 'to', 'is')))))
         div size(split(text, ' '))
       + least((CAST(300000 AS BIGINT) * length(replace(text, ' ', '')))
         div (8 * size(split(text, ' '))), CAST(300000 AS BIGINT))""")

  /** DuckDB twin of [[qualityE6]], over a relation exposing `text`. */
  val oQualityE6: String =
    """CAST(4000 * least(len(string_split(text, ' ')), 100)
        + (300000 * (len(string_split(text, ' ')) - len(list_filter(string_split(text, ' '),
            x -> list_contains(['the', 'a', 'and', 'of', 'to', 'is'], x)))))
          // len(string_split(text, ' '))
        + least((300000 * length(replace(text, ' ', '')))
          // (8 * len(string_split(text, ' '))), 300000) AS BIGINT)"""

  /** Deterministic A/B arm assignment (md5 parity of 'ab'+user_id) —
    * ONE definition (and one DuckDB twin) for the conversion z-test
    * (q_dq_ab_test) and the continuous-metric Welch t-test
    * (q_dq_ab_welch): both tests must describe the SAME experiment
    * split or the dashboard pairs a rate and a mean from different
    * experiments. Requires `user_id` in scope. */
  val abArm: Column =
    expr(s"${hexFold("md5(concat('ab', CAST(user_id AS STRING)))", 13)} % 2")
  val oAbArm: String =
    s"${oHexFold("md5('ab' || CAST(user_id AS VARCHAR))", 13)} % 2"

  /** The 64-way md5 shard assignment — ONE definition (and one DuckDB
    * twin) shared by q_llm_shuffle_shards (the layout writer) and
    * q_llm_shard_balance (the skew report on that layout): a divergent
    * key or modulus would silently make the balance report describe a
    * layout nobody writes. Requires `doc_id` in scope. */
  val shardCount: Long = 64L
  val shardKey: Column =
    expr(hexFold("md5(concat('shuf', CAST(doc_id AS STRING)))", 12))
  val oShardKey: String = oHexFold("md5('shuf' || doc_id::VARCHAR)", 12)

  /** Supplier-id offset into the shared bipartite node-id space: node ids
    * `< supplierIdOffset` are customers, `>= supplierIdOffset` suppliers.
    * One constant for BOTH the edge construction ([[coPurchase]]) and the
    * side classification (Insights.labelProp) — a divergent literal would
    * silently misclassify sides. PropertySpec guards
    * `max(c_custkey) < offset` on the generated data. */
  val supplierIdOffset: Long = 1000000L

  /** Distinct customer↔supplier co-purchase incidence (supplier ids
    * offset [[supplierIdOffset]] into the shared node-id space): THE
    * bipartite graph every q_graph_* query walks — one definition (and
    * one DuckDB twin, [[oCoPurchase]]) so pagerank, the degree histogram,
    * HITS, and BFS provably walk the same graph.
    *
    * Memoized per (session, sfDir) and lazily persist()ed (the Tables /
    * trained-quantizer discipline): 6+ graph queries each used to
    * re-derive this orders⋈lineitem distinct frame — the top shuffle
    * writers in the round-6 bench (kcore 86 MB, bfs 83 MB, hits 43 MB,
    * modularity 42 MB of repeated shuffle). One derivation per JVM now;
    * persist() is lazy, so plan-only consumers (PlanSpec, Explain) stay
    * execution-free. Gated on the same SPARK_GRAFT_CACHE knob as Tables:
    * at true 100 TB you re-derive (or bucket-write) instead of caching. */
  def coPurchase(s: SparkSession, d: String): DataFrame =
    graft.Memo(s, s"copurchase:$d") {
      val oi = graft.Tables(s, d, "orders")
        .join(graft.Tables(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"),
          (col("l_suppkey") + supplierIdOffset).as("supp"))
        .distinct()
      if (sys.env.getOrElse("SPARK_GRAFT_CACHE", "true") != "false")
        oi.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else oi
    }

  /** Both-direction edge list (src, dst) over [[coPurchase]].
    *
    * r14 optimization (guide §2.4 — persist a partitioning across jobs,
    * the bucketed-table idiom): the frame is hash-repartitioned on `src`
    * and persisted, so every iterative consumer's per-round src-keyed
    * join/aggregate (BFS frontier expansion, k-core degree counts,
    * label-prop/louvain message passing, pagerank share sends) reads
    * the cached partitioning instead of re-shuffling the full edge list
    * each round — the e-side Exchange disappears from every round
    * (frontier frames are checkpointed RDDs with no stats, so those joins
    * never broadcast and used to shuffle BOTH sides). Consumers must NOT
    * localCheckpoint this frame (an ExistingRDD scan reports unknown
    * partitioning and puts the per-round shuffle back). Pre-r14 this was
    * a plan-level memo over the persisted incidence; the second cache
    * layer costs ~2×|E| rows once and is gated off with the rest
    * (SPARK_GRAFT_CACHE=false → plain union, at 100 TB you bucket-write
    * instead). */
  def coPurchaseEdges(s: SparkSession, d: String): DataFrame =
    graft.Memo(s, s"copurchase-edges:$d") {
      val oi = coPurchase(s, d)
      val e = oi.select(col("cust").as("src"), col("supp").as("dst"))
        .unionAll(oi.select(col("supp").as("src"), col("cust").as("dst")))
      if (sys.env.getOrElse("SPARK_GRAFT_CACHE", "true") != "false")
        // sortWithinPartitions completes the bucket+sort idiom: the cached
        // plan's outputOrdering satisfies SMJ consumers' sort requirement,
        // so the per-run e-side Sort disappears too (one sort at
        // materialization instead of one per consumer run)
        e.repartition(col("src")).sortWithinPartitions("src")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else
        // cache-disabled: still truncate the lineage so the iterative
        // consumers' per-round references replay RDD blocks, not the full
        // orders⋈lineitem re-derivation + re-shuffle each round (without
        // it the un-persisted branch silently regressed every graph
        // round). Not lazy: under AQE, building the checkpoint's RDD
        // runs the upstream shuffle stages as jobs right here; only the
        // last stage and the block write wait for the first action.
        e.localCheckpoint(false)
    }

  /** Weighted co-purchase incidence: the [[coPurchase]] pair set with edge
    * weight = the pair's CHEAPEST co-purchase in exact cents (min over
    * lineitems). Same support by construction — the min exists exactly
    * where the distinct pair does — so the weighted graph walks the same
    * topology as the unweighted one. Memoized + lazily persist()ed for the
    * same reason as [[coPurchase]]: the shortest-path query used to
    * re-derive this orders⋈lineitem grouped frame inline, making it the
    * round-7 bench's top shuffle writer (146.9 MB) and slowest query. */
  def coPurchaseWeighted(s: SparkSession, d: String): DataFrame =
    graft.Memo(s, s"copurchase-w:$d") {
      val oi = graft.Tables(s, d, "orders")
        .join(graft.Tables(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("cust"),
          (col("l_suppkey") + supplierIdOffset).as("supp"))
        .agg(min(round(col("l_extendedprice") * 100).cast("long")).as("w"))
      if (sys.env.getOrElse("SPARK_GRAFT_CACHE", "true") != "false")
        oi.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else oi
    }

  /** Both-direction weighted edge list (src, dst, w) over
    * [[coPurchaseWeighted]] — src-partitioned + persisted like
    * [[coPurchaseEdges]] (its one consumer, shortest-path, joins the
    * frontier on src four rounds per run). */
  def coPurchaseWeightedEdges(s: SparkSession, d: String): DataFrame =
    graft.Memo(s, s"copurchase-w-edges:$d") {
      val oi = coPurchaseWeighted(s, d)
      val e = oi.select(col("cust").as("src"), col("supp").as("dst"), col("w"))
        .unionAll(oi.select(col("supp").as("src"), col("cust").as("dst"), col("w")))
      if (sys.env.getOrElse("SPARK_GRAFT_CACHE", "true") != "false")
        // sortWithinPartitions completes the bucket+sort idiom: the cached
        // plan's outputOrdering satisfies SMJ consumers' sort requirement,
        // so the per-run e-side Sort disappears too (one sort at
        // materialization instead of one per consumer run)
        e.repartition(col("src")).sortWithinPartitions("src")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else
        // cache-disabled: lineage truncation, same rationale (and the
        // same construction-time jobs under AQE) as [[coPurchaseEdges]]'s
        // no-cache branch
        e.localCheckpoint(false)
    }

  /** ONE corpus-wide exploded token stream (doc_id, lang, source, term)
    * — the flat-explode twin of the [[coPurchase]] memo discipline,
    * A/B'd round 9 under the 19 flat-explode consumers and **NOT
    * adopted**: the memo LOST in-suite (sf0.1 warm Σ 12.25 → 12.08 s
    * ~noise with cold 28.9 → 29.6 s worse; ×10 warm Σ 18.28 → 19.15 s
    * WORSE — BASELINE.md "shared token frame"). Why it loses where the
    * coPurchase/srcgrams memos win: those cache the output of an
    * EXPENSIVE derivation (a fact join; 16 md5 draws per row), while
    * tokenize+explode is a codegen'd map over the already-cached
    * documents scan — and the exploded frame is WIDER than its source
    * (one row per token × 3 carried columns), so reading it back from
    * cache costs more than recomputing it. The one win it contained
    * (q_llm_langid consumes the frame TWICE per plan: ×10 warm
    * 2.71 → 1.05 s) is specifically a COLUMNAR-cache-reread win — a
    * single-query lazy localCheckpoint was measured too (2.76 s, no
    * help: the RDD-row checkpoint reread costs what the second
    * codegen'd explode costs), so langid stays inline rather than
    * adopting a whole-corpus cache for one query. Kept as the runnable
    * A/B artifact (`x_entropy_tokmemo` probes a representative consumer
    * through it); not referenced by any declared query. */
  def tokenStream(s: SparkSession, d: String): DataFrame =
    graft.Memo(s, s"tokens:$d") {
      val f = graft.Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          explode(textTokens).as("term"))
      if (sys.env.getOrElse("SPARK_GRAFT_CACHE", "true") != "false")
        f.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else f
    }

  /** DuckDB twin of [[coPurchase]] — a CTE body ending at `oi(cust, supp)`.
    * The node-id offset is interpolated from [[supplierIdOffset]], not
    * hard-coded, so the SQL mirrors follow the single definition too. */
  val oCoPurchase: String =
    s"""oi AS (SELECT DISTINCT o_custkey AS cust,
           l_suppkey + $supplierIdOffset AS supp
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey)"""

  /** DuckDB twin of [[coPurchaseWeighted]] — ends at `oi(cust, supp, w)`. */
  val oCoPurchaseWeighted: String =
    s"""oi AS (SELECT o_custkey AS cust, l_suppkey + $supplierIdOffset AS supp,
           MIN(CAST(round(l_extendedprice * 100) AS BIGINT)) AS w
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY cust, supp)"""

  /** The linear dup-group output shape every dedup query converges to:
    * given an undirected candidate-pair list `pairs(a, b)` (a < b) and the
    * doc universe `base(doc_id, …)`, emit one row per doc with its
    * smallest neighbor as `keep_id` (itself when unpaired) and its
    * neighbor count `n_dups`. One shuffle over pairs + one left join —
    * O(docs + pairs), never a pair-list output. */
  def dupGroups(base: DataFrame, pairs: DataFrame): DataFrame = {
    val nbr = pairs.select(col("a").as("doc_id"), col("b").as("nbr"))
      .union(pairs.select(col("b").as("doc_id"), col("a").as("nbr")))
    base.select("doc_id").join(nbr, Seq("doc_id"), "left")
      .groupBy("doc_id")
      .agg(least(col("doc_id"), coalesce(min(col("nbr")), col("doc_id"))).as("keep_id"),
        count(col("nbr")).as("n_dups"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[dupGroups]]: the `nbr` CTE + final select, to splice
    * after a CTE chain ending in `pairsCte(a, b)`. `baseFrom` supplies the
    * doc universe (a table or CTE exposing doc_id). */
  def oDupGroups(pairsCte: String, baseFrom: String): String =
    s"""nbr AS (SELECT a AS doc_id, b AS nbr FROM $pairsCte
             UNION ALL SELECT b AS doc_id, a AS nbr FROM $pairsCte)
         SELECT t.doc_id,
           least(t.doc_id, coalesce(MIN(n.nbr), t.doc_id)) AS keep_id,
           COUNT(n.nbr) AS n_dups
         FROM $baseFrom t LEFT JOIN nbr n ON t.doc_id = n.doc_id
         GROUP BY t.doc_id ORDER BY t.doc_id"""
}
