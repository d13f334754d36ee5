package graft

import org.apache.spark.sql.functions._

/** Semantic invariants of the SURVEY §2.16 batch that the DuckDB hash
  * compare can't express: fixed-point PageRank mass properties, the
  * binned-range-join ≡ direct-predicate-join equivalence, the exact
  * outlier flag vs a float recompute, quantization reconstruction, and
  * the kNN graph vs per-query brute force.
  */
class InsightsSpec extends SparkSpec {

  test("inverted index: df counts postings exactly and sums to distinct (word, doc) pairs") {
    val out = SparkEntry.queries("q_mr_inverted_index")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getString(2).split(",").length == r.getLong(1),
        s"word ${r.getString(0)}: postings length != df")
      val ids = r.getString(2).split(",").map(_.toLong)
      assert(ids.sameElements(ids.sorted), s"word ${r.getString(0)}: postings unsorted")
    }
    val pairTotal = Tables(spark, sf, "documents")
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      .distinct().count()
    assert(out.map(_.getLong(1)).sum == pairTotal)
  }

  test("pagerank: every node present; isolated nodes sit exactly at the 0.15 base") {
    val r = SparkEntry.queries("q_graph_pagerank")(spark, sf).collect()
    val nNodes = Tables(spark, sf, "customer").count() + Tables(spark, sf, "supplier").count()
    assert(r.length == nNodes, s"${r.length} ranked nodes != $nNodes")
    assert(r.forall(_.getLong(1) >= 150000000L), "rank below the damping base")
    // mass conservation: iteration can only LOSE mass (dangling drop +
    // div truncation), never create it — Σpr ≤ n·r0 exactly
    assert(r.map(_.getLong(1)).sum <= nNodes * 1000000000L, "rank mass created")
    assert(r.map(_.getLong(1)).max > 150000000L, "no node accumulated any mass")
    // any node outside every edge must sit exactly at the damping base
    // (none exist at sf0.001 — every customer orders — so conditional)
    val linked = Tables(spark, sf, "orders")
      .join(Tables(spark, sf, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey")).distinct().collect().map(_.getLong(0)).toSet
    val isolated = r.filter(row => row.getLong(0) < 1000000L && !linked(row.getLong(0)))
    assert(isolated.forall(_.getLong(1) == 150000000L),
      "isolated node rank != exact damping base (mass leaked in)")
  }

  test("pagerank: one join per round plus one node join; the node tables are read once") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val lp = SparkEntry.queries("q_graph_pagerank")(spark, sf).queryExecution.optimizedPlan
    // a customer/supplier read is a leaf carrying the table's own key
    // (an InMemoryRelation with the cache on, a parquet relation off)
    def reads(key: String) = lp.collectLeaves().count(_.output.exists(_.name == key))
    assert(reads("c_custkey") == 1, s"customer read ${reads("c_custkey")}×:\n$lp")
    assert(reads("s_suppkey") == 1, s"supplier read ${reads("s_suppkey")}×:\n$lp")
    val joins = lp.collect { case j: Join => j }.size
    assert(joins == 4, s"$joins joins, expected 3 rounds + 1 node join:\n$lp")
  }

  test("co-purchase edges are distinct, symmetric and land on customer/supplier keys") {
    // q_graph_pagerank reads a node's out-degree off its in-edge count
    // and joins the node list only after the last round; both rest on this
    val e = queries.U.coPurchaseEdges(spark, sf).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")))
    assert(e.nonEmpty)
    val pairs = e.toSet
    assert(pairs.size == e.length, "duplicate (src, dst) pair")
    assert(pairs.forall { case (a, b) => pairs((b, a)) }, "an edge lacks its reverse")
    val nodes = Tables(spark, sf, "customer").select("c_custkey")
      .collect().map(_.getLong(0)).toSet ++
      Tables(spark, sf, "supplier").select("s_suppkey")
        .collect().map(_.getLong(0) + queries.U.supplierIdOffset)
    val stray = pairs.flatMap { case (a, b) => Seq(a, b) }.filterNot(nodes)
    assert(stray.isEmpty, s"edge endpoints outside the node list: ${stray.take(5)}")
  }

  test("retention cohort: offset 0 equals cohort size; later offsets never exceed it") {
    val rows = SparkEntry.queries("q_ts_retention_cohort")(spark, sf).collect()
    val byCohort = rows.groupBy(_.getString(0))
    byCohort.foreach { case (cw, rs) =>
      val base = rs.find(_.getInt(1) == 0)
        .getOrElse(fail(s"cohort $cw missing offset 0")).getLong(2)
      assert(rs.forall(_.getLong(2) <= base), s"cohort $cw: retention exceeds cohort size")
    }
    val nUsers = Tables(spark, sf, "events").select("user_id").distinct().count()
    assert(byCohort.values.map(_.find(_.getInt(1) == 0).get.getLong(2)).sum == nUsers,
      "cohort bases must partition the user universe")
  }

  test("binned range join ≡ direct containment predicate join") {
    val binned = SparkEntry.queries("q_join_range_binned")(spark, sf).collect()
    val iv = Tables(spark, sf, "orders").select(
      to_date(col("o_orderdate")).as("d0"),
      expr("date_add(CAST(o_orderdate AS DATE), CAST(o_orderkey % 120 + 1 AS INT))").as("d1"),
      col("o_totalprice"))
    val b = iv.agg(min(col("d0")).as("lo"), max(col("d1")).as("hi"))
    val cps = b.select(explode(expr("sequence(trunc(lo, 'MM'), hi, interval 1 month)")).as("c"))
    val direct = iv.crossJoin(cps)
      .where(col("d0") <= col("c") && col("c") < col("d1"))
      .groupBy("c")
      .agg(count(lit(1)).as("n_open"), queries.U.dsum(col("o_totalprice")).as("open_value"))
      .select(date_format(col("c"), "yyyy-MM-dd"), col("n_open"), col("open_value"))
      .collect()
    assert(binned.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet ==
      direct.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet,
      "binned equi-join result diverges from the direct range predicate")
  }

  test("exact outlier flags agree with a float z-score recompute away from the boundary") {
    val out = SparkEntry.queries("q_dq_outlier_exact")(spark, sf).collect()
    val ev = Tables(spark, sf, "events")
      .select("event_id", "event_type", "value").collect()
      .groupBy(_.getString(1))
    out.foreach { r =>
      val seg = r.getString(0)
      val flagged = Option(r.getString(3)).filter(_.nonEmpty)
        .map(_.split(",").map(_.toLong).toSet).getOrElse(Set.empty[Long])
      assert(flagged.size == r.getLong(2), s"$seg: id list size != n_outliers")
      val xs = ev(seg).map(row => row.getLong(0) -> row.getDouble(2))
      val n = xs.length.toDouble
      val mean = xs.map(_._2).sum / n
      val sd = math.sqrt(xs.map(v => (v._2 - mean) * (v._2 - mean)).sum / n)
      xs.foreach { case (id, v) =>
        val z = math.abs(v - mean) / sd
        if (z > 3.0001) assert(flagged(id), s"$seg: z=$z row $id not flagged")
        if (z < 2.9999) assert(!flagged(id), s"$seg: z=$z row $id wrongly flagged")
      }
    }
  }

  test("int8 quantization: codes bounded, extremes hit ±127, profile matches recompute") {
    val out = SparkEntry.queries("q_llm_embed_quantize")(spark, sf).collect()
    assert(out.forall(r => r.getInt(4) >= -127 && r.getInt(5) <= 127))
    // the max-|x| element quantizes to exactly ±127 by construction
    assert(out.forall(r => r.getInt(5) == 127 || r.getInt(4) == -127),
      "no code reaches the ±127 envelope — wrong scale")
    val raw = Tables(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    out.take(10).foreach { r =>
      val xs = raw(r.getLong(0)).map(_.toDouble)
      val amax = xs.map(math.abs).max
      assert(r.getDouble(2) == amax)
      // HALF_UP on BigDecimal = ties away from zero, matching Spark/DuckDB
      // round(); Scala math.round would pull negative ties the other way
      val codes = xs.map(x => BigDecimal(x * 127 / amax)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt)
      assert(r.getLong(3) == codes.map(_.toLong).sum, "code_sum mismatch")
      assert(r.getLong(6) == codes.map(c => math.abs(c).toLong).sum, "code_l1 mismatch")
      // reconstruction error of any element is at most half a step
      xs.zip(codes).foreach { case (x, c) =>
        assert(math.abs(c * amax / 127 - x) <= amax / 254 + 1e-9, "step bound violated")
      }
    }
  }

  test("domain mix: token shares sum to 1 and doc counts partition the corpus") {
    val out = SparkEntry.queries("q_llm_domain_mix")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(math.abs(out.map(_.getDouble(4)).sum - 1.0) < 1e-9, "shares must sum to 1")
    assert(out.map(_.getLong(1)).sum == Tables(spark, sf, "documents").count(),
      "every doc must land in exactly one domain")
  }

  test("MAD outliers match an exact integer recompute") {
    val out = SparkEntry.queries("q_dq_outlier_mad")(spark, sf).collect()
    val ev = Tables(spark, sf, "events").select("event_type", "value").collect()
      .groupBy(_.getString(0))
    out.foreach { r =>
      val seg = r.getString(0)
      val xs = ev(seg).map(row => math.round(row.getDouble(1) * 1e6)).sorted
      val med = xs((xs.length + 1) / 2 - 1)
      val devs = xs.map(x => math.abs(x - med)).sorted
      val mad = devs((devs.length + 1) / 2 - 1)
      assert(r.getLong(2) == med, s"$seg: median mismatch")
      assert(r.getLong(3) == mad, s"$seg: MAD mismatch")
      assert(r.getLong(4) == devs.count(_ > 3 * mad), s"$seg: outlier count mismatch")
    }
  }

  test("winnowing density: selected fingerprints cover every window at ~1/w rate") {
    val fp = SparkEntry.queries("q_llm_winnow")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val grams = Tables(spark, sf, "documents")
      .select(col("doc_id"), (greatest(size(split(col("text"), " ")) - 4, lit(0))).as("ng"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    grams.foreach { case (id, ng) =>
      val windows = ng - 3
      if (windows <= 0) assert(fp(id) == 0, s"doc $id: fingerprints without a full window")
      else {
        // every window selects one position; one position serves ≤ w=4 windows
        assert(fp(id) >= (windows + 3) / 4, s"doc $id: too few fingerprints")
        assert(fp(id) <= windows, s"doc $id: more fingerprints than windows")
      }
    }
  }

  test("degree histogram: nodes partition, edge-endpoint mass conserved") {
    val out = SparkEntry.queries("q_graph_degree_hist")(spark, sf).collect()
    val nNodes = Tables(spark, sf, "customer").count() + Tables(spark, sf, "supplier").count()
    assert(out.map(_.getLong(2)).sum == nNodes)
    val nEdges = Tables(spark, sf, "orders")
      .join(Tables(spark, sf, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select("o_custkey", "l_suppkey").distinct().count()
    assert(out.map(r => r.getLong(1) * r.getLong(2)).sum == 2 * nEdges,
      "sum of degree·count must equal 2·|edges|")
  }

  test("regression agrees with a direct recompute; corr bounded") {
    val out = SparkEntry.queries("q_agg_regression")(spark, sf).collect()
    val li = Tables(spark, sf, "lineitem")
      .select("l_returnflag", "l_quantity", "l_extendedprice").collect()
      .groupBy(_.getString(0))
    out.foreach { r =>
      val flag = r.getString(0)
      assert(math.abs(r.getDouble(4)) <= 1.0 + 1e-12, s"$flag: |corr| > 1")
      val xs = li(flag).map(_.getDouble(1))
      val ys = li(flag).map(_.getDouble(2))
      val n = xs.length.toDouble
      val (sx, sy) = (xs.sum, ys.sum)
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      val sxx = xs.map(a => a * a).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      assert(math.abs(r.getDouble(2) - slope) < 1e-6 * math.abs(slope) + 1e-9,
        s"$flag: slope ${r.getDouble(2)} != recompute $slope")
      assert(math.abs(r.getDouble(3) - (sy - slope * sx) / n) < 1e-4,
        s"$flag: intercept off")
    }
  }

  test("semantic dedup matches brute-force same-cell threshold pairs") {
    val out = SparkEntry.queries("q_llm_dedup_semantic")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val all = Tables(spark, sf, "embeddings").select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cell(e: Array[Double]) =
      (if (e(0) > 0) 1 else 0) + (if (e(1) > 0) 2 else 0) +
        (if (e(2) > 0) 4 else 0) + (if (e(3) > 0) 8 else 0)
    val nbrs = collection.mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    for ((ia, ea) <- all; (ib, eb) <- all if ia < ib && cell(ea) == cell(eb)) {
      val dot = ea.zip(eb).map { case (x, y) => x * y }.sum
      if (dot >= 0.42) { nbrs(ia) = ib :: nbrs(ia); nbrs(ib) = ia :: nbrs(ib) }
    }
    assert(nbrs.nonEmpty, "test data should contain at least one semantic dup pair")
    val want = all.map { case (id, _) =>
      val n = nbrs(id)
      (id, if (n.isEmpty) id else math.min(id, n.min), n.size.toLong)
    }.sortBy(_._1)
    assert(out.toSeq == want.toSeq, "dup groups diverge from brute force")
  }

  test("perplexity proxy: token mass conserved; scores bracketed by corpus term nll") {
    val out = SparkEntry.queries("q_llm_ppl_proxy")(spark, sf).collect()
    val toks = Tables(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("t")).collect().map(_.getString(0))
    assert(out.map(_.getLong(1)).sum == toks.length, "token mass lost")
    val n = toks.length.toDouble
    val v = toks.distinct.length.toDouble
    val nlls = toks.groupBy(identity).values
      .map(g => math.log(n + v) / math.log(2) - math.log(g.length + 1.0) / math.log(2))
    out.foreach { r =>
      val a = r.getDouble(2)
      assert(a >= nlls.min - 1e-6 && a <= nlls.max + 1e-6,
        s"doc ${r.getLong(0)}: avg nll $a outside corpus term range")
    }
    // a mean over more-frequent terms must not exceed the rarest-term nll
    assert(out.map(_.getDouble(2)).distinct.length > 1, "scores degenerate")
  }

  test("ts simsearch: self-window at distance 0; top-20 matches brute force") {
    val out = SparkEntry.queries("q_ts_simsearch")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.head._3 == 0L, "query's own window must rank first at distance 0")
    val daily = Tables(spark, sf, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(round(value * 1000) AS BIGINT)")).as("tot"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val full = daily.filter(_._2.size >= 7)
    val qu = full.keys.min
    val q = full(qu).take(7).map(_._3)
    val brute = full.toSeq.flatMap { case (u, days) =>
      days.sliding(7).filter(_.size == 7).map { w =>
        (u, w.head._2, w.map(_._3).zip(q).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
    }.sortBy { case (u, d, dist) => (dist, u, d) }.take(20)
    assert(out.toSeq == brute, "top-20 diverges from brute force")
  }

  test("z-normalized simsearch: self at 0, brute-force match, scale invariance") {
    val out = SparkEntry.queries("q_ts_simsearch_znorm")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.head._3 == 0.0, "query's own window must rank first at 0")
    val daily = Tables(spark, sf, "events")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(round(value * 1000) AS BIGINT)")).as("tot"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val full = daily.filter(_._2.size >= 7)
    def stats(w: Seq[Long]): (Long, Long, Double, Double) = {
      val s1 = w.sum; val s2 = w.map(x => x * x).sum
      val mu = s1 / 7.0
      (s1, s2, mu, math.sqrt(s2 / 7.0 - mu * mu))
    }
    val wins = full.toSeq.flatMap { case (u, days) =>
      days.sliding(7).filter(_.size == 7)
        .map(w => (u, w.head._2, w.map(_._3)))
    }.filter { case (_, _, w) =>
      val (s1, s2, _, _) = stats(w); s2 * 7 != s1 * s1 }
    val (qu, _, qw) = wins
      .filter { case (u, d0, _) => d0 == full(u).head._2 }.minBy(_._1)
    val (_, _, qmu, qsg) = stats(qw)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val brute = wins.map { case (u, d0, w) =>
      val (_, _, mu, sg) = stats(w)
      val dist = w.zip(qw).map { case (a, b) =>
        val dz = (a - mu) / sg - (b - qmu) / qsg
        r6(dz * dz)
      }.sum.toDouble
      (u, d0, dist)
    }.sortBy { case (u, d0, dist) => (dist, u, d0) }.take(20)
    assert(out.toSeq == brute, "top-20 diverges from the z-norm brute force")
    // the semantics the raw-Euclidean sibling lacks: scaling a window's
    // values leaves its z-distance unchanged (z-scores are scale-free),
    // while the raw distance explodes — spot-check on the query window
    val scaled = qw.map(_ * 10)
    val (_, _, smu, ssg) = stats(scaled)
    val zd = scaled.zip(qw).map { case (a, b) =>
      val dz = (a - smu) / ssg - (b - qmu) / qsg; r6(dz * dz) }.sum.toDouble
    assert(zd == 0.0, s"x10-scaled window should z-match exactly, got $zd")
    assert(qu == out.head._1)
  }

  test("kNN graph matches per-query brute force over the probed cells") {
    val out = SparkEntry.queries("q_llm_knn_graph")(spark, sf).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.values.forall(_.length <= 3))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getDouble(2)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
        "dot must be non-increasing in rank")
    }
    val all = Tables(spark, sf, "embeddings").select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cell(e: Array[Double]) =
      (if (e(0) > 0) 1 else 0) + 2 * (if (e(1) > 0) 1 else 0) +
        (if (e(2) > 0) 4 else 0) + (if (e(3) > 0) 8 else 0)
    all.take(5).foreach { case (qid, qe) =>
      val probes = Set(cell(qe), cell(qe) ^ 1, cell(qe) ^ 2, cell(qe) ^ 4, cell(qe) ^ 8)
      val brute = all.filter(c => c._1 != qid && probes(cell(c._2)))
        .map { case (cid, ce) =>
          val dot = BigDecimal(qe.zip(ce).map { case (a, b) => a * b }.sum)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          (cid, dot)
        }
        .sortBy { case (cid, dot) => (-dot, cid) }.take(3)
      val got = byQ(qid).sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(got == brute.toSeq, s"qid $qid: knn diverges from brute force")
    }
  }
}
