package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.{SparkEntry, Tables}
import graft.streaming.Streams

/** Replayed event row of the stream workload. */
final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** The benchmark's JVM side: one run of one workload in a fresh session.
  *
  * Modes:
  *  - `run`: set up, then one cold pass and the warm passes, one operation
  *    at a time from one client thread (a closed loop);
  *  - `record`: run every operation of the workload and print its digest,
  *    to produce the expected-digest file.
  *
  * Results go to the JSON file named by `--out`; `run.py` turns them into
  * the benchmark's output line.
  */
object Main {
  private final case class Op(pass: Int, name: String, startMs: Double,
      endMs: Double, buildS: Double, execS: Double, cpuS: Double, ok: Boolean, span: Int)

  private final class Pass(val idx: Int) {
    val ops = mutable.ArrayBuffer.empty[Op]
    val samplesMs = mutable.ArrayBuffer.empty[Double]
    val client = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def wallS: Double = ops.map(o => o.buildS + o.execS).sum
    def cpuS: Double = ops.map(_.cpuS).sum
  }

  private val failures = mutable.ArrayBuffer.empty[String]

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = o.getOrElse("mode", "run")
    val workload = o("workload")
    val data = o("data")
    val scratch = Paths.get(o("scratch"))
    val cores = o("cores").toInt
    val trace = new Trace(o.getOrElse("trace", "0") == "1")
    val out = Paths.get(o("out"))

    val w = Workloads.all.find(_.name == workload).getOrElse(sys.error(s"unknown workload $workload"))
    val isStream = w == Workloads.stream
    // Set-up runs from JVM start until the session is up and the workload's
    // base tables are cached through graft.Tables. It is timed in process
    // CPU seconds, which the host's steal does not stretch; the wall time
    // goes to the record.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(cores, scratch)
    val fill0 = trace.now()
    w.tables.foreach(t => Tables(spark, data, t).count())
    val events = if (isStream) loadEvents(spark, data) else Array.empty[Ev]
    val setupEndMs = trace.now()
    val result = mutable.LinkedHashMap[String, Any](
      "setup_s" -> procCpuS(),
      "setup_wall_s" -> (setupEndMs - jvmStartMs) / 1000,
      "tables.fill_s" -> (setupEndMs - fill0) / 1000,
      "tables.cached_mb" -> cachedMb(spark))

    mode match {
      case "record" =>
        if (isStream) recordStream(spark, events, out, scratch)
        else recordBatch(spark, w, data, o.get("verify-dump"), out)
      case "run" =>
        val expected = readExpected(Paths.get(o("expected")), o.get("corrupt"))
        val seed = o("seed").toLong
        val seconds = o("seconds").toDouble
        val layers = if (trace.enabled) Some(new LayerListener) else None
        val batches = if (trace.enabled) Some(new BatchListener) else None
        layers.foreach(spark.sparkContext.addSparkListener)
        batches.foreach(spark.streams.addListener)
        val runSpan = trace.add(-1, "run", workload, jvmStartMs, 0)
        trace.add(runSpan, "setup", workload, jvmStartMs, setupEndMs)
        val passes =
          if (isStream) runStream(spark, events, seed, seconds, expected, trace, runSpan, scratch)._1
          else runBatch(spark, data, seed, seconds, expected, trace, runSpan, scratch)
        trace.end(runSpan, trace.now())
        layers.foreach(_.drain())
        result ++= endToEnd(passes)
        result("attempted") = passes.map(_.ops.size).sum
        result("failed") = passes.map(_.ops.count(!_.ok)).sum
        result("failures") = failures.toList
        result("ops") = passes.flatMap(_.ops).map(o =>
          List(o.pass, o.name, o.buildS, o.execS, o.cpuS, o.ok)).toList
        result("retained_heap_mb") = retainedHeapMb()
        for (l <- layers; b <- batches) {
          val all = passes.flatMap(_.ops)
          addJobSpans(trace, l, all)
          addBatchSpans(trace, b, all)
          result("layers") = layerMetrics(passes, l, b, all, cores)
          Files.writeString(out.resolveSibling(out.getFileName.toString + ".spans.json"),
            Json(trace.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
              "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
        }
      case other => sys.error(s"unknown mode $other")
    }
    result("jvm_args") = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toList
    result("spark_version") = spark.version
    Files.writeString(out, Json(result))
    spark.stop()
  }

  private def session(cores: Int, scratch: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch.resolve("local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def loadEvents(spark: SparkSession, data: String): Array[Ev] = {
    import spark.implicits._
    Tables(spark, data, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id").as[Ev].collect()
  }

  private def readExpected(p: Path, corrupt: Option[String]): Map[String, String] = {
    val m = Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split("\t", 2)
      k -> v
    }.toMap
    corrupt.fold(m)(k => m.updated(k, "corrupted:" + m.getOrElse(k, "")))
  }

  private def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Heap in use after a full GC; the least of three, since a collection
    * can leave garbage that the next one frees. */
  private def retainedHeapMb(): Double = (1 to 3).map { _ =>
    System.gc(); Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** Highest percentile with at least ten samples beyond it: the 11th
    * largest sample and its percentile rank, if there are that many. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else Some((xs.sorted.apply(xs.size - 11), 100.0 * (xs.size - 10) / xs.size))

  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def endToEnd(passes: Seq[Pass]): Seq[(String, Any)] = {
    val warm = passes.drop(1)
    val samples = warm.flatMap(_.samplesMs).toSeq
    val t = tail(samples)
    Seq(
      "cold_pass_cpu_s" -> passes.head.cpuS,
      "warm_pass_cpu_s" -> mean(warm.map(_.cpuS)),
      "cold_pass_s" -> passes.head.wallS,
      "warm_pass_s" -> mean(warm.map(_.wallS)),
      "warm_passes_s" -> warm.map(_.wallS).toList,
      "op_p50_ms" -> median(samples),
      "op_tail_ms" -> t.map(_._1),
      "op_tail_pct" -> t.map(_._2),
      "op_samples" -> samples.size)
  }

  // ---------------------------------------------------------------- batch

  private def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }

  /** Compile count is exact; compile time is count x mean of the
    * histogram's reservoir, as close as its public interface gets. */
  private def countCodegen(pass: Pass, before: (Long, Double)): Unit = {
    val after = codegen()
    pass.client("codegen.compiles") += (after._1 - before._1).toDouble
    pass.client("codegen.compile_s") += math.max(0.0, after._2 - before._2) / 1000
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds the process has used since it started, on every thread:
    * the client, Spark's executor and listener threads, GC, the JIT
    * compiler and RocksDB's native threads, including threads that have
    * ended. CPU the host steals is not in it. */
  private def procCpuS(): Double = os.getProcessCpuTime / 1e9

  private def jvmCounters(): (Double, Double) = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
    (gc, jit)
  }

  /** Bytes and files the workload's writes left under the run's scratch
    * directory: the directories in the temp dir, where the program writes
    * its tables and streaming checkpoints, and the warehouse. Native
    * libraries unpacked at the top of the temp dir and Spark's own local
    * dir are not counted. */
  private def stored(scratch: Path): (Double, Long) = {
    val tmpDirs = Files.list(scratch.resolve("tmp")).iterator().asScala.filter(Files.isDirectory(_))
    val files = (tmpDirs.toList :+ scratch.resolve("warehouse")).filter(Files.exists(_))
      .flatMap(d => Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)).toList)
    (files.map(Files.size).sum / 1048576.0, files.size.toLong)
  }

  private def runBatch(spark: SparkSession, data: String, seed: Long, seconds: Double,
      expected: Map[String, String], trace: Trace, runSpan: Int, scratch: Path): Seq[Pass] = {
    val sc = spark.sparkContext
    val nPasses = 1 + Workloads.warmPasses(seconds)
    runPasses(spark, Workloads.batch.ops, nPasses, seed, trace, runSpan, scratch) { (pass, ps, name) =>
          val p = pass.idx
          val fn = SparkEntry.queries(name)
          val cg0 = codegen()
          var df: DataFrame = null
          var rows: Array[org.apache.spark.sql.Row] = null
          var buildS, execS = 0.0
          val c0 = procCpuS()
          val t0 = trace.now()
          val (err, _, qSpan) = trace.timed(ps, "query", name) { qs =>
            try {
              sc.setJobGroup(s"$p|$name|build", name)
              buildS = trace.timed(qs, "build", name)(_ => df = fn(spark, data))._2
              sc.setJobGroup(s"$p|$name|exec", name)
              execS = trace.timed(qs, "exec", name)(_ => rows = df.collect())._2
              None
            } catch { case e: Throwable => Some(e) }
            finally sc.clearJobGroup()
          }
          val t2 = trace.now()
          val cpu = procCpuS() - c0
          val ok = err match {
            case Some(e) =>
              failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
              false
            case None =>
              val (d, _, _) = trace.timed(ps, "digest", name)(_ => Digest.of(df.schema, rows))
              val good = expected.get(name).contains(d)
              if (!good) failures += s"$name: digest $d, expected ${expected.getOrElse(name, "none")}"
              good
          }
          pass.ops += Op(p, name, t0, t2, buildS, execS, cpu, ok, qSpan)
          pass.samplesMs += (buildS + execS) * 1000
          if (trace.enabled && df != null) {
            val phases = df.queryExecution.tracker.phases
            for (ph <- Seq("analysis", "optimization", "planning"); s <- phases.get(ph)) {
              pass.client(s"plans.${ph}_s") += s.durationMs / 1000.0
              trace.add(qSpan, "plans", ph, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
            }
            countCodegen(pass, cg0)
          }
          df = null; rows = null
    }
  }

  /** Runs `n` passes, each calling `op` once per name in an order drawn
    * from the seed, inside a pass span. A traced run ends each pass with
    * its JVM, storage and scratch-directory readings. */
  private def runPasses(spark: SparkSession, names: Seq[String], n: Int, seed: Long,
      trace: Trace, runSpan: Int, scratch: Path)(op: (Pass, Int, String) => Unit): Seq[Pass] =
    (0 until n).map { p =>
      val pass = new Pass(p)
      val order = new Random(seed * 1000003L + p).shuffle(names)
      val (gc0, jit0) = jvmCounters()
      trace.timed(runSpan, "pass", if (p == 0) "cold" else s"warm$p")(ps => order.foreach(op(pass, ps, _)))
      if (trace.enabled) {
        val (gc1, jit1) = jvmCounters()
        pass.client("jvm.gc_s") = gc1 - gc0
        pass.client("jvm.jit_ms") = jit1 - jit0
        pass.client("storage.persisted_rdds") = spark.sparkContext.getPersistentRDDs.size.toDouble
        pass.client("storage.cached_mb") = cachedMb(spark)
        val (mb, files) = stored(scratch)
        pass.client("sources.stored_mb") = mb
        pass.client("sources.files_written") = files.toDouble
      }
      pass
    }

  private def recordBatch(spark: SparkSession, w: Workloads.Workload, data: String,
      dump: Option[String], out: Path): Unit = {
    val lines = w.ops.map { name =>
      def digest(df: => DataFrame): String =
        try { val d = df; Digest.of(d.schema, d.collect()) }
        catch { case e: Throwable => s"error:${e.getClass.getSimpleName}" }
      val fn = SparkEntry.queries(name)
      val a = digest(fn(spark, data))
      val b = digest(fn(spark, data))
      val fromDump = dump.map(d => digest(spark.read.parquet(s"$d/$name")))
      val status =
        if (a.startsWith("error")) "error"
        else if (a != b) "unstable"
        else if (fromDump.exists(_ != a)) "dump-mismatch"
        else "ok"
      s"$name\t$a\t$status\t${fromDump.getOrElse("")}"
    }
    Files.writeString(out.resolveSibling(out.getFileName.toString + ".tsv"),
      lines.mkString("", "\n", "\n"))
  }

  // --------------------------------------------------------------- stream

  /** Micro-batch split points: evenly spaced, each moved by up to a quarter
    * of a batch in either direction. */
  def cuts(n: Int, batches: Int, seed: Long): Seq[Int] = {
    val r = new Random(seed)
    val step = n.toDouble / batches
    (1 until batches).map(i => math.round(i * step + (r.nextDouble() - 0.5) * 0.5 * step).toInt) :+ n
  }

  private def scenario(spark: SparkSession, name: String, df: DataFrame): DataFrame = {
    import spark.implicits._
    name match {
      case "session" => Streams.sessionTimers(df.select("event_id", "ts", "user_id")).toDF()
      case "chained" => Streams.chainedAgg(df.select("ts", "event_type", "value"))
      case "kalman" => Streams.kalmanTws(
        df.select("user_id", "event_id", "value").as[Streams.ValObs]).toDF()
    }
  }

  /** One scenario's long-lived streaming query and what its progress has
    * reported so far. */
  private final class Feed(val mem: MemoryStream[Ev], val q: StreamingQuery) {
    var lastBatch = -1L
    var emitted = 0L
    var state = -1L
  }

  /** Starts each scenario's query in the cold pass and feeds every pass the
    * next micro-batch of the events, so the warm passes measure
    * steady-state micro-batches over state that keeps growing. An operation
    * sample is one feed as the client sees it: from handing a micro-batch
    * over until the query has processed it, with any no-data batch that
    * fires timers. After the last pass every event has been fed once; the
    * rows each query emitted and the rows left in its state are then
    * checked. Returns the passes and the check value per scenario. */
  private def runStream(spark: SparkSession, events: Array[Ev], seed: Long, seconds: Double,
      expected: Map[String, String], trace: Trace, runSpan: Int,
      scratch: Path): (Seq[Pass], Map[String, String]) = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val nPasses = 1 + Workloads.warmPasses(seconds)
    val at = cuts(events.length, nPasses, seed)
    val feeds = mutable.LinkedHashMap.empty[String, Feed]
    val passes = runPasses(spark, Workloads.stream.ops, nPasses, seed, trace, runSpan, scratch) {
        (pass, ps, name) =>
          val p = pass.idx
          var buildS, execS = 0.0
          val cg0 = codegen()
          val c0 = procCpuS()
          val t0 = trace.now()
          val (err, _, qSpan) = trace.timed(ps, "query", name) { qs =>
            try {
              if (!feeds.contains(name)) buildS = trace.timed(qs, "build", name) { _ =>
                val mem = MemoryStream[Ev]
                val q = scenario(spark, name, mem.toDF()).writeStream.format("noop")
                  .queryName(s"perfbench_$name").outputMode("append").start()
                feeds(name) = new Feed(mem, q)
              }._2
              val f = feeds(name)
              execS = trace.timed(qs, "exec", name) { _ =>
                f.mem.addData(events.slice(if (p == 0) 0 else at(p - 1), at(p)).toSeq)
                f.q.processAllAvailable()
              }._2
              None
            } catch { case e: Throwable => Some(e) }
          }
          val t2 = trace.now()
          err.foreach(e => failures +=
            s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          feeds.get(name).filter(_ => err.isEmpty).foreach { f =>
            val fresh = f.q.recentProgress.filter(_.batchId > f.lastBatch).sortBy(_.batchId)
            fresh.lastOption.foreach { x =>
              f.lastBatch = x.batchId
              f.state = x.stateOperators.map(_.numRowsTotal).sum
            }
            f.emitted += fresh.map(_.sink.numOutputRows.max(0L)).sum
          }
          val cpu = procCpuS() - c0
          pass.ops += Op(p, name, t0, t2, buildS, execS, cpu, err.isEmpty, qSpan)
          pass.samplesMs += execS * 1000
          if (trace.enabled) countCodegen(pass, cg0)
    }
    feeds.values.foreach(_.q.stop())
    val got = feeds.map { case (name, f) => s"stream:$name" -> s"emitted=${f.emitted},state=${f.state}" }.toMap
    // The check covers the whole feed, so a mismatch fails each
    // scenario's last operation.
    got.foreach { case (key, v) =>
      if (!expected.get(key).contains(v)) {
        failures += s"$key: $v, expected ${expected.getOrElse(key, "none")}"
        val i = passes.last.ops.lastIndexWhere(o => s"stream:${o.name}" == key)
        if (i >= 0) passes.last.ops(i) = passes.last.ops(i).copy(ok = false)
      }
    }
    (passes, got)
  }

  /** Runs the stream at several seeds and run lengths, so a check value
    * that depends on where the micro-batches split is reported. */
  private def recordStream(spark: SparkSession, events: Array[Ev], out: Path,
      scratch: Path): Unit = {
    val got = Seq((1L, 15.0), (2L, 15.0), (3L, 30.0)).map { case (seed, secs) =>
      runStream(spark, events, seed, secs, Map.empty, new Trace(false), -1, scratch)._2
    }
    failures.clear()
    val lines = Workloads.stream.ops.map { name =>
      val vs = got.map(_(s"stream:$name"))
      s"stream:$name\t${vs.head}\t${if (vs.distinct.size == 1) "ok" else "split-dependent"}\t${vs.mkString(" ")}"
    }
    Files.writeString(out.resolveSibling(out.getFileName.toString + ".tsv"),
      lines.mkString("", "\n", "\n"))
  }

  // ---------------------------------------------------------- per layer

  /** The operation whose window holds `t`; listener times are whole ms. */
  private def opAt(ops: Seq[Op], t: Double): Option[Op] =
    ops.find(o => t >= o.startMs - 1 && t <= o.endMs + 1)

  private def addJobSpans(trace: Trace, l: LayerListener, ops: Seq[Op]): Unit =
    l.synchronized {
      l.jobs.values.foreach { j =>
        opAt(ops, j.startMs).foreach(o => trace.add(o.span, "job", s"job${j.id} ${j.site}",
          j.startMs.toDouble, j.lastMs.toDouble))
      }
      l.stageSpans.foreach { case (id, t0, t1) =>
        opAt(ops, t0).foreach(o => trace.add(o.span, "stage", s"stage$id", t0.toDouble, t1.toDouble))
      }
    }

  private def progressStartMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  private def addBatchSpans(trace: Trace, b: BatchListener, ops: Seq[Op]): Unit =
    b.synchronized {
      b.progress.foreach { p =>
        val t0 = progressStartMs(p)
        opAt(ops, t0).foreach(o =>
          trace.add(o.span, "batch", s"${p.name}#${p.batchId}", t0,
            t0 + p.durationMs.get("triggerExecution").doubleValue))
      }
    }

  /** Union length of intervals clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var end = lo
    var sum = 0.0
    iv.map { case (a, b) => (a.max(lo), b.min(hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { sum += b - a.max(end); end = b }
      }
    sum
  }

  /** Per-layer metrics per pass, reported for the cold pass as `cold.*` and
    * as the mean over the warm passes under the bare name. */
  private def layerMetrics(passes: Seq[Pass], l: LayerListener, b: BatchListener,
      ops: Seq[Op], cores: Int): Map[String, Double] = l.synchronized {
    // A key's group is "pass|query|phase" when the client set it; other
    // keys are placed by the start time of their job or SQL execution.
    def place(key: String): Option[(Int, String)] = {
      val g = key.takeWhile(c => c != '#' && c != '@')
      g.split('|') match {
        case Array(p, _, phase) => Some((p.toInt, phase))
        case _ =>
          val t = key.drop(g.length) match {
            case j if j.startsWith("#") => l.jobs.get(j.tail.toInt).map(_.startMs.toDouble)
            case x => x.drop(1).toLongOption.map(_.toDouble)
          }
          t.flatMap(opAt(ops, _)).map(o => (o.pass, "exec"))
      }
    }
    val placed = l.aggs.toSeq.flatMap { case (g, a) => place(g).map(pp => (pp, a)) }
    val jobsByOp = l.jobs.values.toSeq.flatMap { j =>
      opAt(ops, j.startMs).map(o => o -> (j.startMs.toDouble, j.lastMs.toDouble))
    }.groupBy(_._1).map { case (o, xs) => o -> xs.map(_._2) }
    val progress = b.synchronized(b.progress.toList)

    def forPass(pass: Pass): Map[String, Double] = {
      val as = placed.filter(_._1._1 == pass.idx)
      def sum(f: Agg => Double) = as.map(x => f(x._2)).sum
      val wall = pass.wallS
      val runS = sum(_.runMs) / 1000
      val gap = pass.ops.map { o =>
        (o.endMs - o.startMs - covered(jobsByOp.getOrElse(o, Nil), o.startMs, o.endMs)) / 1000
      }.sum
      val batches = progress.filter(p => opAt(pass.ops.toSeq, progressStartMs(p)).isDefined)
      val data = batches.filter(_.numInputRows > 0)
      def phaseMs(k: String) = median(data.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue)))
      val lastByQuery = batches.groupBy(_.runId).values.map(_.maxBy(_.batchId)).toSeq
      val writtenMb = sum(_.outB) / 1048576.0
      val storedMb = pass.client("sources.stored_mb")
      val streamExecS = data.flatMap(p => opAt(pass.ops.toSeq, progressStartMs(p))).distinct
        .map(_.execS).sum
      val planS = Seq("analysis", "optimization", "planning").map(ph => pass.client(s"plans.${ph}_s")).sum
      pass.client.toMap ++ Map(
        // Catalyst time of batch queries plus that of every micro-batch,
        // which streaming reports as one "queryPlanning" phase.
        "plans.total_s" -> (planS + batches.map(p =>
          Option(p.durationMs.get("queryPlanning")).fold(0.0)(_.doubleValue)).sum / 1000),
        "queries.build_s" -> pass.ops.map(_.buildS).sum,
        "queries.exec_s" -> pass.ops.map(_.execS).sum,
        "queries.build_jobs" -> as.filter(_._1._2 == "build").map(_._2.jobs.toDouble).sum,
        "plans.aqe_updates" -> sum(_.aqeUpdates.toDouble),
        "sched.jobs" -> sum(_.jobs.toDouble),
        "sched.stages" -> sum(_.stages.toDouble),
        "sched.tasks" -> sum(_.tasks.toDouble),
        "sched.driver_gap_s" -> gap,
        "sched.task_overhead_s" -> (sum(_.taskMs) - sum(_.runMs)) / 1000,
        "sched.stage_skew_max" -> (if (as.isEmpty) 0.0 else as.map(_._2.skewMax).max),
        "exec.run_s" -> runS,
        "exec.cpu_s" -> sum(_.cpuNs) / 1e9,
        "exec.gc_s" -> sum(_.gcMs) / 1000,
        "exec.slot_util" -> (if (wall > 0) runS / (wall * cores) else 0.0),
        "shuffle.write_mb" -> sum(_.shufWriteB) / 1048576.0,
        "shuffle.read_mb" -> sum(_.shufReadB) / 1048576.0,
        "shuffle.records" -> sum(_.shufRecords.toDouble),
        "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1000,
        "shuffle.spill_mb" -> sum(_.spillB) / 1048576.0,
        "storage.checkpoint_jobs" -> sum(_.checkpointJobs.toDouble),
        "storage.checkpoint_s" -> sum(_.checkpointMs) / 1000,
        "sources.writes" -> sum(_.writes.toDouble),
        "sources.write_s" -> sum(_.writeMs) / 1000,
        "sources.written_mb" -> writtenMb,
        "sources.records_written" -> sum(_.outRecords.toDouble),
        "sources.write_amp" -> (if (storedMb > 0) writtenMb / storedMb else 0.0),
        "sources.read_mb" -> sum(_.inB) / 1048576.0,
        "streaming.batches" -> data.size.toDouble,
        "streaming.rows_per_s" ->
          (if (streamExecS > 0) data.map(_.numInputRows).sum / streamExecS else 0.0),
        "streaming.add_batch_ms" -> (if (data.isEmpty) 0.0 else phaseMs("addBatch")),
        "streaming.planning_ms" -> (if (data.isEmpty) 0.0 else phaseMs("queryPlanning")),
        "streaming.wal_commit_ms" -> (if (data.isEmpty) 0.0 else phaseMs("walCommit")),
        "streaming.commit_offsets_ms" -> (if (data.isEmpty) 0.0 else phaseMs("commitOffsets")),
        "streaming.state_rows" -> lastByQuery.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).sum,
        "streaming.state_mb" ->
          lastByQuery.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).sum / 1048576.0,
        "streaming.rocksdb_commit_ms" -> batches.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble).sum,
        "streaming.rocksdb_written_mb" -> batches.map(_.stateOperators.map(s =>
          Option(s.customMetrics.get("rocksdbTotalBytesWritten")).fold(0L)(_.longValue)).sum.toDouble).sum / 1048576.0)
    }

    val per = passes.map(forPass)
    val warm = per.drop(1)
    val keys = per.head.keys.toSeq.sorted
    keys.map(k => s"cold.$k" -> per.head(k)).toMap ++
      keys.map(k => k -> warm.map(_(k)).sum / warm.size).toMap
  }
}
