package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One span at a boundary the benchmark can see from outside the program.
  * Times are epoch milliseconds; `parent` is -1 for the root. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startMs: Double, endMs: Double)

/** Spans of one run, held in memory and written out when the run ends.
  * When disabled it only hands out clock readings, so an untraced run pays
  * nothing for it. */
final class Trace(val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private val spans = mutable.ArrayBuffer.empty[Span]

  /** Wall clock in epoch ms with nanoTime resolution. */
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def add(parent: Int, kind: String, name: String, start: Double, end: Double): Int =
    synchronized {
      if (!enabled) -1
      else { spans += Span(spans.size, parent, kind, name, start, end); spans.size - 1 }
    }

  /** Runs `body` inside a span and returns its result and its seconds. */
  def timed[T](parent: Int, kind: String, name: String)(body: Int => T): (T, Double, Int) = {
    val id = add(parent, kind, name, 0, 0)
    val t0 = now()
    val out = body(id)
    val t1 = now()
    if (enabled) synchronized { spans(id) = spans(id).copy(startMs = t0, endMs = t1) }
    (out, (t1 - t0) / 1000.0, id)
  }

  def end(id: Int, endMs: Double): Unit =
    if (enabled) synchronized { spans(id) = spans(id).copy(endMs = endMs) }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Sums of what the scheduler reports for one key. A key is a job group
  * and, for jobs, the job id: the client names its groups after the pass,
  * query and phase (`build` or `exec`) it is in; jobs of a streaming query
  * carry the query's run id and are placed by their start time. */
final class Agg {
  var jobs, stages, tasks = 0L
  var runMs, gcMs, taskMs, cpuNs = 0L
  var shufWriteB, shufReadB, shufRecords, fetchWaitMs, spillB = 0L
  var outB, outRecords, inB = 0L
  var aqeUpdates, writes = 0L
  var writeMs = 0.0
  var checkpointJobs = 0L
  var checkpointMs = 0.0
  var skewMax = 0.0
}

/** Job and stage intervals plus task metrics, gathered through Spark's
  * public listener interfaces and keyed by job group. */
final class LayerListener extends SparkListener {
  import LayerListener.Job

  val aggs = mutable.HashMap.empty[String, Agg]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stageSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val sqlKey = mutable.HashMap.empty[Long, (String, Boolean)]
  @volatile private var lastEvent = System.currentTimeMillis()
  @volatile private var openJobs = 0

  private def agg(g: String): Agg = aggs.getOrElseUpdate(g, new Agg)
  private def touch(): Unit = lastEvent = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    // The result stage is named after the job's call site. Jobs that AQE
    // submits run on a pool thread and carry that thread's call site, so a
    // checkpoint job is found by an RDD in its stages that a checkpoint call
    // created, e.g. "localCheckpoint at U.scala:309".
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val checkpoint = e.stageInfos.exists(_.rddInfos.exists(r =>
      r.callSite.startsWith("localCheckpoint at") || r.callSite.startsWith("checkpoint at")))
    val j = Job(e.jobId, g, site, e.time, -1L, checkpoint)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageGroup(s) = j.key)
    agg(j.key).jobs += 1
    openJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      if (j.checkpoint) {
        val a = agg(j.key)
        a.checkpointJobs += 1
        a.checkpointMs += (j.endMs - j.startMs).toDouble
      }
    }
    openJobs -= 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    touch()
    val s = e.stageInfo
    val g = stageGroup.getOrElse(s.stageId, "-")
    val a = agg(g)
    a.stages += 1
    for (t0 <- s.submissionTime; t1 <- s.completionTime)
      stageSpans += ((s.stageId, t0, t1))
    stageTaskMs.remove(s.stageId).filter(_.size >= 2).foreach { ds =>
      val sorted = ds.sorted
      val median = math.max(1L, sorted(sorted.size / 2))
      a.skewMax = math.max(a.skewMax, sorted.last.toDouble / median)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    val a = agg(stageGroup.getOrElse(e.stageId, "-"))
    a.tasks += 1
    val d = e.taskInfo.duration
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += d
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs += d
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
      a.shufRecords += m.shuffleWriteMetrics.recordsWritten
      a.shufReadB += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillB += m.diskBytesSpilled
      a.outB += m.outputMetrics.bytesWritten
      a.outRecords += m.outputMetrics.recordsWritten
      a.inB += m.inputMetrics.bytesRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        touch()
        // A write command's root node is "Execute <command>".
        sqlKey(s.executionId) = (s"${s.jobGroupId.getOrElse("-")}@${s.time}",
          LayerListener.isWrite(s.sparkPlanInfo.nodeName))
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        touch()
        sqlKey.get(u.executionId).foreach { case (k, _) => agg(k).aqeUpdates += 1 }
      case x: SparkListenerSQLExecutionEnd =>
        touch()
        for ((k, write) <- sqlKey.remove(x.executionId) if write) {
          val a = agg(k)
          a.writes += 1
          a.writeMs += (x.time - k.substring(k.lastIndexOf('@') + 1).toLong).toDouble
        }
      case _ => ()
    }
  }

  /** Waits until every started job has ended and the bus has been quiet
    * for a moment, so the sums cover all work of the passes. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    while (System.currentTimeMillis() < deadline &&
           (openJobs > 0 || System.currentTimeMillis() - lastEvent < 300))
      Thread.sleep(50)
  }
}

object LayerListener {
  final case class Job(id: Int, group: String, site: String, startMs: Long,
      var endMs: Long, checkpoint: Boolean) {
    def key: String = s"$group#$id"
    /** End time, or the start while the job has not ended. */
    def lastMs: Long = if (endMs < 0) startMs else endMs
  }

  private val writeNodes = Seq("Insert", "Save", "Write", "Append",
    "Overwrite", "CreateTable", "CreateDataSourceTable", "ReplaceTable", "Merge")

  def isWrite(node: String): Boolean =
    node.startsWith("Execute ") && writeNodes.exists(node.contains)
}

/** Every micro-batch progress of the streaming queries the client or the
  * program starts. */
final class BatchListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(progress += e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
