package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the harness from drifting apart again: every session is built
  * by GraftSession, and every SPARK_GRAFT_* knob is read from the
  * environment in exactly one place (so it has one default). A static
  * scan of the library sources — nothing runs. */
class HarnessGuardSpec extends AnyFunSuite {

  private val sources: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .map(p => root.relativize(p).toString ->
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    } finally walk.close()
  }

  test("SparkSession.builder appears only in GraftSession.scala") {
    assert(sources.nonEmpty, "no sources scanned")
    val offenders = sources.collect {
      case (f, text) if !f.endsWith("GraftSession.scala") &&
          text.contains("SparkSession.builder") => f
    }
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.builder: ${offenders.mkString(", ")}")
  }

  test("each SPARK_GRAFT_* knob is read by exactly one environment call") {
    val read = """(?:sys\.env(?:\.getOrElse|\.get|\.contains)?|System\.getenv)\s*\(\s*"(SPARK_GRAFT_\w+)"""".r
    val reads = sources.flatMap { case (f, text) =>
      read.findAllMatchIn(text).map(m => m.group(1) -> f)
    }
    assert(reads.nonEmpty, "the knob pattern matched no read at all")
    val repeated = reads.groupBy(_._1).collect {
      case (knob, rs) if rs.size > 1 => s"$knob ×${rs.size} (${rs.map(_._2).mkString(", ")})"
    }
    assert(repeated.isEmpty, s"knobs read more than once: ${repeated.mkString("; ")}")
  }
}
