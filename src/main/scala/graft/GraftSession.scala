package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration graft ships, and the env knobs the
  * run tools share. Callers add only what is their own (an appName, a
  * state-store provider, a retrying master) and set their log level. */
object GraftSession {
  /** Cores of the run tools' local master (`SPARK_GRAFT_CPUS`). Plan-only
    * tools and the tests build at 4 instead and never read it: PLANS.lock
    * is compared at `local[4]`, and U.fanOut keys off defaultParallelism. */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** Fixture directory Bench and StreamBench run over. */
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // Tables' TIMESTAMP_NTZ normalization assumes a UTC session; on a
      // non-UTC host the cast would read shifted instants.
      .config("spark.sql.session.timeZone", "UTC")
      // Janino's codegen cache holds 100 entries by default (a static
      // conf): measured round 11, the 320-query surface thrashed it into
      // 4,341 warm recompiles (bench 139.4 -> 92.3 s at 8192 —
      // BASELINE.md "codegen cache").
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // r15: AQE assigns codegen stage ids in nondeterministic order, so
      // with the id in the generated class name byte-identical code
      // missed the Janino cache and recompiled per invocation (9–19
      // queries on the warm pass, ~15 s of a 125 s draw). The id is
      // cosmetic (stack-trace labels); plans and results are unchanged.
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
}
