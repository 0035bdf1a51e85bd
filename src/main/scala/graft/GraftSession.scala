package graft

import org.apache.spark.sql.SparkSession

/** The one way graft's mains and specs build a session: local mode on
  * `cpus` cores with the [[graft.Bench]] configuration, so dev-tool and
  * spec timings stay comparable with the bench. Idempotent — a live
  * session is returned as it is, never reconfigured.
  */
object GraftSession {
  /** Core count from `SPARK_GRAFT_CPUS` (default 4). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def local(cpus: String = cpus): SparkSession =
    SparkSession.getDefaultSession.getOrElse {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
}
