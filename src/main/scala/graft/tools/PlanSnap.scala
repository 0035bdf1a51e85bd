package graft.tools

import java.nio.file.{Files, Paths}


/** Dev-only: dump `.explain("formatted")` for named SparkEntry queries
  * to `<outDir>/<name>_<suffix>.txt` — the plan evidence the
  * optimization rounds commit under plans/rNN/. Not part of the driver
  * contract.
  *
  * Usage: runMain graft.tools.PlanSnap <outDir> <suffix> <q_name>...
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val spark = graft.GraftSession.local()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
        System.err.println(s"[plandump] wrote $n")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
