package graft.tools

/** Dev tool: time a handful of named SparkEntry queries in isolation
  * (same session config and noop-sink materialization as
  * [[graft.Bench]], two runs each with a cache clear between). Use it
  * to tell a real per-query regression from machine-load contention
  * without paying for the full ~90-query bench sweep:
  * `sbt 'runMain graft.tools.MiniBench q_dedup_minhash q_rollup'`.
  */
object MiniBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    args.foreach { name =>
      (1 to 2).foreach { i =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"[mini] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
