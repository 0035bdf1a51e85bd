package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ManifestStore, Tables}

/** [[Tables.readParquet]] reads a parquet path's schema from one
  * footer on the driver; it must be the schema Spark's own inference
  * job returns, for every testdata table and for a staged manifest
  * directory partitioned by directory names.
  */
class FooterSchemaSpec extends AnyFunSuite {
  import SparkTestSession._

  private val sf01 = "/root/testdata/sf0.01"

  /** Spark jobs `body` ran, counted by a listener. */
  private def jobsIn[T](body: => T): (T, Int) =
    graft.tools.Profile.recording(spark) { r =>
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark); r.take()
      val out = body
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark)
      (out, r.take().jobs)
    }

  test("the footer schema equals spark.read.parquet's for every " +
      "sf0.01 testdata table, events included, with no job") {
    // the layout switch Tables.table sets for events' nanosecond ts
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.names.foreach { n =>
      val p = s"$sf01/$n.parquet"
      val (df, jobs) = jobsIn(Tables.readParquet(spark, p))
      assert(jobs == 0, s"$n: reading the schema ran $jobs job(s)")
      assert(df.schema == spark.read.parquet(p).schema, n)
    }
  }

  test("the footer schema equals spark.read.parquet's for a staged " +
      "manifest directory partitioned by graft_p") {
    val dir = java.nio.file.Files.createTempDirectory("graft-footer").toFile
    try {
      val root = dir.toString + "/t"
      ManifestStore.publish(spark, Tables.table(spark, sf, "orders"),
        root, "o_orderpriority")
      val staged = s"$root/_writes/1"
      assert(new java.io.File(staged).list()
        .exists(_.startsWith(ManifestStore.PartDirPrefix)))
      val (df, jobs) = jobsIn(Tables.readParquet(spark, staged))
      assert(jobs == 0)
      val inferred = spark.read.parquet(staged)
      assert(df.schema == inferred.schema)
      assert(df.schema.fieldNames.contains("graft_p"))
      assert(df.collect().map(_.toSeq).toSet ==
        inferred.collect().map(_.toSeq).toSet)
    } finally rmTree(dir)
  }
}
