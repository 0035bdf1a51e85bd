package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** SURVEY.md §2.1: source/sink round-trips, freshness gate, and the
  * plan-level scale properties (predicate pushdown, partition pruning,
  * column pruning) that make 100 TB scans affordable.
  */
class SourcesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("csv round-trip preserves values with an explicit schema") {
    val tmp = java.nio.file.Files.createTempDirectory("t").toString
    val nation = Tables.table(spark, sf, "nation")
    Tables.writeCsv(nation, s"$tmp/n")
    val back = Tables.readCsv(spark, s"$tmp/n",
      Some("n_nationkey INT, n_name STRING, n_regionkey INT"))
    assert(back.except(nation).count() == 0 &&
      nation.except(back).count() == 0)
  }

  test("json round-trip preserves doubles exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("t").toString
    val cust = Tables.table(spark, sf, "customer")
    Tables.writeJson(cust, s"$tmp/c")
    val back = Tables.readJson(spark, s"$tmp/c",
      Some("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
        "c_acctbal DOUBLE, c_mktsegment STRING"))
      .select(cust.columns.map(col).toIndexedSeq: _*)
    assert(back.except(cust).count() == 0 &&
      cust.except(back).count() == 0)
  }

  test("freshness gate: first write happens, fresh skip, stale rewrite") {
    val tmp = java.nio.file.Files.createTempDirectory("t").toString + "/x"
    val nation = Tables.table(spark, sf, "nation")
    assert(Tables.writeIfStale(nation, tmp))
    assert(!Tables.writeIfStale(nation, tmp))
    assert(Tables.writeIfStale(nation, tmp,
      nowMillis = System.currentTimeMillis() + 366L * 86400000L))
  }

  test("ORC round-trip preserves values; filters push into the ORC scan") {
    val sup = Tables.table(spark, sf, "supplier")
    val tmp = java.nio.file.Files.createTempDirectory("t").toString
    Tables.writeOrc(sup, s"$tmp/supplier")
    val back = Tables.readOrc(spark, s"$tmp/supplier",
      Some("s_suppkey BIGINT, s_name STRING, s_nationkey INT, " +
        "s_acctbal DOUBLE"))
    assert(back.count() == sup.count())
    assert(back.except(sup).count() == 0 && sup.except(back).count() == 0)
    // same pushdown posture as parquet: the predicate reaches the ORC
    // scan's stripe stats, the projection prunes columns
    val plan = back.filter(col("s_suppkey") === 7L).select("s_name")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(s_suppkey), " +
      "EqualTo(s_suppkey,7)]"), plan)
    assert(plan.contains("ReadSchema: struct<s_suppkey:bigint,s_name:string>"),
      plan)
  }

  test("S14: schema evolution — pre-evolution files read back null-padded") {
    val tmp = java.nio.file.Files.createTempDirectory("t").toString
    val nation = Tables.table(spark, sf, "nation")
    // day 1: the table has two columns; day 2: a column is added and
    // only NEW files carry it — no rewrite of the old ones
    Tables.writeParquet(nation.filter(col("n_regionkey") < 2)
      .select("n_nationkey", "n_name"), s"$tmp/n")
    Tables.writeParquet(nation.filter(col("n_regionkey") >= 2)
      .select("n_nationkey", "n_name", "n_regionkey"),
      s"$tmp/n", mode = "append")
    val merged = Tables.readEvolved(spark, s"$tmp/n")
    assert(merged.columns.sorted.toSeq ==
      Seq("n_name", "n_nationkey", "n_regionkey"))
    assert(merged.count() == nation.count())
    // old files surface the new column as null; new files keep values
    assert(merged.filter(col("n_regionkey").isNull).count() ==
      nation.filter(col("n_regionkey") < 2).count())
    // the pinned-schema fast path returns the same data with no
    // footer-merge planning cost
    val pinned = Tables.readEvolved(spark, s"$tmp/n",
      Some("n_nationkey INT, n_name STRING, n_regionkey INT"))
    assert(pinned.except(merged).count() == 0 &&
      merged.except(pinned).count() == 0)
  }

  test("S16: stats index skips files at planning time; results exact") {
    val tmp = java.nio.file.Files.createTempDirectory("t").toString
    val o = Tables.table(spark, sf, "orders")
    o.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(s"$tmp/o")
    Tables.writeStatsIndex(spark, s"$tmp/o", Seq("o_orderkey"))
    val stats = spark.read.parquet(s"$tmp/o/_stats")
    val nFiles = stats.count()
    assert(nFiles == 8)
    // the stats dir is invisible to a normal read of the data path
    assert(spark.read.parquet(s"$tmp/o").columns.toSeq ==
      o.columns.toSeq)
    // a narrow range on the range-clustered key keeps few files...
    val keyMax = o.agg(max(col("o_orderkey"))).head().getLong(0)
    val (lo, hi) = (keyMax / 4, keyMax / 4 + keyMax / 100)
    val kept = stats.filter(!(col("max_o_orderkey") < lo ||
      col("min_o_orderkey") > hi)).count()
    assert(kept < nFiles / 2, s"kept $kept of $nFiles")
    // ...and the skipped read is row-identical to the plain filter
    val skip = Tables.readSkipping(spark, s"$tmp/o", "o_orderkey",
      lit(lo), lit(hi))
    val plain = o.filter(col("o_orderkey").between(lo, hi))
    assert(skip.except(plain).count() == 0 &&
      plain.except(skip).count() == 0)
    assert(skip.count() == plain.count() && plain.count() > 0)
    // out-of-domain range: zero files, schema-stable empty result
    val none = Tables.readSkipping(spark, s"$tmp/o", "o_orderkey",
      lit(keyMax + 1), lit(keyMax + 1000))
    assert(none.count() == 0 && none.columns.toSeq == o.columns.toSeq)
  }

  test("S15: co-bucketed join plans with zero shuffle exchanges") {
    val db = "graft_bkt_spec"
    val loc = java.nio.file.Files.createTempDirectory("t").toString
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db LOCATION '$loc'")
    try {
      val o = Tables.table(spark, sf, "orders")
        .select("o_orderkey", "o_orderpriority")
      val l = Tables.table(spark, sf, "lineitem")
        .select("l_orderkey", "l_extendedprice")
      Tables.writeBucketed(o, s"$db.o_b", 4, "o_orderkey",
        Seq("o_orderkey"))
      Tables.writeBucketed(l, s"$db.l_b", 4, "l_orderkey",
        Seq("l_orderkey"))
      // broadcast off so the plan must be the co-located sort-merge
      // join — the shape a fact⋈fact join takes at 100 TB
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val j = spark.table(s"$db.l_b").join(spark.table(s"$db.o_b"),
          col("l_orderkey") === col("o_orderkey"))
        val plan = j.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), plan)
        assert(!plan.contains("Exchange"), plan)
        // layout changes nothing about the rows
        assert(j.count() ==
          l.join(o, col("l_orderkey") === col("o_orderkey")).count())
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("filters are pushed down to the parquet scan") {
    val plan = Tables.table(spark, sf, "lineitem")
      .filter(col("l_quantity") > 25)
      .select("l_orderkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "GreaterThan(l_quantity,25.0)]"), plan)
  }

  test("column pruning reaches the scan (2-column projection)") {
    val plan = Tables.table(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      plan)
  }

  test("partitioned layout gives partition-pruned reads") {
    val tmp = java.nio.file.Files.createTempDirectory("t").toString
    val ev = Tables.table(spark, sf, "events")
      .withColumn("event_date", col("ts").cast("date").cast("string"))
    Tables.writeParquet(ev, s"$tmp/ev", partitionBy = Seq("event_date"))
    val read = spark.read.parquet(s"$tmp/ev")
      .filter(col("event_date").cast("string") === "2024-01-15")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    // pruned scan reads strictly fewer files than the full table
    assert(read.count() ==
      ev.filter(col("event_date") === "2024-01-15").count())
    // clustered write: each partition directory holds ONE file, not
    // one per write task (tasks × dates small files otherwise)
    val dirs = Option(new java.io.File(s"$tmp/ev").listFiles()).get
      .filter(f => f.isDirectory && f.getName.startsWith("event_date="))
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val files = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"${d.getName}: $files files")
    }
  }

  test("dimension chain broadcasts in the region-volume star join") {
    val plan = operators.Analytics.regionVolume(spark, sf)
      .queryExecution.executedPlan.toString
    // supplier/nation/region dims are explicit broadcasts; the
    // fact-side joins (orders, customer) are left to AQE by design
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("bucketed range join and LSH near-dup plan as equi-joins, never nested loops") {
    for (df <- Seq(
      operators.Analytics.demandWindow(spark, sf),
      operators.Similarity.cosineNearDupPairsLsh(
        Tables.table(spark, sf, "embeddings"), "vec_id", "embedding", 0.35))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        "scale-killer join shape:\n" + plan.take(2000))
    }
  }

  test("zOrderWrite produces disjoint z-ranges per file (two-column clustering)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-z").toString
    val ev = Tables.table(spark, sf, "events")
      .withColumn("ub", pmod(col("user_id"), lit(65536)))
      .withColumn("eb", pmod(col("event_id"), lit(65536)))
    Tables.zOrderWrite(ev, s"$tmp/z", "ub", "eb", nFiles = 4)
    val files = new java.io.File(s"$tmp/z").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length >= 2, "expected a multi-file clustered layout")
    // each file must cover a z-range disjoint from every other file —
    // that is the property that lets file/row-group stats prune scans
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .select(Tables.zValue(col("ub"), col("eb")).as("z"))
        .agg(min(col("z")), max(col("z"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"overlapping file z-ranges: $hi > $lo2")
      case _ =>
    }
  }

  test("manifest ingestion lands raw JSON with lineage; malformed rows kept") {
    import graft.sources.Ingest
    val dir = java.nio.file.Files.createTempDirectory("graft-ing").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.jsonl"),
      "{\"k\": 1}\n{\"k\": 2}".getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.jsonl"),
      "{\"k\": 3}\nnot json at all".getBytes("UTF-8"))
    val landed = Ingest.landRawJson(
      Ingest.manifestFromDir(spark, dir), "k INT", "2026-08-12").collect()
    assert(landed.length == 4, "bronze keeps every arriving payload")
    assert(landed.count(_.isNullAt(0)) == 1,
      "malformed payload lands with null parse, not dropped")
    assert(landed.forall(_.getString(2) == "2026-08-12"))
    assert(landed.exists(r => !r.isNullAt(0) && r.getInt(0) == 3 &&
      r.getString(1).endsWith("b.jsonl")), "lineage names the source file")
  }

  test("ensureDatabase / ensurePath create once, then no-op") {
    import graft.sources.Ingest
    val db = s"graft_test_db_${System.nanoTime()}"
    try {
      assert(Ingest.ensureDatabase(spark, db))
      assert(!Ingest.ensureDatabase(spark, db))
    } finally spark.sql(s"DROP DATABASE IF EXISTS `$db`") // no residue
    val p = java.nio.file.Files.createTempDirectory("t").toString + "/a/b"
    assert(Ingest.ensurePath(p))
    assert(!Ingest.ensurePath(p))
  }

  test("S13: compaction shrinks the file count and preserves the data") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-compact").toString + "/t"
    val src = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice").limit(1000)
    // simulate a per-API-call landing: 64 tiny files
    src.repartition(64).write.parquet(dir)
    def parquetFiles = Option(new java.io.File(dir).listFiles()).get
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles == 64)
    val before = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    val nFiles = Tables.compact(spark, dir, targetRowsPerFile = 500L)
    assert(nFiles == 2 && parquetFiles == 2)
    // layout changed, data didn't — and no residue directories remain
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet == before)
    assert(!new java.io.File(dir + "__old").exists())
    assert(!new java.io.File(dir + "__compacting").exists())
  }

  test("S13: the compact swap runs on the Hadoop FS, refuses over " +
      "crash residue, and recoverCompact restores either crash state") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-compact2").toString + "/t"
    // every filesystem step below goes through the Hadoop FS API —
    // the port off java.io.File is the point of this spec: the same
    // calls hold on hdfs:///s3a:// roots
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val src = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice").limit(600)
    src.repartition(16).write.parquet(dir)
    val before = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    // stale side-dir residue from an earlier crashed WRITE is wiped,
    // not nested under (renaming into a surviving dir would nest)
    fs.mkdirs(p(s"${dir}__compacting/junk"))
    assert(Tables.compact(spark, dir, targetRowsPerFile = 600L) == 1)
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet ==
      before)
    assert(!fs.exists(p(s"${dir}__compacting")) &&
      !fs.exists(p(s"${dir}__old")))
    // crash state A — died INSIDE the swap window (table renamed
    // aside, compacted layout not yet in): the data lives at __old;
    // the next compact refuses loudly and names the repair
    assert(fs.rename(p(dir), p(s"${dir}__old")))
    val eA = intercept[IllegalStateException] {
      Tables.compact(spark, dir, targetRowsPerFile = 600L)
    }
    assert(eA.getMessage.contains("recoverCompact") &&
      eA.getMessage.contains(s"${dir}__old"))
    // the repair restores the table from the aside copy
    assert(Tables.recoverCompact(spark, dir))
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet ==
      before)
    assert(!fs.exists(p(s"${dir}__old")))
    // crash state B — died AFTER the swap, before the old-copy
    // delete: both copies exist; the repair keeps the live table and
    // deletes the superseded one
    src.limit(100).write.parquet(s"${dir}__old")
    assert(Tables.recoverCompact(spark, dir))
    assert(!fs.exists(p(s"${dir}__old")))
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet ==
      before, "recovery deleted the wrong copy")
    // idempotent no-op when there is nothing to repair
    assert(Tables.recoverCompact(spark, dir))
    // and the table still compacts normally afterwards
    assert(Tables.compact(spark, dir, targetRowsPerFile = 300L) == 2)
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet ==
      before)
  }

  test("S13: compactBytes sizes output from the file LISTING — no " +
      "count scan — with the same swap and residue contract") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-compactb").toString + "/t"
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val src = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice").limit(1000)
    src.repartition(64).write.parquet(dir)
    // a stats sidecar (S16) lives under the table as `_stats/` —
    // its parquet bytes are invisible to the table read and must
    // not inflate the rewrite's sizing (counted, they would push
    // ceil(total/target) from 2 to 3 here — the assertion is sharp)
    Tables.writeStatsIndex(spark, dir, Seq("o_orderkey"))
    val before = spark.read.parquet(dir).collect().map(_.toSeq).toSet
    // target = half the DATA bytes → exactly ceil(total/target) = 2
    // output files, computed from metadata alone
    val target = (Tables.tableDataBytes(spark, dir) + 1) / 2
    assert(Tables.compactBytes(spark, dir, target) == 2)
    assert(Option(new java.io.File(dir).listFiles()).get
      .count(_.getName.endsWith(".parquet")) == 2)
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet ==
      before)
    assert(!fs.exists(p(s"${dir}__old")) &&
      !fs.exists(p(s"${dir}__compacting")))
    // the residue refusal guards the sizing listing too: with the
    // table renamed aside, compactBytes names the repair instead of
    // throwing a bare path error
    assert(fs.rename(p(dir), p(s"${dir}__old")))
    val e = intercept[IllegalStateException] {
      Tables.compactBytes(spark, dir, target)
    }
    assert(e.getMessage.contains("recoverCompact"))
    assert(Tables.recoverCompact(spark, dir))
    assert(spark.read.parquet(dir).collect().map(_.toSeq).toSet ==
      before)
  }

  test("S18 writeAudited: clean audit publishes atomically, failed audit leaves staging and no target") {
    import spark.implicits._
    import graft.operators.Cleaning
    val tmp = java.nio.file.Files.createTempDirectory("wap-spec").toString
    // every filesystem assertion goes through the Hadoop FileSystem
    // API — the publish path must hold on the FS abstraction a
    // cluster deployment actually uses, not java.io.File
    val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def hExists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    val good = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
    // clean publish: target readable, staging gone, report all-pass
    val report = Tables.writeAudited(spark, good, s"$tmp/t1",
      Seq(Cleaning.ExpectNotNull("s"), Cleaning.ExpectUnique("id")))
    assert(report.collect().forall(_.getBoolean(5)))
    assert(spark.read.parquet(s"$tmp/t1").count() == 3)
    assert(hExists(s"$tmp/t1") && !hExists(s"$tmp/t1.staging"),
      "publish must consume the staging dir")
    // failed audit: typed refusal naming the rule, staging LEFT for
    // inspection with the exact staged rows, target never created
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "s")
    val e = intercept[graft.AuditFailed] {
      Tables.writeAudited(spark, dup, s"$tmp/t2",
        Seq(Cleaning.ExpectUnique("id")))
    }
    assert(e.getMessage.contains("id/unique=1"))
    assert(!hExists(s"$tmp/t2"))
    assert(spark.read.parquet(s"$tmp/t2.staging").count() == 2,
      "staged rows must stay inspectable after a failed audit")
    // a corrected re-run replaces the stale staging and publishes
    val fixed = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    Tables.writeAudited(spark, fixed, s"$tmp/t2",
      Seq(Cleaning.ExpectUnique("id")))
    assert(spark.read.parquet(s"$tmp/t2").count() == 2)
    // publishing onto a live target refuses with the TYPE
    intercept[graft.AuditFailed] {
      Tables.writeAudited(spark, fixed, s"$tmp/t2",
        Seq(Cleaning.ExpectUnique("id")))
    }
  }

  test("S18 replace mode swaps by rename-aside: a crash in the window " +
      "leaves the old copy recoverable and the retry reclaims it") {
    import spark.implicits._
    import graft.operators.Cleaning
    val tmp = java.nio.file.Files.createTempDirectory("wap-aside").toString
    val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def hExists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    val rules = Seq(Cleaning.ExpectUnique("id"))
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val v2 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
    Tables.writeAudited(spark, v1, s"$tmp/t", rules)
    // happy replace: swapped, no aside residue, no staging
    Tables.writeAudited(spark, v2, s"$tmp/t", rules, replace = true)
    assert(spark.read.parquet(s"$tmp/t").count() == 3)
    assert(!hExists(s"$tmp/t.old") && !hExists(s"$tmp/t.staging"))
    // crash INSIDE the swap window (old renamed aside, staging not
    // yet in): the old copy is at .old and the validated staging is
    // intact — nothing was destroyed, everything is recoverable
    class Boom extends RuntimeException("injected crash")
    intercept[Boom] {
      Tables.writeAuditedImpl(spark, v1, s"$tmp/t", rules,
        replace = true, () => {
          assert(!hExists(s"$tmp/t"), "inside the window")
          assert(spark.read.parquet(s"$tmp/t.old").count() == 3,
            "the old copy must be recoverable at .old")
          assert(spark.read.parquet(s"$tmp/t.staging").count() == 2,
            "the validated staging must survive the crash")
          throw new Boom
        })
    }
    // the idempotent stage re-run republishes and reclaims the aside
    // residue (target absent → straight publish + cleanup branch)
    Tables.writeAudited(spark, v1, s"$tmp/t", rules, replace = true)
    assert(spark.read.parquet(s"$tmp/t").count() == 2)
    assert(!hExists(s"$tmp/t.old") && !hExists(s"$tmp/t.staging"))
    // a FAILED audit in replace mode still never touches the serving
    // copy (validate-before-destroy is unchanged by the aside swap)
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "s")
    intercept[graft.AuditFailed] {
      Tables.writeAudited(spark, dup, s"$tmp/t", rules, replace = true)
    }
    assert(spark.read.parquet(s"$tmp/t").count() == 2)
    assert(!hExists(s"$tmp/t.old"))
  }

  test("P7: sharded HLL sketch union equals the one-shot global sketch") {
    import org.apache.spark.sql.functions._
    val ord = Tables.table(spark, sf, "orders")
    val sketches = graft.operators.Profiling
      .distinctSketches(ord, col("o_orderkey") % 16, col("o_custkey"))
    assert(sketches.count() == 16)
    val merged = graft.operators.Profiling.unionEstimate(sketches)
      .head().getLong(0)
    val oneShot = ord
      .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))))
      .head().getLong(0)
    assert(merged == oneShot, s"union $merged vs global $oneShot")
    // and the estimate is a real estimate of the true cardinality
    val exact = ord.select("o_custkey").distinct().count()
    assert(math.abs(merged - exact).toDouble / exact < 0.05,
      s"estimate $merged vs exact $exact")
  }

  test("P6b: quantile sketch union is lossless; estimate within one bin; shards filterable") {
    import org.apache.spark.sql.functions._
    val ord = Tables.table(spark, sf, "orders")
    val (lo, hi, bins) = (0.0, 600000.0, 600)
    val P = graft.operators.Profiling
    val shards = P.quantileSketches(ord, col("o_orderkey") % 8,
      col("o_totalprice"), lo, hi, bins)
    def q(sk: org.apache.spark.sql.DataFrame, p: Double) =
      P.unionQuantile(sk, p, lo, hi, bins).head().getDouble(0)
    // lossless merge: union of shard histograms == one-shot global
    val global = P.quantileSketches(ord, lit(1), col("o_totalprice"),
      lo, hi, bins)
    Seq(0.1, 0.5, 0.9).foreach { p =>
      assert(q(shards, p) == q(global, p), s"merge not lossless at p=$p")
    }
    // quantization bound, against the comparator it actually holds
    // for: the NEAREST-RANK quantile lives inside the covering bin, so
    // the upper-edge estimate sits within (0, w] above it — a HARD
    // guarantee on any data. (The interpolated percentile has no such
    // bound: see the gap case below.)
    val w = (hi - lo) / bins
    Seq(0.1, 0.5, 0.9).foreach { p =>
      val disc = ord.agg(expr(
          s"percentile_disc($p) WITHIN GROUP (ORDER BY o_totalprice)"))
        .head().getDouble(0)
      val est = q(shards, p)
      assert(est >= disc && est - disc <= w,
        s"p=$p est=$est disc=$disc w=$w")
    }
    // shard-subset filtering: the stored-sketch query shape — a
    // restricted union is a valid sketch of the restricted data
    val half = shards.filter(col("shard") < 4)
    val halfExact = ord.filter(col("o_orderkey") % 8 < 4)
      .agg(expr("percentile(o_totalprice, 0.5)")).head().getDouble(0)
    assert(math.abs(q(half, 0.5) - halfExact) <= w)
    // out-of-domain values clamp to edge bins instead of vanishing
    import spark.implicits._
    val wild = Seq(-5.0, 1e9, 100.0).toDF("v")
    val sk = P.quantileSketches(wild, lit(1), col("v"), lo, hi, bins)
    assert(sk.agg(sum(col("n"))).head().getLong(0) == 3L)
    // the gap case that SCOPES the bound: two values at opposite ends
    // of the domain. The nearest-rank p50 is 0 and the estimate stays
    // within one bin of it; the INTERPOLATED p50 (~300000) is ~300
    // bins away — which is why the documented guarantee (and the
    // driver gate) compare against percentile_disc, never percentile
    val gap = Seq(0.0, 599999.0).toDF("v")
    val gapEst = q(P.quantileSketches(gap, lit(1), col("v"), lo, hi,
      bins), 0.5)
    val gapDisc = gap.agg(expr(
        "percentile_disc(0.5) WITHIN GROUP (ORDER BY v)"))
      .head().getDouble(0)
    val gapInterp = gap.agg(expr("percentile(v, 0.5)"))
      .head().getDouble(0)
    assert(gapDisc == 0.0 && gapEst >= gapDisc && gapEst - gapDisc <= w)
    assert(math.abs(gapEst - gapInterp) > 100 * w,
      "gap data no longer demonstrates the interpolated-bound failure")
  }
}
