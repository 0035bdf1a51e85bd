package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStream

/** SURVEY.md §2.5 E3–E4: the Structured Streaming pipeline produces
  * the same answers as its batch twin, and streaming dedup bounds
  * state with the watermark.
  */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  test("E3: streaming windowed rollup == batch rollup (complete mode)") {
    // file stream source needs a directory — stage the events file
    val dir = java.nio.file.Files.createTempDirectory("graft-e3")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStream.readEvents(spark, dir.toString)
    val q = EventStream.runToMemory(
      EventStream.windowedRollup(stream), "stream_rollup", "complete")
    try {
      val streamed = spark.table("stream_rollup")
        .select("window_start", "event_type", "n_events", "sum_value")
        .collect().map(_.toSeq).toSet
      val batch = operators.Events.hourlyRollup(spark, sf)
        .select("window_start", "event_type", "n_events", "sum_value")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("E6: custom-state streaming sessionization matches batch closed sessions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-e6")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStream.readEvents(spark, dir.toString)
    val q = EventStream.runToMemory(
      EventStream.sessionizeStream(stream).toDF(), "stream_sessions",
      "append")
    try {
      val streamed = spark.table("stream_sessions")
        .select("user_id", "session_start", "session_end", "n_events")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3))).toSet
      // batch twin: gap-closed sessions MUST stream; each user's LAST
      // session may or may not emit depending on whether the final
      // watermark passed its timeout — so closed ⊆ streamed ⊆ all.
      val batchAll = operators.Events.sessionize(spark, sf).collect()
        .map(r => (r.getLong(0), r.getTimestamp(2), r.getTimestamp(3),
          r.getLong(4)))
      val lastPerUser = batchAll.groupBy(_._1).view
        .mapValues(_.maxBy(_._2.getTime)).values.toSet
      val batchClosed = batchAll.toSet -- lastPerUser
      assert(batchClosed.subsetOf(streamed),
        s"missing closed sessions: ${(batchClosed -- streamed).take(3)}")
      assert(streamed.subsetOf(batchAll.toSet),
        s"phantom sessions: ${(streamed -- batchAll.toSet).take(3)}")
    } finally q.stop()
  }

  test("E4: streaming dedup drops duplicate event_ids within watermark") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    // two files with overlapping event_ids — the "same event delivered
    // twice" case streaming dedup exists for
    val base = graft.sources.Tables.table(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props")).limit(200)
    base.write.mode("overwrite").parquet(s"$dir/batch1")
    base.limit(50).write.mode("overwrite").parquet(s"$dir/batch2")

    spark.conf.set("spark.sql.streaming.schemaInference", "false")
    val stream = spark.readStream
      .schema(base.schema)
      .option("recursiveFileLookup", "true")
      .parquet(dir)
    val q = EventStream.runToMemory(
      EventStream.dedupStream(stream), "stream_dedup", "append")
    try {
      val n = spark.table("stream_dedup").select("event_id").distinct().count()
      val total = spark.table("stream_dedup").count()
      assert(total == n, s"dup rows survived: $total vs $n distinct")
      assert(n == 200)
    } finally q.stop()
  }

  test("E10: stream-static enrichment matches the batch join") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-e10")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val dim = Seq(("view", 1L), ("click", 5L), ("purchase", 25L))
      .toDF("et", "weight")
    val stream = EventStream.readEvents(spark, dir.toString)
    val q = EventStream.runToMemory(
      EventStream.enrichStream(stream, dim, "event_type", "et")
        .select(col("event_id"), col("weight")),
      "stream_enriched", "append")
    try {
      val streamed = spark.table("stream_enriched").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toMap
      val batch = graft.sources.Tables.table(spark, sf, "events")
        .join(broadcast(dim), col("event_type") === col("et"), "left")
        .select(col("event_id"), col("weight")).collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toMap
      assert(streamed == batch)
      // left semantics: unknown event types survive with null weight
      assert(batch.size == graft.sources.Tables
        .table(spark, sf, "events").count())
    } finally q.stop()
  }

  test("E12: stream-stream interval join matches the batch interval join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-e12")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStream.readEvents(spark, dir.toString)
    def sides(ev: org.apache.spark.sql.DataFrame) = (
      ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("view_ts")),
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts")))
    val (sv, sp) = sides(stream)
    val q = EventStream.runToMemory(
      EventStream.intervalJoinStream(sv, sp,
        "user_id", "view_ts", "purchase_ts")
        .select(col("view_id"), col("purchase_id")),
      "stream_ijoin", "append")
    try {
      val streamed = spark.table("stream_ijoin").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val (bv, bp) = sides(graft.sources.Tables.table(spark, sf, "events"))
      val batch = bv.join(bp.withColumnRenamed("user_id", "uk"),
          col("user_id") === col("uk") &&
            col("purchase_ts") >= col("view_ts") &&
            col("purchase_ts") <= col("view_ts") + expr("INTERVAL 2 hours"))
        .select(col("view_id"), col("purchase_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("E11: replayed micro-batch does not duplicate rows (dynamic overwrite)") {
    val out = java.nio.file.Files
      .createTempDirectory("graft-e11").toString + "/events"
    val ev = graft.sources.Tables.table(spark, sf, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val batch0 = ev.limit(500)
    val batch1 = ev.orderBy(col("event_id").desc).limit(300)
    EventStream.idempotentDailyWrite(batch0, out, batchId = 0L)
    EventStream.idempotentDailyWrite(batch1, out, batchId = 1L)
    val both = spark.read.parquet(out).count()
    // batches overlap on event_date: batch 1's overwrite must NOT have
    // deleted batch 0's rows for the shared dates
    assert(both == 800L, s"cross-batch rows lost: $both")
    // the at-least-once failure case: the SAME batch is delivered and
    // written again — dynamic partition overwrite must replace, not
    // append
    EventStream.idempotentDailyWrite(batch1, out, batchId = 1L)
    val after = spark.read.parquet(out).count()
    assert(after == 800L, s"replay changed row count: $both -> $after")
  }

  test("streaming corpus sink: per-file batches land once, empty source no-op") {
    import graft.operators.Corpus
    val out = java.nio.file.Files
      .createTempDirectory("graft-cstream").toString
    val doc = graft.sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "lang", "text")
    val bucket = Corpus.hashBucket(col("doc_id"), "cinc", 5)
    graft.Pipeline.corpusInit(spark, doc.filter(bucket >= 2), out,
      "2026-08-12")
    val silverPath = s"$out/silver/documents"
    val n0 = spark.read.parquet(silverPath).count()
    def nIndexBatches: Int = new java.io.File(s"$out/dedup_index/batches")
      .listFiles().count(_.isDirectory)
    val b0 = nIndexBatches
    val src = s"$out/incoming"
    new java.io.File(src).mkdirs()
    def run(ckpt: String): Unit = {
      graft.streaming.CorpusStream.corpusIncrementSink(
        spark.readStream
          .schema("doc_id BIGINT, lang STRING, text STRING")
          .option("maxFilesPerTrigger", "1").json(src),
        out, "2026-08-13", s"$out/$ckpt")
      ()
    }
    // an empty source: nothing lands, and crucially NO index batch is
    // published (an empty batch's constant content id would make every
    // later empty batch look like a replay)
    run("ckpt-empty")
    assert(spark.read.parquet(silverPath).count() == n0)
    assert(nIndexBatches == b0, "empty micro-batch polluted the index")
    // two files → two per-file micro-batches through the increment
    // (append: the landing dir already exists from the empty-run case)
    doc.filter(bucket <= 1).repartition(2).write.mode("append").json(src)
    run("ckpt")
    val n1 = spark.read.parquet(silverPath).count()
    assert(n1 > n0, "stream landed nothing")
    assert(nIndexBatches == b0 + 2,
      "expected one published index batch per source file")
    // full redelivery on a fresh checkpoint: the content-id guard
    // turns at-least-once delivery into exactly-once landing
    run("ckpt2")
    assert(spark.read.parquet(silverPath).count() == n1)
    assert(nIndexBatches == b0 + 2)
  }

  test("O6d streaming snapshot promotion: every micro-batch serves " +
      "through the pointer with no reader gap; redelivery refused by " +
      "the content-derived partition guard") {
    import graft.sources.ManifestStore
    import graft.streaming.SnapshotStream
    val out = java.nio.file.Files
      .createTempDirectory("graft-sstream").toString
    try {
      val root = s"$out/gold"
      val doc = graft.sources.Tables.table(spark, sf, "documents")
        .select("doc_id", "lang", "text")
      val src = s"$out/incoming"
      doc.repartition(3).write.json(src)
      // the never-gaps probe rides the sink: after EVERY promotion the
      // table is servable and growth is monotone — a reader between
      // micro-batch pointer swaps can never see a missing or
      // half-landed table
      var last = 0L
      var monotone = true
      def run(ckpt: String): Unit = {
        SnapshotStream.snapshotSinkWithProbe(
          spark.readStream
            .schema("doc_id BIGINT, lang STRING, text STRING")
            .option("maxFilesPerTrigger", "1").json(src),
          root, s"$out/$ckpt", "doc_id", 3, () => {
            val n = ManifestStore.readCurrent(spark, root).count()
            if (n < last) monotone = false
            last = n
          })
        ()
      }
      run("ckpt")
      assert(monotone, "a reader saw the table shrink mid-stream")
      assert(last == doc.count(), "the streamed gold must serve " +
        "every source row once all micro-batches promote")
      // one generation per non-empty micro-batch, each batch one
      // content-keyed partition
      val gen1 = ManifestStore.currentGen(spark, root).get
      assert(gen1 == 3L)
      // restart on the same checkpoint: nothing new to read
      run("ckpt")
      assert(ManifestStore.currentGen(spark, root).contains(gen1))
      // fresh checkpoint: full redelivery, every batch refused by the
      // partition guard — counts AND generations unchanged
      run("ckpt2")
      assert(ManifestStore.currentGen(spark, root).contains(gen1))
      assert(ManifestStore.readCurrent(spark, root).count() ==
        doc.count())
      // the guard is typed and direct: re-promoting any slice that is
      // already a partition refuses loudly
      val slice = spark.read
        .schema("doc_id BIGINT, lang STRING, text STRING").json(src)
        .limit(0) // empty is NOT the guard's job — build a real replay
      val firstBid = ManifestStore.manifestAt(spark, root, gen1)
        .entries.head.partition
      val replay = ManifestStore.readPartitions(spark, root,
        Seq(firstBid)).drop("snapshot_batch")
      intercept[BatchAlreadyLanded] {
        SnapshotStream.publishBatch(spark, replay, root, "doc_id")
      }
      assert(slice.isEmpty) // silence the unused-val lint honestly
      // time travel across micro-batch promotions stays exact: gen 1
      // is the first micro-batch alone
      val g1rows = ManifestStore.readAt(spark, root, 1L).count()
      assert(g1rows > 0 && g1rows < doc.count())
    } finally rmTree(new java.io.File(out))
  }

  test("catalog identifiers on the streaming surfaces: graft-cdf " +
      "reads `table = cat.ns.t` and snapshotSink promotes into an " +
      "identifier — full round trip with no path in sight") {
    import graft.sources.ManifestStore
    import graft.streaming.SnapshotStream
    val out = java.nio.file.Files
      .createTempDirectory("graft-streamident").toString
    try {
      val cat = "sc" + out.replaceAll("[^0-9a-zA-Z]", "").takeRight(8)
      spark.conf.set(s"spark.sql.catalog.$cat",
        "graft.sources.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", out)
      spark.sql(s"CREATE NAMESPACE $cat.db")
      // ---- sink through the identifier ----
      spark.sql(s"CREATE TABLE $cat.db.gold " +
        "(k BIGINT, snapshot_batch STRING) " +
        "PARTITIONED BY (snapshot_batch)")
      val src = s"$out/incoming"
      spark.range(30).selectExpr("id AS k").repartition(3)
        .write.json(src)
      SnapshotStream.snapshotSink(
        spark.readStream.schema("k BIGINT")
          .option("maxFilesPerTrigger", "1").json(src),
        s"$cat.db.gold", s"$out/ck", "k")
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.gold")
        .head().getLong(0) == 30L)
      // ---- graft-cdf through the identifier (table option) ----
      val drained = scala.collection.mutable.Set
        .empty[Long]
      val q = spark.readStream.format("graft-cdf")
        .option("keys", "k")
        .option("table", s"$cat.db.gold").load()
        .writeStream.option("checkpointLocation", s"$out/ckcdf")
        .foreachBatch {
          (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.filter(col("change") === "added").collect()
              .foreach(r => drained += r.getAs[Long]("k"))
        }.start()
      q.processAllAvailable()
      q.stop()
      assert(drained == (0L until 30L).toSet,
        s"cdf through the identifier must replay every row, got " +
          s"${drained.size}")
      // the identifier resolved to the real warehouse directory
      assert(ManifestStore.currentGen(spark, s"$out/db/gold")
        .isDefined)
      ()
    } finally rmTree(new java.io.File(out))
  }

  test("writeStream.format(graft-snapshot): the sink form of the " +
      "streaming promotion — micro-batches land as content-keyed " +
      "generations, restart is a no-op, fresh-checkpoint redelivery " +
      "is refused by the replay guard") {
    import graft.sources.ManifestStore
    val out = java.nio.file.Files
      .createTempDirectory("graft-fmtsink").toString
    try {
      val root = s"$out/gold"
      val src = s"$out/incoming"
      spark.range(24).selectExpr("id AS k").repartition(3)
        .write.json(src)
      def run(ck: String): Unit = {
        val q = spark.readStream.schema("k BIGINT")
          .option("maxFilesPerTrigger", "1").json(src)
          .writeStream.format("graft-snapshot")
          .option("path", root).option("idCol", "k")
          .option("checkpointLocation", s"$out/$ck")
          .start()
        q.processAllAvailable()
        q.stop()
      }
      run("ck1")
      assert(ManifestStore.readCurrent(spark, root).count() == 24L)
      val gen = ManifestStore.currentGen(spark, root).get
      assert(gen == 3L, s"one generation per micro-batch, got $gen")
      // restart: the checkpoint stops re-reads
      run("ck1")
      assert(ManifestStore.currentGen(spark, root).contains(gen))
      // fresh checkpoint: full redelivery, all refused by the guard
      run("ck2")
      assert(ManifestStore.currentGen(spark, root).contains(gen))
      assert(ManifestStore.readCurrent(spark, root).count() == 24L)
      ()
    } finally rmTree(new java.io.File(out))
  }

  test("change feed: per-promotion diffs stream in order with a " +
      "persisted cursor — full-sync bootstrap, restart no-op, " +
      "crash redelivery, retention lag refused typed") {
    import graft.sources.{ChangeFeed, ManifestStore, SnapshotStore,
      Tables}
    val out = java.nio.file.Files.createTempDirectory("graft-cdc")
      .toString
    try {
      val root = s"$out/tbl"
      val nation = Tables.table(spark, sf, "nation")
      SnapshotStore.publish(spark, nation, root) // gen 1
      val v2 = nation.filter(col("n_regionkey") < 3)
        .withColumn("n_name", when(col("n_nationkey") === 0,
          lit("RENAMED")).otherwise(col("n_name")))
        .unionByName(nation.filter(col("n_regionkey") === 4)
          .withColumn("n_nationkey", col("n_nationkey") + 1000))
      SnapshotStore.publish(spark, v2, root) // gen 2
      val keys = Seq("n_nationkey")
      val seen = scala.collection.mutable.Map
        .empty[Long, Set[org.apache.spark.sql.Row]]
      val p1 = ChangeFeed.consume(spark, root, s"$out/ck1", keys,
        (g, df) => { seen(g) = df.collect().toSet; () })
      assert(p1 == Seq(1L, 2L))
      // bootstrap: the oldest retained generation as all-added rows
      assert(seen(1L).size == nation.count() &&
        seen(1L).forall(_.getAs[String]("change") == "added"))
      // each later promotion's stream equals the batch diff minus
      // `unchanged` — the S19c oracle
      val g2expect = SnapshotStore.diff(spark, root, 1L, 2L, keys)
        .filter(col("change") =!= "unchanged").collect().toSet
      assert(seen(2L) == g2expect)
      // restart: nothing new, nothing redelivered
      assert(ChangeFeed.consume(spark, root, s"$out/ck1", keys,
        (_, _) => fail("restart must be a no-op")).isEmpty)
      // a new promotion streams exactly one more diff
      SnapshotStore.publish(spark, nation, root) // gen 3
      val p3 = ChangeFeed.consume(spark, root, s"$out/ck1", keys,
        (g, df) => { seen(g) = df.collect().toSet; () })
      assert(p3 == Seq(3L))
      assert(seen(3L) == SnapshotStore.diff(spark, root, 2L, 3L, keys)
        .filter(col("change") =!= "unchanged").collect().toSet)
      // crash honesty: a handler failing on gen 2 leaves the cursor
      // at 1; the retry redelivers EXACTLY gen 2's set, then 3
      class Boom extends RuntimeException("injected")
      var first = true
      intercept[Boom] {
        ChangeFeed.consume(spark, root, s"$out/ck2", keys, (g, df) => {
          if (g == 2L && first) { first = false; throw new Boom }
          df.count(); ()
        })
      }
      assert(ChangeFeed.cursor(spark, root, s"$out/ck2")
        .contains(1L))
      val redelivered = scala.collection.mutable.Map
        .empty[Long, Set[org.apache.spark.sql.Row]]
      assert(ChangeFeed.consume(spark, root, s"$out/ck2", keys,
        (g, df) => { redelivered(g) = df.collect().toSet; () }) ==
        Seq(2L, 3L))
      assert(redelivered(2L) == g2expect)
      // the MANIFEST table kind streams the same way
      val mroot = s"$out/mtbl"
      ManifestStore.publish(spark, nation, mroot, "n_regionkey")
      ManifestStore.publish(spark,
        nation.filter(col("n_regionkey") === 2)
          .withColumn("n_name", lit("X")), mroot, "n_regionkey")
      val mseen = scala.collection.mutable.Map
        .empty[Long, Set[org.apache.spark.sql.Row]]
      assert(ChangeFeed.consume(spark, mroot, s"$out/ck3", keys,
        (g, df) => { mseen(g) = df.collect().toSet; () }) ==
        Seq(1L, 2L))
      assert(mseen(2L).nonEmpty &&
        mseen(2L).forall(_.getAs[String]("change") == "changed"))
      // retention lag: a cursor stranded behind a keep=1 table's
      // prune refuses TYPED (re-sync with a fresh checkpoint)
      val kroot = s"$out/ktbl"
      SnapshotStore.publish(spark, nation, kroot, keep = 1)
      val pk = ChangeFeed.consume(spark, kroot, s"$out/ck4", keys,
        (_, df) => { df.count(); () })
      assert(pk == Seq(1L))
      SnapshotStore.publish(spark, v2, kroot, keep = 1)     // prunes 1
      SnapshotStore.publish(spark, nation, kroot, keep = 1) // prunes 2
      intercept[SnapshotUnavailable] {
        ChangeFeed.consume(spark, kroot, s"$out/ck4", keys,
          (_, df) => { df.count(); () })
      }
      // and a FRESH consumer on that keep=1 table full-syncs the
      // serving generation (the only retained one)
      val fseen = scala.collection.mutable.Map
        .empty[Long, Set[org.apache.spark.sql.Row]]
      assert(ChangeFeed.consume(spark, kroot, s"$out/ck5", keys,
        (g, df) => { fseen(g) = df.collect().toSet; () }) ==
        Seq(3L))
      assert(fseen(3L).size == nation.count() &&
        fseen(3L).forall(_.getAs[String]("change") == "added"))
    } finally rmTree(new java.io.File(out))
  }

  test("graft-cdf: the change feed as a readStream SOURCE — offsets " +
      "are generations, drains are exactly-once across restarts and " +
      "equal the batch diffs, lag past retention fails typed") {
    import graft.sources.{SnapshotStore, Tables}
    val out = java.nio.file.Files.createTempDirectory("graft-cdfsrc")
      .toString
    try {
      val root = s"$out/tbl"
      val nation = Tables.table(spark, sf, "nation")
      SnapshotStore.publish(spark, nation, root) // gen 1
      val v2 = nation.filter(col("n_regionkey") < 3)
        .withColumn("n_name", when(col("n_nationkey") === 0,
          lit("RENAMED")).otherwise(col("n_name")))
        .unionByName(nation.filter(col("n_regionkey") === 4)
          .withColumn("n_nationkey", col("n_nationkey") + 1000))
      SnapshotStore.publish(spark, v2, root) // gen 2
      val keys = Seq("n_nationkey")

      // drain everything available through a checkpointed stream and
      // bucket the rows by their generation stamp
      def drain(ck: String, startGen: Option[Long] = None,
                table: String = root)
          : Map[Long, Set[org.apache.spark.sql.Row]] = {
        val buf = scala.collection.mutable.Map
          .empty[Long, Set[org.apache.spark.sql.Row]]
        val reader = spark.readStream.format("graft-cdf")
          .option("keys", keys.mkString(","))
        val q = startGen.fold(reader)(g =>
          reader.option("startGen", g.toString)).load(table)
          .writeStream.option("checkpointLocation", ck)
          .foreachBatch {
            (df: org.apache.spark.sql.DataFrame, _: Long) =>
              df.collect().groupBy(_.getAs[Long]("graft_gen"))
                .foreach { case (g, rs) =>
                  val stripped = rs.map { r =>
                    org.apache.spark.sql.Row.fromSeq(
                      r.toSeq.dropRight(1)) }.toSet
                  buf(g) = buf.getOrElse(g, Set.empty) ++ stripped
                }
          }.start()
        q.processAllAvailable()
        q.stop()
        buf.toMap
      }
      val first = drain(s"$out/ck1")
      // full-sync bootstrap: the oldest retained gen as all-added
      assert(first(1L).size == nation.count())
      val g2expect = SnapshotStore.diff(spark, root, 1L, 2L, keys)
        .filter(col("change") =!= "unchanged").collect().toSet
      assert(first(2L) == g2expect)
      // restart on the same checkpoint: nothing redelivered
      assert(drain(s"$out/ck1").isEmpty)
      // a new promotion: exactly one more generation's diff
      SnapshotStore.publish(spark, nation, root) // gen 3
      val third = drain(s"$out/ck1")
      assert(third.keySet == Set(3L))
      assert(third(3L) == SnapshotStore.diff(spark, root, 2L, 3L, keys)
        .filter(col("change") =!= "unchanged").collect().toSet)
      // startGen: a "from gen 2" consumer sees only promotion 3
      val fromNow = drain(s"$out/ck2", startGen = Some(2L))
      assert(fromNow.keySet == Set(3L) && fromNow(3L) == third(3L))
      // COMPOSABILITY — the point of being a real source: a stateful
      // streaming aggregation runs directly over the feed (change
      // class counts in complete mode), something the driver-side
      // consume loop could never host
      val agg = spark.readStream.format("graft-cdf")
        .option("keys", keys.mkString(",")).load(root)
        .groupBy(col("change")).count()
        .writeStream.outputMode("complete")
        .option("checkpointLocation", s"$out/ckagg")
        .format("memory").queryName("cdf_counts").start()
      agg.processAllAvailable()
      agg.stop()
      val streamed = spark.table("cdf_counts").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // expectation: gen1 full sync (all added) + diffs of 2 and 3
      val expectCounts = (SnapshotStore.readAt(spark, root, 1L)
        .count() +: Seq((1L, 2L), (2L, 3L)).map { case (a, b) =>
          SnapshotStore.diff(spark, root, a, b, keys)
            .filter(col("change") === "added").count() }).sum
      assert(streamed("added") == expectCounts,
        s"streamed agg must equal the batch-derived counts: $streamed")
      // lag past retention fails TYPED through the stream: a keep=1
      // table prunes the predecessor a checkpointed consumer needs
      val kroot = s"$out/ktbl"
      SnapshotStore.publish(spark, nation, kroot, keep = 1)
      drain(s"$out/ck3", table = kroot)
      SnapshotStore.publish(spark, v2, kroot, keep = 1)
      SnapshotStore.publish(spark, nation, kroot, keep = 1)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        val q = spark.readStream.format("graft-cdf")
          .option("keys", keys.mkString(",")).load(kroot)
          .writeStream.option("checkpointLocation", s"$out/ck3")
          .foreachBatch {
            (df: org.apache.spark.sql.DataFrame, _: Long) =>
              df.count(); () }
          .start()
        try { q.processAllAvailable(); q.stop() }
        finally if (q.isActive) q.stop()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      assert(causes(e).exists(_.isInstanceOf[SnapshotUnavailable]),
        s"expected the typed lag refusal in the cause chain: $e")
      ()
    } finally rmTree(new java.io.File(out))
  }

  test("graft-cdf admission control: maxGensPerTrigger drains a " +
      "lagged checkpoint in bounded micro-batches whose union " +
      "equals the unbounded drain") {
    import graft.sources.{SnapshotStore, Tables}
    val out = java.nio.file.Files.createTempDirectory("graft-cdfcap")
      .toString
    try {
      val root = s"$out/tbl"
      val nation = Tables.table(spark, sf, "nation")
      SnapshotStore.publish(spark, nation, root, keep = 10) // gen 1
      val keys = Seq("n_nationkey")

      // drain with an optional cap; returns (batches-with-rows,
      // rows bucketed by generation stamp)
      def drain(ck: String, maxGens: Option[Long])
          : (Int, Map[Long, Set[org.apache.spark.sql.Row]]) = {
        val buf = scala.collection.mutable.Map
          .empty[Long, Set[org.apache.spark.sql.Row]]
        val batches = new java.util.concurrent.atomic.AtomicInteger(0)
        val reader = spark.readStream.format("graft-cdf")
          .option("keys", keys.mkString(","))
        val q = maxGens.fold(reader)(m =>
          reader.option("maxGensPerTrigger", m.toString)).load(root)
          .writeStream.option("checkpointLocation", ck)
          .foreachBatch {
            (df: org.apache.spark.sql.DataFrame, _: Long) =>
              val rows = df.collect()
              if (rows.nonEmpty) batches.incrementAndGet()
              rows.groupBy(_.getAs[Long]("graft_gen")).foreach {
                case (g, rs) =>
                  buf(g) = buf.getOrElse(g, Set.empty) ++
                    rs.map(r => org.apache.spark.sql.Row.fromSeq(
                      r.toSeq.dropRight(1))).toSet
              }
          }.start()
        q.processAllAvailable()
        q.stop()
        (batches.get(), buf.toMap)
      }

      // consume gen 1, then fall 5 promotions behind
      val (_, _) = drain(s"$out/ckCap", None)
      (2 to 6).foreach { i =>
        SnapshotStore.publish(spark,
          nation.withColumn("n_name", concat(col("n_name"),
            lit(s"-$i"))), root, keep = 10)
      }
      // the capped catch-up: 5 pending gens / 2 per trigger = 3
      // bounded batches, same rows as one unbounded drain
      val (nCapped, capped) = drain(s"$out/ckCap", Some(2L))
      assert(nCapped == 3,
        s"5 pending generations at maxGensPerTrigger=2 must drain " +
          s"in 3 batches, got $nCapped")
      val (nUnbounded, unbounded) = drain(s"$out/ckRef", None)
      // the reference drain bootstraps (gen-1 full sync) — compare
      // the lagged generations only
      assert(capped.keySet == Set(2L, 3L, 4L, 5L, 6L))
      (2L to 6L).foreach { g =>
        assert(capped(g) == unbounded(g),
          s"generation $g must deliver the same rows capped or not")
      }
      assert(nUnbounded == 1,
        "the unbounded reference must drain in one batch")
      ()
    } finally rmTree(new java.io.File(out))
  }
}
