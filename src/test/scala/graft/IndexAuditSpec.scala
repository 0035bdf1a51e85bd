package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Bm25, IndexAudit, IndexProtocol}
import scala.jdk.CollectionConverters._

/** Specs for the persisted-index integrity audit (fsck) — every
  * status in the taxonomy produced at least once, on a synthetic
  * protocol root (full state control, no Spark jobs) and on a real
  * BM25 index (the audit must read production layouts with the
  * production readers).
  */
class IndexAuditSpec extends AnyFunSuite {
  import SparkTestSession._

  private def hadoopFs(root: String) =
    new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  private def tmp(tag: String): java.io.File =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toFile

  test("auditIndex classifies every protocol state on a synthetic root") {
    val dir = tmp("fsck-proto")
    try {
      val root = dir.toString
      val fs = hadoopFs(root)
      def mkDir(n: String): Unit = {
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/batches/$n")); ()
      }
      // committed b1 (dir present) + b2 (payload LOST); retired r1
      // (dir still present) + r2 (reclaimed); gen 5
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$root/_meta"), true)
      try out.write(
        "batches=b1,b2\nretired=r1,r2\ngen=5\n".getBytes("UTF-8"))
      finally out.close()
      mkDir("b1"); mkDir("r1")
      // unlisted directories: merged-shape residue, a marked dir in
      // grace, a marked dir past grace, and a bare orphan
      mkDir("m0123456789abcdef")
      mkDir("g1"); IndexProtocol.markPendingDelete(fs, root, "g1",
        1000L, 500L) // deadline 1500
      mkDir("g2"); IndexProtocol.markPendingDelete(fs, root, "g2",
        1000L, 9000L) // deadline 10000
      mkDir("o1")
      // a dropped pre-reservation SQUATTER on the merged shape, still
      // inside its window: the marker must decide BEFORE the shape,
      // or repair would falsely report scheduling residue every run
      mkDir("m1111111111111111")
      IndexProtocol.markPendingDelete(fs, root, "m1111111111111111",
        1000L, 9000L)
      // a delisted dir whose marker bytes are CORRUPT: corrupt counts
      // as expired by protocol definition — reclaimable, not an alarm
      mkDir("c1")
      java.nio.file.Files.write(
        new java.io.File(s"$root/_pending_delete/c1").toPath,
        "garbage".getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE)
      // markers: stale on committed b1, dangling for a gone dir
      IndexProtocol.markPendingDelete(fs, root, "b1", 0L, 0L)
      IndexProtocol.markPendingDelete(fs, root, "gone1", 0L, 0L)
      // history: record for gen 5 present
      IndexProtocol.recordMetaHistory(fs, root, 5L,
        "x".getBytes("UTF-8"))
      val got = IndexProtocol.auditIndex(fs, root, nowMs = 2000L)
        .map(f => (f.kind, f.name, f.status, f.healthy)).toSet
      assert(got == Set(
        ("batch", "b1", "committed_ok", true),
        ("batch", "b2", "committed_missing_payload", false),
        ("batch", "r1", "retired_awaiting_reclaim", true),
        ("batch", "r2", "retired_reclaimed", true),
        ("dir", "m0123456789abcdef", "compaction_residue", true),
        ("dir", "g1", "delisted_reclaimable", true), // 1500 < 2000
        ("dir", "g2", "delisted_in_grace", true), // 10000 > 2000
        ("dir", "m1111111111111111", "delisted_in_grace", true),
        ("dir", "c1", "delisted_reclaimable", true),
        ("dir", "o1", "orphan", false),
        ("marker", "b1", "stale_on_committed", false),
        ("marker", "gone1", "dangling", true),
        ("history", "5", "current_recorded", true)))
      // the one-line verdict trips on any unhealthy finding
      assert(!IndexAudit.isHealthy(spark, root, nowMs = 2000L))
      // lose the current gen's history record → unhealthy too
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/_meta_history/5"),
        false)
      assert(IndexProtocol.auditIndex(fs, root, nowMs = 2000L)
        .contains(IndexProtocol.AuditFinding("history", "5",
          "current_missing", false)))
    } finally rmTree(dir)
  }

  test("a freshly built and appended BM25 index audits healthy; a " +
      "planted orphan flips the verdict without touching the serve") {
    import spark.implicits._
    val dir = tmp("fsck-bm25")
    try {
      val path = dir.toString
      val docs = Seq((1L, "vector hash join fast pipeline"),
        (2L, "hash join table scan"),
        (3L, "completely unrelated prose text"),
        (4L, "fast scan over the hash table")).toDF("doc_id", "text")
      Bm25.writeBm25Index(docs.filter(col("doc_id") <= 3), "doc_id",
        "text", path)
      Bm25.appendBm25Index(docs.filter(col("doc_id") === 4), "text",
        path)
      val report = IndexAudit.audit(spark, path)
      assert(report.filter(!col("healthy")).count() == 0)
      assert(report.filter(col("kind") === "batch" &&
        col("status") === "committed_ok").count() == 2)
      assert(IndexAudit.isHealthy(spark, path))
      // a planted orphan is REPORTED but never served (meta-driven
      // visibility) — the audit is the surfacing mechanism
      hadoopFs(path).mkdirs(
        new org.apache.hadoop.fs.Path(s"$path/batches/deadbeef01"))
      assert(!IndexAudit.isHealthy(spark, path))
      assert(IndexAudit.audit(spark, path)
        .filter(col("status") === "orphan").count() == 1)
      assert(Bm25.bm25TopKIndexed(spark, path, "fast vector hash join",
        k = 10).count() > 0)
      // maintenance reclaims it (orphan-grace floor aside, a compact
      // plus an expired-clock sweep) and the audit heals — here we
      // just assert the reclaimable classification after marking
      IndexProtocol.markPendingDelete(hadoopFs(path), path,
        "deadbeef01", 0L, 0L)
      assert(IndexAudit.audit(spark, path)
        .filter(col("status") === "delisted_reclaimable").count() == 1)
      assert(IndexAudit.isHealthy(spark, path))
    } finally rmTree(dir)
  }

  test("repair remediates every repairable incident once, reports the " +
      "unrepairable one, and the re-recorded snapshot serves again") {
    import spark.implicits._
    val dir = tmp("fsck-repair")
    try {
      val path = dir.toString
      val fs = hadoopFs(path)
      val docs = Seq((1L, "vector hash join fast pipeline"),
        (2L, "hash join table scan"),
        (3L, "completely unrelated prose text"),
        (4L, "fast scan over the hash table")).toDF("doc_id", "text")
      Bm25.writeBm25Index(docs.filter(col("doc_id") <= 3), "doc_id",
        "text", path)
      Bm25.appendBm25Index(docs.filter(col("doc_id") === 4), "text",
        path)
      // the full repairable incident set
      fs.mkdirs(new org.apache.hadoop.fs.Path(
        s"$path/batches/m0123456789abcdef"))
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/batches/orphan01"))
      IndexProtocol.markPendingDelete(fs, path, "gonebatch01", 0L, 0L)
      val committedId = IndexProtocol.committedFromMeta(fs, path)
        .toSeq.sorted.head
      IndexProtocol.markPendingDelete(fs, path, committedId, 0L, 0L)
      val gen = Bm25.currentGen(spark, path)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$path/_meta_history/$gen"), false)
      intercept[SnapshotUnavailable] {
        Bm25.bm25TopKIndexedAt(spark, path, gen, "fast vector hash",
          k = 5).collect()
      }
      val acts = IndexAudit.repair(spark, path).collect()
        .map(r => (r.getString(1), r.getString(2))).toSet
      assert(acts == Set(
        (committedId, "cleared_stale_marker"),
        ("gonebatch01", "cleared_dangling_marker"),
        ("orphan01", "scheduled_reclaim_orphan_grace"),
        ("m0123456789abcdef", "scheduled_reclaim"),
        (gen.toString, "rerecorded_from_meta"),
        ("m0123456789abcdef", "reclaimed")))
      // healthy afterwards; the orphan sits in its grace window
      // (delisted_in_grace, healthy) instead of deleted — it may
      // have been an in-flight publish
      assert(IndexAudit.isHealthy(spark, path))
      assert(new java.io.File(s"$path/batches/orphan01").exists())
      assert(!new java.io.File(
        s"$path/batches/m0123456789abcdef").exists())
      // the re-recorded history record makes the as-of-gen probe
      // serve again, identical to the live probe (same committed view)
      assert(Bm25.bm25TopKIndexedAt(spark, path, gen,
        "fast vector hash join", k = 10).collect().toSet ==
        Bm25.bm25TopKIndexed(spark, path,
          "fast vector hash join", k = 10).collect().toSet)
      // ...and it holds EXACTLY the committed meta bytes, filed under
      // the gen those bytes declare — the self-consistency contract
      // that makes the heal safe under any interleaving with a swap
      assert(java.util.Arrays.equals(
        IndexProtocol.readMetaHistory(fs, path, gen).get,
        graft.sources.MetaSwap.readCommitted(fs,
          new org.apache.hadoop.fs.Path(s"$path/_meta"))))
      // the one UNREPAIRABLE incident is reported, not papered over:
      // a committed batch whose payload is gone needs the operator
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$path/batches/$committedId"), true)
      val acts2 = IndexAudit.repair(spark, path).collect()
        .map(_.getString(2)).toSeq
      assert(acts2.contains("unrepairable_missing_payload"))
      assert(!IndexAudit.isHealthy(spark, path))
    } finally rmTree(dir)
  }

  test("rerecordCurrentGen files the bytes under the gen THEY declare " +
      "— a stale audited gen can never mis-label a newer meta") {
    val dir = tmp("rerecord")
    try {
      val root = dir.toString
      val fs = hadoopFs(root)
      // a committed meta at gen 7 whose history record is lost
      val bytes = "batches=b1\nretired=\ngen=7\n".getBytes("UTF-8")
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$root/_meta"), true)
      try out.write(bytes) finally out.close()
      // the heal was handed a STALE audited gen (5): a writer swapped
      // the meta between the audit's read and this heal. Recording
      // the gen-7 bytes under 5 would make topKAt(5) silently serve
      // gen 7's view — instead the record files under 7, and 5 stays
      // typed-unavailable
      assert(IndexProtocol.rerecordCurrentGen(fs, root, auditedGen = 5L)
        == Seq(7L))
      assert(IndexProtocol.readMetaHistory(fs, root, 5L).isEmpty)
      assert(java.util.Arrays.equals(
        IndexProtocol.readMetaHistory(fs, root, 7L).get, bytes))
      // idempotent: a record already present (e.g. written by the
      // racing swap itself) is left alone and nothing is reported
      assert(IndexProtocol.rerecordCurrentGen(fs, root, 5L).isEmpty)
    } finally rmTree(dir)
  }

  test("auditDedup classifies every directory-visibility state on a " +
      "synthetic dedup-index root") {
    val dir = tmp("dfsck-proto")
    try {
      val root = dir.toString
      val fs = hadoopFs(root)
      def mk(p: String): Unit = {
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/$p")); ()
      }
      def meta(bytes: String): Unit = {
        val out = fs.create(
          new org.apache.hadoop.fs.Path(s"$root/_meta"), true)
        try out.write(bytes.getBytes("UTF-8")) finally out.close()
      }
      // a dedup meta committing one batch of every payload shape — whole,
      // mid-landing (commit record, no _landed), LANDED (accepted +
      // _landed → whole), half payload — one retired id whose directory
      // is gone, and one unlisted directory
      meta("k=16\nrowsPerBand=2\nmaxDocFreq=-1\n" +
        "batches=b_ok,b_mid,b_land,b_half\nretired=b_old\ngen=0\n")
      mk("batches/b_ok/bands"); mk("batches/b_ok/shingles")
      mk("batches/b_mid/bands"); mk("batches/b_mid/shingles")
      mk("batches/b_mid/accepted")
      mk("batches/b_land/bands"); mk("batches/b_land/shingles")
      mk("batches/b_land/accepted"); mk("batches/b_land/_landed")
      mk("batches/b_half/shingles")
      mk("batches/b_orphan/bands"); mk("_staging/s1")
      val got = IndexAudit.audit(spark, root).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getBoolean(3))).toSet
      assert(got == Set(
        ("batch", "b_ok", "committed_ok", true),
        ("batch", "b_mid", "mid_landing", false),
        ("batch", "b_land", "committed_ok", true),
        ("batch", "b_half", "partial_payload", false),
        ("batch", "b_old", "retired_reclaimed", true),
        ("dir", "b_orphan", "orphan", false),
        ("history", "0", "current_missing", false)), got.toString)
      assert(!IndexAudit.isHealthy(spark, root))
      // a meta from before the committed list is refused by every
      // reader of the index, never guessed at
      meta("k=16\nrowsPerBand=2\nmaxDocFreq=-1\n")
      import spark.implicits._
      val e = intercept[IllegalArgumentException] {
        graft.operators.Dedup.minhashDedupAgainstIndex(
          Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"),
          "doc_id", "text", root)
      }
      assert(e.getMessage.contains("predates the committed-batch list"))
      // a root with no meta at all is reported, not refused
      val empty = tmp("dfsck-empty")
      try assertMissingMeta(empty.toString) finally rmTree(empty)
    } finally rmTree(dir)
  }

  /** A root with no committed `_meta`: the audit reports that alone,
    * unhealthy, and repair reports it and writes nothing.
    */
  private def assertMissingMeta(root: String): Unit = {
    val got = IndexAudit.audit(spark, root).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getBoolean(3)))
    assert(got == Seq(("meta", "_meta", "missing", false)), got.toString)
    assert(!IndexAudit.isHealthy(spark, root))
    def tree(): Map[String, (Long, Long)] = {
      val base = java.nio.file.Paths.get(root)
      val walk = java.nio.file.Files.walk(base)
      try walk.iterator().asScala.map { p =>
        base.relativize(p).toString -> (p.toFile.length, p.toFile.lastModified)
      }.toMap finally walk.close()
    }
    val before = tree()
    val acts = IndexAudit.repair(spark, root).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(acts == Seq(("meta", "_meta", "unrepairable_missing_meta")),
      acts.toString)
    assert(tree() == before, "repair wrote under a root with no meta")
  }

  test("a BM25 root and a vector root whose bootstrap crashed before " +
      "its meta create audit as meta/missing; repair writes nothing") {
    import spark.implicits._
    import graft.operators.{Similarity, VectorIndex}
    val dir = tmp("fsck-nometa")
    try {
      val bm25 = s"$dir/bm25"
      Bm25.writeBm25Index(Seq((1L, "vector hash join fast pipeline"),
          (2L, "hash join table scan")).toDF("doc_id", "text"),
        "doc_id", "text", bm25)
      val emb = sources.Tables.table(spark, sf, "embeddings")
        .filter(col("vec_id") < 200).localCheckpoint()
      val cents = emb.filter(col("vec_id") % 37 === 1)
        .select(col("vec_id").as("cell"), col("embedding").as("centv"))
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding", 4, 64,
        col("vec_id") % 17 === 5, rounds = 2).localCheckpoint()
      val vec = s"$dir/vec"
      VectorIndex.write(emb, "vec_id", "embedding", cents, cb, 4, 64, vec)
      // the crash window: the bootstrap batch is published, the gen-0
      // meta create never ran
      Seq(bm25, vec).foreach { root =>
        val fs = hadoopFs(root)
        val meta = new org.apache.hadoop.fs.Path(s"$root/_meta")
        assert(fs.exists(meta) &&
          fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/batches"))
            .nonEmpty, root)
        fs.delete(meta, false)
        assertMissingMeta(root)
      }
    } finally rmTree(dir)
  }

  test("repairDedup reclaims residue on a LIVE index, reports (never " +
      "papers over) damage, and leaves serve + replay guards intact") {
    import spark.implicits._
    val dir = tmp("dfsck-live")
    try {
      val idx = dir.toString + "/idx"
      val docs = Seq(
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "alpha beta gamma delta epsilon eta"),
        (3L, "totally different words in this one here"),
        (4L, "yet another unrelated document body text"))
        .toDF("doc_id", "text")
      val b1 = graft.operators.Dedup.writeDedupIndex(
        docs.filter(col("doc_id") <= 2), "doc_id", "text", idx)
      val b2 = graft.operators.Dedup.writeDedupIndex(
        docs.filter(col("doc_id") > 2), "doc_id", "text", idx,
        mode = "append")
      assert(IndexAudit.isHealthy(spark, idx),
        "a freshly appended index must audit healthy")
      val fs = hadoopFs(idx)
      def mk(p: String): Unit = {
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx/$p")); ()
      }
      // a crashed stage and a crashed publish whose swap never ran
      mk("_staging/crashed"); mk("batches/crashed/bands")
      val acts = IndexAudit.repair(spark, idx)
        .collect().map(r => (r.getString(0), r.getString(2))).toSet
      assert(acts == Set(("dir", "scheduled_reclaim_orphan_grace")),
        acts.toString)
      assert(IndexAudit.isHealthy(spark, idx))
      // idempotent: a second repair finds nothing to do
      assert(IndexAudit.repair(spark, idx).count() == 0)
      // the repaired index still serves: the incremental probe finds
      // the planted near-pair of a stored doc
      val probe = Seq((9L, "alpha beta gamma delta epsilon zeta plus"))
        .toDF("doc_id", "text")
      assert(graft.operators.Dedup.minhashDedupAgainstIndex(
        probe, "doc_id", "text", idx).count() > 0)
      // and the replay guard is untouched (repair never delists a
      // committed batch)
      intercept[graft.ReplayRefused] {
        graft.operators.Dedup.writeDedupIndex(
          docs.filter(col("doc_id") <= 2), "doc_id", "text", idx,
          mode = "append")
      }
      assert(b1.nonEmpty)
      // damage classes are reported, not papered over: half payload
      assert(fs.delete(new org.apache.hadoop.fs.Path(
        s"$idx/batches/$b2/shingles"), true))
      val acts2 = IndexAudit.repair(spark, idx)
        .collect().map(_.getString(2)).toSeq
      assert(acts2 == Seq("unrepairable_partial_payload"))
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$idx/batches/$b2/bands")),
        "repair must not delete a damaged batch's surviving half")
      assert(!IndexAudit.isHealthy(spark, idx))
    } finally rmTree(dir)
  }

  // ---- maintenance PRE-FLIGHT (the audit wired into compaction) ----

  test("bm25 compaction refuses typed on a committed batch with lost " +
      "payload; dropBm25Batch is the remedy and rebuilds the scalars") {
    import spark.implicits._
    val dir = tmp("fsck-preflight")
    try {
      val path = dir.toString
      val fs = hadoopFs(path)
      val docs = Seq((1L, "vector hash join fast pipeline"),
        (2L, "hash join table scan"),
        (3L, "completely unrelated prose text"),
        (4L, "fast scan over the hash table")).toDF("doc_id", "text")
      Bm25.writeBm25Index(docs.filter(col("doc_id") <= 3), "doc_id",
        "text", path)
      val b0 = Bm25.readBm25Meta(spark, path).batches.head
      val lost = Bm25.appendBm25Index(docs.filter(col("doc_id") === 4),
        "text", path)
      // the incident: the appended batch's payload directory vanishes
      assert(fs.delete(new org.apache.hadoop.fs.Path(
        s"$path/batches/$lost"), true))
      assert(!IndexAudit.isHealthy(spark, path))
      // maintenance REFUSES (typed) instead of baking the loss into
      // the merged batch and retiring the evidence — and the refusal
      // mutates NOTHING: both ids still committed
      val e = intercept[IndexUnhealthy] {
        Bm25.compactBm25Index(spark, path)
      }
      assert(e.getMessage.contains(lost))
      assert(Bm25.readBm25Meta(spark, path).batches == Seq(b0, lost))
      // the remedy is deliberately NOT gated: the drop rebuilds the
      // (n, Σlen) scalars from the surviving batches' postings, so
      // the serve is bit-identical to an index that never saw the
      // lost batch
      assert(Bm25.dropBm25Batch(spark, path, lost))
      assert(Bm25.readBm25Meta(spark, path).batches == Seq(b0))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      assert(rows(Bm25.bm25TopKIndexed(spark, path,
        "fast vector hash join", k = 10)) ==
        rows(Bm25.bm25TopK(docs.filter(col("doc_id") <= 3), "doc_id",
          "text", "fast vector hash join", k = 10)))
      // and compaction runs clean on the recovered index
      val cid = Bm25.compactBm25Index(spark, path)
      assert(Bm25.readBm25Meta(spark, path).batches == Seq(cid))
      assert(IndexAudit.isHealthy(spark, path))
    } finally rmTree(dir)
  }

  test("a SECOND lost payload refuses typed mid-rebuild (never a raw " +
      "listing crash); dropBm25Batches delists the lost set together") {
    import spark.implicits._
    val dir = tmp("fsck-multiloss")
    try {
      val path = dir.toString
      val fs = hadoopFs(path)
      val docs = Seq((1L, "vector hash join fast pipeline"),
        (2L, "hash join table scan"),
        (3L, "completely unrelated prose text"),
        (4L, "fast scan over the hash table"),
        (5L, "prose about fast vector scans")).toDF("doc_id", "text")
      Bm25.writeBm25Index(docs.filter(col("doc_id") <= 3), "doc_id",
        "text", path)
      val b0 = Bm25.readBm25Meta(spark, path).batches.head
      val lostA = Bm25.appendBm25Index(docs.filter(col("doc_id") === 4),
        "text", path)
      val lostB = Bm25.appendBm25Index(docs.filter(col("doc_id") === 5),
        "text", path)
      // the incident: BOTH appended batches' payload directories
      // vanish while committed
      Seq(lostA, lostB).foreach(b => assert(fs.delete(
        new org.apache.hadoop.fs.Path(s"$path/batches/$b"), true)))
      // the single drop's rebuild refuses TYPED, names the other lost
      // batch, and mutates NOTHING — a raw FileNotFoundException here
      // would crash the documented remedy on the damage it remedies
      val e = intercept[IndexUnhealthy] {
        Bm25.dropBm25Batch(spark, path, lostA)
      }
      assert(e.getMessage.contains(lostB))
      assert(Bm25.readBm25Meta(spark, path).batches ==
        Seq(b0, lostA, lostB))
      // the set drop closes the circle: one swap, one rebuild over
      // the true survivors — the serve is bit-identical to an index
      // that never saw either lost batch
      assert(Bm25.dropBm25Batches(spark, path, Seq(lostA, lostB)))
      assert(Bm25.readBm25Meta(spark, path).batches == Seq(b0))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r =>
          (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      assert(rows(Bm25.bm25TopKIndexed(spark, path,
        "fast vector hash join", k = 10)) ==
        rows(Bm25.bm25TopK(docs.filter(col("doc_id") <= 3), "doc_id",
          "text", "fast vector hash join", k = 10)))
      // a retry of the set drop is an idempotent no-op (false: none
      // of the ids is still committed), and the index audits healthy
      assert(!Bm25.dropBm25Batches(spark, path, Seq(lostA, lostB)))
      assert(IndexAudit.isHealthy(spark, path))
    } finally rmTree(dir)
  }

  test("compaction entry re-records a lost current-gen snapshot " +
      "record — the last moment the pre-swap meta bytes still exist") {
    import spark.implicits._
    val dir = tmp("fsck-heal")
    try {
      val path = dir.toString
      val fs = hadoopFs(path)
      val docs = Seq((1L, "vector hash join fast pipeline"),
        (2L, "hash join table scan"),
        (3L, "completely unrelated prose text"),
        (4L, "fast scan over the hash table")).toDF("doc_id", "text")
      Bm25.writeBm25Index(docs.filter(col("doc_id") <= 3), "doc_id",
        "text", path)
      Bm25.appendBm25Index(docs.filter(col("doc_id") === 4), "text",
        path)
      val gen = Bm25.currentGen(spark, path)
      val live = Bm25.bm25TopKIndexed(spark, path,
        "fast vector hash join", k = 10).collect().toSet
      // the crash between the append's meta swap and its history
      // record: the current gen's snapshot record is lost
      assert(fs.delete(new org.apache.hadoop.fs.Path(
        s"$path/_meta_history/$gen"), false))
      intercept[SnapshotUnavailable] {
        Bm25.bm25TopKIndexedAt(spark, path, gen,
          "fast vector hash join", k = 10).collect()
      }
      // compaction entry heals it BEFORE its own swap would make the
      // loss permanent (post-swap, gen's bytes are unreachable); with
      // a grace window the superseded dirs stay physically servable,
      // so the pre-compaction gen probes again — bit-identical to the
      // serve collected while it was live
      Bm25.compactBm25Index(spark, path, retainMs = 3600L * 1000)
      assert(Bm25.bm25TopKIndexedAt(spark, path, gen,
        "fast vector hash join", k = 10).collect().toSet == live)
    } finally rmTree(dir)
  }

  test("dedup compaction refuses typed on a half payload and mutates " +
      "nothing; dropBatchFromIndex is the remedy") {
    import spark.implicits._
    val dir = tmp("dfsck-preflight")
    try {
      val idx = dir.toString + "/idx"
      val docs = Seq(
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "alpha beta gamma delta epsilon eta"),
        (3L, "totally different words in this one here"),
        (4L, "yet another unrelated document body text"))
        .toDF("doc_id", "text")
      val b1 = graft.operators.Dedup.writeDedupIndex(
        docs.filter(col("doc_id") <= 2), "doc_id", "text", idx)
      val b2 = graft.operators.Dedup.writeDedupIndex(
        docs.filter(col("doc_id") > 2), "doc_id", "text", idx,
        mode = "append")
      val fs = hadoopFs(idx)
      // the incident: half of b2's payload vanishes (FS damage — the
      // atomic publish cannot produce this shape)
      assert(fs.delete(new org.apache.hadoop.fs.Path(
        s"$idx/batches/$b2/shingles"), true))
      val e = intercept[IndexUnhealthy] {
        graft.operators.Dedup.compactDedupIndex(spark, idx)
      }
      assert(e.getMessage.contains(b2))
      // the refusal touched nothing: b1 is whole, b2's surviving half
      // is intact (the evidence an operator restores from)
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$idx/batches/$b1/bands")))
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$idx/batches/$b1/shingles")))
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$idx/batches/$b2/bands")))
      // the remedy: drop the damaged batch, then compaction runs
      // clean and the survivor still serves b1's near-pair
      assert(graft.operators.Dedup.dropBatchFromIndex(spark, idx, b2))
      assert(graft.operators.Dedup.compactDedupIndex(spark, idx) == b1)
      assert(IndexAudit.isHealthy(spark, idx))
      val probe = Seq((9L, "alpha beta gamma delta epsilon zeta plus"))
        .toDF("doc_id", "text")
      assert(graft.operators.Dedup.minhashDedupAgainstIndex(
        probe, "doc_id", "text", idx).count() > 0)
    } finally rmTree(dir)
  }
}
