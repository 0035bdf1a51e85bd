package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Bm25, IndexProtocol, Similarity, VectorIndex}
import graft.sources.{MetaSwap, Tables}

/** Adversarial specs for the persisted-index MAINTENANCE protocol —
  * the shared CAS / grace-period / retired-cap machinery of the BM25
  * and vector indexes (IndexProtocol.scala, MetaSwap.scala). The query
  * gates prove the serve math; these prove the durability story: a
  * maintenance call interleaved with an append/drop must fail loudly
  * or leave the newcomer fully intact — never silently delist or
  * delete a committed batch.
  */
class IndexMaintenanceSpec extends AnyFunSuite {
  import SparkTestSession._

  // ---- shared vector-index fixtures (trained once per suite) -------
  private val (m, dim) = (4, 64)
  private lazy val emb =
    Tables.table(spark, sf, "embeddings").localCheckpoint()
  private lazy val cents = emb.filter(col("vec_id") % 37 === 1)
    .select(col("vec_id").as("cell"), col("embedding").as("centv"))
    .localCheckpoint()
  private lazy val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
    m, dim, col("vec_id") % 17 === 5, rounds = 1).localCheckpoint()
  private val qp = col("vec_id") % 50 === 0

  private def vecServe(path: String): Set[org.apache.spark.sql.Row] =
    VectorIndex.topK(spark, path, emb, "vec_id", "embedding", qp,
      k = 5, nprobe = 1, rerank = 10).collect().toSet

  private def hadoopFs(root: String) =
    new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  private def marker(root: String, bid: String) =
    new java.io.File(s"$root/_pending_delete/$bid")

  private def tmp(tag: String): java.io.File =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toFile

  // ---- BM25 fixtures ------------------------------------------------
  private def bm25Docs = {
    import spark.implicits._
    Seq((1L, "vector hash join fast pipeline"),
      (2L, "vector vector vector vector vector filler filler"),
      (3L, "hash join table scan"),
      (4L, "completely unrelated prose text"),
      (5L, "fast scan over the hash table")).toDF("doc_id", "text")
  }
  private val bmQuery = "fast vector hash join"

  private def bmServe(path: String): Set[(Long, Double, Long)] =
    Bm25.bm25TopKIndexed(spark, path, bmQuery, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet

  private def bmInline(docs: org.apache.spark.sql.DataFrame)
      : Set[(Long, Double, Long)] =
    Bm25.bm25TopK(docs, "doc_id", "text", bmQuery, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet

  // ------------------------------------------------------------------

  test("pending-delete markers persist the deadline: first delisting " +
      "wins, later sweeps honor it, committed rail clears stale marks") {
    val dir = tmp("pending-proto")
    try {
      val root = dir.toString
      val fs = hadoopFs(root)
      def mkBatch(b: String): Unit = {
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/batches/$b")); ()
      }
      mkBatch("b1")
      // deadline = delist time + retainMs, persisted in the marker
      // under the tagged format
      IndexProtocol.markPendingDelete(fs, root, "b1", 1000L, 500L)
      assert(new String(java.nio.file.Files.readAllBytes(
        marker(root, "b1").toPath), "UTF-8").trim == "deadline=1500")
      // re-marking (a later maintenance call) must NOT reset the
      // clock — even with a longer window the FIRST delisting wins,
      // or a maintenance cadence shorter than the window would retain
      // the directory forever
      IndexProtocol.markPendingDelete(fs, root, "b1", 1400L, 500L)
      assert(new String(java.nio.file.Files.readAllBytes(
        marker(root, "b1").toPath), "UTF-8").trim == "deadline=1500")
      assert(IndexProtocol.hasPendingDelete(fs, root, "b1"))
      // a sweep BEFORE the deadline retains; the sweeping call has no
      // retainMs of its own — the promise rides the marker (a routine
      // retainMs=0 compact cannot cut a 1h drop window short)
      assert(IndexProtocol.sweepPendingDeletes(fs, root, 1499L,
        Set.empty).isEmpty)
      assert(new java.io.File(s"$root/batches/b1").exists())
      // at the deadline: directory and marker reclaimed
      assert(IndexProtocol.sweepPendingDeletes(fs, root, 1500L,
        Set.empty) == Seq("b1"))
      assert(!new java.io.File(s"$root/batches/b1").exists())
      assert(!IndexProtocol.hasPendingDelete(fs, root, "b1"))
      // committed rail: an id on the CURRENT committed list is never
      // deleted however expired its marker — the marker is the stale
      // artifact and is cleared instead
      mkBatch("b2")
      IndexProtocol.markPendingDelete(fs, root, "b2", 0L, 0L)
      assert(IndexProtocol.sweepPendingDeletes(fs, root, Long.MaxValue,
        Set("b2")).isEmpty)
      assert(new java.io.File(s"$root/batches/b2").exists())
      assert(!IndexProtocol.hasPendingDelete(fs, root, "b2"))
      // a CORRUPT marker (readable bytes, unparseable) counts as
      // expired (fail toward reclaiming space — the batch is delisted
      // either way, and the committed rail above protects a live
      // one); the TRANSIENT-IO case is the separate flaky-FS spec
      mkBatch("b3")
      java.nio.file.Files.write(marker(root, "b3").toPath,
        "not-a-number".getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE)
      assert(IndexProtocol.sweepPendingDeletes(fs, root, 0L,
        Set.empty) == Seq("b3"))
      // ...and markPendingDelete REPLACES a corrupt marker
      mkBatch("b4")
      java.nio.file.Files.write(marker(root, "b4").toPath,
        "garbage".getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE)
      IndexProtocol.markPendingDelete(fs, root, "b4", 2000L, 100L)
      assert(new String(java.nio.file.Files.readAllBytes(
        marker(root, "b4").toPath), "UTF-8").trim == "deadline=2100")
      // clearPendingDelete forgets the mark (the re-publish path)
      IndexProtocol.clearPendingDelete(fs, root, "b4")
      assert(!IndexProtocol.hasPendingDelete(fs, root, "b4"))
      // a LEGACY bare-number marker (pre-deadline format: the delist
      // TIME) maps to delist + LegacyGraceMs — never cut a promised
      // window short by reading a delist time as a deadline
      mkBatch("b5")
      java.nio.file.Files.write(marker(root, "b5").toPath,
        "5000".getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE)
      assert(IndexProtocol.sweepPendingDeletes(fs, root,
        5000L + IndexProtocol.LegacyGraceMs - 1, Set.empty).isEmpty)
      assert(new java.io.File(s"$root/batches/b5").exists())
      assert(IndexProtocol.sweepPendingDeletes(fs, root,
        5000L + IndexProtocol.LegacyGraceMs, Set.empty) == Seq("b5"))
    } finally rmTree(dir)
  }

  /** A FileSystem whose open() fails for chosen file names — the
    * flaky-remote-FS simulator: metadata ops (exists/listStatus/
    * delete) keep working, only the marker READ throws, which is
    * exactly the failure the transient/corrupt distinction exists
    * for.
    */
  private class FlakyOpenFs(u: org.apache.hadoop.fs.FileSystem,
                            flaky: String => Boolean)
      extends org.apache.hadoop.fs.FilterFileSystem(u) {
    override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
        : org.apache.hadoop.fs.FSDataInputStream =
      if (flaky(f.getName))
        throw new java.io.IOException(s"transient read failure: $f")
      else super.open(f, bufferSize)
  }

  test("a TRANSIENTLY unreadable marker retains: the sweep skips it, " +
      "re-marking does not reset its clock, the squat guard refuses") {
    val dir = tmp("flaky-marker")
    try {
      val root = dir.toString
      val real = hadoopFs(root)
      real.mkdirs(new org.apache.hadoop.fs.Path(s"$root/batches/bx"))
      IndexProtocol.markPendingDelete(real, root, "bx", 1000L, 500L)
      val flaky = new FlakyOpenFs(real, _ == "bx")
      flaky.setConf(spark.sparkContext.hadoopConfiguration)
      // a sweep far past the deadline THROUGH the flaky FS: the
      // marker exists but cannot be read right now — an FS hiccup
      // must not be indistinguishable from expiry, so the batch is
      // retained this pass and retried by the next maintenance call
      assert(IndexProtocol.sweepPendingDeletes(flaky, root,
        1000000L, Set.empty).isEmpty)
      assert(new java.io.File(s"$root/batches/bx").exists())
      assert(IndexProtocol.hasPendingDelete(flaky, root, "bx"))
      // re-marking through the flaky FS must NOT overwrite — the
      // persisted clock may be running fine, and resetting it on a
      // hiccup would break first-delisting-wins
      IndexProtocol.markPendingDelete(flaky, root, "bx", 9000L, 1L)
      assert(new String(java.nio.file.Files.readAllBytes(
        marker(root, "bx").toPath), "UTF-8").trim == "deadline=1500")
      // the compaction squat guard maps unreadable to a far-future
      // deadline: refuse (retry when the FS recovers), never rebuild
      // over a window it could not read
      assert(IndexProtocol.pendingDeadline(flaky, root, "bx")
        .contains(Long.MaxValue))
      // once the FS recovers, the next sweep reclaims normally
      assert(IndexProtocol.sweepPendingDeletes(real, root,
        1000000L, Set.empty) == Seq("bx"))
      // but a marker on a COMMITTED id clears even through the flaky
      // FS — stale whatever its unreadable bytes say (skipping on a
      // read hiccup would let the stale clock survive into the
      // batch's retirement); it comes back with deadline 0, so a
      // CAS-losing caller's restore re-marks it at the orphan floor
      // (the marker MIGHT have been a racing drop's fresh window)
      real.mkdirs(new org.apache.hadoop.fs.Path(s"$root/batches/bx"))
      val out = real.create(
        new org.apache.hadoop.fs.Path(s"$root/_meta"), true)
      try out.write("batches=bx\nretired=\ngen=1\n".getBytes("UTF-8"))
      finally out.close()
      IndexProtocol.markPendingDelete(real, root, "bx", 1000L, 500L)
      assert(IndexProtocol.clearStaleMarkers(flaky, root, Seq("bx")) ==
        Seq("bx" -> 0L))
      assert(!IndexProtocol.hasPendingDelete(real, root, "bx"))
    } finally rmTree(dir)
  }

  /** A FileSystem whose delete() RETURNS FALSE for chosen paths
    * without deleting — the silent-failure simulator for the
    * verified-delete discipline: every protocol delete must check the
    * return value, because a silently surviving marker/payload is the
    * corruption the discipline exists to prevent.
    */
  private class SilentDeleteFs(u: org.apache.hadoop.fs.FileSystem,
                               silent: org.apache.hadoop.fs.Path => Boolean)
      extends org.apache.hadoop.fs.FilterFileSystem(u) {
    override def delete(f: org.apache.hadoop.fs.Path,
                        recursive: Boolean): Boolean =
      if (silent(f)) false else super.delete(f, recursive)
  }

  /** A FileSystem whose open() fails the first `n` times for chosen
    * names, then recovers — the one-off-hiccup simulator the marker
    * read-retry loop exists for.
    */
  private class FlakyNOpenFs(u: org.apache.hadoop.fs.FileSystem,
                             flaky: String => Boolean, n: Int)
      extends org.apache.hadoop.fs.FilterFileSystem(u) {
    private var failures = 0
    override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int)
        : org.apache.hadoop.fs.FSDataInputStream =
      if (flaky(f.getName) && failures < n) {
        failures += 1
        throw new java.io.IOException(s"transient read failure: $f")
      } else super.open(f, bufferSize)
  }

  test("clearPendingDelete is a VERIFIED delete: a silently surviving " +
      "marker throws instead of leaving a stale clock behind") {
    val dir = tmp("silent-clear")
    try {
      val root = dir.toString
      val real = hadoopFs(root)
      real.mkdirs(new org.apache.hadoop.fs.Path(s"$root/batches/b1"))
      IndexProtocol.markPendingDelete(real, root, "b1", 1000L, 500L)
      val silent = new SilentDeleteFs(real,
        _.toString.contains("_pending_delete"))
      silent.setConf(spark.sparkContext.hadoopConfiguration)
      // the delete returns false with the marker still present: the
      // clear must THROW — callers assume the marker gone, and its
      // stale clock could later reap a re-ingested batch or truncate
      // a retirement window
      val e = intercept[IllegalStateException] {
        IndexProtocol.clearPendingDelete(silent, root, "b1")
      }
      assert(e.getMessage.contains("cannot clear"))
      assert(marker(root, "b1").exists(),
        "the throw must describe reality: the marker survived")
      // the same silent failure through resetPendingDelete (the drop
      // path) also fails loudly before any re-marking happens
      intercept[IllegalStateException] {
        IndexProtocol.resetPendingDelete(silent, root, "b1", 9000L, 1L)
      }
      assert(new String(java.nio.file.Files.readAllBytes(
        marker(root, "b1").toPath), "UTF-8").trim == "deadline=1500",
        "a failed clear must not let the re-mark reset the clock")
      // once the FS recovers, the clear succeeds
      IndexProtocol.clearPendingDelete(real, root, "b1")
      assert(!IndexProtocol.hasPendingDelete(real, root, "b1"))
    } finally rmTree(dir)
  }

  test("the sweep KEEPS the marker when a payload delete silently " +
      "fails: the leak stays recorded and the next pass retries") {
    val dir = tmp("silent-sweep")
    try {
      val root = dir.toString
      val real = hadoopFs(root)
      real.mkdirs(new org.apache.hadoop.fs.Path(s"$root/batches/b1"))
      // expired marker: the sweep WILL try to reclaim
      IndexProtocol.markPendingDelete(real, root, "b1", 0L, 0L)
      val silent = new SilentDeleteFs(real,
        _.toString.contains("/batches/"))
      silent.setConf(spark.sparkContext.hadoopConfiguration)
      // the payload delete returns false: the sweep must report
      // nothing reclaimed and KEEP the marker — clearing it would
      // leave the surviving directory leaked with no record of it
      assert(IndexProtocol.sweepPendingDeletes(silent, root, 1000L,
        Set.empty).isEmpty)
      assert(new java.io.File(s"$root/batches/b1").exists())
      assert(IndexProtocol.hasPendingDelete(real, root, "b1"),
        "the marker was cleared over a silently surviving payload")
      // the next pass (FS recovered) finishes the reclaim
      assert(IndexProtocol.sweepPendingDeletes(real, root, 1000L,
        Set.empty) == Seq("b1"))
      assert(!new java.io.File(s"$root/batches/b1").exists())
      assert(!IndexProtocol.hasPendingDelete(real, root, "b1"))
    } finally rmTree(dir)
  }

  test("clearStaleMarkers re-read RECOVERS a one-off unreadable " +
      "marker: the true deadline is restored, not the 0L floor") {
    val dir = tmp("flaky-retry")
    try {
      val root = dir.toString
      val real = hadoopFs(root)
      real.mkdirs(new org.apache.hadoop.fs.Path(s"$root/batches/bx"))
      val out = real.create(
        new org.apache.hadoop.fs.Path(s"$root/_meta"), true)
      try out.write("batches=bx\nretired=\ngen=1\n".getBytes("UTF-8"))
      finally out.close()
      IndexProtocol.markPendingDelete(real, root, "bx", 1000L, 500L)
      // the open fails twice then recovers — within the retry budget,
      // so the clear must capture the TRUE deadline (1500), which a
      // CAS-losing caller would restore verbatim instead of the
      // orphan floor a 0L record maps to
      val flaky = new FlakyNOpenFs(real, _ == "bx",
        IndexProtocol.MarkerReadRetries - 1)
      flaky.setConf(spark.sparkContext.hadoopConfiguration)
      assert(IndexProtocol.clearStaleMarkers(flaky, root, Seq("bx")) ==
        Seq("bx" -> 1500L))
      assert(!IndexProtocol.hasPendingDelete(real, root, "bx"))
      // exhausting the budget still degrades to the 0L sentinel (the
      // always-flaky spec above pins that branch); one past the
      // budget behaves the same as always-flaky
      IndexProtocol.markPendingDelete(real, root, "bx", 1000L, 500L)
      val tooFlaky = new FlakyNOpenFs(real, _ == "bx",
        IndexProtocol.MarkerReadRetries + 1)
      tooFlaky.setConf(spark.sparkContext.hadoopConfiguration)
      assert(IndexProtocol.clearStaleMarkers(tooFlaky, root,
        Seq("bx")) == Seq("bx" -> 0L))
    } finally rmTree(dir)
  }

  test("clearStaleMarkers rails on a RE-READ committed list: a batch " +
      "delisted since the caller's snapshot keeps its grace marker") {
    val dir = tmp("stale-clear")
    try {
      val root = dir.toString
      val fs = hadoopFs(root)
      // the CURRENT meta says only b1 is committed; the caller's
      // snapshot (taken before a concurrent dropBatch delisted b2)
      // still believes b1 AND b2 are
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$root/_meta"), true)
      try out.write("batches=b1\nretired=\ngen=3\n".getBytes("UTF-8"))
      finally out.close()
      // b1's marker is a swept-over publish-race artifact (stale —
      // the id is committed); b2's is the drop's promised window
      IndexProtocol.markPendingDelete(fs, root, "b1", 1000L, 500L)
      IndexProtocol.markPendingDelete(fs, root, "b2", 1000L, 500L)
      val cleared = IndexProtocol.clearStaleMarkers(fs, root,
        Seq("b1", "b2"))
      assert(!IndexProtocol.hasPendingDelete(fs, root, "b1"),
        "the stale marker on a committed batch must clear")
      assert(IndexProtocol.hasPendingDelete(fs, root, "b2"),
        "the concurrently delisted batch's promised window must " +
          "survive the clear")
      // the cleared pairs come back with their deadlines, so a
      // compaction whose CAS later FAILS can restore what it erased
      // (the residual microsecond race the re-read cannot close)
      assert(cleared == Seq("b1" -> 1500L))
      // restore FLOORS at now + orphan grace: the captured clock may
      // be a stale EXPIRED deadline, and re-persisting it verbatim
      // would reclaim a racing drop's directory immediately
      IndexProtocol.restorePendingDeletes(fs, root, cleared, nowMs = 0L)
      assert(IndexProtocol.pendingDeadline(fs, root, "b1")
        .contains(IndexProtocol.OrphanGraceMs),
        "an expired captured deadline restores at the orphan floor")
      // a captured deadline beyond the floor is preserved verbatim
      IndexProtocol.clearPendingDelete(fs, root, "b1")
      val far = IndexProtocol.OrphanGraceMs + 123456L
      IndexProtocol.restorePendingDeletes(fs, root, Seq("b1" -> far),
        nowMs = 0L)
      assert(IndexProtocol.pendingDeadline(fs, root, "b1")
        .contains(far), "a future captured deadline restores as-is")
      // restore is first-marker-wins: if the racing drop already
      // re-marked the batch, its FRESHER window survives the restore
      IndexProtocol.clearPendingDelete(fs, root, "b1")
      IndexProtocol.markPendingDelete(fs, root, "b1", 9000L, 100L)
      IndexProtocol.restorePendingDeletes(fs, root, cleared, nowMs = 0L)
      assert(IndexProtocol.pendingDeadline(fs, root, "b1")
        .contains(9100L), "a fresher marker must win over the restore")
    } finally rmTree(dir)
  }

  test("vector index: an append committed in the compaction's swap " +
      "window fails the compaction loudly and survives intact") {
    val dir = tmp("vec-cas")
    try {
      val path = dir.toString
      VectorIndex.write(emb.filter(col("vec_id") < 200), "vec_id",
        "embedding", cents, cb, m, dim, path)
      VectorIndex.append(
        emb.filter(col("vec_id") >= 200 && col("vec_id") < 350),
        "vec_id", "embedding", path)
      var interleaved: String = null
      // the append lands between the merged batch's publish and the
      // meta swap — the exact window the CAS exists to defend
      val e = intercept[MetaSwap.CasFailed] {
        VectorIndex.compactImpl(spark, path, 0L, 512, () => {
          interleaved = VectorIndex.append(
            emb.filter(col("vec_id") >= 350), "vec_id", "embedding",
            path)
        })
      }
      assert(e.getMessage.contains("concurrent meta write"))
      // the appended batch is COMMITTED, its directory intact, and it
      // serves — the compaction's merged dir is unlisted residue
      val meta = VectorIndex.readMeta(spark, path)
      assert(meta.batches.contains(interleaved))
      assert(new java.io.File(s"$path/batches/$interleaved").exists())
      val afterFail = vecServe(path)
      assert(afterFail.nonEmpty)
      // the re-run (the documented recovery) merges all three batches
      // — including the interleaved one — and reclaims the residue;
      // the serve is bit-identical
      val cid = VectorIndex.compact(spark, path)
      assert(VectorIndex.readMeta(spark, path).batches == Seq(cid))
      assert(new java.io.File(s"$path/batches").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet == Set(cid))
      assert(vecServe(path) == afterFail)
    } finally rmTree(dir)
  }

  test("vector index: a single-batch compaction is CAS-guarded too — " +
      "a racing append cannot have its directory swept mid-commit") {
    val dir = tmp("vec-cas1")
    try {
      val path = dir.toString
      VectorIndex.write(emb.filter(col("vec_id") < 200), "vec_id",
        "embedding", cents, cb, m, dim, path)
      // size==1 early-return: before r11 it swept with NO meta swap
      // at all, so a concurrent append's published-but-uncommitted
      // dir was deleted and its CAS then committed a payload-less
      // batch; now the no-op CAS-swaps the unchanged meta first
      var interleaved: String = null
      intercept[MetaSwap.CasFailed] {
        VectorIndex.compactImpl(spark, path, 0L, 512, () => {
          interleaved = VectorIndex.append(
            emb.filter(col("vec_id") >= 350), "vec_id", "embedding",
            path)
        })
      }
      val meta = VectorIndex.readMeta(spark, path)
      assert(meta.batches.contains(interleaved))
      assert(new java.io.File(s"$path/batches/$interleaved").exists())
      assert(vecServe(path).nonEmpty)
      // the quiet re-run is a no-op that returns the sole batch after
      // a genuine 2-batch compact
      val cid = VectorIndex.compact(spark, path)
      assert(VectorIndex.compact(spark, path) == cid)
    } finally rmTree(dir)
  }

  test("vector index: an append committed between the compaction's " +
      "swap and its sweep survives — the sweep rails on the CURRENT " +
      "committed list") {
    val dir = tmp("vec-rail")
    try {
      val path = dir.toString
      VectorIndex.write(emb.filter(col("vec_id") < 200), "vec_id",
        "embedding", cents, cb, m, dim, path)
      VectorIndex.append(
        emb.filter(col("vec_id") >= 200 && col("vec_id") < 350),
        "vec_id", "embedding", path)
      var interleaved: String = null
      // the append lands AFTER the compaction's meta swap commits and
      // BEFORE its retire sweep runs: its CAS succeeds (it read the
      // post-compact meta), so the compaction must not mark or sweep
      // it — the r10 stale-rail finding (Set(keep) as the rail let
      // exactly this batch be deleted while committed)
      val cid = VectorIndex.compactImpl(spark, path, 0L, 512,
        () => (), () => {
          interleaved = VectorIndex.append(
            emb.filter(col("vec_id") >= 350), "vec_id", "embedding",
            path)
        })
      val meta = VectorIndex.readMeta(spark, path)
      assert(meta.batches.toSet == Set(cid, interleaved))
      assert(new java.io.File(s"$path/batches/$interleaved").exists(),
        "the concurrently committed batch's directory was swept")
      assert(!IndexProtocol.hasPendingDelete(hadoopFs(path), path,
        interleaved))
      // superseded dirs are still reclaimed; the serve covers the
      // merged corpus AND the interleaved batch
      assert(new java.io.File(s"$path/batches").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet ==
        Set(cid, interleaved))
      assert(vecServe(path).nonEmpty)
    } finally rmTree(dir)
  }

  test("vector compaction refuses typed on a committed batch with " +
      "lost payload and mutates nothing; dropBatch is the remedy") {
    val dir = tmp("vec-preflight")
    try {
      val path = dir.toString
      VectorIndex.write(emb.filter(col("vec_id") < 200), "vec_id",
        "embedding", cents, cb, m, dim, path)
      val lost = VectorIndex.append(
        emb.filter(col("vec_id") >= 200 && col("vec_id") < 350),
        "vec_id", "embedding", path)
      val fs = hadoopFs(path)
      // the incident: a committed batch's payload directory vanishes.
      // Compacting would merge only the surviving payload and retire
      // the evidence — the serve would shrink silently, forever — so
      // the entry preflight refuses instead (the A6d audit wired in)
      assert(fs.delete(new org.apache.hadoop.fs.Path(
        s"$path/batches/$lost"), true))
      val e = intercept[IndexUnhealthy] {
        VectorIndex.compact(spark, path)
      }
      assert(e.getMessage.contains(lost))
      // nothing mutated by the refusal — both ids still committed
      assert(VectorIndex.readMeta(spark, path).batches.size == 2)
      // the remedy is deliberately not gated; the recovered index
      // compacts clean and serves
      assert(VectorIndex.dropBatch(spark, path, lost))
      val cid = VectorIndex.compact(spark, path)
      assert(VectorIndex.readMeta(spark, path).batches == Seq(cid))
      assert(vecServe(path).nonEmpty)
    } finally rmTree(dir)
  }

  test("vector index: a drop committed in the compaction's swap " +
      "window fails the compaction; the drop's effect stands") {
    val dir = tmp("vec-casdrop")
    try {
      val path = dir.toString
      VectorIndex.write(emb.filter(col("vec_id") < 200), "vec_id",
        "embedding", cents, cb, m, dim, path)
      val before = vecServe(path)
      val a2 = VectorIndex.append(
        emb.filter(col("vec_id") >= 200 && col("vec_id") < 350),
        "vec_id", "embedding", path)
      // the compaction merged pre-drop codes: its swap would resurrect
      // the dropped batch inside the merged payload, so it must fail
      intercept[MetaSwap.CasFailed] {
        VectorIndex.compactImpl(spark, path, 0L, 512, () => {
          assert(VectorIndex.dropBatch(spark, path, a2)); ()
        })
      }
      assert(VectorIndex.readMeta(spark, path).batches == Seq("bootstrap"))
      assert(!new java.io.File(s"$path/batches/$a2").exists())
      assert(vecServe(path) == before)
    } finally rmTree(dir)
  }

  test("a meta without a batches= line refuses typed on both indexes " +
      "instead of guessing visibility") {
    val dir = tmp("no-batches")
    try {
      def refusal(root: String, head: String)(read: => Any): String = {
        new java.io.File(root).mkdirs()
        java.nio.file.Files.write(java.nio.file.Paths.get(root, "_meta"),
          s"${head}retired=\ngen=1\n".getBytes("UTF-8"))
        intercept[IllegalArgumentException](read).getMessage
      }
      val bm = s"$dir/bm25"
      val eBm = refusal(bm, "n=3\nsum_len=9\nid_col=doc_id\n" +
        "id_type=bigint\n")(Bm25.readBm25Meta(spark, bm))
      assert(eBm.contains("predates the committed-batch list"), eBm)
      assert(eBm.contains("BM25 index"), eBm)
      val vec = s"$dir/vec"
      val eVec = refusal(vec, "m=4\ndim=64\n")(
        VectorIndex.readMeta(spark, vec))
      assert(eVec.contains("predates the committed-batch list"), eVec)
      assert(eVec.contains("vector index"), eVec)
    } finally rmTree(dir)
  }

  test("one batch-list protocol: neither index file hand-writes a meta " +
      "swap, a publish rename, a grace marker, the history log or the " +
      "merged id") {
    val src = java.nio.file.Paths.get("src/main/scala/graft/operators")
    assert(java.nio.file.Files.isDirectory(src),
      s"run from the project root: $src not found")
    val words = Seq("MetaSwap.", ".rename(", "markPendingDelete",
      "resetPendingDelete", "sweepPendingDeletes", "recordMetaHistory",
      "mergedId")
    val offenders = for {
      file <- Seq("Bm25.scala", "VectorIndex.scala", "Dedup.scala")
      (line, i) <- {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(src.resolve(file)).asScala.toSeq
          .zipWithIndex
      }
      if words.exists(line.contains)
    } yield s"$file:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no main file names the retired _dropping directory") {
    val main = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(main),
      s"run from the project root: $main not found")
    import scala.jdk.CollectionConverters._
    val offenders = java.nio.file.Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.toSeq.zipWithIndex
          .collect { case (line, i) if line.contains("_dropping") =>
            s"$f:${i + 1}: ${line.trim}" }
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("bm25 index: an append committed in the compaction's swap " +
      "window fails the compaction loudly and survives intact") {
    val dir = tmp("bm25-cas")
    try {
      val path = dir.toString
      val docs = bm25Docs
      Bm25.writeBm25Index(docs.filter(col("doc_id") <= 3), "doc_id",
        "text", path)
      Bm25.appendBm25Index(docs.filter(col("doc_id") === 4), "text",
        path)
      var interleaved: String = null
      val e = intercept[MetaSwap.CasFailed] {
        Bm25.compactBm25Impl(spark, path, 0L, 512, () => {
          interleaved = Bm25.appendBm25Index(
            docs.filter(col("doc_id") === 5), "text", path)
        })
      }
      assert(e.getMessage.contains("concurrent meta write"))
      val meta = Bm25.readBm25Meta(spark, path)
      assert(meta.batches.contains(interleaved))
      assert(new java.io.File(s"$path/batches/$interleaved").exists())
      // all five docs serve — scalars and postings in lock-step —
      // and the recovery re-run compacts to one batch, bit-identical
      assert(bmServe(path) == bmInline(docs))
      val cid = Bm25.compactBm25Index(spark, path)
      assert(Bm25.readBm25Meta(spark, path).batches == Seq(cid))
      assert(bmServe(path) == bmInline(docs))
    } finally rmTree(dir)
  }

  test("bm25 index: a drop committed in the compaction's swap window " +
      "fails the compaction; the drop's effect stands") {
    val dir = tmp("bm25-casdrop")
    try {
      val path = dir.toString
      val docs = bm25Docs
      Bm25.writeBm25Index(docs.filter(col("doc_id") <= 3), "doc_id",
        "text", path)
      val a4 = Bm25.appendBm25Index(docs.filter(col("doc_id") === 4),
        "text", path)
      // the interleaved maintenance is a DROP: the compaction's swap
      // would resurrect the dropped batch inside its merged payload
      // (it merged pre-drop postings), so it must fail the same way
      intercept[MetaSwap.CasFailed] {
        Bm25.compactBm25Impl(spark, path, 0L, 512, () => {
          assert(Bm25.dropBm25Batch(spark, path, a4)); ()
        })
      }
      val meta = Bm25.readBm25Meta(spark, path)
      assert(meta.batches == Seq("bootstrap"))
      assert(!new java.io.File(s"$path/batches/$a4").exists())
      assert(bmServe(path) ==
        bmInline(docs.filter(col("doc_id") <= 3)))
    } finally rmTree(dir)
  }

  test("bm25 index: an append committed between the compaction's " +
      "swap and its sweep survives with its directory intact") {
    val dir = tmp("bm25-rail")
    try {
      val path = dir.toString
      val docs = bm25Docs
      Bm25.writeBm25Index(docs.filter(col("doc_id") <= 3), "doc_id",
        "text", path)
      Bm25.appendBm25Index(docs.filter(col("doc_id") === 4), "text",
        path)
      var interleaved: String = null
      val cid = Bm25.compactBm25Impl(spark, path, 0L, 512,
        () => (), () => {
          interleaved = Bm25.appendBm25Index(
            docs.filter(col("doc_id") === 5), "text", path)
        })
      val meta = Bm25.readBm25Meta(spark, path)
      assert(meta.batches.toSet == Set(cid, interleaved))
      assert(new java.io.File(s"$path/batches/$interleaved").exists(),
        "the concurrently committed batch's directory was swept")
      assert(new java.io.File(s"$path/batches").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet ==
        Set(cid, interleaved))
      assert(bmServe(path) == bmInline(docs))
    } finally rmTree(dir)
  }

  test("an unlisted append-shaped dir gets the orphan-grace floor " +
      "(it may be an in-flight publish) and every swap bumps the " +
      "meta fence, failing a stale CAS even when state is unchanged") {
    val dir = tmp("bm25-orphan")
    try {
      val path = dir.toString
      val docs = bm25Docs
      Bm25.writeBm25Index(docs.filter(col("doc_id") <= 3), "doc_id",
        "text", path)
      val fs = hadoopFs(path)
      // simulate an append mid-commit: directory published (atomic
      // rename done), meta CAS not yet run — indistinguishable from
      // crash residue at sweep time, so it must NOT be reclaimed
      // immediately
      fs.mkdirs(new org.apache.hadoop.fs.Path(
        s"$path/batches/inflight-1"))
      // merged-shape residue is unambiguous (appends refuse the
      // shape): reclaimed at the caller's retainMs
      fs.mkdirs(new org.apache.hadoop.fs.Path(
        s"$path/batches/mdeadbeefdeadbeef"))
      val rawBefore = java.nio.file.Files.readAllBytes(
        new java.io.File(path, "_meta").toPath)
      val t0 = System.currentTimeMillis()
      assert(Bm25.compactBm25Index(spark, path) == "bootstrap")
      // the possible in-flight publish survived, with a marker at
      // least the orphan grace out; the merged-shape residue is gone
      assert(new java.io.File(s"$path/batches/inflight-1").exists(),
        "a possible in-flight publish was reclaimed as residue")
      val dl = IndexProtocol.pendingDeadline(fs, path, "inflight-1")
      assert(dl.exists(_ >= t0 + IndexProtocol.OrphanGraceMs),
        s"orphan marker deadline $dl below the grace floor")
      assert(!new java.io.File(
        s"$path/batches/mdeadbeefdeadbeef").exists())
      // the FENCE: the committed meta changed bytes even though the
      // visible state did not (gen bumped), so the in-flight append's
      // CAS against its pre-compact read now fails loudly instead of
      // committing a batch the sweep could have already deleted
      val rawAfter = java.nio.file.Files.readAllBytes(
        new java.io.File(path, "_meta").toPath)
      assert(!java.util.Arrays.equals(rawBefore, rawAfter),
        "a no-op maintenance swap left the meta byte-identical — " +
          "invisible to every concurrent writer's CAS")
      intercept[MetaSwap.CasFailed] {
        MetaSwap.swap(fs,
          new org.apache.hadoop.fs.Path(s"$path/_meta"),
          rawBefore, rawBefore)
      }
      // a second maintenance pass keeps the orphan (first-marker-wins
      // holds its original grace) and the index serves unchanged
      assert(Bm25.compactBm25Index(spark, path) == "bootstrap")
      assert(new java.io.File(s"$path/batches/inflight-1").exists())
      assert(bmServe(path) ==
        bmInline(docs.filter(col("doc_id") <= 3)))
    } finally rmTree(dir)
  }

  test("vector index: orphan-grace floor and swap fence mirror the " +
      "bm25 behavior (one protocol, two indexes)") {
    val dir = tmp("vec-orphan")
    try {
      val path = dir.toString
      VectorIndex.write(emb.filter(col("vec_id") < 200), "vec_id",
        "embedding", cents, cb, m, dim, path)
      val fs = hadoopFs(path)
      fs.mkdirs(new org.apache.hadoop.fs.Path(
        s"$path/batches/inflight-1"))
      fs.mkdirs(new org.apache.hadoop.fs.Path(
        s"$path/batches/mdeadbeefdeadbeef"))
      val rawBefore = java.nio.file.Files.readAllBytes(
        new java.io.File(path, "_meta").toPath)
      val t0 = System.currentTimeMillis()
      VectorIndex.compact(spark, path) // single batch: no-op + sweep
      assert(new java.io.File(s"$path/batches/inflight-1").exists(),
        "a possible in-flight publish was reclaimed as residue")
      assert(IndexProtocol.pendingDeadline(fs, path, "inflight-1")
        .exists(_ >= t0 + IndexProtocol.OrphanGraceMs))
      assert(!new java.io.File(
        s"$path/batches/mdeadbeefdeadbeef").exists())
      val rawAfter = java.nio.file.Files.readAllBytes(
        new java.io.File(path, "_meta").toPath)
      assert(!java.util.Arrays.equals(rawBefore, rawAfter))
      intercept[MetaSwap.CasFailed] {
        MetaSwap.swap(fs,
          new org.apache.hadoop.fs.Path(s"$path/_meta"),
          rawBefore, rawBefore)
      }
      assert(vecServe(path).nonEmpty)
    } finally rmTree(dir)
  }

  test("grace period: a delisted batch stays on disk and invisible " +
      "for its window, later maintenance honors the persisted " +
      "deadline, re-append clears the mark, expiry reclaims") {
    val dir = tmp("bm25-grace")
    try {
      val path = dir.toString
      val docs = bm25Docs
      Bm25.writeBm25Index(docs.filter(col("doc_id") <= 3), "doc_id",
        "text", path)
      val bid = Bm25.appendBm25Index(docs.filter(col("doc_id") > 3),
        "text", path)
      val full = bmServe(path)
      // drop with a 1h grace: delisted (probe-invisible) but the
      // directory and its marker survive for in-flight probes
      assert(Bm25.dropBm25Batch(spark, path, bid,
        retainMs = 3600L * 1000))
      assert(new java.io.File(s"$path/batches/$bid").exists())
      assert(marker(path, bid).exists())
      assert(bmServe(path) ==
        bmInline(docs.filter(col("doc_id") <= 3)))
      // a LATER maintenance call with retainMs=0 must NOT cut the 1h
      // window short: the deadline rides the marker, not the caller
      Bm25.compactBm25Index(spark, path)
      assert(new java.io.File(s"$path/batches/$bid").exists(),
        "a retainMs=0 compact reclaimed a batch still inside the " +
          "grace window its drop promised")
      // re-appending the same content clears the mark FIRST, so a
      // stale marker can never reap the live re-ingested batch
      assert(Bm25.appendBm25Index(docs.filter(col("doc_id") > 3),
        "text", path) == bid)
      assert(!marker(path, bid).exists())
      assert(bmServe(path) == full)
      Bm25.compactBm25Index(spark, path)
      assert(bmServe(path) == full,
        "a maintenance call after the re-append lost the live batch")
      // expiry: a short window is reclaimed by the NEXT maintenance
      // call once the deadline passes
      val cid = Bm25.readBm25Meta(spark, path).batches.head
      val b5 = Bm25.appendBm25Index(
        docs.filter(col("doc_id") === 5)
          .withColumn("doc_id", col("doc_id") + 100), "text", path)
      assert(Bm25.dropBm25Batch(spark, path, b5, retainMs = 50L))
      assert(new java.io.File(s"$path/batches/$b5").exists())
      Thread.sleep(150L)
      Bm25.compactBm25Index(spark, path) // single batch: no-op + sweep
      assert(!new java.io.File(s"$path/batches/$b5").exists(),
        "an expired pending delete was not reclaimed")
      assert(!marker(path, b5).exists())
      assert(Bm25.readBm25Meta(spark, path).batches == Seq(cid))
      // a stale (long-expired) marker left on a COMMITTED batch by a
      // publish-race sweep must not pre-empt a later drop's promised
      // window: the drop is the delist event and restarts the clock
      val b6 = Bm25.appendBm25Index(
        docs.filter(col("doc_id") === 4)
          .withColumn("doc_id", col("doc_id") + 200), "text", path)
      val fs = hadoopFs(path)
      IndexProtocol.markPendingDelete(fs, path, b6, 0L, 0L)
      assert(Bm25.dropBm25Batch(spark, path, b6,
        retainMs = 3600L * 1000))
      assert(new java.io.File(s"$path/batches/$b6").exists(),
        "a stale marker truncated the drop's grace window")
      assert(IndexProtocol.pendingDeadline(fs, path, b6)
        .exists(_ > System.currentTimeMillis()))
    } finally rmTree(dir)
  }

  test("vector index: grace-period drop keeps the directory, serves " +
      "the delisted view, and a re-append is safe from the stale mark") {
    val dir = tmp("vec-grace")
    try {
      val path = dir.toString
      VectorIndex.write(emb.filter(col("vec_id") < 200), "vec_id",
        "embedding", cents, cb, m, dim, path)
      val bid = VectorIndex.append(emb.filter(col("vec_id") >= 200),
        "vec_id", "embedding", path)
      val full = vecServe(path)
      VectorIndex.write(emb.filter(col("vec_id") < 200), "vec_id",
        "embedding", cents, cb, m, dim, s"$path-boot")
      val bootOnly = vecServe(s"$path-boot")
      assert(VectorIndex.dropBatch(spark, path, bid,
        retainMs = 3600L * 1000))
      assert(new java.io.File(s"$path/batches/$bid").exists())
      assert(marker(path, bid).exists())
      assert(vecServe(path) == bootOnly,
        "a delisted batch leaked into the serve")
      assert(VectorIndex.append(emb.filter(col("vec_id") >= 200),
        "vec_id", "embedding", path) == bid)
      assert(!marker(path, bid).exists())
      assert(vecServe(path) == full)
      VectorIndex.compact(spark, path)
      assert(vecServe(path) == full,
        "a maintenance call after the re-append lost the live batch")
    } finally { rmTree(dir); rmTree(new java.io.File(s"$dir-boot")) }
  }

  test("bm25 index: a stale marker on a committed batch is cleared " +
      "at compaction entry, so retirement gets its full window") {
    val dir = tmp("bm25-stale")
    try {
      val path = dir.toString
      val docs = bm25Docs
      Bm25.writeBm25Index(docs.filter(col("doc_id") <= 3), "doc_id",
        "text", path)
      val bid = Bm25.appendBm25Index(docs.filter(col("doc_id") > 3),
        "text", path)
      val fs = hadoopFs(path)
      // the publish-race artifact shape: a long-expired marker
      // sitting on a COMMITTED batch (a sweep orphan-marked it
      // between publish and CAS, and no later sweep ran to clear it)
      IndexProtocol.markPendingDelete(fs, path, bid, 0L, 0L)
      // a compaction promising a 1h retirement window must clear the
      // stale clock at entry — first-marker-wins would otherwise
      // keep the expired deadline and reap the superseded payload
      // instantly, truncating the promise
      Bm25.compactBm25Index(spark, path, retainMs = 3600L * 1000)
      assert(new java.io.File(s"$path/batches/$bid").exists(),
        "a stale marker truncated the compaction's retirement window")
      assert(IndexProtocol.pendingDeadline(fs, path, bid)
        .exists(_ > System.currentTimeMillis()))
      assert(bmServe(path) == bmInline(docs))
    } finally rmTree(dir)
  }

  test("vector index: stale markers on committed batches cleared at " +
      "compaction entry and reset by drop (the bm25 twin)") {
    val dir = tmp("vec-stale")
    try {
      val path = dir.toString
      VectorIndex.write(emb.filter(col("vec_id") < 200), "vec_id",
        "embedding", cents, cb, m, dim, path)
      val bid = VectorIndex.append(emb.filter(col("vec_id") >= 200),
        "vec_id", "embedding", path)
      val fs = hadoopFs(path)
      IndexProtocol.markPendingDelete(fs, path, bid, 0L, 0L)
      VectorIndex.compact(spark, path, retainMs = 3600L * 1000)
      assert(new java.io.File(s"$path/batches/$bid").exists(),
        "a stale marker truncated the compaction's retirement window")
      assert(IndexProtocol.pendingDeadline(fs, path, bid)
        .exists(_ > System.currentTimeMillis()))
      // the drop path restarts the clock the same way
      val b2 = VectorIndex.append(emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", path, batchId = Some("fresh-b2"))
      IndexProtocol.markPendingDelete(fs, path, b2, 0L, 0L)
      assert(VectorIndex.dropBatch(spark, path, b2,
        retainMs = 3600L * 1000))
      assert(new java.io.File(s"$path/batches/$b2").exists(),
        "a stale marker truncated the drop's grace window")
      assert(IndexProtocol.pendingDeadline(fs, path, b2)
        .exists(_ > System.currentTimeMillis()))
      assert(vecServe(path).nonEmpty)
    } finally rmTree(dir)
  }

  test("retired-list cap: meta stays bounded, recent retirements " +
      "refuse replay, aged-out ids re-append by documented contract") {
    val dir = tmp("bm25-cap")
    try {
      val path = dir.toString
      val docs = bm25Docs
      Bm25.writeBm25Index(docs.filter(col("doc_id") <= 3), "doc_id",
        "text", path)
      Bm25.appendBm25Index(docs.filter(col("doc_id") === 4), "text",
        path, batchId = Some("day-a"))
      Bm25.appendBm25Index(docs.filter(col("doc_id") === 5), "text",
        path, batchId = Some("day-b"))
      // cap 2 over a 3-batch retirement: newest kept, bootstrap ages
      val cid1 = Bm25.compactBm25Index(spark, path, retainMs = 0L,
        maxRetired = 2)
      val m1 = Bm25.readBm25Meta(spark, path)
      assert(m1.retired == Seq("day-a", "day-b"),
        s"cap should keep the NEWEST 2 of 3 retirements: ${m1.retired}")
      // recently retired: replay still refused, typed
      intercept[graft.ReplayRefused] {
        Bm25.appendBm25Index(docs.filter(col("doc_id") === 5), "text",
          path, batchId = Some("day-b"))
      }
      // aged out: re-appending is ACCEPTED — the documented trade-off
      // (the guard's horizon is the cap, sized to the redelivery
      // window, not the corpus); pinned here so it is a contract, not
      // a comment
      Bm25.appendBm25Index(docs.filter(col("doc_id") <= 3), "text",
        path, batchId = Some("bootstrap"))
      assert(Bm25.readBm25Meta(spark, path).batches.toSet ==
        Set(cid1, "bootstrap"))
      // a second compaction keeps the bound: 4 lifetime retirements,
      // meta still carries exactly 2
      Bm25.compactBm25Index(spark, path, retainMs = 0L, maxRetired = 2)
      val m2 = Bm25.readBm25Meta(spark, path)
      assert(m2.retired == Seq(cid1, "bootstrap"))
      assert(m2.retired.size <= 2)
      // and day-a has now aged out too: accepted again
      Bm25.appendBm25Index(docs.filter(col("doc_id") === 4), "text",
        path, batchId = Some("day-a"))
      assert(Bm25.bm25TopKIndexed(spark, path, bmQuery, k = 10)
        .count() > 0)
    } finally rmTree(dir)
  }

  test("vector index: retired cap bounds the meta and recent " +
      "retirements still refuse replay") {
    val dir = tmp("vec-cap")
    try {
      val path = dir.toString
      VectorIndex.write(emb.filter(col("vec_id") < 200), "vec_id",
        "embedding", cents, cb, m, dim, path)
      VectorIndex.append(
        emb.filter(col("vec_id") >= 200 && col("vec_id") < 350),
        "vec_id", "embedding", path, batchId = Some("day-a"))
      VectorIndex.append(emb.filter(col("vec_id") >= 350), "vec_id",
        "embedding", path, batchId = Some("day-b"))
      val cid = VectorIndex.compact(spark, path, retainMs = 0L,
        maxRetired = 2)
      val meta = VectorIndex.readMeta(spark, path)
      assert(meta.batches == Seq(cid))
      assert(meta.retired == Seq("day-a", "day-b"),
        s"cap should keep the NEWEST 2 of 3 retirements: ${meta.retired}")
      intercept[graft.ReplayRefused] {
        VectorIndex.append(emb.filter(col("vec_id") >= 350), "vec_id",
          "embedding", path, batchId = Some("day-b"))
      }
      // bootstrap aged out → accepted again, serve stays healthy
      VectorIndex.append(emb.filter(col("vec_id") < 200), "vec_id",
        "embedding", path, batchId = Some("bootstrap"))
      assert(vecServe(path).nonEmpty)
    } finally rmTree(dir)
  }

  test("typed refusals: reserved merged shape is its own type, " +
      "path-unsafe ids are not; a pending squatter blocks compaction") {
    val dir = tmp("bm25-squat")
    try {
      val path = dir.toString
      val docs = bm25Docs
      Bm25.writeBm25Index(docs.filter(col("doc_id") <= 3), "doc_id",
        "text", path)
      Bm25.appendBm25Index(docs.filter(col("doc_id") === 4), "text",
        path)
      // "pick another id" (well-formed but reserved) is typed apart
      // from "the token is path-unsafe"
      val eShape = intercept[graft.ReservedIdRefused] {
        Bm25.appendBm25Index(docs.filter(col("doc_id") === 5), "text",
          path, batchId = Some("m0123456789abcdef"))
      }
      assert(eShape.getMessage.contains("RESERVED"))
      val ePath = intercept[IllegalArgumentException] {
        Bm25.appendBm25Index(docs.filter(col("doc_id") === 5), "text",
          path, batchId = Some("bad/slash"))
      }
      assert(!ePath.isInstanceOf[graft.ReservedIdRefused])
      // (the vector index's reserved-shape refusal is pinned to the
      // same type in PipelineOperatorsSpec's compaction spec)
      // a pre-reservation squatter on the merged id, delisted but
      // still inside its grace window (pending-delete marker), blocks
      // the compaction instead of having its window cut short: the
      // capped retired list cannot be the only guard
      val meta = Bm25.readBm25Meta(spark, path)
      val cid = IndexProtocol.mergedId(meta.batches)
      val fs = hadoopFs(path)
      IndexProtocol.markPendingDelete(fs, path, cid,
        System.currentTimeMillis(), 3600L * 1000)
      // the compaction-side squat refusal carries the SAME type as
      // the append-side reservation — one taxonomy, no message
      // matching needed to tell "the reserved space is occupied"
      val eSquat = intercept[graft.ReservedIdRefused] {
        Bm25.compactBm25Index(spark, path)
      }
      assert(eSquat.getMessage.contains("pending grace-period"))
      // an EXPIRED marker must not wedge compaction forever: the
      // guard reclaims it (what the sweep would do) and proceeds
      IndexProtocol.clearPendingDelete(fs, path, cid)
      IndexProtocol.markPendingDelete(fs, path, cid,
        System.currentTimeMillis() - 10000L, 0L)
      assert(Bm25.compactBm25Index(spark, path) == cid)
      assert(!IndexProtocol.hasPendingDelete(fs, path, cid))
      assert(bmServe(path) ==
        bmInline(docs.filter(col("doc_id") <= 4)))
    } finally rmTree(dir)
  }

  test("vector index: the compaction squat refusal carries the same " +
      "type as BM25's, and an expired marker reclaims and proceeds") {
    val dir = tmp("vec-squat")
    try {
      val path = dir.toString
      VectorIndex.write(emb.filter(col("vec_id") < 200), "vec_id",
        "embedding", cents, cb, m, dim, path)
      VectorIndex.append(
        emb.filter(col("vec_id") >= 200 && col("vec_id") < 350),
        "vec_id", "embedding", path)
      val meta = VectorIndex.readMeta(spark, path)
      val cid = IndexProtocol.mergedId(meta.batches)
      val fs = hadoopFs(path)
      // a delisted pre-reservation squatter inside its grace window
      IndexProtocol.markPendingDelete(fs, path, cid,
        System.currentTimeMillis(), 3600L * 1000)
      val e = intercept[graft.ReservedIdRefused] {
        VectorIndex.compact(spark, path)
      }
      assert(e.getMessage.contains("pending grace-period"))
      // expired → the guard reclaims (what the sweep would do) and
      // the compaction proceeds
      IndexProtocol.clearPendingDelete(fs, path, cid)
      IndexProtocol.markPendingDelete(fs, path, cid,
        System.currentTimeMillis() - 10000L, 0L)
      assert(VectorIndex.compact(spark, path) == cid)
      assert(vecServe(path).nonEmpty)
    } finally rmTree(dir)
  }

  test("pqTrainFixedK: codebook size is a model constant, not a " +
      "corpus function (the sf1 911s-vs-7.2s lesson, pinned in code)") {
    // the sf0.1 corpus — the scale the bench sweeps; big enough that
    // the gates' modulo init visibly scales its seed count with the
    // corpus while the fixed-k entry does not
    val sf01 = "/root/testdata/sf0.1"
    val emb01 = Tables.table(spark, sf01, "embeddings").localCheckpoint()
    val half = emb01.filter(col("vec_id") % 2 === 0)
    val k = 16
    def codesPerSubspace(cbDf: org.apache.spark.sql.DataFrame)
        : Seq[Long] =
      cbDf.groupBy(col("subspace")).count().collect()
        .map(_.getLong(1)).toSeq
    val cbFull = Similarity.pqTrainFixedK(emb01, "vec_id", "embedding",
      m, dim, k, rounds = 1).localCheckpoint()
    val cbHalf = Similarity.pqTrainFixedK(half, "vec_id", "embedding",
      m, dim, k, rounds = 1)
    // k seeds at EVERY corpus size: surviving codes never exceed k
    // (Lloyd can only drop empty cells), and all m subspaces train
    val fullCounts = codesPerSubspace(cbFull)
    val halfCounts = codesPerSubspace(cbHalf)
    assert(fullCounts.size == m && halfCounts.size == m)
    assert(fullCounts.forall(c => c >= 1 && c <= k),
      s"full-corpus codebook exceeded k=$k per subspace: $fullCounts")
    assert(halfCounts.forall(c => c >= 1 && c <= k),
      s"half-corpus codebook exceeded k=$k per subspace: $halfCounts")
    // the contrast that cost 911s at sf1: the gate recipe's modulo
    // init scales seeds with the corpus (≈ n/17), already far past k
    // at sf0.1 — k must be pinned by the caller, not the data
    val moduloSeeds = emb01.filter(col("vec_id") % 17 === 5).count()
    assert(moduloSeeds > 2L * k,
      s"modulo recipe should out-seed fixed k at sf0.1: $moduloSeeds")
    // deterministic: retraining on the same corpus is bit-identical
    val again = Similarity.pqTrainFixedK(emb01, "vec_id", "embedding",
      m, dim, k, rounds = 1)
    assert(cbFull.collect().map(_.toString).sorted.toSeq ==
      again.collect().map(_.toString).sorted.toSeq)
  }

  test("bm25 retraction: the doc is gone physically, scores equal a " +
      "never-ingested index, and the original batch stays refused") {
    val dir = tmp("bmretract")
    try {
      val root = dir.toString + "/idx"
      val docs = bm25Docs
      Bm25.writeBm25Index(docs.filter(col("doc_id") <= 3), "doc_id",
        "text", root)
      Bm25.appendBm25Index(docs.filter(col("doc_id") > 3), "text", root)
      assert(bmServe(root) == bmInline(docs))
      // retract doc 2 (the vector-heavy doc): removal shifts every
      // idf through N/Σlen — the inline form over the remaining docs
      // is the exact oracle (probeWithMeta's bit-identical contract)
      assert(Bm25.retractFromBm25Index(spark, root, Seq(2L)) == 1L)
      val remaining = docs.filter(col("doc_id") =!= 2)
      assert(bmServe(root) == bmInline(remaining),
        "post-retraction scores must equal an index that never saw " +
          "the doc")
      assert(!bmServe(root).exists(_._1 == 2L))
      // no committed batch's postings still carry the doc's bytes
      val meta = Bm25.readBm25Meta(spark, root)
      meta.batches.foreach { b =>
        assert(spark.read.option("recursiveFileLookup", "true")
          .parquet(s"$root/batches/$b")
          .filter(col("doc_id") === 2L).count() == 0L)
      }
      // a redelivered ORIGINAL batch is still refused (retired), so
      // replay cannot resurrect the retracted doc
      intercept[ReplayRefused] {
        Bm25.appendBm25Index(docs.filter(col("doc_id") <= 3), "text",
          root, batchId = Some("bootstrap"))
      }
      assert(graft.operators.IndexAudit.isHealthy(spark, root))
      // idempotent: nothing left to retract
      assert(Bm25.retractFromBm25Index(spark, root, Seq(2L)) == 0L)
      // retracting EVERY doc of a batch delists it with no
      // replacement; the serve stays exact over the survivor batch
      assert(Bm25.retractFromBm25Index(spark, root,
        Seq(4L, 5L)) == 2L)
      assert(bmServe(root) ==
        bmInline(docs.filter(col("doc_id") === 1 ||
          col("doc_id") === 3)))
      assert(graft.operators.IndexAudit.isHealthy(spark, root))
    } finally rmTree(dir)
  }

  test("vector retraction: the id leaves every probe, results equal " +
      "a never-ingested index, replay stays refused") {
    val dir = tmp("vecretract")
    try {
      val root = dir.toString + "/idx"
      val fresh = dir.toString + "/fresh"
      VectorIndex.write(emb.filter(col("vec_id") < 200), "vec_id",
        "embedding", cents, cb, m, dim, root)
      // pick a served CANDIDATE that is not itself a probe query
      val target = vecServe(root).map(_.getLong(1))
        .find(_ % 50 != 0L).getOrElse(vecServe(root).head.getLong(1))
      assert(VectorIndex.retractIds(spark, root, Seq(target)) == 1L)
      val served = vecServe(root)
      assert(!served.exists(_.getLong(1) == target),
        s"retracted id $target still served")
      // the oracle: an index that never ingested the id (same
      // artifacts → identical codes → identical ADC + re-rank)
      VectorIndex.write(
        emb.filter(col("vec_id") < 200 && col("vec_id") =!= target),
        "vec_id", "embedding", cents, cb, m, dim, fresh)
      assert(served == vecServe(fresh))
      // no committed batch's codes still carry the id
      val meta = VectorIndex.readMeta(spark, root)
      meta.batches.foreach { b =>
        assert(spark.read.parquet(s"$root/batches/$b/cellCodes")
          .filter(col("id") === target).count() == 0L)
      }
      intercept[ReplayRefused] {
        VectorIndex.append(emb.filter(col("vec_id") < 200), "vec_id",
          "embedding", root, batchId = Some("bootstrap"))
      }
      assert(graft.operators.IndexAudit.isHealthy(spark, root))
      assert(VectorIndex.retractIds(spark, root, Seq(target)) == 0L)
    } finally rmTree(dir)
  }

  test("dedup retraction: the sid stops matching as a stored " +
      "candidate, tombstones keep refusing replays, audit healthy") {
    import graft.operators.Dedup
    val dir = tmp("dedupretract")
    try {
      val root = dir.toString + "/idx"
      import spark.implicits._
      val corpus = Seq(
        ("a", "the quick brown fox jumps over the lazy dog again and again"),
        ("b", "entirely different content about spark shuffles and joins"),
        ("c", "a third unrelated document concerning parquet footers"))
        .toDF("sid", "text")
      Dedup.writeDedupIndex(corpus, "sid", "text", root, k = 8,
        rowsPerBand = 2)
      // a near-dup of doc a matches it before the retraction …
      val probe = Seq(("p1",
        "the quick brown fox jumps over the lazy dog again and again!"))
        .toDF("sid", "text")
      def matches(): Set[String] =
        Dedup.minhashDedupAgainstIndex(probe, "sid", "text", root,
          k = 8, rowsPerBand = 2)
          .select(col("id_a"), col("id_b")).collect()
          .flatMap(r => Seq(r.getString(0), r.getString(1))).toSet
      assert(matches().contains("a"))
      // … and stops matching once a is retracted; others unaffected
      assert(Dedup.retractFromDedupIndex(spark, root, Seq("a")) == 1L)
      assert(!matches().contains("a"))
      // no surviving batch table carries the sid's rows
      val fs = hadoopFs(root)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/batches"))
        .filter(_.isDirectory).foreach { st =>
          Seq("bands", "shingles").foreach { t =>
            val p = new org.apache.hadoop.fs.Path(st.getPath, t)
            if (fs.exists(p))
              assert(spark.read
                .option("recursiveFileLookup", "true")
                .parquet(p.toString)
                .filter(col("sid") === "a").count() == 0L)
          }
        }
      // the ORIGINAL batch id is retired and its directory gone, so an
      // exact replay of the corpus batch still refuses
      intercept[ReplayRefused] {
        Dedup.writeDedupIndex(corpus, "sid", "text", root, k = 8,
          rowsPerBand = 2, mode = "append")
      }
      assert(graft.operators.IndexAudit.isHealthy(spark, root))
      assert(graft.operators.IndexAudit.audit(spark, root)
        .filter(col("status") === "retired_reclaimed").count() == 1L)
      assert(Dedup.retractFromDedupIndex(spark, root, Seq("a")) == 0L)
    } finally rmTree(dir)
  }
}
