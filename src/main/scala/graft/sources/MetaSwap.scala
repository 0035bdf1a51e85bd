package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The shared commit-marker swap protocol of the persisted indexes —
  * BM25 `_meta`, vector-index `_meta`, and the serving pointer all
  * commit small marker files the same way: stage `<marker>.next`,
  * delete the committed marker, rename the stage in. A crash between
  * the delete and the rename leaves only `.next`; [[heal]] lets the
  * next reader complete the rename, making the swap effectively
  * atomic for every reader that comes after the crash.
  *
  * One implementation instead of three copies, so a protocol change
  * cannot silently diverge between the indexes. The bare [[swap]] is
  * LAST-WRITER-WINS; the compare-and-set overload (expected prior
  * bytes) is what every index maintenance path uses, so a violated
  * single-maintainer contract fails LOUDLY ([[MetaSwap.CasFailed]])
  * instead of silently delisting — and then deleting — a batch a
  * concurrent append committed. The serving POINTER keeps the bare
  * form: repointing is idempotent and order-free, so last-writer-wins
  * is its correct semantics.
  */
private[graft] object MetaSwap {

  /** A compare-and-set [[swap]] found the committed marker changed
    * since the caller read it: a concurrent writer landed between this
    * writer's read and its commit. The caller's staged state (if any)
    * is unlisted residue — nothing committed, nothing lost; re-read
    * the marker and re-run the maintenance.
    */
  final class CasFailed(msg: String) extends IllegalStateException(msg)

  private def nextOf(marker: Path): Path =
    new Path(marker.getParent, marker.getName + ".next")

  private def readAll(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      var n = in.read(tmp)
      while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      buf.toByteArray
    } finally in.close()
  }

  /** The marker's bytes if it exists right now, None otherwise —
    * the tolerant read the staging-lock protocol probes with, where
    * "gone between exists and open" is an expected race (another
    * writer released or stole the lock), not an error. No heal: a
    * lock observer must see the marker exactly as committed.
    */
  def readIfExists(fs: FileSystem, marker: Path): Option[Array[Byte]] =
    try {
      if (fs.exists(marker)) Some(readAll(fs, marker)) else None
    } catch {
      case _: java.io.FileNotFoundException => None
    }

  /** Complete a crashed swap: `.next` present without the committed
    * marker renames in. No-op otherwise.
    */
  def heal(fs: FileSystem, marker: Path): Unit = {
    val next = nextOf(marker)
    if (!fs.exists(marker) && fs.exists(next)) {
      renameIn(fs, next, marker); ()
    }
  }

  /** `fs.rename(next, marker)`, false when `next` is already gone: a
    * concurrent [[heal]] (another writer's or reader's) renamed it
    * first, and the local file system's rename then throws
    * FileNotFoundException from its copy fallback instead of
    * returning false. Callers judge a false by the committed bytes.
    */
  private def renameIn(fs: FileSystem, next: Path, marker: Path): Boolean =
    try fs.rename(next, marker)
    catch { case _: java.io.FileNotFoundException => false }

  /** The committed marker's bytes, healing a crashed swap first —
    * what a CAS writer reads so the SAME bytes can be handed back as
    * [[swap]]'s expectation (readers that only need the parsed view
    * parse these bytes rather than re-opening the file).
    */
  def readCommitted(fs: FileSystem, marker: Path): Array[Byte] = {
    heal(fs, marker)
    require(fs.exists(marker), s"no committed marker at $marker")
    readAll(fs, marker)
  }

  /** Commit `bytes` as the marker's new content via the self-healing
    * swap. Tolerates the one benign race the protocol itself creates:
    * between this writer's delete and rename, a concurrent READER's
    * [[heal]] may complete the commit first — the writer's rename
    * then fails, but the marker already holds exactly these bytes, so
    * the commit succeeded. Only a rename failure with the marker
    * absent or holding OTHER content is a real error.
    */
  def swap(fs: FileSystem, marker: Path, bytes: Array[Byte]): Unit = {
    val next = nextOf(marker)
    val out = fs.create(next, true)
    try out.write(bytes) finally out.close()
    fs.delete(marker, false)
    if (!renameIn(fs, next, marker)) {
      val committed =
        if (!fs.exists(marker)) null else readAll(fs, marker)
      require(committed != null &&
        java.util.Arrays.equals(committed, bytes),
        s"marker swap failed at $marker")
    }
  }

  /** CREATE-EXCLUSIVE commit (the expect-ABSENT form of the CAS): fail
    * typed unless NO committed marker exists — what an immutable-ref
    * creation needs, where two racing creators of the same name must
    * fail one side loudly instead of last-writer-wins silently
    * violating the refs-are-immutable contract. The exclusivity hinge
    * is `fs.create(next, overwrite = false)`: two racing creators
    * collide on the ONE `.next` stage file, so exactly one proceeds
    * to the rename (the same window honesty as the CAS overload).
    */
  def create(fs: FileSystem, marker: Path, bytes: Array[Byte]): Unit = {
    heal(fs, marker)
    if (fs.exists(marker)) throw new CasFailed(
      s"marker already committed at $marker — create-exclusive " +
        "refuses to overwrite")
    val next = nextOf(marker)
    val out =
      try fs.create(next, false)
      catch {
        case e: java.io.IOException =>
          if (fs.exists(next) || fs.exists(marker)) throw new CasFailed(
            s"racing creation detected at $marker: another writer " +
              "staged the same marker first")
          else throw e
      }
    try out.write(bytes) finally out.close()
    if (!renameIn(fs, next, marker)) {
      // a concurrent reader's heal may have completed this commit
      val committed =
        if (!fs.exists(marker)) null else readAll(fs, marker)
      if (committed == null ||
          !java.util.Arrays.equals(committed, bytes))
        throw new CasFailed(
          s"racing creation detected at $marker: the committed " +
            "content is not this writer's")
    }
  }

  /** COMPARE-AND-SET commit: refuse (typed, loud) unless the committed
    * marker still holds exactly `expect` — the bytes this writer read
    * when it planned its change. This is what turns the documented
    * single-maintainer contract into an enforced one: a compaction
    * that read the meta, spent minutes merging, and then finds an
    * append landed in between FAILS with [[CasFailed]] instead of
    * swapping a list that delists (and would then sweep away) the
    * appended batch.
    *
    * Honesty about the guarantee: a filesystem rename cannot condition
    * on file content, so a writer landing in the microseconds between
    * this check and the rename is still last-writer-wins. The CAS
    * shrinks the lost-update window from the WHOLE maintenance run
    * (minutes of merge work) to that instant — every realistic
    * violation of the one-logical-writer contract now fails loudly; a
    * byte-true CAS needs a coordination service (a lock table, a
    * catalog), which is exactly what a multi-writer deployment should
    * put in front of these indexes.
    */
  def swap(fs: FileSystem, marker: Path, bytes: Array[Byte],
           expect: Array[Byte]): Unit = {
    heal(fs, marker)
    val current = if (fs.exists(marker)) readAll(fs, marker) else null
    if (current == null || !java.util.Arrays.equals(current, expect))
      throw new CasFailed(
        s"concurrent meta write detected at $marker: the committed " +
          "content changed since this writer read it — another " +
          "append/drop/compact committed in between; this writer's " +
          "staged state is unlisted residue (nothing was lost); " +
          "re-read the meta and re-run")
    swap(fs, marker, bytes)
  }
}
