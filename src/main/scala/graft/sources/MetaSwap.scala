package graft.sources

import java.nio.file.{Files, NoSuchFileException, StandardCopyOption,
  StandardOpenOption}
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** The ONE commit-marker protocol every store rests on — the serving
  * pointer and refs ([[Generations]]), the staging locks
  * ([[StagingLock]]), manifests, cursors and the index metas all
  * commit small marker files through it, and no other module knows how
  * a marker is staged or committed.
  *
  * Two primitives, the pair *Exploiting Cloud Object Storage for
  * High-Performance Analytics* (VLDB 2023) names for a commit:
  *
  *  - [[create]] — PUT-IF-ABSENT. The bytes go to a per-writer unique
  *    stage file beside the marker, which is then hard-linked to the
  *    marker name (`link(2)`): exactly one of any number of racing
  *    creators links, and the marker is complete the moment it is
  *    visible.
  *  - [[swap]] — ATOMIC REPLACE. The stage file is renamed over the
  *    marker (`rename(2)`): there is never a moment without a
  *    committed marker, so a crash leaves the old or the new bytes,
  *    plus at most a stage file that readers never look at.
  *    The compare-and-set overload stages into a CLAIM named by the
  *    expected bytes' digest, created exclusively, and only then
  *    compares and renames: two writers expecting the same bytes
  *    collide on the claim, so exactly one transition leaves any
  *    committed state. A writer that dies between its claim and its
  *    rename leaves the claim behind, and CAS writers from those bytes
  *    then fail typed until it is deleted ([[residue]] finds it; the
  *    table fsck reclaims the pointer's and the refs').
  *    [[remove]] is the same compare-and-set for a delete.
  *
  * On `file:` paths both run on the raw path through `java.nio`
  * (`Files.createLink`, `Files.move(ATOMIC_MOVE)`), with no `.crc`
  * sidecar: Hadoop's checksummed local FS writes a file and its
  * checksum in separate steps and its `create(overwrite = false)` is
  * an exists-check, not an exclusive create. Every other scheme uses
  * the Hadoop contract calls, and needs its store to make both atomic:
  * an exclusive `create(overwrite = false)` (HDFS; on an object store,
  * a conditional put with `If-None-Match: *`) and a replacing
  * `FileContext.rename(OVERWRITE)` (HDFS; an object store's rename is
  * a copy, so there the swap must be a conditional put on the marker
  * key itself — `docs/SCALE.md` lists every commit step's need).
  *
  * The bare [[swap]] is LAST-WRITER-WINS, the semantics of an
  * idempotent repoint; the compare-and-set overload is what every
  * maintenance path uses, so a violated single-maintainer contract
  * fails LOUDLY ([[MetaSwap.CasFailed]]) instead of silently
  * delisting — and then deleting — a batch a concurrent append
  * committed.
  */
private[graft] object MetaSwap {

  /** A compare-and-set [[swap]] found the committed marker changed
    * since the caller read it (or another writer is committing over
    * the same bytes right now), or a [[create]] found it present. The
    * caller's staged state (if any) is unlisted residue — nothing
    * committed, nothing lost; re-read the marker and re-run.
    */
  final class CasFailed(msg: String) extends IllegalStateException(msg)

  // stage files are hidden (leading dot): no listing that parses
  // marker names — generations, ref names, branch tokens — can read
  // one as a marker
  private val StageName = """\.(.+)\.(?:stage|claim)-[0-9a-f-]+""".r

  /** Is `name` a stage or claim file (a writer's in-flight or crashed
    * commit), never a marker?
    */
  def isStage(name: String): Boolean = StageName.matches(name)

  /** A fresh per-writer stage path beside `marker` — the file a writer
    * that crashed before its commit leaves behind.
    */
  def stagePath(marker: Path): Path = new Path(marker.getParent,
    s".${marker.getName}.stage-${java.util.UUID.randomUUID()}")

  private def claimPath(marker: Path, expect: Array[Byte]): Path = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(expect).take(16).map(b => f"$b%02x").mkString
    new Path(marker.getParent, s".${marker.getName}.claim-$digest")
  }

  /** The stage and claim files crashed writers of `marker` left. */
  def residue(fs: FileSystem, marker: Path): Seq[Path] =
    if (!fs.exists(marker.getParent)) Seq.empty
    else fs.listStatus(marker.getParent).toSeq.map(_.getPath).filter { p =>
      p.getName match {
        case StageName(owner) => owner == marker.getName
        case _ => false
      }
    }

  private def local(fs: FileSystem): Boolean = fs.getUri.getScheme == "file"

  private def nio(fs: FileSystem, p: Path): java.nio.file.Path =
    new java.io.File(fs.makeQualified(p).toUri.getPath).toPath

  /** The marker's committed bytes, or None when it does not exist. */
  def read(fs: FileSystem, marker: Path): Option[Array[Byte]] =
    if (local(fs))
      try Some(Files.readAllBytes(nio(fs, marker)))
      catch { case _: NoSuchFileException => None }
    else try {
      val in = fs.open(marker)
      try Some(in.readAllBytes()) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** The committed bytes of a marker the caller requires to exist. */
  def readCommitted(fs: FileSystem, marker: Path): Array[Byte] = {
    val bytes = read(fs, marker)
    require(bytes.isDefined, s"no committed marker at $marker")
    bytes.get
  }

  /** Write `bytes` to `p`, which must not exist yet; false when it
    * does. Missing parent directories are created.
    */
  private def writeNew(fs: FileSystem, p: Path, bytes: Array[Byte]): Boolean =
    if (local(fs)) {
      val f = nio(fs, p)
      def write(): Boolean =
        try {
          Files.write(f, bytes, StandardOpenOption.CREATE_NEW,
            StandardOpenOption.WRITE)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      try write()
      catch {
        case _: NoSuchFileException =>
          Files.createDirectories(f.getParent)
          write()
      }
    } else try {
      val out = fs.create(p, false)
      try out.write(bytes) finally out.close()
      true
    } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }

  private def replace(fs: FileSystem, src: Path, marker: Path): Unit =
    if (local(fs)) {
      Files.move(nio(fs, src), nio(fs, marker),
        StandardCopyOption.ATOMIC_MOVE); ()
    } else FileContext.getFileContext(fs.getUri, fs.getConf)
      .rename(src, marker, Options.Rename.OVERWRITE)

  private def delete(fs: FileSystem, p: Path): Unit =
    if (local(fs)) { Files.deleteIfExists(nio(fs, p)); () }
    else { fs.delete(p, false); () }

  /** Commit `bytes` as the marker's new content, LAST-WRITER-WINS. */
  def swap(fs: FileSystem, marker: Path, bytes: Array[Byte]): Unit = {
    val stage = stagePath(marker)
    writeNew(fs, stage, bytes)
    replace(fs, stage, marker)
  }

  /** PUT-IF-ABSENT: commit `bytes` unless a marker exists, else fail
    * typed — what a lock or an immutable ref needs, where of two racing
    * creators exactly one wins and the other fails loudly.
    */
  def create(fs: FileSystem, marker: Path, bytes: Array[Byte]): Unit = {
    val won =
      if (!local(fs)) writeNew(fs, marker, bytes)
      else {
        val stage = stagePath(marker)
        writeNew(fs, stage, bytes)
        try { Files.createLink(nio(fs, marker), nio(fs, stage)); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
        finally delete(fs, stage)
      }
    if (!won) throw new CasFailed(
      s"marker already committed at $marker — create-exclusive " +
        "refuses to overwrite")
  }

  /** Run `commit` holding the claim on `marker`'s `expect` bytes, with
    * `bytes` staged in the claim file; `commit` returns whether it
    * consumed the claim, which is dropped otherwise. Fails typed when
    * another writer holds the claim or the marker no longer holds
    * `expect`.
    */
  private def claimed(fs: FileSystem, marker: Path, bytes: Array[Byte],
                      expect: Array[Byte])(commit: Path => Boolean): Unit = {
    val claim = claimPath(marker, expect)
    if (!writeNew(fs, claim, bytes)) throw new CasFailed(
      s"concurrent meta write detected at $marker: another writer is " +
        "committing over the same bytes right now (or crashed doing " +
        s"so and left ${claim.getName}: delete it once no writer " +
        "runs); re-read the meta and re-run")
    var consumed = false
    try {
      if (!read(fs, marker).exists(java.util.Arrays.equals(_, expect)))
        throw new CasFailed(
          s"concurrent meta write detected at $marker: the committed " +
            "content changed since this writer read it — another " +
            "append/drop/compact committed in between; this writer's " +
            "staged state is unlisted residue (nothing was lost); " +
            "re-read the meta and re-run")
      consumed = commit(claim)
    } finally if (!consumed) delete(fs, claim)
  }

  /** COMPARE-AND-SET commit: refuse (typed, loud) unless the committed
    * marker still holds exactly `expect` — the bytes this writer read
    * when it planned its change. A compaction that read the meta,
    * spent minutes merging, and then finds an append landed in between
    * FAILS with [[CasFailed]] instead of swapping a list that delists
    * (and would then sweep away) the appended batch; two writers
    * committing from the same bytes at the same instant collide on the
    * claim, and exactly one commits.
    */
  def swap(fs: FileSystem, marker: Path, bytes: Array[Byte],
           expect: Array[Byte]): Unit =
    claimed(fs, marker, bytes, expect) { claim =>
      replace(fs, claim, marker); true
    }

  /** Delete the marker only while it still holds exactly `expect`;
    * false (nothing deleted) when it does not or another writer is
    * committing over those bytes — a lock holder releasing what may
    * since have been stolen.
    */
  def remove(fs: FileSystem, marker: Path, expect: Array[Byte]): Boolean =
    try {
      claimed(fs, marker, Array.emptyByteArray, expect) { _ =>
        delete(fs, marker); false
      }
      true
    } catch { case _: CasFailed => false }
}
