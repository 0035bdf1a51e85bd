package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The per-generation EXCLUSIVE STAGING LOCK every generation commit
  * takes ([[Generations]], at the layout's `<lockDir>/.lock-<token>`).
  * The pointer CAS makes COMMITS safe under concurrency, but two
  * writers that both planned from generation N stage into the SAME
  * `<N+1>` target — overwrite-mode staging then deletes the other
  * writer's in-flight (or just-committed) files before any CAS can
  * catch it. The commit therefore takes this lock, holds it across
  * stage + swap, and re-validates the planned-from pointer inside it.
  *
  * The lock is a [[MetaSwap]] marker holding unique owner bytes
  * (timestamp + UUID), and every transition of it is one of
  * MetaSwap's exclusive primitives:
  *
  *  - [[acquire]] is a put-if-absent ([[MetaSwap.create]]): of any
  *    number of racing writers exactly one owns the lock.
  *  - A crashed stager's lock expires after [[LeaseMs]]. A recoverer
  *    STEALS it with a compare-and-set swap from the bytes it judged
  *    expired to its own: exactly one recoverer of a given lock
  *    incarnation wins, and a recoverer whose observed incarnation was
  *    already replaced (by a faster recoverer, or released and
  *    re-taken) fails typed.
  *  - [[release]] deletes the lock only while it still holds the
  *    releaser's bytes, so a holder whose lease was stolen never
  *    deletes the new owner's lock.
  *  - Every holder re-checks ownership via [[verify]] right before
  *    committing. So even a steal that lands DURING a legitimate stage
  *    (a write that outlived the lease) converts into a TYPED refusal
  *    at the victim's commit, never a silent mutual overwrite: the
  *    victim's staged residue is unlisted, the thief's generation
  *    commits alone.
  *
  * Lease contract: size [[LeaseMs]] above the longest staging write.
  * Exceeding it no longer risks silent corruption — the over-lease
  * stager loses its commit LOUDLY if (and only if) a recoverer
  * actually stole the lock in the meantime.
  */
private[graft] object StagingLock {

  val LeaseMs = 15L * 60 * 1000L

  /** Test seam: runs after a recoverer has observed an expired lock
    * (bytes + mtime) but BEFORE its steal — the window the
    * double-steal race lives in. Specs park one recoverer here while
    * another completes the full steal, then release it to prove the
    * late recoverer loses typed. Production: no-op.
    */
  @volatile private[graft] var stealSeam: Path => Unit = _ => ()

  /** Acquire the lock at `lock` exclusively, stealing a crashed
    * holder's expired lock. Returns this acquisition's owner stamp —
    * hand it to [[verify]] before the commit the lock protects and to
    * [[release]] after. Throws [[MetaSwap.CasFailed]] (with `what`
    * naming the contended token) when another writer holds or wins
    * the lock.
    */
  def acquire(fs: FileSystem, lock: Path, what: String): Array[Byte] = {
    val owner = (s"ts=${System.currentTimeMillis()}\n" +
      s"owner=${java.util.UUID.randomUUID()}\n").getBytes("UTF-8")
    expired(fs, lock) match {
      case Some(observed) =>
        stealSeam(lock)
        try MetaSwap.swap(fs, lock, owner, observed)
        catch {
          case _: MetaSwap.CasFailed => throw new MetaSwap.CasFailed(
            s"another recoverer re-took the expired staging lock " +
              s"for $what first — nothing was staged or lost; " +
              "re-read and re-run")
        }
      case None =>
        try MetaSwap.create(fs, lock, owner)
        catch {
          case _: MetaSwap.CasFailed => throw new MetaSwap.CasFailed(
            s"another writer is STAGING $what right now — concurrent " +
              "stagers of one generation would overwrite each other's " +
              "files; re-read and re-run (a crashed stager's lock " +
              s"expires after ${LeaseMs / 60000} minutes)")
        }
    }
    owner
  }

  /** The lock's bytes if it is past its lease. Bytes first, then age:
    * a lock released and re-taken between the two reads shows the
    * fresh lock's mtime and is left alone.
    */
  private def expired(fs: FileSystem, lock: Path): Option[Array[Byte]] =
    MetaSwap.read(fs, lock).filter { _ =>
      try System.currentTimeMillis() -
        fs.getFileStatus(lock).getModificationTime > LeaseMs
      catch { case _: java.io.FileNotFoundException => false }
    }

  /** A prune's reclaim of a crashed stager's expired lock: deletes only
    * the incarnation judged expired, never a lock a recoverer re-took
    * in the meantime.
    */
  def reclaimExpired(fs: FileSystem, lock: Path): Unit =
    expired(fs, lock).foreach(MetaSwap.remove(fs, lock, _))

  /** Require the lock still holds exactly this acquisition's `owner`
    * bytes — called by the holder immediately before the commit the
    * lock protects. A missing or re-stamped lock means the lease
    * expired mid-stage and a recoverer took over: refuse TYPED with
    * nothing committed (the staged residue is unlisted; the next
    * prune reclaims it).
    */
  def verify(fs: FileSystem, lock: Path, owner: Array[Byte],
             what: String): Unit =
    if (!MetaSwap.read(fs, lock).exists(java.util.Arrays.equals(_, owner)))
      throw new MetaSwap.CasFailed(
        s"this writer's staging lock for $what was taken over " +
          s"(lease of ${LeaseMs / 60000} minutes exceeded " +
          "mid-stage, or released) — refusing to commit over the " +
          "new holder; nothing was committed, the staged residue " +
          "is unlisted; re-read and re-run")

  /** Release the lock if it still holds `owner`'s bytes; a lock a
    * recoverer stole since stays with its new owner.
    */
  def release(fs: FileSystem, lock: Path, owner: Array[Byte]): Unit = {
    MetaSwap.remove(fs, lock, owner); ()
  }
}
