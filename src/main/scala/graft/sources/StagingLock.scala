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
  * The lock is OWNED, not merely held: [[acquire]] stamps unique
  * owner bytes (timestamp + UUID) into the marker and returns them;
  * the holder hands them back to [[verify]] immediately before its
  * commit. That ownership check is what makes the crash-recovery
  * path safe:
  *
  *  - A crashed stager's lock expires after [[LeaseMs]]. A recoverer
  *    STEALS it by ATOMIC RENAME to a uniquely-named tombstone — the
  *    filesystem guarantees exactly one renamer of a given lock
  *    incarnation succeeds, so two simultaneous recoverers cannot
  *    both proceed past the steal (the r17 lease-steal race: both
  *    deleted, both created, both staged).
  *  - The winner then compares the tombstone's bytes with the bytes
  *    it OBSERVED when it judged the lock expired. A mismatch means
  *    it grabbed a FRESH lock a faster recoverer re-created in the
  *    window between observation and rename — it renames the
  *    tombstone straight back and fails typed, restoring the live
  *    owner.
  *  - After create, the acquirer re-reads the marker and requires
  *    its own bytes — and every holder re-verifies via [[verify]]
  *    right before committing. So even a steal that lands DURING a
  *    legitimate stage (a write that outlived the lease) converts
  *    into a TYPED refusal at the victim's commit, never a silent
  *    mutual overwrite: the victim's staged residue is unlisted, the
  *    thief's generation commits alone.
  *
  * Lease contract: size [[LeaseMs]] above the longest staging write.
  * Exceeding it no longer risks silent corruption — the over-lease
  * stager loses its commit LOUDLY if (and only if) a recoverer
  * actually stole the lock in the meantime.
  */
private[graft] object StagingLock {

  val LeaseMs = 15L * 60 * 1000L

  /** Test seam: runs after a recoverer has observed an expired lock
    * (bytes + mtime) but BEFORE its steal rename — the window the
    * double-steal race lives in. Specs park one recoverer here while
    * another completes the full steal + re-create, then release it
    * to prove the late recoverer loses typed. Production: no-op.
    */
  @volatile private[graft] var stealSeam: Path => Unit = _ => ()

  private def nextOf(lock: Path): Path =
    new Path(lock.getParent, lock.getName + ".next")

  /** Acquire the lock at `lock` exclusively, stealing a crashed
    * holder's expired residue first. Returns this acquisition's owner
    * stamp — hand it to [[verify]] before the commit the lock
    * protects. Throws [[MetaSwap.CasFailed]] (with `what` naming the
    * contended token) when another writer holds or wins the lock.
    */
  def acquire(fs: FileSystem, lock: Path, what: String): Array[Byte] = {
    fs.mkdirs(lock.getParent)
    val st =
      try Some(fs.getFileStatus(lock))
      catch { case _: java.io.FileNotFoundException => None }
    val expired = st.exists(s =>
      System.currentTimeMillis() - s.getModificationTime > LeaseMs)
    if (expired) MetaSwap.readIfExists(fs, lock).foreach { observed =>
      stealSeam(lock)
      // steal by ATOMIC RENAME: one winner per lock incarnation
      val tomb = new Path(lock.getParent,
        lock.getName + ".tomb-" + java.util.UUID.randomUUID().toString)
      if (fs.rename(lock, tomb)) {
        val grabbed = MetaSwap.readIfExists(fs, tomb)
        if (grabbed.exists(java.util.Arrays.equals(_, observed))) {
          // the expired incarnation we judged dead: reclaim it and
          // its crashed-create residue, then take the lock normally
          fs.delete(tomb, false)
          fs.delete(nextOf(lock), false)
          ()
        } else {
          // a LIVE lock a faster recoverer re-created between our
          // observation and our rename: put it straight back and
          // lose typed (if the restore rename fails, a third writer
          // created in the gap — drop the tombstone; that writer's
          // own post-create/pre-commit verifies arbitrate ownership)
          if (!fs.rename(tomb, lock)) fs.delete(tomb, false)
          throw new MetaSwap.CasFailed(
            s"another recoverer re-took the expired staging lock " +
              s"for $what first — nothing was staged or lost; " +
              "re-read and re-run")
        }
      }
      // rename failed: another recoverer stole this incarnation
      // first — fall through; create-exclusive below fails typed
      // against its fresh lock
    }
    val owner = (s"ts=${System.currentTimeMillis()}\n" +
      s"owner=${java.util.UUID.randomUUID()}\n").getBytes("UTF-8")
    try MetaSwap.create(fs, lock, owner)
    catch {
      case _: MetaSwap.CasFailed => throw new MetaSwap.CasFailed(
        s"another writer is STAGING $what right now — concurrent " +
          "stagers of one generation would overwrite each other's " +
          "files; re-read and re-run (a crashed stager's lock " +
          s"expires after ${LeaseMs / 60000} minutes)")
    }
    // ownership check before ANY staged byte lands: a recoverer that
    // observed the PREVIOUS incarnation may have renamed our fresh
    // lock away in the instant after our create
    verify(fs, lock, owner, what)
    owner
  }

  /** Require the lock still holds exactly this acquisition's `owner`
    * bytes — called by the holder immediately before the commit the
    * lock protects. A missing or re-stamped lock means the lease
    * expired mid-stage and a recoverer took over: refuse TYPED with
    * nothing committed (the staged residue is unlisted; the next
    * prune reclaims it).
    */
  def verify(fs: FileSystem, lock: Path, owner: Array[Byte],
             what: String): Unit = {
    val held = MetaSwap.readIfExists(fs, lock)
    if (!held.exists(java.util.Arrays.equals(_, owner)))
      throw new MetaSwap.CasFailed(
        s"this writer's staging lock for $what was taken over " +
          s"(lease of ${LeaseMs / 60000} minutes exceeded " +
          "mid-stage, or released) — refusing to commit over the " +
          "new holder; nothing was committed, the staged residue " +
          "is unlisted; re-read and re-run")
  }

  def release(fs: FileSystem, lock: Path): Unit = {
    fs.delete(lock, false)
    ()
  }
}
