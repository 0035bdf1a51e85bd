package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** The GENERATION PROTOCOL both serving table layouts share —
  * [[SnapshotStore]] (full-copy generations) and [[ManifestStore]]
  * (file-list generations) differ only in where a generation's bytes
  * live, how it stages, prunes and reads. Everything else is here,
  * written once:
  *
  *  - THE POINTER. `<root>/_current` holds `gen=<n>`, `keep=<k>`
  *    (the retention window, since r13) and `grace=<ms>` (the
  *    wall-clock floor, since r14), committed through [[MetaSwap]].
  *    The fsck parses it tolerantly ([[parsedGen]] is None on corrupt
  *    bytes); serving paths parse it strictly ([[genOf]] throws).
  *  - THE COMMIT. [[commitGeneration]] (the main pointer) and
  *    [[commitToBranch]] (a branch ref) run one sequence: take the
  *    per-token [[StagingLock]] at the layout's lock directory,
  *    re-validate the planned-from marker bytes INSIDE the lock (a
  *    winner may have committed this very generation between the
  *    plan and the lock — staging now would overwrite its files), run
  *    the layout's stage, run the test hook, verify lock ownership
  *    (a stage that outlived the lease fails typed instead of
  *    committing over the new holder), CAS the marker, prune (main
  *    commits only, after the repoint — a crash anywhere earlier
  *    leaves over-retention, never a serving gap), release.
  *  - GRACE INHERITANCE. `retainMs > 0` SETS the table's wall-clock
  *    floor (raise or lower, an explicit operator decision); the
  *    default 0 INHERITS the prior pointer's `grace=`, so a
  *    maintenance publish never prunes inside the reader window an
  *    earlier publish promised.
  *  - REFS. `_refs/<name>` markers: a TAG pins a committed
  *    generation against retention; a BRANCH is an independent line
  *    of generations (`head` = its own publish sequence, 0 while it
  *    still serves its `base`). Branch generations stage under the
  *    token `r-<name>-<seq>`, which can never collide with main's
  *    numeric allocation.
  *  - [[expire]]: the quiet-table janitor — run the layout's prune
  *    against the pointer's recorded keep/grace without publishing.
  */
private[graft] object Generations {

  /** What one table layout plugs into the protocol. `lockDir` holds
    * its staging locks (`.lock-<token>`); `noun` and `fsck` name the
    * table and its audit in messages; `retained` says whether
    * committed generation g's bytes are still present; `prune` is the
    * layout's retention (`gen`, `keep`, grace ms).
    */
  final case class Layout(lockDir: String, noun: String, fsck: String,
                          retained: (FileSystem, String, Long) => Boolean,
                          prune: (FileSystem, String, Long, Int, Long) => Unit)

  // ---- the pointer --------------------------------------------------

  def pointer(root: String): Path = new Path(s"$root/_current")

  private def parsedField(bytes: Array[Byte], key: String): Option[Long] =
    new String(bytes, "UTF-8").linesIterator
      .collectFirst { case s if s.startsWith(s"$key=") =>
        s.stripPrefix(s"$key=").trim }
      .flatMap(_.toLongOption)

  /** The committed generation, or None on CORRUPT bytes — the
    * tolerant form the fsck classifies with.
    */
  def parsedGen(bytes: Array[Byte]): Option[Long] = parsedField(bytes, "gen")

  /** The retention window the last commit recorded; None on a pre-r13
    * pointer ("window unknown").
    */
  def parsedKeep(bytes: Array[Byte]): Option[Int] =
    parsedField(bytes, "keep").map(_.toInt)

  /** The wall-clock grace floor (ms) the last commit recorded; None on
    * a pre-r14 pointer (callers treat the floor as 0).
    */
  def parsedGrace(bytes: Array[Byte]): Option[Long] =
    parsedField(bytes, "grace")

  /** The strict parse the serving paths use. */
  def genOf(bytes: Array[Byte], layout: Layout): Long =
    parsedGen(bytes).getOrElse(throw new IllegalStateException(
      s"malformed ${layout.noun} pointer: no parseable gen= line"))

  /** The generation the pointer serves, if the table was ever
    * published.
    */
  def currentGen(fs: FileSystem, root: String,
                 layout: Layout): Option[Long] =
    MetaSwap.read(fs, pointer(root)).map(genOf(_, layout))

  /** The pointer bytes a caller plans from: its own earlier read
    * `expect` (the OPTIMIZE and DML forms re-publish rows of the
    * generation they read), which must still be committed — a
    * promotion landing in between fails loudly here, before anything
    * stages — or else the bytes committed now.
    */
  def plannedFrom(fs: FileSystem, root: String,
                  expect: Option[Array[Byte]]): Option[Array[Byte]] = {
    val now = MetaSwap.read(fs, pointer(root))
    expect.foreach { exp =>
      if (!now.exists(java.util.Arrays.equals(_, exp)))
        throw new MetaSwap.CasFailed(
          s"concurrent promotion detected at $root: the serving " +
            "pointer changed since this writer read the table it " +
            "planned from — nothing was staged or lost; re-read and " +
            "re-run")
    }
    expect.orElse(now)
  }

  // ---- the commit ---------------------------------------------------

  /** One commit's held staging lock, handed to the layout's stage:
    * `gen` is the generation (or branch sequence) being committed,
    * `token` its staging name. A stage whose own step is destructive
    * re-verifies ownership first.
    */
  final class Staging private[Generations] (val gen: Long,
                                            val token: String,
                                            fs: FileSystem, lock: Path,
                                            owner: Array[Byte],
                                            what: String) {
    def verifyLock(): Unit = StagingLock.verify(fs, lock, owner, what)
  }

  private def commitLocked(fs: FileSystem, root: String,
                           layout: Layout, gen: Long, token: String,
                           marker: Path, planned: Option[Array[Byte]],
                           next: Array[Byte], hook: () => Unit,
                           onLostCas: MetaSwap.CasFailed => Throwable)
                          (stage: Staging => Unit)(after: => Unit): Unit = {
    val lock = new Path(s"$root/${layout.lockDir}/.lock-$token")
    val what = s"generation $token of $root (${layout.lockDir}/.lock-$token)"
    val owner = StagingLock.acquire(fs, lock, what)
    try {
      val unchanged = (planned, MetaSwap.read(fs, marker)) match {
        case (Some(a), Some(b)) => java.util.Arrays.equals(a, b)
        case (None, None)       => true
        case _                  => false
      }
      if (!unchanged) throw new MetaSwap.CasFailed(
        s"concurrent commit at $root (${marker.getName}) while this " +
          "writer acquired the staging lock — nothing was staged or " +
          "lost; re-read and re-run")
      stage(new Staging(gen, token, fs, lock, owner, what))
      hook()
      StagingLock.verify(fs, lock, owner, what)
      try planned match {
        case Some(expect) => MetaSwap.swap(fs, marker, next, expect)
        case None         => MetaSwap.create(fs, marker, next)
      } catch { case lost: MetaSwap.CasFailed => throw onLostCas(lost) }
      after
    } finally StagingLock.release(fs, lock, owner)
  }

  /** Commit main generation `planned`'s gen + 1 (1 on a table never
    * published): the shared sequence in this object's scaladoc, with
    * the layout's `stage` writing the generation's bytes and `hook`
    * firing between stage and repoint (the crash-injection seam).
    * `onLostCas` maps a lost final pointer CAS (a caller's rebase
    * signal, or an undo of the stage). Returns the committed gen.
    */
  def commitGeneration(fs: FileSystem, root: String, layout: Layout,
                       planned: Option[Array[Byte]], keep: Int,
                       retainMs: Long, hook: () => Unit = () => (),
                       onLostCas: MetaSwap.CasFailed => Throwable =
                         lost => lost)
                      (stage: Staging => Unit): Long = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    require(retainMs >= 0, s"retainMs must be >= 0, got $retainMs")
    val gen = planned.map(genOf(_, layout)).getOrElse(0L) + 1L
    val grace =
      if (retainMs > 0) retainMs
      else planned.flatMap(parsedGrace).getOrElse(0L)
    val next = s"gen=$gen\nkeep=$keep\ngrace=$grace\n".getBytes("UTF-8")
    commitLocked(fs, root, layout, gen, gen.toString, pointer(root),
      planned, next, hook, onLostCas)(stage)(
      layout.prune(fs, root, gen, keep, grace))
    gen
  }

  /** Commit branch `name`'s next publish: the stage writes the branch
    * generation under `r-<name>-<seq>`, and the ref marker CASes to
    * the new head. No prune — branch garbage is the next main
    * commit's business. Returns the new head sequence.
    */
  def commitToBranch(fs: FileSystem, root: String, layout: Layout,
                     name: String)
                    (stage: (BranchRef, Staging) => Unit): Long = {
    val (b, expect) = branchAt(fs, root, name, layout)
    val seq = b.head + 1L
    commitLocked(fs, root, layout, seq, branchToken(name, seq),
      refPath(root, name), Some(expect),
      serializeRef(BranchRef(seq, b.base, b.createdMs)), () => (),
      lost => lost)(stage(b, _))(())
    seq
  }

  /** Run the layout's prune NOW against the serving generation and the
    * pointer's recorded keep/grace, without publishing — prune
    * otherwise runs only inside commits, so a table that stops being
    * promoted never reclaims grace-expired generations or dropped
    * branches. A corrupt pointer is fsck territory: no-op.
    */
  def expire(fs: FileSystem, root: String, layout: Layout): Unit =
    MetaSwap.read(fs, pointer(root)).foreach { raw =>
      parsedGen(raw).foreach(g => layout.prune(fs, root, g,
        parsedKeep(raw).getOrElse(3), parsedGrace(raw).getOrElse(0L)))
    }

  // ---- refs (S25) ---------------------------------------------------

  /** A named ref, parsed from `_refs/<name>`. */
  sealed trait Ref { def createdMs: Long }

  /** An immutable pin of a committed generation. */
  final case class TagRef(gen: Long, createdMs: Long) extends Ref

  /** An independent line of generations. `head` is the branch's own
    * publish sequence (0 = no branch publishes yet — the branch serves
    * `base`); `base` is the MAIN generation it was forked from.
    */
  final case class BranchRef(head: Long, base: Long,
                             createdMs: Long) extends Ref

  def refPath(root: String, name: String): Path =
    new Path(s"$root/_refs/$name")

  def branchToken(name: String, seq: Long): String = s"r-$name-$seq"

  /** Parse `r-<name>-<seq>` (the LAST dash splits — names may carry
    * dashes). None for anything that is not a branch token.
    */
  def parseBranchToken(s: String): Option[(String, Long)] =
    if (!s.startsWith("r-")) None
    else {
      val body = s.stripPrefix("r-")
      val i = body.lastIndexOf('-')
      if (i <= 0) None
      else body.drop(i + 1).toLongOption.map(k => (body.take(i), k))
    }

  // no leading dot: that namespace is MetaSwap's stage files
  def requireRefName(name: String): Unit =
    require(name.matches("[A-Za-z0-9][A-Za-z0-9_.-]*"),
      s"ref name '$name' must match [A-Za-z0-9][A-Za-z0-9_.-]*")

  def serializeRef(r: Ref): Array[Byte] = (r match {
    case TagRef(g, c) => s"kind=tag\ngen=$g\ncreated=$c\n"
    case BranchRef(h, b, c) =>
      s"kind=branch\nhead=$h\nbase=$b\ncreated=$c\n"
  }).getBytes("UTF-8")

  /** None for corrupt bytes — the fsck classifies, never crashes. */
  def parsedRef(bytes: Array[Byte]): Option[Ref] = {
    def f(k: String) = new String(bytes, "UTF-8").linesIterator
      .collectFirst { case s if s.startsWith(s"$k=") =>
        s.stripPrefix(s"$k=").trim }
    f("kind") match {
      case Some("tag") => for {
        g <- f("gen").flatMap(_.toLongOption)
        c <- f("created").flatMap(_.toLongOption)
      } yield TagRef(g, c)
      case Some("branch") => for {
        h <- f("head").flatMap(_.toLongOption)
        b <- f("base").flatMap(_.toLongOption)
        c <- f("created").flatMap(_.toLongOption)
      } yield BranchRef(h, b, c)
      case _ => None
    }
  }

  /** (name → committed marker bytes) of every ref. A ref marker is
    * never absent mid-swap, so the listing is the full ref set; a
    * crashed writer's stage file beside one is not a ref.
    */
  def rawRefs(fs: FileSystem, root: String): Map[String, Array[Byte]] = {
    val base = new Path(s"$root/_refs")
    if (!fs.exists(base)) Map.empty
    else fs.listStatus(base).toSeq
      .filter(st => st.isFile && !MetaSwap.isStage(st.getPath.getName))
      .map(_.getPath.getName)
      .flatMap(n => MetaSwap.read(fs, refPath(root, n)).map(n -> _))
      .toMap
  }

  /** Every ref, parsed; corrupt markers are OMITTED (the fsck reports
    * them).
    */
  def refs(fs: FileSystem, root: String): Map[String, Ref] =
    rawRefs(fs, root).flatMap { case (n, b) => parsedRef(b).map(n -> _) }

  /** Every ref for a retention sweep, or None when any marker is
    * corrupt: the pin set is then unknowable and the sweep SUSPENDS
    * (over-retention is the safe failure; the fsck reports it).
    */
  def refsForPrune(fs: FileSystem, root: String): Option[Map[String, Ref]] = {
    val parsed = rawRefs(fs, root).map { case (n, b) => n -> parsedRef(b) }
    if (parsed.values.exists(_.isEmpty)) None
    else Some(parsed.map { case (n, r) => n -> r.get })
  }

  /** The generations refs pin against retention: every tag's, and a
    * fresh branch's base (head 0 still serves it).
    */
  def pinned(refs: Iterable[Ref]): Set[Long] = refs.collect {
    case TagRef(g, _) => g
    case BranchRef(0L, base, _) => base
  }.toSet

  private def refWithBytes(fs: FileSystem, root: String, name: String,
                           layout: Layout): (Ref, Array[Byte]) = {
    val bytes = MetaSwap.read(fs, refPath(root, name)).getOrElse(
      throw new graft.SnapshotUnavailable(s"no ref '$name' at $root"))
    parsedRef(bytes).getOrElse(throw new IllegalStateException(
      s"ref '$name' of $root is corrupt — run ${layout.fsck}")) -> bytes
  }

  def refAt(fs: FileSystem, root: String, name: String,
            layout: Layout): Ref =
    refWithBytes(fs, root, name, layout)._1

  /** Ref `name` resolved as a BRANCH (publish and fast-forward need
    * one — a tag is an immutable pin), with the marker bytes a CAS
    * expects.
    */
  def branchAt(fs: FileSystem, root: String, name: String,
               layout: Layout): (BranchRef, Array[Byte]) =
    refWithBytes(fs, root, name, layout) match {
      case (b: BranchRef, bytes) => (b, bytes)
      case _ => throw new IllegalStateException(
        s"ref '$name' of $root is a TAG — tags are immutable pins; " +
          "publish and fast-forward need a branch")
    }

  /** The branch a fast-forward of main (serving `mainGen`) promotes.
    * True fast-forward only unless `force`: if main advanced past the
    * branch's base, repointing would drop those promotions.
    */
  def fastForwardSource(fs: FileSystem, root: String, name: String,
                        layout: Layout, mainGen: Long,
                        force: Boolean): (BranchRef, Array[Byte]) = {
    val (b, bytes) = branchAt(fs, root, name, layout)
    if (!force && mainGen != b.base) throw new IllegalStateException(
      s"cannot fast-forward $root to branch '$name': main is at " +
        s"generation $mainGen but the branch forked from ${b.base} — " +
        "promotions landed on main since; re-branch (or force = true " +
        "to REPLACE main with the branch state)")
    (b, bytes)
  }

  /** Rebase branch `name` after a fast-forward COMMITTED main gen
    * `gen` — a lost CAS (a branch publish raced) must say the
    * promotion landed instead of implying nothing happened.
    */
  def rebaseBranch(fs: FileSystem, root: String, name: String,
                   expect: Array[Byte], rebased: BranchRef,
                   gen: Long): Unit =
    try MetaSwap.swap(fs, refPath(root, name), serializeRef(rebased), expect)
    catch {
      case _: MetaSwap.CasFailed => throw new MetaSwap.CasFailed(
        s"fast-forward of $root to branch '$name' COMMITTED (main " +
          s"now serves generation $gen), but a branch publish raced " +
          "the ref rebase — re-branch from the new main, or " +
          "fast-forward again with force = true")
    }

  /** Create ref `name` = `ref(g)` for committed, retained generation
    * `g` (default: the serving one). Refs are immutable: an existing
    * name refuses, and creation is create-EXCLUSIVE — two racing
    * creators cannot both commit: one fails typed.
    * Returns g.
    */
  def createRef(fs: FileSystem, root: String, layout: Layout,
                name: String, at: Option[Long])(ref: Long => Ref): Long = {
    requireRefName(name)
    val cur = currentGen(fs, root, layout).getOrElse(
      throw new IllegalStateException(
        s"no published ${layout.noun} at $root"))
    val g = at.getOrElse(cur)
    if (g > cur || !layout.retained(fs, root, g))
      throw new graft.SnapshotUnavailable(
        s"cannot create ref '$name' at generation $g of $root: not a " +
          "committed, retained generation")
    val p = refPath(root, name)
    if (fs.exists(p)) throw new IllegalStateException(
      s"ref '$name' already exists at $root — refs are immutable; " +
        "dropRef first to rename on purpose")
    MetaSwap.create(fs, p, serializeRef(ref(g)))
    g
  }

  /** Drop ref `name`. */
  def dropRef(fs: FileSystem, root: String, name: String): Unit = {
    fs.delete(refPath(root, name), false); ()
  }
}
