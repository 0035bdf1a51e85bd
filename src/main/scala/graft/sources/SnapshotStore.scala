package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S19 — SNAPSHOT TABLE: a parquet table published as immutable
  * generation directories behind one atomically-swapped pointer — the
  * Iceberg/Delta promotion discipline on the repo's own marker
  * protocol. The pointer, the commit sequence, refs and expire are
  * the shared [[Generations]] protocol; this object is the layout:
  * where a generation's bytes live, how it stages, prunes and reads.
  * This is the zero-downtime publish path the plain rename-swap forms
  * cannot give:
  *
  *  - [[Tables.writeAudited]]`(replace = true)` and [[Tables.compact]]
  *    both have a one-rename window where no table exists at the
  *    target — fine for a maintenance slot, an availability gap for a
  *    SERVING table a trainer or dashboard reads on its own schedule.
  *    Here a reader resolves the pointer and reads a generation
  *    directory that is never mutated: there is NO moment without a
  *    servable table, and a publish crash before the repoint changes
  *    nothing a reader can see.
  *  - Promotions become TIME-TRAVELABLE: superseded generations stay
  *    readable ([[readAt]]) until the retention window prunes them —
  *    the same bounded-snapshot contract as the index
  *    `_meta_history` (A6c), sized in GENERATIONS because promotion
  *    cadence, not wall time, is what a racing reader lags by.
  *
  * Layout: `<root>/_snapshots/<gen>/` immutable parquet directories,
  * `<root>/_current` the pointer marker, committed via the
  * [[Generations]] CAS so two racing promotions fail loudly instead
  * of silently dropping one (single-logical-promoter contract,
  * enforced the same way as the index maintenance paths). Underscore
  * prefixes keep both invisible to a naive parquet read of the root —
  * readers go through [[readCurrent]] by design.
  *
  * Crash honesty: a publish writes its generation directory FIRST
  * (invisible — nothing points at it), audits the staged bytes, then
  * repoints. A crash before the repoint leaves an orphan generation
  * dir that the NEXT publish targets and overwrites (gens are
  * current+1, so the orphan can only be the one the retry rewrites);
  * a crash after the repoint but before retention pruning leaves
  * over-retained old gens the next publish prunes. Neither state is
  * ever served. A failed AUDIT leaves the staged generation for
  * inspection and throws the typed [[graft.AuditFailed]] — the S18
  * validate-before-publish contract with the serving copy untouched.
  *
  * Carry-forward: each generation records a `_fingerprint` marker
  * (see [[fingerprint]]: schema, canonicalized optimized plan, every
  * input file's path, length and mtime, the expectation list). A
  * publish whose fingerprint equals the serving generation's copies
  * that generation's files into the next one at the file-system level
  * — no Spark job and no audit: the same plan over the same input
  * bytes under the same rules is what produced, and audited, the
  * bytes being copied. The generation still advances and the
  * commit's lock, hook, CAS and prune run as for a write. A plan the
  * fingerprint cannot see through always rewrites.
  *
  * Scale shape: the write is a normal distributed parquet write; the
  * audit is C11's one-scan aggregation over the staged bytes; a carry
  * is one copy per file of a bounded table; the repoint is one
  * small-file swap; retention is one listing bounded by `keep`.
  * Nothing here re-reads published data through Spark.
  */
object SnapshotStore {

  private def genDir(root: String, gen: Long) =
    new Path(s"$root/_snapshots/$gen")

  // staging locks are siblings of the generation directories
  // (`_snapshots/.lock-<token>`); branch publishes and the fast-forward
  // rename take the same lock for their target directory
  private val layout = Generations.Layout("_snapshots", "snapshot",
    "IndexAudit.auditSnapshots",
    (fs, root, g) => fs.exists(genDir(root, g)), prune)

  /** The committed generation the pointer serves, if the table has
    * ever been published.
    */
  def currentGen(spark: SparkSession, root: String): Option[Long] =
    Generations.currentGen(Tables.fsFor(spark, root), root, layout)

  /** Publish `df` as the table's next generation: write the new
    * snapshot directory (invisible until the repoint), BLOCK on the
    * C11 audit of the staged bytes, swap the pointer (CAS against the
    * generation this publish was planned from — a concurrent
    * promotion fails loudly), then prune generations older than
    * `keep`. Returns the committed generation.
    *
    * `keep` is the time-travel/grace window in GENERATIONS (current
    * counts as one): a reader that resolved the pointer keeps a
    * servable directory until `keep − 1` further publishes land — for
    * scheduled promotions that is hours-to-days of slack for a read
    * that takes seconds. `keep = 1` disables time travel and prunes
    * the superseded gen in the same call (still never a serving gap:
    * the pointer moved first).
    *
    * `retainMs` is the WALL-CLOCK floor beside the generation window
    * — the index protocol's grace discipline applied to prune:
    * `keep` counts PROMOTIONS, so an irregular cadence (or keep = 1)
    * can prune a generation a slow reader resolved seconds ago; with
    * `retainMs > 0` a superseded generation also survives until at
    * least that many ms after its publish (each gen records its
    * publish instant in an `_published_at` marker inside the dir —
    * invisible to parquet reads). The READER CONTRACT this buys:
    * size `retainMs` above the longest read a consumer runs against
    * a resolved generation, and no publish cadence can invalidate an
    * in-flight read. Expired grace is reclaimed by the NEXT publish's
    * prune (the pending-delete sweep pattern).
    *
    * A publish whose `_fingerprint` equals the serving generation's
    * carries that generation forward as a file copy instead of
    * writing and auditing (see the object scaladoc).
    */
  def publish(spark: SparkSession, df: DataFrame, root: String,
              expectations: Seq[graft.operators.Cleaning.Expectation] =
                Nil,
              keep: Int = 3, retainMs: Long = 0L): Long =
    publishImpl(spark, df, root, expectations, keep, () => (),
      retainMs)

  /** [[publish]] with a crash-injection hook fired between the staged
    * write+audit and the pointer swap — exists so the
    * no-serving-gap contract is TESTED, not asserted (the
    * [[graft.Pipeline.corpusIncrementWithHook]] pattern).
    */
  private[graft] def publishImpl(spark: SparkSession, df: DataFrame,
                                 root: String,
                                 expectations: Seq[graft.operators.Cleaning.Expectation],
                                 keep: Int,
                                 beforeRepoint: () => Unit,
                                 retainMs: Long = 0L,
                                 expectPointer: Option[Array[Byte]] =
                                   None): Long = {
    val fs = Tables.fsFor(spark, root)
    // a caller that PLANNED from a generation it read earlier (the
    // OPTIMIZE forms re-publish the rows of the gen they sized) passes
    // those pointer bytes: a promotion landing in between fails loudly
    // instead of being silently replaced by a republish of older rows
    val planned = Generations.plannedFrom(fs, root, expectPointer)
    val fp = fingerprint(df, expectations)
    Generations.commitGeneration(fs, root, layout, planned, keep,
      retainMs, beforeRepoint) { staging =>
      val dir = genDir(root, staging.gen)
      // the planned pointer was re-validated inside the lock, so the
      // serving generation is the one this commit supersedes
      val serving = genDir(root, staging.gen - 1L)
      val carried = fp.isDefined && staging.gen > 1L &&
        marker(fs, serving, "_fingerprint") == fp &&
        carry(fs, serving, dir, staging)
      // a write's mode=overwrite (and a carry's clear) consumes the one
      // possible residue here: a prior publish of THIS gen that crashed
      // (or failed its audit) before the repoint — nothing ever
      // pointed at it
      if (carried) stampAll(fs, dir, fp)
      else writeStamped(spark, df, dir, expectations, fp)
    }
  }

  /** The `_fingerprint` a publish of `df` under `expectations` records:
    * a SHA-256 over the frame's schema, its canonicalized optimized
    * plan (the query's shape and expressions, so a code change to the
    * build shows), the path, length and mtime of every input file, the
    * expectation list, and the Spark version, session time zone and
    * ANSI flag. None — the publish always rewrites — when the plan
    * reads anything the hash cannot see: a nondeterministic
    * expression, a user-defined function (its body is opaque to the
    * plan), a leaf that is not a plain file scan (`range`, a local
    * relation, a cached frame, a non-file source), or a file scan
    * with reader options.
    */
  private[graft] def fingerprint(df: DataFrame,
                                 expectations: Seq[graft.operators.Cleaning.Expectation])
      : Option[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      InMemoryFileIndex, LogicalRelation}
    val plan = df.queryExecution.optimizedPlan
    val nodes = plan.collectWithSubqueries { case n => n }
    val opaque = nodes.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
        .UserDefinedExpression])))
    val inputs = nodes.filter(_.children.isEmpty).map {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation if h.options.keySet
            .forall(k => k.equalsIgnoreCase("path") ||
              k.equalsIgnoreCase("paths")) =>
          h.location match {
            case i: InMemoryFileIndex => Some(i.allFiles().map(f =>
              s"${f.getPath}|${f.getLen}|${f.getModificationTime}"))
            case _ => None
          }
        case _ => None
      }
      case _ => None
    }
    if (!plan.deterministic || opaque || inputs.exists(_.isEmpty)) None
    else {
      val conf = df.sparkSession.conf
      val text = Seq(org.apache.spark.SPARK_VERSION,
        conf.get("spark.sql.session.timeZone"),
        conf.get("spark.sql.ansi.enabled"), df.schema.json,
        plan.canonicalized.treeString(true, false, Int.MaxValue, false,
          false)) ++
        inputs.flatMap(_.get).sorted ++
        expectations.map(e => s"${e.rule}|${e.column}|${e.detail}")
      val md = java.security.MessageDigest.getInstance("SHA-256")
      Some(md.digest(text.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    }
  }

  /** Carry serving generation `from` forward as `to`: a file-system
    * copy of its files (no Spark job, no audit — the publish's
    * fingerprint equals the one `from` recorded, so these bytes already
    * passed the same rules), verified by file count and lengths. False,
    * with nothing staged, when `from` holds a subdirectory (not a
    * layout this store writes), so the caller rewrites instead.
    */
  private def carry(fs: org.apache.hadoop.fs.FileSystem, from: Path,
                    to: Path, staging: Generations.Staging): Boolean = {
    val listed = fs.listStatus(from)
    if (listed.exists(_.isDirectory)) false
    else {
      val files = listed.filterNot(st =>
        Markers.contains(st.getPath.getName))
      // residue of a crashed publish of this gen: cleared first, with
      // ownership re-verified (the fastForwardBranch discipline)
      staging.verifyLock()
      if (fs.exists(to) && !fs.delete(to, true))
        throw new IllegalStateException(
          s"cannot clear staged residue at $to before carrying $from")
      fs.mkdirs(to)
      files.foreach { st =>
        org.apache.hadoop.io.IOUtils.copyBytes(fs.open(st.getPath),
          fs.create(new Path(to, st.getPath.getName), true), 1 << 16,
          true)
      }
      val want = files.map(st => st.getPath.getName -> st.getLen).toMap
      val got = fs.listStatus(to)
        .map(st => st.getPath.getName -> st.getLen).toMap
      if (got != want) throw new IllegalStateException(
        s"carry of $from to $to did not verify: expected files " +
          s"$want, found $got")
      true
    }
  }

  /** Write `df` as a generation directory, audit the staged bytes
    * (blocking), and record its publish instant — an explicit
    * `_published_at` marker (directory mtimes are not portable to
    * object stores), underscore-prefixed and invisible to readers —
    * and its `_fingerprint`, when it has one.
    */
  private def writeStamped(spark: SparkSession, df: DataFrame, dir: Path,
                           expectations: Seq[graft.operators.Cleaning.Expectation],
                           fp: Option[String]): Unit = {
    df.write.mode("overwrite").parquet(dir.toString)
    if (expectations.nonEmpty) {
      Tables.auditStaged(spark, dir.toString, expectations)
      ()
    }
    stampAll(Tables.fsFor(spark, dir.toString), dir, fp)
  }

  // the underscore markers a generation directory carries beside its
  // data files
  private val Markers = Set("_published_at", "_fingerprint")

  private def stampAll(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
                       fp: Option[String]): Unit = {
    fp.foreach(stamp(fs, dir, "_fingerprint", _))
    stamp(fs, dir)
  }

  private def stamp(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
                    marker: String = "_published_at",
                    text: String = System.currentTimeMillis().toString)
      : Unit = {
    val out = fs.create(new Path(dir, marker), true)
    try out.write(text.getBytes("UTF-8"))
    finally out.close()
  }

  /** Marker `name`'s text in `dir`, or None when absent. */
  private def marker(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
                     name: String): Option[String] = {
    val m = new Path(dir, name)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try Some(new String(in.readAllBytes(), "UTF-8").trim)
      finally in.close()
    }
  }

  /** The `_published_at` instant of generation `g`, or None for a gen
    * published before the marker existed (treated as grace-expired —
    * the pre-r14 prune behavior).
    */
  private[graft] def publishedAt(fs: org.apache.hadoop.fs.FileSystem,
                                 root: String, g: Long): Option[Long] =
    publishedAtDir(fs, genDir(root, g))

  private def publishedAtDir(fs: org.apache.hadoop.fs.FileSystem,
                             dir: Path): Option[Long] =
    marker(fs, dir, "_published_at").flatMap(_.toLongOption)

  private def prune(fs: org.apache.hadoop.fs.FileSystem, root: String,
                    gen: Long, keep: Int, retainMs: Long): Unit = {
    val base = new Path(s"$root/_snapshots")
    if (!fs.exists(base)) return
    // REFS participate: a tagged generation (and a fresh branch's
    // base) survives any window; a branch's serving head copy
    // survives; a seq BEYOND the head is an in-flight publish's
    // business. A corrupt ref marker makes the pin set unknowable:
    // SUSPEND the prune (over-retention is the safe failure; fsck
    // reports it).
    val refs = Generations.refsForPrune(fs, root).getOrElse(return)
    val pinned = Generations.pinned(refs.values)
    val now = System.currentTimeMillis()
    def verifiedDelete(p: Path): Unit =
      if (!fs.delete(p, true)) throw new IllegalStateException(
        s"cannot prune superseded snapshot $p — the pointer has " +
          "moved (the publish IS committed); remove the directory " +
          "manually or let the next publish retry")
    fs.listStatus(base).foreach { st =>
      val nm = st.getPath.getName
      nm.toLongOption match {
        case Some(g) =>
          // beyond the generation window AND past the wall-clock
          // grace floor (a marker-less legacy gen has no grace claim)
          val inGrace = retainMs > 0 && publishedAt(fs, root, g)
            .exists(t => now - t < retainMs)
          if (g <= gen - keep && !inGrace && !pinned(g))
            verifiedDelete(st.getPath)
        case None if nm.startsWith(".lock-") =>
          // a crashed stager's EXPIRED lock is residue; a live one is
          // a writer mid-staging (its own finally releases it)
          StagingLock.reclaimExpired(fs, st.getPath)
        case None => Generations.parseBranchToken(nm).foreach {
          case (bn, k) =>
            val head = refs.get(bn).collect {
              case Generations.BranchRef(h, _, _) => h
            }
            val superseded =
              fs.exists(new Path(st.getPath, "_superseded"))
            if ((head.exists(k > _) && !superseded) ||
                head.contains(k)) {
              // serving head, or an in-flight/crashed publish the
              // retry overwrites — both stay. A copy MARKED
              // superseded (a fast-forward rebased past it while an
              // in-flight reader held grace) is never in-flight:
              // it falls through to the stale path below.
            } else {
              // stale (superseded head) or dropped-branch copy:
              // wall-clock grace still covers an in-flight reader
              val inGrace = retainMs > 0 &&
                publishedAtDir(fs, st.getPath)
                  .exists(t => now - t < retainMs)
              if (!inGrace) verifiedDelete(st.getPath)
            }
        }
      }
    }
  }

  /** The serving view: resolve the pointer once, read that immutable
    * generation. Concurrent publishes never disturb this read — the
    * directory it resolved cannot change, only age out `keep − 1`
    * publishes later.
    */
  def readCurrent(spark: SparkSession, root: String): DataFrame = {
    val gen = currentGen(spark, root).getOrElse(
      throw new IllegalStateException(
        s"no published snapshot at $root — nothing has been " +
          "promoted yet (SnapshotStore.publish)"))
    Tables.readParquet(spark, genDir(root, gen).toString)
  }

  /** Time travel: read generation `gen` as it was served. Refuses
    * with the typed [[graft.SnapshotUnavailable]] when `gen` never
    * committed (a crashed publish's residue gen is NOT readable —
    * nothing ever served it) or has been pruned past the retention
    * window — the A6c refusal contract, so a caller can fall back to
    * [[readCurrent]] without message matching.
    */
  def readAt(spark: SparkSession, root: String, gen: Long): DataFrame = {
    val cur = currentGen(spark, root).getOrElse(
      throw new graft.SnapshotUnavailable(
        s"no published snapshot at $root"))
    if (gen > cur) throw new graft.SnapshotUnavailable(
      s"generation $gen of $root never committed (current is $cur) — " +
        "a crashed publish's staged directory is not a snapshot")
    val fs = Tables.fsFor(spark, root)
    if (!fs.exists(genDir(root, gen))) throw new graft.SnapshotUnavailable(
      s"generation $gen of $root aged past the retention window " +
        "(keep) — snapshots are a bounded window by design")
    Tables.readParquet(spark, genDir(root, gen).toString)
  }

  /** TIME-based travel: the newest generation whose `_published_at`
    * instant is at-or-before `tsMs` — "the table as it was served at
    * time T". Resolution is a bounded listing of the retained gens
    * plus one marker read each (metadata only). Refuses with the
    * typed [[graft.SnapshotUnavailable]] when T predates every
    * retained generation's publish (the answer aged out — the
    * [[readAt]] retention contract) or when no retained generation
    * carries a publish marker (a pre-marker legacy table cannot
    * honestly answer time queries).
    */
  def genAsOfTimestamp(spark: SparkSession, root: String,
                       tsMs: Long): Long = {
    val cur = currentGen(spark, root).getOrElse(
      throw new graft.SnapshotUnavailable(
        s"no published snapshot at $root"))
    val fs = Tables.fsFor(spark, root)
    val base = new Path(s"$root/_snapshots")
    val candidates =
      if (!fs.exists(base)) Seq.empty
      else fs.listStatus(base).toSeq
        .flatMap(_.getPath.getName.toLongOption)
        .filter(_ <= cur) // residue gens never served — not answers
        .flatMap(g => publishedAt(fs, root, g).map(g -> _))
    if (candidates.isEmpty) throw new graft.SnapshotUnavailable(
      s"no generation of $root carries a publish instant — the table " +
        "predates the _published_at marker; time travel needs at " +
        "least one marked publish")
    candidates.filter(_._2 <= tsMs)
      .sortBy(_._1).lastOption.map(_._1)
      .getOrElse(throw new graft.SnapshotUnavailable(
        s"no retained generation of $root was published at or before " +
          s"$tsMs — the state at that instant aged past the " +
          "retention window (keep/grace)"))
  }

  /** [[readAt]] addressed by TIME instead of generation. */
  def readAsOfTimestamp(spark: SparkSession, root: String,
                        tsMs: Long): DataFrame =
    readAt(spark, root, genAsOfTimestamp(spark, root, tsMs))

  /** Time-travel CDC (S12 composed over S19): the per-key
    * added/removed/changed/unchanged diff between two SERVED
    * generations of this table — "what did that promotion change"
    * as one call, answerable for any pair inside the retention
    * window because generations are immutable. Both sides inherit
    * [[readAt]]'s refusal semantics (typed
    * [[graft.SnapshotUnavailable]] for a crashed publish's residue
    * gen or one pruned past retention), and the diff itself is the
    * S12 plan: one full-outer join on the keys, null-safe struct
    * compare over the rest.
    */
  def diff(spark: SparkSession, root: String, fromGen: Long,
           toGen: Long, keys: Seq[String]): DataFrame =
    graft.operators.Incremental.snapshotDiff(
      readAt(spark, root, fromGen), readAt(spark, root, toGen), keys)

  /** RESTORE (rollback-by-republish): publish retained generation
    * `gen`'s rows as the table's NEXT generation. On this layout the
    * restore is a physical copy (generations are full copies — the
    * manifest layout's restore is the metadata-only form); history
    * is never renumbered, so time travel over the rolled-back
    * generations keeps working until retention lapses them. Refuses
    * typed when `gen` is residue or aged out.
    */
  def restore(spark: SparkSession, root: String, gen: Long,
              keep: Int = 3, retainMs: Long = 0L): Long =
    publish(spark, readAt(spark, root, gen), root, Nil, keep,
      retainMs)

  /** Explicit retention maintenance: run the prune NOW against the
    * serving generation and the pointer's recorded keep/grace, without
    * publishing — the quiet-table janitor that reclaims grace-expired
    * generations when promotions have stopped.
    */
  def expire(spark: SparkSession, root: String): Unit =
    Generations.expire(Tables.fsFor(spark, root), root, layout)

  // ---- TAGS AND BRANCHES (S25 on the snapshot table) ---------------
  // `_refs/<name>` markers ([[Generations]] owns the codec and every
  // ref operation). A TAG pins a committed generation against
  // retention. A BRANCH is the write-audit-publish workflow at
  // DIMENSION scale: [[publishToBranch]] stages a FULL COPY at
  // `_snapshots/r-<name>-<seq>` (generations here are full copies by
  // design — cheap for a bounded dim; branch a 100 TB fact on its
  // manifest form instead), auditable and readable in isolation, and
  // [[fastForwardBranch]] promotes it by RENAMING the head directory
  // to the next main generation — one filesystem metadata op, zero
  // data bytes copied.

  /** TAG `gen` (default: the serving generation) as `name`: the
    * generation directory is PINNED against retention until
    * [[dropRef]]. Tags are immutable — an existing name refuses.
    */
  def tag(spark: SparkSession, root: String, name: String,
          gen: Option[Long] = None): Long =
    Generations.createRef(Tables.fsFor(spark, root), root, layout, name,
      gen)(g => Generations.TagRef(g, System.currentTimeMillis()))

  /** Drop tag `name`; the generation it pinned rejoins the normal
    * retention window at the next publish's prune.
    */
  def dropRef(spark: SparkSession, root: String, name: String): Unit =
    Generations.dropRef(Tables.fsFor(spark, root), root, name)

  /** Every tag of the table: name → pinned generation. */
  def refs(spark: SparkSession, root: String): Map[String, Long] =
    Generations.refs(Tables.fsFor(spark, root), root).collect {
      case (n, Generations.TagRef(g, _)) => n -> g
    }

  private def branchDir(root: String, name: String, seq: Long) =
    new Path(s"$root/_snapshots/${Generations.branchToken(name, seq)}")

  private[graft] def refAt(spark: SparkSession, root: String,
                           name: String): Generations.Ref =
    Generations.refAt(Tables.fsFor(spark, root), root, name, layout)

  /** Read what ref `name` serves: a TAG's pinned generation, or a
    * BRANCH's head copy (the base generation while head = 0) —
    * [[readAt]] semantics throughout.
    */
  def readRef(spark: SparkSession, root: String, name: String): DataFrame =
    refAt(spark, root, name) match {
      case Generations.TagRef(g, _) => readAt(spark, root, g)
      case Generations.BranchRef(0L, base, _) => readAt(spark, root, base)
      case Generations.BranchRef(head, _, _) =>
        val d = branchDir(root, name, head)
        if (!Tables.fsFor(spark, root).exists(d))
          throw new graft.SnapshotUnavailable(
            s"branch '$name' of $root is missing its head copy " +
              s"${d.getName} — run IndexAudit.auditSnapshots")
        Tables.readParquet(spark, d.toString)
    }

  /** Create BRANCH `name` forked from `fromGen` (default: the
    * serving generation). Metadata-only; the base is PINNED against
    * retention while the branch sits at head 0.
    */
  def branch(spark: SparkSession, root: String, name: String,
             fromGen: Option[Long] = None): Unit = {
    Generations.createRef(Tables.fsFor(spark, root), root, layout, name,
      fromGen)(g => Generations.BranchRef(0L, g, System.currentTimeMillis()))
    ()
  }

  /** Publish `df` onto BRANCH `name`: a FULL COPY staged at
    * `_snapshots/r-<name>-<seq>` (this layout's generation shape),
    * audited blocking, then committed by a CAS of the ref marker —
    * main's readers see none of it until [[fastForwardBranch]]. Two
    * publishes racing on the same branch fail one side loudly.
    * Returns the new head sequence.
    */
  def publishToBranch(spark: SparkSession, df: DataFrame,
                      root: String, name: String,
                      expectations: Seq[graft.operators.Cleaning.Expectation] =
                        Nil): Long =
    Generations.commitToBranch(Tables.fsFor(spark, root), root, layout,
      name) { (_, staging) =>
      // overwrite consumes a crashed prior publish of THIS seq (the
      // numeric-generation residue rule)
      writeStamped(spark, df, branchDir(root, name, staging.gen),
        expectations, fingerprint(df, expectations))
    }

  /** FAST-FORWARD main to branch `name`'s head — METADATA-ONLY on
    * this layout too: the head directory is RENAMED to
    * `_snapshots/<mainGen+1>` (one filesystem metadata op — no data
    * bytes move; asserted in specs on the inner files' mtimes), the
    * pointer CASes onto it, and the ref rebases to head 0 at the new
    * base. `expectations` audit the whole head copy BEFORE the
    * rename, refusing typed with main untouched. True fast-forward
    * only unless `force`: if main advanced past the branch's base,
    * repointing would drop those promotions.
    *
    * Crash honesty: a crash between the rename and the pointer swap
    * leaves the promoted copy at `_snapshots/<mainGen+1>` with
    * nothing pointing at it and the branch ref naming a head
    * directory that no longer exists — the fsck reports both; the
    * remedy is [[restore]]-style: re-publish the residue dir's rows,
    * or rename it back. The window is one metadata op wide, the same
    * honesty class as [[MetaSwap]]'s documented rename instant.
    *
    * CONCURRENCY: this op requires a SINGLE WRITER on the table for
    * its duration. The pointer CAS catches a racing promotion that
    * COMMITS first — the fast-forward then renames the branch head
    * back and fails typed, and if that racer committed the same
    * generation number its readers fail LOUDLY on the missing
    * directory (never silently served branch rows). But a racer still
    * STAGING into `_snapshots/<mainGen+1>` when the rename lands has
    * no such guard — its in-flight tasks and this rename interleave
    * at the filesystem level. Serialize fast-forwards with publishes
    * the way any promotion pipeline already serializes its writers.
    */
  def fastForwardBranch(spark: SparkSession, root: String,
                        name: String,
                        expectations: Seq[graft.operators.Cleaning.Expectation] =
                          Nil,
                        keep: Int = 3, retainMs: Long = 0L,
                        force: Boolean = false): Long = {
    val fs = Tables.fsFor(spark, root)
    val prior = MetaSwap.read(fs, Generations.pointer(root))
    val mainGen = prior.map(Generations.genOf(_, layout)).getOrElse(
      throw new IllegalStateException(s"no published snapshot at $root"))
    val (b, refBytes) =
      Generations.fastForwardSource(fs, root, name, layout, mainGen, force)
    if (b.head == 0L) throw new IllegalStateException(
      s"branch '$name' of $root has no publishes to fast-forward " +
        "(head = 0 — it still serves its base)")
    val headDir = branchDir(root, name, b.head)
    if (!fs.exists(headDir)) throw new graft.SnapshotUnavailable(
      s"branch '$name' of $root is missing its head copy " +
        s"${headDir.getName} — run IndexAudit.auditSnapshots")
    if (expectations.nonEmpty) {
      val report = graft.operators.Cleaning.validateExpectations(
        Tables.readParquet(spark, headDir.toString), expectations)
      val failed = report.collect().filter(!_.getBoolean(5))
      if (failed.nonEmpty) throw new graft.AuditFailed(
        s"audit failed for branch '$name' of $root: " +
          failed.map(r => s"${r.getString(0)}/${r.getString(1)}=" +
            s"${r.getLong(4)} violations").mkString(", ") +
          "; main untouched, branch left for inspection")
    }
    val target = genDir(root, mainGen + 1L)
    // a racing promotion that committed between the re-check inside
    // the lock and the swap: UNDO the rename so the branch head is
    // back in place and nothing of the branch serves under the racer's
    // generation — if the racer claimed this same gen number, its
    // readers now fail LOUDLY on the missing directory (strictly
    // better than silently serving branch rows); its data bytes were a
    // staged copy this call consumed, which is the single-writer
    // violation the scaladoc names
    def renameBack(lost: MetaSwap.CasFailed): Throwable =
      if (fs.exists(target) && !fs.rename(target, headDir))
        new IllegalStateException(
          s"fast-forward of $root to branch '$name' lost the " +
            s"pointer race AND could not restore the branch head " +
            s"($target -> $headDir failed) — the promoted copy is " +
            "a residue at the target; rename it back manually or " +
            "run IndexAudit.auditSnapshots", lost)
      else new MetaSwap.CasFailed(
        s"concurrent promotion committed at $root while the " +
          s"fast-forward of branch '$name' ran — nothing was " +
          "promoted, the branch head is restored; re-read and " +
          "re-run (single-writer contract: see fastForwardBranch)")
    val gen = Generations.commitGeneration(fs, root, layout, prior, keep,
      retainMs, onLostCas = renameBack) { staging =>
      // the metadata-only promotion: ONE rename, zero data bytes —
      // ownership re-verified first: the delete below must never
      // consume a lock-stealing stager's in-flight directory
      staging.verifyLock()
      fs.delete(target, true) // a crashed publish's residue at cur+1
      if (!fs.rename(headDir, target)) throw new IllegalStateException(
        s"cannot promote branch '$name' of $root: rename " +
          s"$headDir -> $target failed")
      // refresh the publish instant: the PROMOTION is the served event
      stamp(fs, target)
    }
    Generations.rebaseBranch(fs, root, name, refBytes,
      Generations.BranchRef(0L, gen, b.createdMs), gen)
    // the SUPERSEDED branch copies (seq < the promoted head): after
    // the rebase to head 0 they would read as in-flight publishes to
    // prune's `k > head` rule and be retained forever — the commit's
    // prune reclaimed every one past the wall-clock grace; mark the
    // ones an in-flight reader may still hold so a LATER prune can
    // reclaim them once grace lapses. Seqs ABOVE the old head really
    // are someone's in-flight publish and stay.
    (1L until b.head).map(branchDir(root, name, _)).filter(fs.exists)
      .foreach(stamp(fs, _, "_superseded"))
    gen
  }

  private def servingPointer(spark: SparkSession, root: String): Array[Byte] =
    MetaSwap.read(Tables.fsFor(spark, root), Generations.pointer(root))
      .getOrElse(throw new IllegalStateException(
        s"no published snapshot at $root — nothing has been " +
          "promoted yet (SnapshotStore.publish)"))

  /** Zero-downtime OPTIMIZE: republish the CURRENT generation's rows
    * compacted to ≈`targetRowsPerFile`-sized files as a fresh
    * generation and repoint. Readers never see a gap (the
    * [[Tables.compact]] rename window does not exist here — the old
    * generation keeps serving until the pointer moves) and the
    * superseded layout ages out under the normal retention window.
    * Returns the file count of the compacted generation.
    */
  def compactCurrent(spark: SparkSession, root: String,
                     targetRowsPerFile: Long, keep: Int = 3,
                     retainMs: Long = 0L): Int = {
    require(targetRowsPerFile > 0)
    val raw = servingPointer(spark, root)
    val df = Tables.readParquet(spark,
      genDir(root, Generations.genOf(raw, layout)).toString)
    val n = df.count()
    val files = math.max(1L,
      (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    // CAS against the generation THIS sizing read — a promotion
    // landing mid-compact must fail loudly, not be replaced by a
    // republish of the older rows
    publishImpl(spark, df.repartition(files), root, Nil, keep,
      () => (), retainMs, expectPointer = Some(raw))
    files
  }

  /** [[compactCurrent]] sized by BYTES from the current generation's
    * file LISTING instead of a row count — the form that matters at
    * scale: the row-count form reads the whole generation TWICE (one
    * count scan + the rewrite), while the listing is pure metadata,
    * so this halves the zero-downtime OPTIMIZE cost of a large
    * table. `targetBytesPerFile` is the INPUT bytes per output file;
    * same pointer, retention, and crash contract as [[publish]].
    */
  def compactCurrentBytes(spark: SparkSession, root: String,
                          targetBytesPerFile: Long,
                          keep: Int = 3, retainMs: Long = 0L): Int = {
    require(targetBytesPerFile > 0)
    val raw = servingPointer(spark, root)
    val gen = Generations.genOf(raw, layout)
    // sidecar-aware like Tables.compactBytes: a stats index or other
    // underscore tree inside the generation must not inflate sizing
    val total = Tables.tableDataBytes(spark, genDir(root, gen).toString)
    val files = math.max(1L,
      (total + targetBytesPerFile - 1) / targetBytesPerFile).toInt
    // CAS against the generation THIS sizing read (see compactCurrent)
    publishImpl(spark,
      Tables.readParquet(spark, genDir(root, gen).toString)
        .repartition(files),
      root, Nil, keep, () => (), retainMs, expectPointer = Some(raw))
    files
  }
}
