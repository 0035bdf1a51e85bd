package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The PUBLIC surface of the persisted-index integrity audit
  * ([[IndexProtocol.auditIndex]]) — fsck for the three serve loops
  * built on the shared batch-directory protocol (the BM25 postings
  * index, the vector index; the MinHash dedup index keeps
  * directory-visibility and gets its own taxonomy below,
  * [[auditDedup]]/[[repairDedup]]). An operator runs
  * this after an incident — a crashed maintenance job, a filesystem
  * event, a suspicious probe failure — and gets a bounded, typed
  * report instead of paging through directory listings: every meta
  * entry, batch directory, grace marker, and the snapshot-history log
  * classified against the committed truth, with `healthy=false` rows
  * marking the states that need action (a committed batch with no
  * payload, an unlisted orphan directory, a stale marker on a
  * committed id, a lost current-gen snapshot record).
  *
  * Pure metadata cost — one `_meta` read plus three listings, bounded
  * by the batch count (which compaction bounds), never by data size:
  * the audit of a 100 TB index costs the same as that of a 100 MB
  * one. The reference has no index to audit (BigQuery owns its
  * storage, bigquery.py:105); this is the operational complement the
  * lakehouse restatement needs once the storage layout is ours.
  */
object IndexAudit {

  /** Audit the index at `path`; one row per finding:
    * (kind, name, status, healthy) — see
    * [[IndexProtocol.auditIndex]] for the status taxonomy. Row order
    * is deterministic (meta-list order, then sorted names), so the
    * report is stable across runs and engines.
    */
  def audit(spark: SparkSession, path: String,
            nowMs: Long = System.currentTimeMillis()): DataFrame = {
    val fs = graft.sources.Tables.fsFor(spark, path)
    val rows = IndexProtocol.auditIndex(fs, path, nowMs)
    import spark.implicits._
    rows.map(f => (f.kind, f.name, f.status, f.healthy))
      .toDF("kind", "name", "status", "healthy")
  }

  /** The one-line health verdict a scheduler branches on: true iff
    * the audit has no unhealthy finding.
    */
  def isHealthy(spark: SparkSession, path: String,
                nowMs: Long = System.currentTimeMillis()): Boolean =
    IndexProtocol.auditIndex(
      graft.sources.Tables.fsFor(spark, path), path, nowMs)
      .forall(_.healthy)

  // ---- the DEDUP index's fsck (directory-visibility protocol) ----
  // The MinHash dedup index (Dedup.writeDedupIndex) does not carry a
  // committed-list meta: visibility IS directory presence under
  // `batches/`, staging lives at `_staging/`, drops retire through
  // `_dropping/`, compaction tombstones superseded batches by
  // deleting their payload tables while keeping the directory (the
  // replay guard), and corpusIncrement's commit record is the
  // `accepted/` table with `_landed` as its completion marker. The
  // incident classes are the same as the meta-protocol indexes —
  // orphan staging, crashed-drop residue, lost payload, a crashed
  // landing — so the audit surface is too; only the classification
  // source differs (listings instead of a meta).

  /** Audit a [[Dedup.writeDedupIndex]] root; one
    * [[IndexProtocol.AuditFinding]] per entity, deterministic order.
    * Pure metadata cost — four listings plus one stat per batch
    * directory, bounded by batch count (which compaction bounds).
    *
    * Statuses (healthy=true unless noted):
    *  - meta/params_present — the structural `_meta` (k/rowsPerBand/
    *    maxDocFreq) is readable
    *  - meta/params_missing (UNHEALTHY) — batches exist but the
    *    params record is gone: appends and queries cannot verify
    *    they run the index's signature scheme
    *  - batch/active_ok — payload tables (bands + shingles) present
    *  - batch/tombstone — payload-free replay tombstone (the
    *    post-compaction shape; refusals still work)
    *  - batch/mid_landing (UNHEALTHY) — commit record (`accepted/`)
    *    without its `_landed` marker: a crashed
    *    [[graft.Pipeline.corpusIncrement]]; re-running the same
    *    batch resumes it (compaction refuses until then)
    *  - batch/partial_payload (UNHEALTHY) — exactly one of
    *    bands/shingles survives: impossible under the atomic publish,
    *    so it marks filesystem damage; candidate generation would
    *    silently shrink — drop and re-ingest the batch
    *  - staging/residue — a crashed stage's `_staging/<bid>`;
    *    reclaimable (the next stage of the same batch overwrites it)
    *  - dropping/residue — a crashed drop's `_dropping/<bid>`;
    *    already invisible, reclaimable
    */
  def auditDedup(spark: SparkSession, path: String)
      : Seq[IndexProtocol.AuditFinding] = {
    val fs = graft.sources.Tables.fsFor(spark, path)
    def names(sub: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$path/$sub")
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).filter(_.isDirectory)
        .map(_.getPath.getName).toSeq.sorted
    }
    val batches = names("batches")
    val metaRow =
      if (Dedup.readIndexMeta(fs, path).isDefined)
        Seq(IndexProtocol.AuditFinding("meta", "_meta",
          "params_present", true))
      else if (batches.nonEmpty)
        Seq(IndexProtocol.AuditFinding("meta", "_meta",
          "params_missing", false))
      else Seq.empty
    val batchRows = batches.map { b =>
      def has(t: String) = fs.exists(
        new org.apache.hadoop.fs.Path(s"$path/batches/$b/$t"))
      val (bands, shingles) = (has("bands"), has("shingles"))
      if (has("accepted") && !has("_landed"))
        IndexProtocol.AuditFinding("batch", b, "mid_landing", false)
      else if (bands && shingles)
        IndexProtocol.AuditFinding("batch", b, "active_ok", true)
      else if (!bands && !shingles)
        IndexProtocol.AuditFinding("batch", b, "tombstone", true)
      else
        IndexProtocol.AuditFinding("batch", b, "partial_payload", false)
    }
    val stagingRows = names("_staging").map(b =>
      IndexProtocol.AuditFinding("staging", b, "residue", true))
    val droppingRows = names("_dropping").map(b =>
      IndexProtocol.AuditFinding("dropping", b, "residue", true))
    metaRow ++ batchRows ++ stagingRows ++ droppingRows
  }

  /** [[auditDedup]] as a DataFrame (the [[audit]] shape). */
  def auditDedupDf(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    auditDedup(spark, path)
      .map(f => (f.kind, f.name, f.status, f.healthy))
      .toDF("kind", "name", "status", "healthy")
  }

  /** True iff the dedup-index audit has no unhealthy finding. */
  def isDedupHealthy(spark: SparkSession, path: String): Boolean =
    auditDedup(spark, path).forall(_.healthy)

  /** Safe remediations for the dedup index's findings — a MAINTENANCE
    * call under the single-logical-writer contract (run it in the
    * ingest scheduler's slot: with no writer in flight, staging and
    * dropping entries are by definition residue, which is what makes
    * reclaiming them safe — the ambiguity that forces the
    * meta-protocol repair to grace-schedule orphans does not arise):
    *
    *  - staging residue → verified delete (what the next stage of the
    *    same batch would do);
    *  - dropping residue → verified delete (finishing the crashed
    *    drop; the directory is already invisible);
    *  - mid_landing → REPORTED as `needs_increment_retry`: the
    *    resume path is [[graft.Pipeline.corpusIncrement]] with the
    *    same batch — repair must not guess at landing state;
    *  - partial_payload → REPORTED as
    *    `unrepairable_partial_payload`: restore the directory or
    *    [[Dedup.dropBatchFromIndex]] + re-ingest;
    *  - params_missing → REPORTED as `unrepairable_missing_params`:
    *    the k/band/cap signature cannot be reconstructed from data.
    *
    * Returns one row per action: (kind, name, action).
    */
  def repairDedup(spark: SparkSession, path: String): DataFrame = {
    val fs = graft.sources.Tables.fsFor(spark, path)
    def reclaim(kind: String, sub: String, b: String, action: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$path/$sub/$b")
      // verified (the protocol-wide discipline): silently surviving
      // residue would be re-reported forever while looking repaired
      if (fs.exists(p) && !fs.delete(p, true))
        throw new IllegalStateException(
          s"dedup-index repair cannot reclaim $p")
      Seq((kind, b, action))
    }
    val actions = auditDedup(spark, path).flatMap {
      case IndexProtocol.AuditFinding("staging", b, "residue", _) =>
        reclaim("staging", "_staging", b, "reclaimed_staging")
      case IndexProtocol.AuditFinding("dropping", b, "residue", _) =>
        reclaim("dropping", "_dropping", b, "reclaimed_dropping")
      case IndexProtocol.AuditFinding("batch", b, "mid_landing", _) =>
        Seq(("batch", b, "needs_increment_retry"))
      case IndexProtocol.AuditFinding("batch", b,
          "partial_payload", _) =>
        Seq(("batch", b, "unrepairable_partial_payload"))
      case IndexProtocol.AuditFinding("meta", m,
          "params_missing", _) =>
        Seq(("meta", m, "unrepairable_missing_params"))
      case _ => Seq.empty
    }
    import spark.implicits._
    actions.toDF("kind", "name", "action")
  }

  /** Execute the SAFE remediations for the audit's findings — the
    * P11→X2b diagnose-then-remedy pattern applied to the index
    * protocol itself. A MAINTENANCE call (the single-logical-writer
    * contract applies: run it in the ingest scheduler's slot). Every
    * action either re-establishes an invariant or starts a bounded
    * reclaim clock; nothing committed is ever touched:
    *
    *  - stale marker on a committed id → cleared (what the next
    *    sweep's committed rail would do);
    *  - dangling marker (directory already gone) → cleared;
    *  - orphan directory → scheduled for reclaim with the ORPHAN
    *    GRACE floor, never deleted now (it may be an in-flight
    *    publish — the same ambiguity argument as compaction's
    *    retire sweep);
    *  - compaction residue (reserved merged shape, unambiguous) →
    *    scheduled for immediate reclaim;
    *  - missing current-gen history record → RE-RECORDED from the
    *    committed `_meta` bytes (the one lost-record case that is
    *    recoverable, because the current meta IS that gen's bytes —
    *    `topKAt(currentGen)` serves again);
    *  - a committed batch with lost payload is NOT repairable from
    *    metadata — reported as `unrepairable_missing_payload` so the
    *    operator restores the directory or drops the batch
    *    explicitly;
    *  - finally one sweep reclaims whatever clock has already
    *    expired (railed on the re-read committed list, as always).
    *
    * Returns one row per action taken: (kind, name, action).
    */
  def repair(spark: SparkSession, path: String,
             nowMs: Long = System.currentTimeMillis()): DataFrame = {
    val fs = graft.sources.Tables.fsFor(spark, path)
    val actions = IndexProtocol.auditIndex(fs, path, nowMs).flatMap {
      case IndexProtocol.AuditFinding("marker", m,
          "stale_on_committed", _) =>
        IndexProtocol.clearPendingDelete(fs, path, m)
        Seq(("marker", m, "cleared_stale_marker"))
      case IndexProtocol.AuditFinding("marker", m, "dangling", _) =>
        IndexProtocol.clearPendingDelete(fs, path, m)
        Seq(("marker", m, "cleared_dangling_marker"))
      case IndexProtocol.AuditFinding("dir", d, "orphan", _) =>
        IndexProtocol.markPendingDelete(fs, path, d, nowMs,
          IndexProtocol.OrphanGraceMs)
        Seq(("dir", d, "scheduled_reclaim_orphan_grace"))
      case IndexProtocol.AuditFinding("dir", d,
          "compaction_residue", _) =>
        IndexProtocol.markPendingDelete(fs, path, d, nowMs, 0L)
        Seq(("dir", d, "scheduled_reclaim"))
      case IndexProtocol.AuditFinding("history", g,
          "current_missing", _) =>
        // recorded under the gen parsed from the bytes actually read
        // (rerecordCurrentGen's self-consistency contract), so a meta
        // swapped since the audit read can never get its bytes filed
        // under the stale gen and mis-serve topKAt
        IndexProtocol.rerecordCurrentGen(fs, path, g.toLong)
          .map(gen => ("history", gen.toString, "rerecorded_from_meta"))
      case IndexProtocol.AuditFinding("batch", b,
          "committed_missing_payload", _) =>
        Seq(("batch", b, "unrepairable_missing_payload"))
      case _ => Seq.empty
    }
    val swept = IndexProtocol.sweepPendingDeletes(fs, path, nowMs,
      IndexProtocol.committedFromMeta(fs, path))
      .map(b => ("dir", b, "reclaimed"))
    import spark.implicits._
    (actions ++ swept).toDF("kind", "name", "action")
  }

  // ---- the SNAPSHOT TABLE's fsck (S19 pointer protocol) ------------
  // SnapshotStore publishes immutable generation directories behind
  // one CAS'd pointer; its incident classes mirror the index family —
  // crashed-publish residue (the staged gen nothing points at), an
  // interrupted pointer swap (`.next` beside or instead of the
  // committed marker), over-retention after a crashed prune — plus
  // two states only a pointer protocol has: a pointer whose target
  // generation is GONE (the serving table is lost) and a future gen
  // the gen=current+1 rule cannot produce (tampering/FS damage).

  /** The fsck's view of `<root>/_current`: whether a crashed swap's
    * `.next` was present (recorded BEFORE the committed read heals it,
    * so the finding survives its own remediation), the pointer state
    * (Left = CORRUPT bytes, classified instead of crashed on — an fsck
    * must report the damage it exists to diagnose; Right(None) =
    * never published), and the recorded keep and grace.
    */
  private def pointerState(fs: org.apache.hadoop.fs.FileSystem,
                           root: String)
      : (Boolean, Either[Unit, Option[Long]], Option[Int], Option[Long]) = {
    import graft.sources.Generations
    val swapResidue =
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/_current.next"))
    Generations.committed(fs, Generations.pointer(root)) match {
      case None => (swapResidue, Right(None), None, None)
      case Some(raw) => Generations.parsedGen(raw) match {
        case Some(g) => (swapResidue, Right(Some(g)),
          Generations.parsedKeep(raw), Generations.parsedGrace(raw))
        case None => (swapResidue, Left(()), None, None)
      }
    }
  }

  /** Audit a [[graft.sources.SnapshotStore]] root; one
    * [[IndexProtocol.AuditFinding]] per entity, deterministic order.
    * Pure metadata cost — one pointer read + one listing.
    *
    * The retention window is read from the pointer bytes (publish
    * records `keep=` alongside `gen=` since r13), so over-retention
    * classifies with no out-of-band input; pass `keep` only to
    * OVERRIDE (audit against a different window than the last
    * publish's). A legacy gen-only pointer leaves the window unknown
    * and every superseded gen reports retained. Statuses
    * (healthy=true unless noted):
    *
    *  - pointer/swap_residue — `_current.next` present: an
    *    interrupted swap; self-healing (the crashed form completes on
    *    the next read — which THIS audit performs — and the
    *    crashed-earlier form is overwritten by the next swap), but
    *    surfaced so a persistent crash pattern shows across audits
    *  - pointer/current_ok — the committed gen's directory exists
    *  - pointer/corrupt (UNHEALTHY) — the committed pointer exists
    *    but holds no parseable `gen=` line: classification of every
    *    gen is unknowable (they report stranded), the operator
    *    rewrites the pointer — an fsck reports this damage rather
    *    than crashing on it
    *  - pointer/missing_target (UNHEALTHY) — the pointer commits a
    *    gen whose directory is GONE: the serving table is lost;
    *    restore the directory or repoint explicitly — repair never
    *    chooses to serve older data silently
    *  - pointer/lost (UNHEALTHY) — generations beyond the first exist
    *    with no pointer at all: gens are allocated current+1, so a
    *    pointer must have existed; the operator repoints explicitly
    *  - gen/serving — the pointer's target
    *  - gen/superseded_retained — a past gen inside (or without a
    *    known) retention window: the time-travel inventory
    *  - gen/over_retained — a past gen beyond `keep` and past any
    *    wall-clock grace: a crashed prune's leftover; the next
    *    publish (or [[repairSnapshots]]) reclaims it
    *  - gen/grace_retained — a past gen beyond `keep` but still
    *    inside the wall-clock grace floor the pointer records
    *    (`grace=` ms beside `keep=`, read against the gen's
    *    `_published_at` marker): the reader-contract inventory, NOT
    *    reclaimable until the floor expires
    *  - gen/publish_residue — gen current+1: a crashed or
    *    audit-failed publish; nothing ever served it and the retried
    *    publish overwrites it
    *  - gen/first_publish_residue — a sole gen 1 with no pointer:
    *    almost certainly a crashed FIRST publish (retry overwrites),
    *    but indistinguishable from a pointer lost after one publish —
    *    so repair only reports it and never deletes the one candidate
    *    copy
    *  - gen/orphan_future (UNHEALTHY) — a gen beyond current+1:
    *    impossible under the allocation rule, so it marks manual
    *    tampering or cross-table confusion; evidence, never deleted
    *  - gen/stranded — a gen under a LOST pointer: classification
    *    needs the pointer; the pointer/lost row carries the alarm and
    *    these rows are the recovery inventory an operator repoints to
    */
  def auditSnapshots(spark: SparkSession, root: String,
                     keep: Int = 0,
                     nowMs: Long = System.currentTimeMillis())
      : Seq[IndexProtocol.AuditFinding] = {
    import IndexProtocol.AuditFinding
    val fs = graft.sources.Tables.fsFor(spark, root)
    val (swapResidue, ptrState, persistedKeep, persistedGrace) =
      pointerState(fs, root)
    val cur = ptrState.toOption.flatten
    // the retention window rides the pointer bytes since r13, so the
    // audit is self-sufficient; an explicit caller `keep` overrides
    // (the planted-stale-prune gate audits a keep=3 table as keep=1),
    // and a legacy gen-only pointer leaves the window unknown — every
    // superseded gen then reports retained, the pre-r13 behavior
    val effKeep = if (keep > 0) keep else persistedKeep.getOrElse(0)
    val base = new org.apache.hadoop.fs.Path(s"$root/_snapshots")
    val gens: Seq[Long] =
      if (!fs.exists(base)) Seq.empty
      else fs.listStatus(base).toSeq
        .flatMap(_.getPath.getName.toLongOption).sorted
    val residueRow = if (swapResidue)
      Seq(AuditFinding("pointer", "_current", "swap_residue", true))
    else Seq.empty
    val corrupt = ptrState.isLeft
    val pointerRows =
      if (corrupt)
        Seq(AuditFinding("pointer", "_current", "corrupt", false))
      else cur match {
        case Some(g) =>
          if (gens.contains(g))
            Seq(AuditFinding("pointer", g.toString, "current_ok", true))
          else
            Seq(AuditFinding("pointer", g.toString, "missing_target",
              false))
        case None =>
          if (gens.isEmpty || gens == Seq(1L)) Seq.empty
          else Seq(AuditFinding("pointer", "_current", "lost", false))
      }
    // ref pins (S25): a pinned gen beyond the window is deliberate
    // retention, never a crashed prune's over_retained leftover —
    // repair must not reclaim it. Ref rows classify the markers
    // themselves; branch-copy DIRECTORIES (`r-<name>-<seq>`) classify
    // below like generations do.
    import graft.sources.Generations
    val refsParsed = Generations.rawRefs(fs, root).toSeq.sortBy(_._1)
      .map { case (n, b) => n -> Generations.parsedRef(b) }
    val pinnedGens = Generations.pinned(refsParsed.flatMap(_._2))
    val branchDirs: Seq[(String, String, Long)] =
      if (!fs.exists(base)) Seq.empty
      else fs.listStatus(base).toSeq.map(_.getPath.getName)
        .flatMap(n => Generations.parseBranchToken(n)
          .map(t => (n, t._1, t._2)))
    val branchHeads: Map[String, Long] = refsParsed.collect {
      case (n, Some(Generations.BranchRef(h, _, _))) => n -> h
    }.toMap
    val refRows = refsParsed.map {
      case (n, None) => AuditFinding("ref", n, "corrupt", false)
      case (n, Some(Generations.BranchRef(h, b, _))) =>
        if (h == 0L) {
          if (gens.contains(b)) AuditFinding("ref", n, "branch_ok",
            true)
          else AuditFinding("ref", n, "missing_target", false)
        } else if (branchDirs.exists(d => d._2 == n && d._3 == h))
          AuditFinding("ref", n, "branch_ok", true)
        else AuditFinding("ref", n, "missing_head", false)
      case (n, Some(Generations.TagRef(g, _))) =>
        if (gens.contains(g))
          AuditFinding("ref", n, "tag_ok", true)
        else AuditFinding("ref", n, "missing_target", false)
    }
    // branch copies classify like generations: the serving head, a
    // crashed/in-flight publish beyond it (the retry overwrites), or
    // a stale/dropped copy awaiting the next prune — all healthy
    // inventory, never damage
    val branchDirRows = branchDirs.sortBy(_._1).map {
      case (dirName, bn, k) => branchHeads.get(bn) match {
        case Some(h) if k == h =>
          AuditFinding("branch", dirName, "head_ok", true)
        case Some(h) if k > h =>
          AuditFinding("branch", dirName, "publish_residue", true)
        case Some(_) =>
          AuditFinding("branch", dirName, "stale_retained", true)
        case None =>
          AuditFinding("branch", dirName, "dropped_retained", true)
      }
    }
    val genRows = gens.map { g =>
      cur match {
        // a corrupt pointer makes every gen classification unknowable:
        // one of these dirs is probably the serving table, so they are
        // the stranded recovery inventory, exactly as under a lost
        // pointer — never residue
        case _ if corrupt =>
          AuditFinding("gen", g.toString, "stranded", true)
        case Some(c) if g == c =>
          AuditFinding("gen", g.toString, "serving", true)
        case Some(c) if g == c + 1L =>
          AuditFinding("gen", g.toString, "publish_residue", true)
        case Some(c) if g > c + 1L =>
          AuditFinding("gen", g.toString, "orphan_future", false)
        case Some(c) =>
          if (pinnedGens(g) && g <= c)
            AuditFinding("gen", g.toString, "ref_pinned", true)
          else if (effKeep > 0 && g <= c - effKeep) {
            // beyond the generation window — but a gen inside the
            // pointer's wall-clock grace floor is the READER
            // CONTRACT's inventory, not a crashed prune's leftover
            val inGrace = persistedGrace.exists(gr => gr > 0 &&
              graft.sources.SnapshotStore.publishedAt(fs, root, g)
                .exists(t => nowMs - t < gr))
            if (inGrace)
              AuditFinding("gen", g.toString, "grace_retained", true)
            else
              AuditFinding("gen", g.toString, "over_retained", true)
          } else
            AuditFinding("gen", g.toString, "superseded_retained", true)
        case None =>
          if (gens == Seq(1L))
            AuditFinding("gen", g.toString, "first_publish_residue",
              true)
          else AuditFinding("gen", g.toString, "stranded", true)
      }
    }
    residueRow ++ pointerRows ++ refRows ++ branchDirRows ++ genRows
  }

  /** [[auditSnapshots]] as a DataFrame (the [[audit]] shape). */
  def auditSnapshotsDf(spark: SparkSession, root: String,
                       keep: Int = 0): DataFrame = {
    import spark.implicits._
    auditSnapshots(spark, root, keep)
      .map(f => (f.kind, f.name, f.status, f.healthy))
      .toDF("kind", "name", "status", "healthy")
  }

  /** True iff the snapshot-table audit has no unhealthy finding. */
  def isSnapshotsHealthy(spark: SparkSession, root: String,
                         keep: Int = 0): Boolean =
    auditSnapshots(spark, root, keep).forall(_.healthy)

  // ---- the MANIFEST TABLE's fsck (S20 file-reuse protocol) ---------
  // ManifestStore generations are MANIFESTS (file lists) over a pool
  // of immutable write directories, so the incident classes are the
  // snapshot table's (crashed-publish residue, interrupted swap,
  // over-retention, lost/corrupt/missing pointer) PLUS the two only a
  // file-reuse protocol has: a manifest naming a file that is GONE
  // (the table it describes cannot be served in full — UNHEALTHY) and
  // pool files no manifest references (crashed-publish or
  // crashed-prune residue — reclaimable).

  /** Audit a [[graft.sources.ManifestStore]] root; one
    * [[IndexProtocol.AuditFinding]] per entity, deterministic order.
    * Metadata cost: one pointer read, one listing per tree, one
    * existence stat per RETAINED manifest entry (bounded by the file
    * count, which [[graft.sources.ManifestStore.compactSmallPartitions]]
    * bounds) — never a data read.
    *
    * Pointer statuses are [[auditSnapshots]]'s (`swap_residue`,
    * `current_ok`, `corrupt`, `missing_target` — here: the committed
    * gen's MANIFEST file is gone — and `lost`). Manifest statuses
    * reuse the gen taxonomy (`serving`, `superseded_retained`,
    * `over_retained`, `grace_retained` — beyond the window but
    * inside the pointer's wall-clock grace floor, the reader-contract
    * inventory — `publish_residue`, `first_publish_residue`,
    * `orphan_future`, `stranded`) plus `corrupt` (unparseable bytes,
    * UNHEALTHY). File-level statuses:
    *
    *  - file/manifest_missing_file (UNHEALTHY) — a manifest at or
    *    below the serving gen names a file that does not exist: that
    *    generation cannot be served in full; restore the file or
    *    republish. (A publish_residue manifest's missing files are
    *    NOT findings — a later publish's retention legitimately
    *    sweeps unreferenced files.)
    *  - writes/orphan_files — a write directory holds data files no
    *    existing manifest references: crashed-publish or
    *    crashed-prune residue; reclaimable.
    */
  def auditManifestTable(spark: SparkSession, root: String,
                         nowMs: Long = System.currentTimeMillis())
      : Seq[IndexProtocol.AuditFinding] = {
    import IndexProtocol.AuditFinding
    import graft.sources.{Generations, ManifestStore, MetaSwap}
    val fs = graft.sources.Tables.fsFor(spark, root)
    val (swapResidue, ptrState, persistedKeep, persistedGrace) =
      pointerState(fs, root)
    val cur = ptrState.toOption.flatten
    val corrupt = ptrState.isLeft
    val effKeep = persistedKeep.getOrElse(0)
    val mBase = new org.apache.hadoop.fs.Path(s"$root/_manifests")
    val gens: Seq[Long] =
      if (!fs.exists(mBase)) Seq.empty
      else fs.listStatus(mBase).toSeq
        .filterNot(_.getPath.getName.endsWith(".next"))
        .flatMap(_.getPath.getName.toLongOption).sorted
    def parsed(g: Long)
        : Option[graft.sources.ManifestStore.GenFile] =
      try Some(ManifestStore.parseGenFile(MetaSwap.readCommitted(fs,
        new org.apache.hadoop.fs.Path(s"$root/_manifests/$g"))))
      catch { case scala.util.control.NonFatal(_) => None }
    val residueRow = if (swapResidue)
      Seq(AuditFinding("pointer", "_current", "swap_residue", true))
    else Seq.empty
    val pointerRows =
      if (corrupt)
        Seq(AuditFinding("pointer", "_current", "corrupt", false))
      else cur match {
        case Some(g) =>
          if (gens.contains(g))
            Seq(AuditFinding("pointer", g.toString, "current_ok", true))
          else
            Seq(AuditFinding("pointer", g.toString, "missing_target",
              false))
        case None =>
          if (gens.isEmpty || gens == Seq(1L)) Seq.empty
          else Seq(AuditFinding("pointer", "_current", "lost", false))
      }
    // ref pins, needed BEFORE the per-gen classification: a tagged
    // generation (or a fresh branch's base) beyond the keep window is
    // "ref_pinned" — deliberate retention, NOT a crashed prune's
    // over_retained leftover (which repair would reclaim)
    val pinnedGens = Generations.pinned(Generations.refs(fs, root).values)
    val manifestRows = gens.flatMap { g =>
      val m0 = parsed(g)
      val status = cur match {
        case _ if corrupt => "stranded"
        case Some(c) if g == c => "serving"
        case Some(c) if g == c + 1L => "publish_residue"
        case Some(c) if g > c + 1L => "orphan_future"
        case Some(c) =>
          if (effKeep > 0 && g <= c - effKeep) {
            if (pinnedGens(g)) "ref_pinned"
            else {
              // inside the pointer's wall-clock grace floor = the
              // reader-contract inventory, not a crashed prune's
              // leftover (the auditSnapshots grace_retained
              // discipline)
              val inGrace = persistedGrace.exists(gr => gr > 0 &&
                m0.exists(m => nowMs - m.publishedMs < gr))
              if (inGrace) "grace_retained" else "over_retained"
            }
          } else "superseded_retained"
        case None =>
          if (gens == Seq(1L)) "first_publish_residue" else "stranded"
      }
      m0 match {
        case None =>
          // unparseable bytes: the generation's file list is
          // unknowable — damage, reported not crashed-on
          Seq(AuditFinding("manifest", g.toString, "corrupt", false))
        case Some(gfile) =>
          val base = AuditFinding("manifest", g.toString, status,
            status != "orphan_future")
          // file integrity for every gen a reader could resolve
          // (serving + retained/stranded); residue manifests'
          // missing files are expected post-retention
          val checkFiles = status == "serving" ||
            status == "superseded_retained" ||
            status == "grace_retained" || status == "ref_pinned" ||
            status == "over_retained" || status == "stranded"
          val (entries, missingGroups) =
            ManifestStore.assembleLenient(fs, root, gfile)
          // a resolvable generation whose LIST references a gone
          // group manifest cannot be served in full — the list-layer
          // twin of manifest_missing_file (residue manifests'
          // missing groups are expected post-retention)
          val groupRows =
            if (!checkFiles) Seq.empty
            else missingGroups.map(r =>
              AuditFinding("group", s"$g:${r.relPath}",
                "manifest_missing_group", false))
          val missing =
            if (!checkFiles) Seq.empty
            else entries.filterNot(e => fs.exists(
                new org.apache.hadoop.fs.Path(s"$root/${e.relPath}")))
              .map(e => AuditFinding("file", s"$g:${e.relPath}",
                "manifest_missing_file", false))
          base +: (groupRows ++ missing)
      }
    }
    // REFS (S25): tags must point at a present, parseable generation;
    // a branch's head manifest (or its base, at head 0) must be
    // servable — including every file it references, since the branch
    // is a READABLE line, not just a marker. Corrupt markers are
    // damage (the reference set becomes unknowable, which also
    // suspends prune's sweeps).
    val refsRaw = Generations.rawRefs(fs, root)
    def branchHeadParsed(name: String, h: Long)
        : Option[graft.sources.ManifestStore.GenFile] = {
      val p = new org.apache.hadoop.fs.Path(
        s"$root/_manifests/r-$name-$h")
      if (!fs.exists(p)) None
      else try Some(ManifestStore.parseGenFile(
        MetaSwap.readCommitted(fs, p)))
      catch { case scala.util.control.NonFatal(_) => None }
    }
    val refRows = refsRaw.toSeq.sortBy(_._1).flatMap {
      case (name, bytes) =>
        Generations.parsedRef(bytes) match {
          case None =>
            Seq(AuditFinding("ref", name, "corrupt", false))
          case Some(Generations.TagRef(g, _)) =>
            if (gens.contains(g) && parsed(g).isDefined)
              Seq(AuditFinding("ref", name, "tag_ok", true))
            else
              Seq(AuditFinding("ref", name, "missing_target", false))
          case Some(Generations.BranchRef(h, base, _)) =>
            val headFile =
              if (h == 0L) {
                if (gens.contains(base)) parsed(base) else None
              } else branchHeadParsed(name, h)
            headFile match {
              case None =>
                Seq(AuditFinding("ref", name,
                  if (h == 0L) "missing_target" else "missing_head",
                  false))
              case Some(gf) =>
                val (entries, missingGroups) =
                  ManifestStore.assembleLenient(fs, root, gf)
                val src = if (h == 0L) base.toString else s"r-$name-$h"
                val groupRows = missingGroups.map(r =>
                  AuditFinding("group", s"$src:${r.relPath}",
                    "manifest_missing_group", false))
                val fileRows = entries.filterNot(e => fs.exists(
                    new org.apache.hadoop.fs.Path(
                      s"$root/${e.relPath}")))
                  .map(e => AuditFinding("file", s"$src:${e.relPath}",
                    "manifest_missing_file", false))
                AuditFinding("ref", name, "branch_ok", true) +:
                  (groupRows ++ fileRows)
            }
        }
    }
    // pool files no existing manifest references (any gen — residue
    // manifests legitimately hold their staged files; branch heads
    // reference pool files too, so they join the set — a file whose
    // only reference is a living branch is NOT an orphan)
    val branchHeadEntries = refsRaw.toSeq.flatMap { case (name, b) =>
      Generations.parsedRef(b) match {
        case Some(Generations.BranchRef(h, _, _)) if h >= 1L =>
          branchHeadParsed(name, h).toSeq.flatMap(gf =>
            ManifestStore.assembleLenient(fs, root, gf)._1
              .map(_.relPath))
        case _ => Seq.empty
      }
    }
    val referenced = (gens.flatMap(g => parsed(g).toSeq
      .flatMap(gf =>
        ManifestStore.assembleLenient(fs, root, gf)._1
          .map(_.relPath))) ++ branchHeadEntries).toSet
    val wBase = new org.apache.hadoop.fs.Path(s"$root/_writes")
    // a concurrent writer stages and commits under `_writes/` while
    // this walk runs, so entries may vanish between a listing and the
    // next step: Tables.filesUnder lists a directory gone mid-walk as
    // empty
    val writeRows =
      if (!fs.exists(wBase)) Seq.empty
      else fs.listStatus(wBase).toSeq
        .sortBy(_.getPath.getName)
        .flatMap { wd =>
          wd.getPath.getName.toLongOption.toSeq.flatMap { g =>
            val it = graft.sources.Tables.filesUnder(fs, wd.getPath)
            var orphan = false
            while (it.hasNext && !orphan) {
              val f = it.next()
              val rel = s"_writes/$g/" + f.getPath.toString
                .split(s"/_writes/$g/", 2).last
              val hidden = f.getPath.getName.startsWith("_") ||
                f.getPath.getName.startsWith(".")
              if (!hidden && !referenced(rel)) orphan = true
            }
            if (orphan)
              Seq(AuditFinding("writes", g.toString, "orphan_files",
                true))
            else Seq.empty
          }
        }
    residueRow ++ pointerRows ++ manifestRows ++ refRows ++ writeRows
  }

  /** [[auditManifestTable]] as a DataFrame (the [[audit]] shape). */
  def auditManifestTableDf(spark: SparkSession,
                           root: String): DataFrame = {
    import spark.implicits._
    auditManifestTable(spark, root)
      .map(f => (f.kind, f.name, f.status, f.healthy))
      .toDF("kind", "name", "status", "healthy")
  }

  /** True iff the manifest-table audit has no unhealthy finding. */
  def isManifestTableHealthy(spark: SparkSession,
                             root: String): Boolean =
    auditManifestTable(spark, root).forall(_.healthy)

  /** Safe remediations for the manifest table's findings — the
    * [[repairSnapshots]] discipline on the file-reuse layout, under
    * the same single-promoter contract:
    *
    *  - publish_residue manifest → verified delete (the retried
    *    publish rewrites it), its now-unreferenced files swept;
    *  - over_retained manifest → verified delete (finishing the
    *    crashed prune), files swept;
    *  - orphan pool files → verified delete;
    *  - ANY unhealthy pointer finding suspends every reclaim
    *    (`preserved_recovery_candidate`) — a residue manifest under a
    *    lost serving manifest may be the only record of the table;
    *  - manifest_missing_file → `unrepairable_missing_file`: restore
    *    the file or republish — repair never serves a partial table
    *    silently;
    *  - corrupt manifest / pointer problems → reported unrepairable,
    *    mirroring [[repairSnapshots]].
    *
    * Returns one row per action: (kind, name, action).
    */
  def repairManifestTable(spark: SparkSession,
                          root: String): DataFrame = {
    import graft.sources.{ManifestStore, MetaSwap}
    val fs = graft.sources.Tables.fsFor(spark, root)
    val findings = auditManifestTable(spark, root)
    val pointerUnhealthy = findings.exists(f =>
      f.kind == "pointer" && !f.healthy)
    val corrupt = findings.exists(f =>
      f.kind == "pointer" && f.status == "corrupt")
    def verifiedDelete(p: String): Unit = {
      val hp = new org.apache.hadoop.fs.Path(p)
      if (fs.exists(hp) && !fs.delete(hp, true))
        throw new IllegalStateException(
          s"manifest-table repair cannot reclaim $hp")
    }
    val manifestActions = findings.flatMap {
      case IndexProtocol.AuditFinding("manifest", g,
          "publish_residue", _) =>
        if (pointerUnhealthy)
          Seq(("manifest", g, "preserved_recovery_candidate"))
        else {
          verifiedDelete(s"$root/_manifests/$g")
          Seq(("manifest", g, "reclaimed_residue"))
        }
      case IndexProtocol.AuditFinding("manifest", g,
          "over_retained", _) =>
        if (pointerUnhealthy)
          Seq(("manifest", g, "preserved_recovery_candidate"))
        else {
          verifiedDelete(s"$root/_manifests/$g")
          Seq(("manifest", g, "pruned_over_retained"))
        }
      case IndexProtocol.AuditFinding("manifest", g,
          "first_publish_residue", _) =>
        Seq(("manifest", g, "needs_republish_or_repoint"))
      case IndexProtocol.AuditFinding("manifest", g, "corrupt", _) =>
        Seq(("manifest", g, "unrepairable_corrupt_manifest"))
      case IndexProtocol.AuditFinding("manifest", g,
          "orphan_future", _) =>
        Seq(("manifest", g, "unrepairable_orphan_future"))
      case IndexProtocol.AuditFinding("file", n,
          "manifest_missing_file", _) =>
        Seq(("file", n, "unrepairable_missing_file"))
      case IndexProtocol.AuditFinding("group", n,
          "manifest_missing_group", _) =>
        // the list-layer twin of a missing data file: restore the
        // group manifest or republish — repair never serves a
        // partial table silently
        Seq(("group", n, "unrepairable_missing_group"))
      case IndexProtocol.AuditFinding("pointer", _, "swap_residue", _)
          if !corrupt =>
        verifiedDelete(s"$root/_current.next")
        Seq(("pointer", "_current", "reclaimed_swap_residue"))
      case IndexProtocol.AuditFinding("pointer", n, "corrupt", _) =>
        Seq(("pointer", n, "unrepairable_corrupt_pointer"))
      case IndexProtocol.AuditFinding("pointer", g,
          "missing_target", _) =>
        Seq(("pointer", g, "unrepairable_missing_current"))
      case IndexProtocol.AuditFinding("pointer", n, "lost", _) =>
        Seq(("pointer", n, "unrepairable_lost_pointer"))
      case _ => Seq.empty
    }
    // the orphan-file sweep runs AFTER the manifest reclaims above
    // (a reclaimed residue manifest's files become orphans in the
    // same repair), against the re-listed surviving manifests.
    // SUSPENDED whenever any reference set is unknowable — a corrupt
    // manifest or a missing group file means "unreferenced" cannot be
    // proven, and sweeping on a guess would delete live data (the
    // same evidence-preservation rule as an unhealthy pointer)
    val referencesIncomplete = findings.exists(f =>
      (f.kind == "manifest" && f.status == "corrupt") ||
        (f.kind == "group" && f.status == "manifest_missing_group") ||
        // an unhealthy ref (corrupt marker, missing tag target or
        // branch head) makes the ref's reference set unknowable —
        // same suspension rule
        (f.kind == "ref" && !f.healthy))
    val sweepActions =
      if (pointerUnhealthy || referencesIncomplete) findings.collect {
        case IndexProtocol.AuditFinding("writes", g,
            "orphan_files", _) =>
          ("writes", g,
            if (pointerUnhealthy) "preserved_recovery_candidate"
            else "preserved_unprovable_orphan")
      }
      else {
        val mBase = new org.apache.hadoop.fs.Path(s"$root/_manifests")
        // EVERY manifest file counts — numeric generations AND branch
        // manifests (`r-<name>-<seq>`): a pool file whose only
        // reference is a living branch is live data, and stale branch
        // manifests are prune's business (grace-aware), never
        // repair's guess
        val referenced =
          if (!fs.exists(mBase)) Set.empty[String]
          else fs.listStatus(mBase).toSeq
            .filter(st => st.isFile &&
              !st.getPath.getName.endsWith(".next"))
            .filter(st =>
              st.getPath.getName.toLongOption.isDefined ||
                graft.sources.Generations.parseBranchToken(st.getPath.getName)
                  .isDefined)
            .flatMap { st =>
              try ManifestStore.assembleLenient(fs, root,
                ManifestStore.parseGenFile(MetaSwap.readCommitted(
                  fs, st.getPath)))._1
                .map(_.relPath)
              catch { case scala.util.control.NonFatal(_) => Seq.empty }
            }.toSet
        val wBase = new org.apache.hadoop.fs.Path(s"$root/_writes")
        if (!fs.exists(wBase)) Seq.empty
        else fs.listStatus(wBase).toSeq.sortBy(_.getPath.getName)
          .flatMap { wd =>
            wd.getPath.getName.toLongOption.toSeq.flatMap { g =>
              var kept = false
              val doomed =
                scala.collection.mutable.ArrayBuffer[String]()
              val it = graft.sources.Tables.filesUnder(fs, wd.getPath)
              while (it.hasNext) {
                val f = it.next()
                val rel = s"_writes/$g/" + f.getPath.toString
                  .split(s"/_writes/$g/", 2).last
                val hidden = f.getPath.getName.startsWith("_") ||
                  f.getPath.getName.startsWith(".")
                if (referenced(rel)) kept = true
                else if (!hidden) doomed += f.getPath.toString
              }
              if (!kept && doomed.nonEmpty) {
                verifiedDelete(wd.getPath.toString)
                Seq(("writes", g.toString, "reclaimed_write_dir"))
              } else if (doomed.nonEmpty) {
                doomed.foreach(verifiedDelete)
                Seq(("writes", g.toString, "reclaimed_orphan_files"))
              } else Seq.empty
            }
          }
      }
    import spark.implicits._
    (manifestActions ++ sweepActions).toDF("kind", "name", "action")
  }

  /** Safe remediations for the snapshot table's findings — a
    * MAINTENANCE call under the single-PROMOTER contract (run it in
    * the promotion scheduler's slot: with no publish in flight, a
    * gen current+1 is by definition crashed-publish residue — the
    * same no-writer-in-flight argument as [[repairDedup]]):
    *
    *  - publish_residue → verified delete (what the retried publish's
    *    overwrite would do); under a lost pointer nothing is deleted —
    *    those gens are the recovery inventory;
    *  - ANY unhealthy pointer finding (missing_target, corrupt, lost)
    *    suspends EVERY gen reclaim: with the serving generation's
    *    directory lost or the pointer unreadable, an over-retained
    *    leftover or a crashed publish's residue may be the only
    *    surviving copy of the table — repair reports those gens as
    *    `preserved_recovery_candidate` instead of deleting them
    *    (the same evidence-preservation discipline that keeps
    *    swap_residue under a corrupt pointer and stranded gens under
    *    a lost one); reclaims resume once the pointer is current_ok;
    *  - first_publish_residue → REPORTED as
    *    `needs_republish_or_repoint`, never deleted: it is almost
    *    certainly a crashed first publish, but a pointer lost after
    *    one publish looks identical and deleting would destroy the
    *    only copy;
    *  - over_retained (requires `keep`) → verified delete (finishing
    *    the crashed prune);
    *  - swap_residue → the crashed form was healed by the audit's own
    *    committed read; a leftover `.next` beside a committed pointer
    *    is verified-deleted ("reclaimed_swap_residue") — UNLESS the
    *    committed pointer is corrupt, in which case the `.next` may
    *    hold the last good bytes and is preserved as recovery
    *    evidence;
    *  - corrupt pointer → REPORTED as
    *    `unrepairable_corrupt_pointer`: the operator rewrites the
    *    pointer to a chosen gen — repair never guesses;
    *  - missing_target → REPORTED as
    *    `unrepairable_missing_current`: restore the generation
    *    directory, or repoint explicitly — repair must never decide
    *    to serve older data;
    *  - lost pointer → REPORTED as `unrepairable_lost_pointer`: the
    *    operator repoints to a chosen surviving gen;
    *  - orphan_future → REPORTED as `unrepairable_orphan_future`:
    *    tampering evidence, never deleted.
    *
    * Returns one row per action: (kind, name, action).
    */
  def repairSnapshots(spark: SparkSession, root: String,
                      keep: Int = 0): DataFrame = {
    val fs = graft.sources.Tables.fsFor(spark, root)
    def reclaim(kind: String, name: String, p: String,
                action: String) = {
      val hp = new org.apache.hadoop.fs.Path(p)
      // verified (the protocol-wide discipline): silently surviving
      // residue would be re-reported forever while looking repaired
      if (fs.exists(hp) && !fs.delete(hp, true))
        throw new IllegalStateException(
          s"snapshot-table repair cannot reclaim $hp")
      Seq((kind, name, action))
    }
    val findings = auditSnapshots(spark, root, keep)
    val corrupt = findings.exists(f =>
      f.kind == "pointer" && f.status == "corrupt")
    // ANY unhealthy pointer (missing_target / corrupt / lost) suspends
    // gen reclaims: with the serving copy lost or unlocatable, a
    // residue or over-retained gen may be the only surviving copy —
    // preserve it as recovery inventory until the pointer is repaired
    val pointerUnhealthy = findings.exists(f =>
      f.kind == "pointer" && !f.healthy)
    def reclaimGen(g: String, action: String) =
      if (pointerUnhealthy) Seq(("gen", g, "preserved_recovery_candidate"))
      else reclaim("gen", g, s"$root/_snapshots/$g", action)
    val actions = findings.flatMap {
      case IndexProtocol.AuditFinding("gen", g, "publish_residue", _) =>
        reclaimGen(g, "reclaimed_residue")
      case IndexProtocol.AuditFinding("gen", g,
          "first_publish_residue", _) =>
        Seq(("gen", g, "needs_republish_or_repoint"))
      case IndexProtocol.AuditFinding("gen", g, "over_retained", _) =>
        reclaimGen(g, "pruned_over_retained")
      case IndexProtocol.AuditFinding("pointer", _, "swap_residue", _)
          if !corrupt =>
        // under a CORRUPT committed pointer the leftover `.next` may
        // hold the last good bytes — recovery evidence, never reclaimed
        reclaim("pointer", "_current", s"$root/_current.next",
          "reclaimed_swap_residue")
      case IndexProtocol.AuditFinding("pointer", n, "corrupt", _) =>
        Seq(("pointer", n, "unrepairable_corrupt_pointer"))
      case IndexProtocol.AuditFinding("pointer", g,
          "missing_target", _) =>
        Seq(("pointer", g, "unrepairable_missing_current"))
      case IndexProtocol.AuditFinding("pointer", n, "lost", _) =>
        Seq(("pointer", n, "unrepairable_lost_pointer"))
      case IndexProtocol.AuditFinding("gen", g, "orphan_future", _) =>
        Seq(("gen", g, "unrepairable_orphan_future"))
      case _ => Seq.empty
    }
    import spark.implicits._
    actions.toDF("kind", "name", "action")
  }
}
