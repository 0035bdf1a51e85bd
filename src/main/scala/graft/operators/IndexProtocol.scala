package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

import graft.sources.MetaSwap

/** The SHARED protocol of the persisted batch-list indexes — the BM25
  * postings index ([[Bm25]]) and the vector index ([[VectorIndex]]).
  * One implementation so the two cannot drift (the r9 lesson: the
  * merged-id derivation was fixed for BM25 and the vector index kept
  * the condemned content-derived form for a round).
  *
  * A batch-list index is a root holding `batches/<bid>/` payload
  * directories and one `_meta` marker: the layout's head fields, then
  * `batches=` (the committed, served list), `retired=` (ids compacted
  * or retracted away, kept only to refuse replay) and `gen=` (the
  * swap fence). [[BatchList]] owns every sequence over that marker;
  * a layout supplies only its head fields ([[BatchList.head]] /
  * [[BatchList.fromKv]]), how a batch's payload is staged (a closure
  * per call) and its serve. The sequences:
  *
  *  - **Meta**: one codec and parser shared by the live read and the
  *    as-of-gen read; the heal-then-read, the compare-and-set swap
  *    (gen bump, then the `_meta_history` record) and the gen-0 write.
  *  - **Publish** ([[publishStaged]]): verified staging wipe, verified
  *    residue reclaim, stage, atomic rename — every append, retraction
  *    rewrite and compaction of both indexes, and the dedup index's
  *    retraction rewrite.
  *  - **Append**: id validation, the committed/retired replay refusal,
  *    pending-marker clears around publish and swap.
  *  - **Delist**: swap, reset the grace clock of each delisted id,
  *    sweep railed on the re-read committed list — drops and
  *    retractions.
  *  - **Compaction**: preflight audit, stale-marker clear with
  *    restore-on-CasFailed, the single-batch CAS no-op, the merged-id
  *    squat refusals, publish, swap, retire sweep.
  *  - **As-of-gen read**: the history record plus the
  *    reclaimed-batch check, refusing with [[graft.SnapshotUnavailable]].
  *
  * The object-level contracts they are built from:
  *
  *  - **Merged-batch ids** ([[mergedId]]): `"m" + 16 hex` derived from
  *    the SORTED committed batch list. Deterministic (crash re-runs
  *    recompute the same id, residue is reclaimed) and DISJOINT from
  *    every other id space: content-derived append ids are pure hex
  *    (never 'm'-prefixed, [[Dedup.batchId]]), retraction rewrites are
  *    'r'-prefixed ([[rewriteId]]), and user-supplied ids are refused
  *    at append time if they match the reserved shape
  *    ([[validateAppendId]]). A collision between a merged id and a
  *    committed batch therefore cannot arise on an index maintained by
  *    this code — and compaction still guards it explicitly for
  *    indexes built before the shape was reserved.
  *
  *  - **Append-id validation** ([[validateAppendId]]): path-safety
  *    (the id becomes a directory name and a comma-separated meta
  *    entry) plus the reserved-shape refusal above.
  *
  *  - **Grace-period deletes** ([[markPendingDelete]] /
  *    [[sweepPendingDeletes]]): drop/compact delist a batch in the
  *    meta swap (probes that read the meta afterwards never see it)
  *    but may need to keep the PHYSICAL directory briefly — an
  *    in-flight probe that path-resolved the batch under the pre-drop
  *    snapshot reads files, not metas, and a same-instant delete fails
  *    it loudly (fail-closed, but a retry a deployment may not want to
  *    pay). With `retainMs > 0` the directory stays in place,
  *    invisible, recorded under `_pending_delete/<bid>`; the next
  *    maintenance call's sweep deletes directories whose grace has
  *    expired. `retainMs = 0` (the default everywhere) deletes in the
  *    same call — the pre-grace behavior, bit-identical end state.
  *    The marker stores the absolute retain DEADLINE (delist time +
  *    retainMs), not the delist time: the grace a drop promised is
  *    honored by EVERY later sweep regardless of the sweeping call's
  *    own `retainMs` (a routine `compact(retainMs = 0)` cannot cut
  *    short a `dropBatch(retainMs = 1h)`'s window). An existing
  *    readable marker is never overwritten — the grace clock starts
  *    at the FIRST delisting and re-marking by later maintenance
  *    calls cannot reset it, so a maintenance cadence shorter than
  *    the window still reclaims on schedule. A re-publish of a
  *    pending id (re-append after a drop) clears the marker FIRST
  *    ([[clearPendingDelete]] from the publish paths), so a stale
  *    sweep can never delete a live re-ingested batch.
  */
private[graft] object IndexProtocol {

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass)

  /** How many times [[clearStaleMarkers]] re-reads a transiently
    * unreadable marker before falling back to the blind clear. Each
    * retry is one cheap metadata read; recovering the TRUE deadline
    * beats the orphan-floor fallback (which can truncate a racing
    * drop's much longer promised window), so a few extra reads on the
    * already-failing path are well spent.
    */
  val MarkerReadRetries: Int = 3

  /** Deterministic merged-batch id from the sorted committed list:
    * `"m" + first 8 bytes of sha256`, a 17-char token whose shape is
    * reserved for compaction (see [[validateAppendId]]).
    */
  def mergedId(committed: Seq[String]): String =
    "m" + hex16(committed.sorted.mkString(","))

  /** Deterministic retraction-rewrite id of `batch` with `keys`
    * removed: `"r" + first 8 bytes of sha256(batch:sorted keys)`.
    * Re-running the same retraction after a crash re-stages the same
    * directory; the "r" prefix keeps it disjoint from content-derived
    * (bare hex) and merged ("m" + hex) ids. Shared by the BM25, vector
    * and dedup index retractions.
    */
  def rewriteId(batch: String, keys: Seq[String]): String =
    "r" + hex16(batch + ":" + keys.sorted.mkString(","))

  private def hex16(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  private val MergedShape = "m[0-9a-f]{16}"

  /** Is `bid` in the reserved merged-id derivation space? Appends
    * refuse this shape, so an unlisted directory carrying it can only
    * be a failed compaction's residue — never an in-flight append's
    * publish — and is safe to reclaim without the orphan grace.
    */
  def isMergedShape(bid: String): Boolean = bid.matches(MergedShape)

  /** Minimum grace for an UNLISTED append-shaped directory found by a
    * maintenance sweep. Such a directory is ambiguous: crash residue
    * from a publish whose meta swap never ran — or an IN-FLIGHT
    * append that published (atomic rename done) and is about to CAS
    * its meta swap. Reclaiming it immediately would delete the
    * in-flight batch's payload while its commit still succeeds (the
    * sweep never touches `_meta`, so the append's CAS expectation
    * stays satisfied) — a committed, payload-less batch. The floor
    * buys the publish→commit window (driver-side milliseconds) with
    * minutes of delayed residue reclaim; true residue is also
    * reclaimed sooner by any re-publish of the same content. Dirs on
    * the pre-swap committed list (delisted by the sweeping call's own
    * swap), on the current retired list, or in the reserved merged
    * shape are NOT ambiguous and reclaim at the caller's retainMs.
    */
  val OrphanGraceMs: Long = 15L * 60 * 1000

  /** Pre-r11 markers stored the DELIST TIME (the window length lived
    * only in the sweeping call's argument); current markers store the
    * absolute deadline under a `deadline=` tag. A legacy bare-number
    * marker maps to delist time + this constant — conservative in the
    * direction that matters: never cut a promised window short
    * (reading a delist time AS a deadline would expire every legacy
    * grace instantly), at worst retain residue one extra day. A brief
    * intermediate format wrote bare ABSOLUTE DEADLINES; those are
    * indistinguishable from bare delist times and also get the +24h —
    * still the conservative direction (delayed reclaim of delisted
    * payload, bounded by a day, never a truncated promise).
    */
  val LegacyGraceMs: Long = 24L * 3600 * 1000

  /** An append-time batch id must be a path-safe token (it becomes a
    * directory name and a comma-separated meta-list entry) and must
    * not squat on the reserved merged-id shape — a user id of the
    * form `m + 16 hex` could collide with a later compaction's derived id,
    * and the compaction's rebuild would destroy the committed batch's
    * payload while the meta still listed it.
    */
  def validateAppendId(bid: String, index: String): Unit = {
    require(bid.matches("[A-Za-z0-9._-]+"),
      s"batch id '$bid' must be a path-safe token " +
        "([A-Za-z0-9._-] only)")
    if (bid.matches(MergedShape)) throw new graft.ReservedIdRefused(
      s"$index append refused: batch id '$bid' matches the RESERVED " +
        "merged-batch shape (m + 16 hex) — compaction derives its ids " +
        "in that space, and a collision would let a compaction " +
        "destroy this batch's payload; pick any other token")
  }

  private def pendingDir(root: String) = new Path(s"$root/_pending_delete")

  private def pendingMarker(root: String, bid: String) =
    new Path(s"$root/_pending_delete/$bid")

  /** The readable states of a pending-delete marker. The split that
    * matters is CORRUPT vs UNREADABLE: a marker whose bytes were read
    * but don't parse is a damaged record of a batch that is delisted
    * either way — fail toward reclaiming (treat as expired) — while a
    * TRANSIENT read failure (an IOException from a flaky remote FS)
    * says nothing about the marker's content, and acting on it as if
    * expired would cut a promised grace window short on an FS hiccup.
    * Unreadable markers are skipped this pass and retried by the next
    * maintenance call.
    */
  private sealed trait MarkerState
  private case object Absent extends MarkerState
  private final case class Deadline(ms: Long) extends MarkerState
  private case object Corrupt extends MarkerState
  private case object Unreadable extends MarkerState

  /** Record that `batches/<bid>` was delisted and awaits physical
    * deletion once `nowMs + retainMs` passes. The marker persists the
    * absolute DEADLINE, so every later sweep honors the grace this
    * delisting promised, whatever `retainMs` the sweeping call was
    * given. An existing READABLE marker wins (first delisting starts
    * the clock; re-marking by later maintenance calls must not reset
    * it or a cadence shorter than the window retains forever); a
    * corrupt one is replaced — a fresh deadline for a batch that is
    * delisted either way. A TRANSIENTLY unreadable marker also wins:
    * its clock may be running fine, and overwriting on an FS hiccup
    * would reset a promised window.
    */
  def markPendingDelete(fs: FileSystem, root: String, bid: String,
                        nowMs: Long, retainMs: Long): Unit = {
    val p = pendingMarker(root, bid)
    readMarker(fs, p) match {
      case Deadline(_) | Unreadable => ()
      case Absent | Corrupt =>
        fs.mkdirs(p.getParent)
        val out = fs.create(p, true)
        try out.write(s"deadline=${nowMs + retainMs}".getBytes("UTF-8"))
        finally out.close()
    }
  }

  /** The marker's persisted state. `deadline=<ms>` is the current
    * tagged format; a legacy bare number is a pre-deadline marker
    * holding the DELIST time and maps to delist + [[LegacyGraceMs]]
    * (see there for the direction argument). Parse failures are
    * [[Corrupt]]; an IOException on open/read (the file EXISTS but
    * can't be read right now) is [[Unreadable]] — the two must not
    * be conflated (see [[MarkerState]]). The existence CHECK itself
    * sits OUTSIDE the catch: an exists() that throws says nothing
    * about whether a marker is there at all, and mapping it to
    * Unreadable would turn [[markPendingDelete]]'s "an existing
    * marker's clock may be running — don't reset it" skip into a
    * silent no-op on a batch that has NO marker (a grace promise
    * silently never persisted); let it propagate and fail the
    * maintenance call loudly instead.
    */
  private def readMarker(fs: FileSystem, p: Path): MarkerState =
    if (!fs.exists(p)) Absent
    else try {
      val in = fs.open(p)
      val s =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      try {
        if (s.startsWith("deadline="))
          Deadline(s.stripPrefix("deadline=").toLong)
        else Deadline(s.toLong + LegacyGraceMs)
      } catch { case _: NumberFormatException => Corrupt }
    } catch {
      case _: java.io.FileNotFoundException => Absent
      case _: java.io.IOException => Unreadable
    }

  /** The marker's deadline by batch id — what compaction's merged-id
    * squat guard consults so an EXPIRED or corrupt marker reclaims
    * instead of wedging every future compaction. A TRANSIENTLY
    * unreadable marker maps to a far-future deadline: the guard
    * refuses the compaction (retry when the FS recovers) rather than
    * rebuild over a window it could not read.
    */
  def pendingDeadline(fs: FileSystem, root: String,
                      bid: String): Option[Long] =
    readMarker(fs, pendingMarker(root, bid)) match {
      case Deadline(ms) => Some(ms)
      case Unreadable   => Some(Long.MaxValue)
      case Absent | Corrupt => None
    }

  /** Is `bid` recorded as awaiting a grace-period delete? Compaction
    * refuses to rebuild over a pending merged-id directory (a
    * pre-reservation squatter still inside its grace window) instead
    * of silently cutting the window short.
    */
  def hasPendingDelete(fs: FileSystem, root: String,
                       bid: String): Boolean =
    fs.exists(pendingMarker(root, bid))

  /** Forget a pending delete — called by every publish path BEFORE it
    * (re)stages a batch id, so a marker left by an earlier drop can
    * never reap the re-ingested batch. The delete is VERIFIED: a
    * silent false would leave the very marker callers assume gone —
    * on a publish path the stale clock could later reap the
    * re-ingested batch, and on a maintenance path it would truncate
    * the batch's eventual retirement window.
    */
  def clearPendingDelete(fs: FileSystem, root: String,
                         bid: String): Unit = {
    val p = pendingMarker(root, bid)
    if (fs.exists(p) && !fs.delete(p, false))
      throw new IllegalStateException(
        s"cannot clear pending-delete marker $p — a silently " +
          "surviving marker's stale clock would cut a later grace " +
          "window short (or reap a re-ingested batch)")
  }

  /** Delist `bid` NOW: the caller's own meta swap just removed it
    * from the committed list, so this moment IS the batch's delist
    * event and any surviving marker is a stale publish-race artifact
    * — clear it, then start the window the caller promises. One
    * implementation for both indexes' drop paths (the r9 drift
    * lesson): the clear-then-mark order is load-bearing, because
    * [[markPendingDelete]] is first-marker-wins.
    */
  def resetPendingDelete(fs: FileSystem, root: String, bid: String,
                         nowMs: Long, retainMs: Long): Unit = {
    clearPendingDelete(fs, root, bid)
    markPendingDelete(fs, root, bid, nowMs, retainMs)
  }

  /** Clear stale markers off every COMMITTED batch — legitimate
    * markers exist only for delisted ids, so a marker on a committed
    * one can only be a swept-over publish-race artifact (a
    * maintenance sweep orphan-marked the batch between its publish
    * and its CAS). Compaction calls this at entry: without it, a
    * stale pre-delist marker could survive a crash-recovery path
    * into the batch's eventual retirement and truncate the grace
    * window promised there (first-marker-wins would keep the stale
    * clock). The committed list is RE-READ from the meta immediately
    * before clearing (not taken from the caller's earlier snapshot):
    * a concurrent dropBatch that delisted one of the caller's
    * batches and wrote its grace marker since the caller's read
    * would otherwise have that legitimate marker erased here — while
    * the caller's own CAS swap, which would have caught the race,
    * only fails LATER. `candidates` bounds the clear to ids the
    * caller believes committed; the re-read intersection keeps it
    * honest. Returns the `(bid, deadline)` pairs actually cleared so
    * the caller can RESTORE them if its own CAS later fails — the
    * re-read narrows the erase-a-concurrent-drop's-marker race to
    * microseconds but cannot close it; restore-on-CasFailed does
    * ([[restorePendingDeletes]]).
    */
  def clearStaleMarkers(fs: FileSystem, root: String,
                        candidates: Seq[String]): Seq[(String, Long)] = {
    val current = committedFromMeta(fs, root)
    candidates.filter(current).flatMap { bid =>
      readMarker(fs, pendingMarker(root, bid)) match {
        case Deadline(ms) =>
          clearPendingDelete(fs, root, bid)
          Seq(bid -> ms)
        // a marker on a COMMITTED id is stale whatever its bytes say,
        // so Corrupt and even transiently Unreadable markers still
        // CLEAR (the pre-r12 unconditional behavior — skipping on a
        // read hiccup would let the stale clock survive into the
        // batch's retirement and truncate the promised window). A
        // corrupt marker contributes nothing restorable (its clock is
        // already defined as expired), but an UNREADABLE one might
        // have been a racing drop's fresh window — record it with
        // deadline 0 so restore-on-CasFailed re-marks it at the
        // orphan-grace floor instead of losing it entirely
        case Corrupt =>
          clearPendingDelete(fs, root, bid)
          Seq.empty
        case Unreadable =>
          // re-read (up to MarkerReadRetries) before the blind clear:
          // a one-off hiccup usually recovers the true deadline, and
          // restoring the real value beats the orphan-floor fallback
          // (which would truncate a racing drop's longer promised
          // window). Exhausting the retries is LOGGED with the 0L
          // sentinel so a truncated window is diagnosable after the
          // fact — and if the caller dies between this clear and its
          // CAS (no restore runs), the unmarked delisted dir is
          // re-marked at the orphan floor by later maintenance.
          val recovered = (1 to MarkerReadRetries).iterator
            .map(_ => readMarker(fs, pendingMarker(root, bid)))
            .collectFirst {
              case s @ Deadline(_) => s
              case Absent          => Absent
            }
          recovered match {
            case Some(Deadline(ms)) =>
              clearPendingDelete(fs, root, bid)
              Seq(bid -> ms)
            case Some(_) => Seq.empty // Absent: nothing to clear
            case None =>
              log.warn(
                s"clearStaleMarkers: marker for committed batch " +
                  s"'$bid' at $root stayed unreadable through " +
                  s"$MarkerReadRetries re-reads — clearing blind and " +
                  "recording deadline 0; a CAS-failure restore will " +
                  "re-mark it at the orphan-grace floor, which may " +
                  "truncate a longer promised retain window")
              clearPendingDelete(fs, root, bid)
              Seq(bid -> 0L)
          }
        case Absent => Seq.empty
      }
    }
  }

  /** Re-persist markers [[clearStaleMarkers]] erased, after the
    * caller's CAS swap FAILED — the erased marker may have belonged
    * to a concurrent drop that won the race, and its promised window
    * must survive the losing compaction. First-marker-wins: if the
    * drop has already re-marked the batch, that fresher marker stays.
    * The restored deadline is FLOORED at now + [[OrphanGraceMs]]: the
    * captured deadline may be a stale EXPIRED clock read moments
    * before the racing drop delisted the batch, and re-persisting it
    * verbatim would reclaim the drop's directory immediately — the
    * floor guarantees at least the orphan window (the same bound an
    * unmarked delisted dir gets), at worst delaying residue reclaim
    * by minutes. If the batch is in fact still COMMITTED (no drop
    * raced — the common CAS-failure cause is an appended batch), the
    * restored marker is the stale artifact again and the next sweep's
    * committed rail clears it without deleting anything.
    */
  def restorePendingDeletes(fs: FileSystem, root: String,
                            cleared: Seq[(String, Long)],
                            nowMs: Long = System.currentTimeMillis())
      : Unit =
    cleared.foreach { case (bid, deadline) =>
      markPendingDelete(fs, root, bid,
        math.max(deadline, nowMs + OrphanGraceMs), 0L)
    }

  /** Delete every pending batch directory whose PERSISTED deadline
    * has passed, plus its marker. A CORRUPT marker counts as expired
    * — fail toward reclaiming space, never toward resurrecting
    * visibility (the batch is already off the committed list either
    * way, and the committed rail below protects a live one) — but a
    * TRANSIENTLY unreadable one (IOException on a flaky FS) is
    * SKIPPED this sweep and retried by the next maintenance call: an
    * FS hiccup must not be indistinguishable from expiry, or it
    * could cut a promised grace window short.
    * `committed` is the sweep's safety rail and MUST be the
    * CURRENT committed list, re-read from the meta marker immediately
    * before the call ([[committedFromMeta]]) — never a set computed
    * before the caller's own meta swap: an append that commits
    * between the swap and this sweep is on the current list and its
    * marker is the stale artifact, cleared here instead of acted on,
    * so a live batch can never be reaped. Returns the ids deleted.
    */
  def sweepPendingDeletes(fs: FileSystem, root: String, nowMs: Long,
                          committed: Set[String]): Seq[String] = {
    val base = pendingDir(root)
    if (!fs.exists(base)) return Seq.empty
    fs.listStatus(base).toSeq.flatMap { st =>
      val bid = st.getPath.getName
      if (committed(bid)) {
        // verified clear: a silently surviving stale marker would
        // truncate this batch's eventual retirement window
        clearPendingDelete(fs, root, bid)
        Seq.empty
      } else {
        val deadline = readMarker(fs, st.getPath) match {
          case Deadline(ms)     => ms
          case Absent | Corrupt => 0L
          case Unreadable       => Long.MaxValue // retry next sweep
        }
        if (nowMs >= deadline) {
          val dir = new Path(s"$root/batches/$bid")
          // the DIRECTORY delete must be verified before the marker
          // goes: a silent false with the marker removed would leave
          // the payload leaked with no record of it — keep the
          // marker and retry next sweep instead
          if (fs.exists(dir) && !fs.delete(dir, true)) Seq.empty
          else {
            clearPendingDelete(fs, root, bid)
            Seq(bid)
          }
        } else Seq.empty
      }
    }
  }

  private def historyDir(root: String) = new Path(s"$root/_meta_history")

  private def historyFile(root: String, gen: Long) =
    new Path(s"$root/_meta_history/$gen")

  /** Record the meta bytes committed at `gen` under
    * `_meta_history/<gen>` — the SNAPSHOT LOG behind the as-of-gen
    * probes ([[VectorIndex.topKAt]], [[Bm25.bm25TopKIndexedAt]]).
    * Append-only side record written AFTER a successful meta swap:
    * it never participates in the CAS decision, so it cannot change
    * commit semantics; a crash between swap and record leaves that
    * one gen unprobeable (typed refusal), never un-commits it.
    * Bounded: records older than `keep` generations are dropped in
    * the same call — maintenance-path cost, one small listing.
    */
  def recordMetaHistory(fs: FileSystem, root: String, gen: Long,
                        bytes: Array[Byte], keep: Int = 64): Unit = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val dir = historyDir(root)
    fs.mkdirs(dir)
    val out = fs.create(historyFile(root, gen), true)
    try out.write(bytes) finally out.close()
    fs.listStatus(dir).foreach { st =>
      st.getPath.getName.toLongOption.foreach { g =>
        if (g <= gen - keep) { fs.delete(st.getPath, false); () }
      }
    }
  }

  /** The meta bytes committed at `gen`, if the snapshot record
    * survives (None: never committed, crashed before recording, or
    * aged past the history cap).
    */
  def readMetaHistory(fs: FileSystem, root: String,
                      gen: Long): Option[Array[Byte]] = {
    val p = historyFile(root, gen)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](8192)
        var n = in.read(tmp)
        while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        Some(buf.toByteArray)
      } finally in.close()
    }
  }

  /** The CURRENT committed-batch list, parsed straight from the
    * index's `_meta` marker bytes (both index metas serialize a
    * `batches=` line). This is what the post-swap sweep rails on: the
    * pre-swap snapshot a compaction planned with is STALE by the time
    * it sweeps — an append CAS-committed after the compaction's swap
    * is only on the list this re-read returns.
    */
  def committedFromMeta(fs: FileSystem, root: String): Set[String] =
    listsFromMeta(fs, root)._1

  /** The CURRENT (committed, retired) id sets from the index's
    * `_meta` marker — the post-swap truth a retire sweep classifies
    * against (committed = protected, retired = reclaimable
    * superseded payload).
    */
  def listsFromMeta(fs: FileSystem,
                    root: String): (Set[String], Set[String]) = {
    val kv = metaKv(fs, root)
    def parse(k: String) = idList(kv.getOrElse(k, "")).toSet
    (parse("batches"), parse("retired"))
  }

  /** The full key→value map of the index's committed `_meta` marker
    * (both index metas are `k=v` lines) — the audit's raw view.
    */
  def metaKv(fs: FileSystem, root: String): Map[String, String] =
    kvOf(MetaSwap.readCommitted(fs, new Path(s"$root/_meta")))

  /** The `k=v` lines of serialized meta bytes — the one parser under
    * every meta view (live, as-of-gen, audit).
    */
  private def kvOf(raw: Array[Byte]): Map[String, String] =
    new String(raw, "UTF-8").linesIterator
      .map(_.split("=", 2)).collect {
        case Array(a, b) => a -> b
      }.toMap

  private def idList(v: String): Seq[String] =
    v.split(",").toSeq.filter(_.nonEmpty)

  /** One audit finding: `kind` names the inventory the entity came
    * from (batch / dir / marker / history), `name` the entity,
    * `status` its classification, `healthy` whether the finding is an
    * expected lifecycle state (true) or an inconsistency a deployment
    * should act on (false).
    */
  final case class AuditFinding(kind: String, name: String,
                                status: String, healthy: Boolean)

  /** INTEGRITY AUDIT (fsck) of a persisted-index root — the
    * never-trust-the-filesystem pass an operator runs before relying
    * on an index after an incident. Classifies every meta entry,
    * batch directory, pending-delete marker, and the snapshot-history
    * log against the committed truth, using the same readers the
    * probes use. Pure METADATA cost: one meta read plus three
    * directory listings — bounded by batch count (compaction bounds
    * that), never by data size, so it is free at 100 TB.
    *
    * Statuses (healthy=true unless noted):
    *  - batch/committed_ok — committed id, payload directory present
    *  - batch/committed_missing_payload (UNHEALTHY) — committed id
    *    with NO directory: probes will fail; restore the directory or
    *    drop the batch explicitly
    *  - batch/retired_reclaimed — retired id, directory gone
    *  - batch/retired_awaiting_reclaim — retired id, directory still
    *    present (inside a grace window or awaiting the next sweep)
    *  - dir/delisted_in_grace — unlisted directory whose marker
    *    deadline is still in the future (marker state decides BEFORE
    *    shape: a dropped pre-reservation squatter on the merged shape
    *    inside its window is in-grace, not residue)
    *  - dir/delisted_reclaimable — unlisted directory whose marker
    *    deadline has passed, or whose marker is CORRUPT (corrupt
    *    counts as expired by protocol definition; the next sweep
    *    deletes it)
    *  - dir/marker_unreadable — unlisted directory whose marker
    *    exists but cannot be read right now (transient FS failure;
    *    self-healing, surfaced so a persistent read problem shows up
    *    across repeated audits)
    *  - dir/compaction_residue — unlisted UNMARKED directory in the
    *    reserved merged shape: a crashed compaction's leftovers,
    *    reclaimed by the next maintenance call
    *  - dir/orphan (UNHEALTHY-adjacent, reported unhealthy) — an
    *    unlisted, unmarked append-shaped directory: crash residue or
    *    an in-flight publish; the orphan-grace floor protects it, but
    *    an audit should surface it
    *  - marker/stale_on_committed (UNHEALTHY) — a pending-delete
    *    marker for a COMMITTED id (a swept-over publish-race
    *    artifact; the next sweep or compaction entry clears it)
    *  - marker/dangling — a marker whose directory is already gone
    *    (cleared by the next sweep; healthy)
    *  - history/current_recorded / history/current_missing
    *    (UNHEALTHY when missing) — whether the CURRENT gen's snapshot
    *    record survives (a crash between swap and record loses it;
    *    the live index is intact but `topKAt(currentGen)` refuses)
    */
  def auditIndex(fs: FileSystem, root: String,
                 nowMs: Long = System.currentTimeMillis())
      : Seq[AuditFinding] = {
    val kv = metaKv(fs, root)
    def parse(k: String) = idList(kv.getOrElse(k, ""))
    val committed = parse("batches")
    val retired = parse("retired")
    val gen = kv.getOrElse("gen", "0").toLong
    def names(p: Path): Seq[String] =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
    val dirs = names(new Path(s"$root/batches")).toSet
    val markers = names(pendingDir(root))
    val batchRows =
      committed.map { b =>
        if (dirs(b)) AuditFinding("batch", b, "committed_ok", true)
        else AuditFinding("batch", b, "committed_missing_payload", false)
      } ++ retired.map { b =>
        if (dirs(b))
          AuditFinding("batch", b, "retired_awaiting_reclaim", true)
        else AuditFinding("batch", b, "retired_reclaimed", true)
      }
    val listed = committed.toSet ++ retired.toSet
    // the MARKER state decides first — a dropped pre-reservation
    // squatter on the merged shape still inside its grace window must
    // audit as delisted_in_grace, not as residue a repair would
    // (falsely) report scheduling; only an UNMARKED dir classifies by
    // shape. A corrupt marker is already-expired by protocol
    // definition (the sweep reclaims it) → delisted_reclaimable; a
    // transiently unreadable one is its own status — self-healing,
    // surfaced so repeated audits show a persistent read problem
    val dirRows = dirs.toSeq.sorted.filterNot(listed).map { d =>
      readMarker(fs, pendingMarker(root, d)) match {
        case Deadline(dl) if dl > nowMs =>
          AuditFinding("dir", d, "delisted_in_grace", true)
        case Deadline(_) | Corrupt =>
          AuditFinding("dir", d, "delisted_reclaimable", true)
        case Unreadable =>
          AuditFinding("dir", d, "marker_unreadable", true)
        case Absent =>
          if (isMergedShape(d))
            AuditFinding("dir", d, "compaction_residue", true)
          else AuditFinding("dir", d, "orphan", false)
      }
    }
    val markerRows = markers.sorted.flatMap { m =>
      if (committed.contains(m))
        Seq(AuditFinding("marker", m, "stale_on_committed", false))
      else if (!dirs(m)) Seq(AuditFinding("marker", m, "dangling", true))
      else Seq.empty // a live grace window — already reported as dir/*
    }
    val historyRows = Seq(
      if (readMetaHistory(fs, root, gen).isDefined)
        AuditFinding("history", gen.toString, "current_recorded", true)
      else
        AuditFinding("history", gen.toString, "current_missing", false))
    batchRows ++ dirRows ++ markerRows ++ historyRows
  }

  /** MAINTENANCE PRE-FLIGHT — the A6d audit wired into the compaction
    * entry points ([[VectorIndex.compact]], [[Bm25.compactBm25Index]])
    * so the diagnose step runs before EVERY destructive maintenance
    * pass, not only when an operator remembers to run the fsck. Two
    * findings matter at this moment, and only this moment:
    *
    *  - a COMMITTED batch with no payload directory REFUSES the
    *    compaction (typed [[graft.IndexUnhealthy]]). The merge builds
    *    from whatever payload exists on disk, so compacting would bake
    *    the loss silently into the merged batch and the retire sweep
    *    would reclaim the remaining evidence — the serve shrinks with
    *    no error, permanently. Before compaction the incident is
    *    RECOVERABLE (restore the directory from backup, or drop the
    *    batch explicitly — drops are deliberately not gated: they are
    *    the remedy); after it, it is not.
    *  - a MISSING current-gen history record is HEALED here:
    *    re-recorded from the committed `_meta` bytes
    *    ([[IndexAudit.repair]]'s one recoverable lost-record case).
    *    Entry is the LAST moment that repair works — after this
    *    compaction's swap the pre-compaction meta bytes are
    *    unreachable and the as-of-gen probe for the current gen would
    *    refuse forever.
    *
    * Orphan dirs and stale markers need no action here — the
    * compaction body already clears stale markers at entry and
    * grace-schedules unlisted dirs at retire time; refusing on them
    * would wedge the very call that heals them. Returns the gens
    * re-recorded (empty on a healthy index). Pure metadata cost: one
    * audit (one meta read + three listings).
    */
  def preflightCompaction(fs: FileSystem, root: String,
                          nowMs: Long = System.currentTimeMillis())
      : Seq[Long] = {
    val findings = auditIndex(fs, root, nowMs)
    val lost = findings.collect {
      case AuditFinding("batch", b, "committed_missing_payload", _) => b
    }
    if (lost.nonEmpty) throw new graft.IndexUnhealthy(
      s"refusing to compact $root: committed batch(es) " +
        s"${lost.mkString(", ")} have no payload directory — " +
        "compacting would bake the loss into the merged batch and " +
        "retire the evidence; restore the directory or drop the batch " +
        "explicitly (IndexAudit.audit for the full report)")
    findings.collect {
      case AuditFinding("history", g, "current_missing", _) => g.toLong
    }.flatMap { g =>
      rerecordCurrentGen(fs, root, g)
    }
  }

  /** Re-record a lost current-gen snapshot record from the committed
    * `_meta` bytes — shared by [[preflightCompaction]] and
    * [[IndexAudit.repair]]. The record is written under the gen
    * PARSED FROM THE BYTES ACTUALLY READ, never the gen an earlier
    * audit read saw: if a (contract-violating) writer swapped the
    * meta between the audit and this heal, recording fresh bytes
    * under the stale gen would make `topKAt(staleGen)` silently serve
    * the WRONG snapshot — the one failure the snapshot protocol
    * promises never happens (it refuses typed, it never mis-serves).
    * Re-parsed, the heal is self-consistent under any interleaving:
    * either the missing gen's record is restored from its own bytes,
    * or the newer gen (whose own swap already recorded it) is left
    * alone and the stale gen stays typed-unavailable. Only a still-
    * missing record is written (idempotent). Returns the gen recorded.
    */
  private[graft] def rerecordCurrentGen(fs: FileSystem, root: String,
                                        auditedGen: Long): Seq[Long] = {
    val raw = MetaSwap.readCommitted(fs, new Path(s"$root/_meta"))
    val genNow = kvOf(raw).get("gen").flatMap(_.trim.toLongOption)
      .getOrElse(auditedGen)
    if (readMetaHistory(fs, root, genNow).isEmpty) {
      recordMetaHistory(fs, root, genNow, raw)
      Seq(genNow)
    } else Seq.empty
  }

  /** Publish one batch directory `batches/<bid>` of the index at
    * `root`: VERIFIED wipe of `_staging/<bid>`, VERIFIED reclaim of an
    * existing `batches/<bid>` (unlisted crash residue — renaming into a
    * still-existing directory would nest the staged payload under it
    * and return true, so the meta would commit stale files), then
    * `stage` writes the payload under the staging path and one atomic
    * rename publishes it. `stage` returns None when it staged nothing;
    * nothing is then published. The directory stays invisible until
    * the caller's meta swap lists it.
    */
  def publishStaged[A](fs: FileSystem, root: String, bid: String)(
      stage: Path => Option[A]): Option[A] = {
    val staging = new Path(s"$root/_staging/$bid")
    val target = new Path(s"$root/batches/$bid")
    if (fs.exists(staging) && !fs.delete(staging, true))
      throw new IllegalStateException(
        s"cannot wipe stale staging at $staging before publishing " +
          s"batch $bid")
    if (fs.exists(target) && !fs.delete(target, true))
      throw new IllegalStateException(
        s"cannot reclaim crash residue at $target before publishing " +
          s"batch $bid — refusing to rename into an existing directory")
    val staged = stage(staging)
    if (staged.isDefined) {
      fs.mkdirs(target.getParent)
      require(fs.rename(staging, target),
        s"atomic publish of batch $bid failed (staging → $target)")
    }
    staged
  }

  /** Point a serving pointer file at `root` with one marker swap — a
    * crash mid-swap self-heals on the next [[readPointer]].
    */
  def writePointer(fs: FileSystem, pointer: Path, root: String): Unit =
    MetaSwap.swap(fs, pointer, s"$root\n".getBytes("UTF-8"))

  /** The root a pointer file names, after healing a crashed swap;
    * None when no pointer was ever published.
    */
  def readPointer(fs: FileSystem, pointer: Path): Option[String] = {
    MetaSwap.heal(fs, pointer)
    MetaSwap.readIfExists(fs, pointer)
      .map(new String(_, "UTF-8").linesIterator.next().trim)
  }

  /** The lists every batch-list meta carries after its head fields.
    * `batches` serve; `retired` only refuse replay (ids superseded by
    * compaction or retraction); `gen` is the swap FENCE — bumped on
    * every commit so no two successive committed metas are
    * byte-identical, and a state-preserving swap (the single-batch
    * compaction no-op) still invalidates a concurrent writer's stale
    * compare-and-set expectation instead of sliding under it.
    */
  trait Listed {
    def batches: Seq[String]
    def retired: Seq[String]
    def gen: Long
  }

  /** THE batch-list index protocol, one instance per layout. The
    * layout supplies its meta head ([[head]], [[fromKv]],
    * [[withLists]]), its `name` for messages ("BM25 index"), the
    * `writer` call that creates one and what a replayed batch would do
    * (`replayHarm`); payload staging is a closure per call.
    *
    * SINGLE MAINTAINER contract: compact/drop/retract and the append
    * (batch or streaming) ingest are one logical writer; it is
    * ENFORCED — every swap is compare-and-set against the bytes the
    * writer read, so a commit landing in between fails the later
    * writer loudly ([[graft.sources.MetaSwap.CasFailed]]) and its
    * staged directory stays unlisted residue, reclaimed by a re-run.
    */
  abstract class BatchList[M <: Listed](name: String, writer: String,
                                        replayHarm: String) {

    /** The layout's head fields, in on-disk order before the lists. */
    protected def head(m: M): Seq[(String, Any)]

    /** The meta from its parsed `k=v` map and the shared lists. */
    protected def fromKv(kv: Map[String, String], batches: Seq[String],
                         retired: Seq[String], gen: Long): M

    /** `m` with the shared lists replaced. */
    protected def withLists(m: M, batches: Seq[String],
                            retired: Seq[String], gen: Long): M

    private def metaPath(root: String) = new Path(s"$root/_meta")

    private def bytes(m: M): Array[Byte] =
      (head(m).map { case (k, v) => s"$k=$v\n" }.mkString +
        s"batches=${m.batches.mkString(",")}\n" +
        s"retired=${m.retired.mkString(",")}\ngen=${m.gen}\n")
        .getBytes("UTF-8")

    /** Parse serialized meta bytes — the live read and the as-of-gen
      * read share it, so the two views never diverge in format
      * handling. A meta WITHOUT a `batches` key predates the
      * committed-list format: defaulting it to empty would make a
      * healthy index refuse every probe and let append/compact delist
      * and sweep its data, so it refuses instead.
      */
    def parse(raw: Array[Byte], root: String): M = {
      val kv = kvOf(raw)
      require(kv.contains("batches"),
        s"$name meta at $root predates the committed-batch list " +
          "format — refusing to guess visibility; rebuild the index " +
          s"($writer to a fresh root) or add a batches= line listing " +
          "the live batch directories")
      fromKv(kv, idList(kv("batches")),
        idList(kv.getOrElse("retired", "")),
        kv.getOrElse("gen", "0").toLong)
    }

    /** The committed meta ALONG WITH its raw bytes — the bytes are the
      * CAS expectation a maintenance path hands back to [[swap]].
      * Self-healing: a crash between a swap's delete-old and
      * rename-new steps leaves `_meta.next` without `_meta`; this
      * read completes the rename and proceeds.
      */
    def read(fs: FileSystem, root: String): (M, Array[Byte]) = {
      val p = metaPath(root)
      MetaSwap.heal(fs, p)
      require(fs.exists(p),
        s"no committed $name at $root (missing _meta — half-built " +
          s"index or wrong path); build one with $writer")
      val raw = MetaSwap.readCommitted(fs, p)
      (parse(raw, root), raw)
    }

    /** Does `root` hold a committed meta (after healing a crashed
      * swap)?
      */
    def isCommitted(fs: FileSystem, root: String): Boolean = {
      MetaSwap.heal(fs, metaPath(root))
      fs.exists(metaPath(root))
    }

    /** Commit `m` with the compare-and-set `_meta.next` swap against
      * `expect`, bumping the gen fence; the `_meta_history` record is
      * written AFTER the swap, so it never alters commit semantics.
      */
    def swap(fs: FileSystem, root: String, m: M,
             expect: Array[Byte]): Unit = {
      val next = withLists(m, m.batches, m.retired, m.gen + 1)
      val b = bytes(next)
      MetaSwap.swap(fs, metaPath(root), b, expect)
      recordMetaHistory(fs, root, next.gen, b)
    }

    /** Publish the initial corpus as batch `bootstrap` and commit it
      * with the gen-0 meta written LAST — a crash before the meta
      * leaves a root every probe refuses loudly. `stage` writes the
      * payload under the staging path and returns the layout's head
      * (its lists are replaced).
      */
    def bootstrap(fs: FileSystem, root: String)(stage: Path => M): Unit = {
      val m = publishStaged(fs, root, "bootstrap")(p => Some(stage(p))).get
      val b = bytes(withLists(m, Seq("bootstrap"), Nil, 0L))
      val out = fs.create(metaPath(root), true)
      try out.write(b) finally out.close()
      recordMetaHistory(fs, root, 0L, b)
    }

    /** Append one batch: read the meta, derive and validate its id,
      * refuse a replay of a committed or retired id, forget a pending
      * delete of the id BEFORE it is re-staged (a later sweep would
      * reap the re-ingested batch), publish, swap it onto the committed
      * list, and clear the marker again — a racing sweep may have
      * orphan-marked the batch between its publish and the swap, and a
      * later drop's first-marker-wins would inherit that deadline.
      * `stage` returns the layout's head after this batch. Returns the
      * batch id.
      */
    def append(fs: FileSystem, root: String)(bidOf: M => String)(
        stage: (M, Path) => M): String = {
      val (meta, raw) = read(fs, root)
      val bid = bidOf(meta)
      validateAppendId(bid, name)
      if (meta.batches.contains(bid)) throw new graft.ReplayRefused(
        s"$name append refused: batch $bid is already committed at " +
          s"$root/batches/$bid — a replay would $replayHarm; drop it " +
          "from the meta first if this is an intentional re-ingest")
      if (meta.retired.contains(bid)) throw new graft.ReplayRefused(
        s"$name append refused: batch $bid was committed and later " +
          "compacted away — its payload already lives in the merged " +
          s"batch; a replay would $replayHarm")
      clearPendingDelete(fs, root, bid)
      val next =
        publishStaged(fs, root, bid)(p => Some(stage(meta, p))).get
      swap(fs, root, withLists(next, meta.batches :+ bid, meta.retired,
        meta.gen), raw)
      clearPendingDelete(fs, root, bid)
      bid
    }

    /** Commit `next` (which no longer lists `delisted`) and delist: THIS
      * swap is each id's delist event, so its grace clock is RESET
      * (clear, then first-marker-wins mark — a stale publish-race
      * marker cannot pre-empt the promised window), and the sweep
      * rails on the committed list RE-READ after the swap, never the
      * pre-swap snapshot — a batch a racing append committed in
      * between survives.
      */
    def delist(fs: FileSystem, root: String, next: M,
               expect: Array[Byte], delisted: Seq[String],
               retainMs: Long): Unit = {
      swap(fs, root, next, expect)
      val now = System.currentTimeMillis()
      delisted.foreach(b => resetPendingDelete(fs, root, b, now, retainMs))
      sweepPendingDeletes(fs, root, now, committedFromMeta(fs, root))
      ()
    }

    /** Doc-level retraction over `meta`'s committed batches: `hits`
      * returns a batch's found-statistics and remainder rows (None: no
      * retracted key in it); a non-empty remainder republishes through
      * `stage` under [[rewriteId]]`(batch, keys)`, and ONE delisting
      * swap replaces every affected id with its rewrite (or nothing,
      * when all its rows went) and RETIRES the originals, so a replay
      * of an original batch is still refused. `settle` gives the head
      * after the found statistics leave. Returns the per-batch
      * statistics (empty: nothing found, meta untouched).
      */
    def retract[T](fs: FileSystem, root: String, meta: M,
                   expect: Array[Byte], keys: Seq[String],
                   retainMs: Long)(hits: String => Option[(T, DataFrame)])(
        stage: (DataFrame, Path) => Unit)(settle: Seq[T] => M): Seq[T] = {
      val rewrites = meta.batches.flatMap { b =>
        hits(b).map { case (found, remainder) =>
          val rid = rewriteId(b, keys)
          val replacement =
            if (remainder.isEmpty) None
            else publishStaged(fs, root, rid) { p =>
              stage(remainder, p); Some(rid)
            }
          (b, replacement, found)
        }
      }
      if (rewrites.nonEmpty) {
        val byOld = rewrites.map(r => r._1 -> r._2).toMap
        val olds = rewrites.map(_._1)
        delist(fs, root, withLists(settle(rewrites.map(_._3)),
          meta.batches.flatMap(b => byOld.getOrElse(b, Some(b))),
          (meta.retired ++ olds).distinct, meta.gen),
          expect, olds, retainMs)
      }
      rewrites.map(_._3)
    }

    /** Index MAINTENANCE: merge every committed batch's payload into
      * ONE batch `mergedId(committed)`, committed by one swap that
      * lists exactly it and RETIRES the superseded ids (the retired
      * list capped at `maxRetired`, newest kept), then retire every
      * other batch directory. `stage` writes the merged payload of the
      * meta's committed batches under the staging path.
      *
      * The sequence: the preflight audit (refuse on a committed batch
      * with lost payload, re-record a lost current-gen history record
      * while the meta bytes exist); clear stale markers on committed
      * ids, restored if OUR swap loses the CAS (a cleared marker may
      * have been a racing drop's promised window); a single committed
      * batch is already compact — it still CAS-swaps the unchanged
      * meta (a racing append fails loudly instead of having its
      * published directory swept) and sweeps a prior crash's orphans;
      * otherwise refuse typed when the merged id squats on the
      * committed/retired list or on an open grace window (reclaiming
      * an expired marker), publish, swap, retire. `beforeSwap` and
      * `beforeSweep` are test seams: the windows the CAS and the
      * re-read sweep rail defend. Returns the surviving batch id.
      */
    def compact(fs: FileSystem, root: String, retainMs: Long,
                maxRetired: Int, beforeSwap: () => Unit,
                beforeSweep: () => Unit)(stage: (M, Path) => Unit)
        : String = {
      require(maxRetired >= 1, s"maxRetired must be >= 1, got $maxRetired")
      val (meta, raw) = read(fs, root)
      require(meta.batches.nonEmpty,
        s"no committed batches to compact at $root")
      preflightCompaction(fs, root)
      val cleared = clearStaleMarkers(fs, root, meta.batches)
      def swapRestoring(m: M): Unit =
        try swap(fs, root, m, raw)
        catch {
          case e: MetaSwap.CasFailed =>
            restorePendingDeletes(fs, root, cleared)
            throw e
        }
      def retireAllBut(keep: String): Unit = {
        beforeSweep()
        val now = System.currentTimeMillis()
        // the rail is the CURRENT lists, re-read AFTER this swap: an
        // append that read the post-swap meta and committed before
        // this sweep is only on the re-read list (the r10 finding)
        val (current, curRetired) = listsFromMeta(fs, root)
        val superseded = meta.batches.toSet
        fs.listStatus(new Path(s"$root/batches"))
          .filter(st => st.isDirectory && st.getPath.getName != keep &&
            !current(st.getPath.getName))
          .foreach { st =>
            val bid = st.getPath.getName
            // superseded, retired and merged-shape dirs are
            // unambiguous → the caller's retainMs; any other unlisted
            // dir may be an in-flight publish whose CAS hasn't run →
            // the orphan-grace floor ([[OrphanGraceMs]]). Markers on
            // committed ids were cleared at entry, so first-marker-wins
            // only ever preserves a RUNNING clock here
            val grace =
              if (superseded(bid) || curRetired(bid) ||
                isMergedShape(bid)) retainMs
              else math.max(retainMs, OrphanGraceMs)
            markPendingDelete(fs, root, bid, now, grace)
          }
        sweepPendingDeletes(fs, root, now, committedFromMeta(fs, root))
        ()
      }
      if (meta.batches.size == 1) {
        beforeSwap()
        swapRestoring(meta)
        retireAllBut(meta.batches.head)
        meta.batches.head
      } else {
        val cid = mergedId(meta.batches)
        if (meta.batches.contains(cid) || meta.retired.contains(cid))
          throw new graft.ReservedIdRefused(
            s"merged id $cid is already on the committed/retired list " +
              s"at $root — a pre-reservation user-supplied id squats on " +
              "the merged shape; drop and re-ingest that batch under " +
              "another id before compacting")
        // a dropped pre-reservation squatter that aged off the capped
        // retired list still has its marker while its window is open;
        // an expired or corrupt marker is what the sweep would reclaim
        pendingDeadline(fs, root, cid) match {
          case Some(d) if d > System.currentTimeMillis() =>
            throw new graft.ReservedIdRefused(
              s"merged id $cid has a pending grace-period delete at " +
                s"$root — a delisted pre-reservation batch still inside " +
                "its retain window squats on the merged shape; wait for " +
                "the window to expire (or clear the marker explicitly) " +
                "before compacting")
          case _ => clearPendingDelete(fs, root, cid)
        }
        publishStaged(fs, root, cid)(p => Some(stage(meta, p)))
        beforeSwap()
        swapRestoring(withLists(meta, Seq(cid),
          (meta.retired ++ meta.batches).distinct.takeRight(maxRetired),
          meta.gen))
        retireAllBut(cid)
        cid
      }
    }

    /** The committed view at `gen`, from its `_meta_history` record —
      * the as-of-gen serve's visibility list and head. Bounded by the
      * history cap and by batch-directory retention (`retainMs`): a
      * missing record or a reclaimed batch directory refuses with the
      * typed [[graft.SnapshotUnavailable]], so a reader can fall back
      * to the live serve without message matching.
      */
    def readAt(fs: FileSystem, root: String, gen: Long): M = {
      val raw = readMetaHistory(fs, root, gen).getOrElse {
        throw new graft.SnapshotUnavailable(
          s"$name at $root has no snapshot record for gen $gen — the " +
            "gen never committed, crashed before recording, or aged " +
            "past the history cap; probe the live index instead")
      }
      val meta = parse(raw, root)
      val missing = meta.batches.filterNot(b =>
        fs.exists(new Path(s"$root/batches/$b")))
      if (missing.nonEmpty) throw new graft.SnapshotUnavailable(
        s"snapshot gen $gen of the $name at $root is no longer " +
          s"servable: batch dir(s) ${missing.mkString(", ")} were " +
          "retired and physically reclaimed (grace expired) — " +
          "snapshots outlive maintenance only within retainMs")
      meta
    }
  }
}
