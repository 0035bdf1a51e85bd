package graft

/** The TYPED form of the persisted-index replay guard: thrown by every
  * append/landing path (the BM25 postings index, the vector index, the
  * MinHash dedup index, and the corpus landing zone) when a batch id
  * is already on the committed, retired, or landed record.
  *
  * The streaming sinks ([[graft.streaming.Bm25Stream]],
  * [[graft.streaming.VectorStream]], [[graft.streaming.CorpusStream]])
  * catch a replay TYPE — never a message substring — to turn
  * foreachBatch's at-least-once redelivery into exactly-once
  * commitment: a redelivered micro-batch whose content-derived id is
  * already committed is "already done", while any OTHER failure still
  * fails the stream loudly. Matching on the type instead of
  * `getMessage.contains` makes the contract structural: rewording a
  * refusal message can no longer silently change which failures a
  * stream swallows.
  *
  * Extends IllegalStateException — a replay is a state conflict, and
  * callers that defensively catch the broad type keep working.
  */
class ReplayRefused(msg: String) extends IllegalStateException(msg)

/** The LANDING-ZONE replay specifically: this batch completed the full
  * corpusIncrement commit protocol — index batch published, silver
  * landed, gold rebuilt, `_landed` marker written (or its id retired
  * by a compaction or retraction, which refuse mid-landing batches).
  * This is the only refusal [[graft.streaming.CorpusStream]] may treat
  * as "already done": an INDEX-level append refusal inside the same
  * pipeline (e.g. [[graft.operators.Dedup.writeDedupIndex]]'s replay
  * guard firing on a batch some other writer committed but never landed)
  * means silver/gold did NOT receive the batch, and swallowing it
  * would silently drop the micro-batch's documents — so those stay
  * the parent type and fail the stream loudly.
  */
final class BatchAlreadyLanded(msg: String) extends ReplayRefused(msg)

/** A batch id squats on the RESERVED merged-batch shape (`m` + 16 hex
  * — [[graft.operators.IndexProtocol.mergedId]]'s derivation space).
  * Two sides of the same condition carry the type: an APPEND supplying
  * an id in the reserved space is refused up front, and a COMPACTION
  * whose derived merged id collides with a pre-reservation squatter
  * (on the committed/retired list, or delisted but still inside its
  * grace window) refuses rather than rebuild over the squatter's
  * payload. Distinct from the path-safety IllegalArgumentException so
  * a caller can tell "pick another id / clear the squatter" (this
  * type — the id is well-formed, just reserved) from "the token
  * itself is path-unsafe" without message matching.
  */
final class ReservedIdRefused(msg: String)
  extends IllegalArgumentException(msg)

/** An as-of-generation index probe ([[graft.operators.VectorIndex.topKAt]],
  * [[graft.operators.Bm25.bm25TopKIndexedAt]]) cannot serve the
  * requested snapshot: the gen's history record is missing (never
  * committed, crashed before recording, or aged past the history
  * cap) or a batch directory the snapshot lists was retired and
  * physically reclaimed after its grace window. Typed so a reader
  * can fall back to the live index without message matching —
  * snapshots are a BOUNDED window by design (`_meta_history` cap ×
  * `retainMs` retention), not an unbounded time-travel log.
  */
final class SnapshotUnavailable(msg: String)
  extends IllegalStateException(msg)

/** The maintenance pre-flight ([[graft.operators.IndexProtocol
  * .preflightCompaction]], and the dedup twin inside
  * [[graft.operators.Dedup.compactDedupIndex]]) found the index in a
  * state COMPACTION would make PERMANENT: a committed batch whose
  * payload directory is missing (the merge builds from whatever
  * payload exists, so compacting would bake the loss silently into
  * the merged batch and the retire sweep would destroy the evidence —
  * the serve shrinks with no error, forever), or a dedup batch with
  * half its payload (same silent-shrink consequence for candidate
  * generation). Typed so a maintenance scheduler can branch to the
  * fsck/repair path ([[graft.operators.IndexAudit]]) without message
  * matching. Drops are deliberately NOT gated by this: dropping the
  * damaged batch is the documented remedy.
  */
final class IndexUnhealthy(msg: String) extends IllegalStateException(msg)

/** A write-audit-publish ([[graft.sources.Tables.writeAudited]])
  * refusal: either the staged data failed its expectation audit (the
  * staging directory is LEFT for inspection — the message names the
  * failing rules and their violation counts) or the publish target
  * already exists (replace goes through fresh snapshot directories +
  * a pointer swap, never an in-place overwrite — the A6b rule).
  * Typed so orchestration can branch on "data problem, page the
  * producer" without message matching; extends IllegalStateException
  * like the other refusals on write paths.
  */
final class AuditFailed(msg: String) extends IllegalStateException(msg)

/** A partial (replaceAll = false) manifest-table publish whose schema
  * DROPS, RENAMES, or RE-TYPES a column the prior generation records
  * ([[graft.sources.ManifestStore.publish]]). Carried entries serve
  * through ONE pinned DDL per generation, so a widened publish
  * null-backfills older files by parquet's by-name resolution — but a
  * drop/rename would silently hide carried rows' data and a re-type
  * would split the table's schema mid-manifest. Both need the
  * explicit `replaceAll = true` rebuild (every partition rewritten
  * under the new schema), and refusing TYPED lets an orchestrator
  * branch to that rebuild without message matching.
  */
final class SchemaMismatch(msg: String)
  extends IllegalStateException(msg)
