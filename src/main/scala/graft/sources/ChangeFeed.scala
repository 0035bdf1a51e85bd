package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** S23 — the CHANGE FEED of a pointer-served table: per-promotion
  * diffs served to a downstream consumer with a persisted cursor —
  * the read complement of the O6d streaming snapshot sink, and the
  * standard downstream-sync primitive (Delta's readChangeFeed /
  * Iceberg's incremental read, restated on the repo's marker
  * protocol). Works on BOTH pointer table kinds — the snapshot table
  * ([[SnapshotStore]]) and the manifest table ([[ManifestStore]]) —
  * probing the layout the way [[SnapshotSource]] does.
  *
  * Model: every committed generation is one immutable promotion, so
  * "the change stream" is the ordered sequence of per-generation
  * diffs (S12's added/removed/changed/unchanged statuses, minus
  * `unchanged` — a change feed carries changes). A consumer holds a
  * CURSOR (the last generation it fully processed), persisted as a
  * marker file committed through the [[MetaSwap]] swap, and each
  * [[consume]] call drains every newer generation in order:
  *
  *  1. read the cursor (initializing it to the SERVING generation
  *     minus nothing on first contact — see `startGen`);
  *  2. for each gen g in (cursor, current]: compute diff(g−1, g),
  *     hand it to the caller's handler together with g;
  *  3. advance the cursor to g AFTER the handler returns.
  *
  * Delivery contract — exactly the foreachBatch one: the handler is
  * invoked AT-LEAST-ONCE per promotion (a crash between the handler
  * and the cursor swap redelivers that generation on restart), and
  * the generation number is the batch id to key idempotence on — an
  * idempotent or gen-keyed sink makes the feed exactly-once
  * end-to-end, the same two-layer story as every streaming sink in
  * this library. The cursor swap is the only state; two concurrent
  * consumers of one checkpoint violate the single-consumer contract
  * exactly like two promoters on one pointer.
  *
  * Retention honesty: diffs are answerable only while BOTH
  * generations are retained (`keep`/grace). A consumer that lags past
  * the window gets the typed [[graft.SnapshotUnavailable]] — the
  * remedy is a fresh full sync (and a wider window sized to the
  * consumer's lag, the same SLA arithmetic as every retention knob).
  *
  * Scale shape: one pointer read + one cursor read per drain; each
  * promotion's diff is the S12 plan (one full-outer join of two
  * retained generations on the keys) — proportional to the two
  * generations compared, never to history length.
  */
object ChangeFeed {

  private def cursorPath(checkpointDir: String) =
    new Path(s"$checkpointDir/_cursor")

  private def isManifest(spark: SparkSession, root: String): Boolean =
    Tables.fsFor(spark, root).exists(new Path(s"$root/_manifests"))

  // shared with the readStream form of this feed
  // ([[graft.streaming.CdfSource]]), which drains the same
  // per-promotion diffs behind Spark's own checkpointed offsets
  private[graft] def currentGen(spark: SparkSession,
                                root: String): Long =
    (if (isManifest(spark, root)) ManifestStore.currentGen(spark, root)
     else SnapshotStore.currentGen(spark, root))
      .getOrElse(throw new graft.SnapshotUnavailable(
        s"no published table at $root — nothing to stream changes from"))

  private[graft] def readAt(spark: SparkSession, root: String,
                            gen: Long): DataFrame =
    if (isManifest(spark, root)) ManifestStore.readAt(spark, root, gen)
    else SnapshotStore.readAt(spark, root, gen)

  /** The committed cursor, if this checkpoint has ever consumed.
    * The filesystem is derived from the CHECKPOINT path, not the
    * table root — a local checkpoint against an object-store table
    * (or vice versa) must not throw Hadoop's "Wrong FS".
    */
  def cursor(spark: SparkSession, root: String,
             checkpointDir: String): Option[Long] = {
    val fs = Tables.fsFor(spark, checkpointDir)
    val p = cursorPath(checkpointDir)
    MetaSwap.heal(fs, p)
    if (!fs.exists(p)) None
    else Generations.parsedGen(MetaSwap.readCommitted(fs, p))
      .orElse(throw new IllegalStateException(
        s"malformed change-feed cursor at $p: no parseable gen= line"))
  }

  /** One promotion's CHANGE SET: the S12 diff between gen−1 and gen,
    * minus the `unchanged` rows. Gen 1 (the bootstrap publish) diffs
    * against the empty table — every row is `added`. Both sides
    * inherit the stores' typed retention refusals.
    */
  def changesAt(spark: SparkSession, root: String, gen: Long,
                keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val to = readAt(spark, root, gen)
    val from =
      if (gen == 1L) to.limit(0)
      else readAt(spark, root, gen - 1L)
    graft.operators.Incremental.snapshotDiff(from, to, keys)
      .filter(col("change") =!= "unchanged")
  }

  /** The oldest retained generation at or below the serving one —
    * where a first-contact consumer can start a FULL SYNC.
    */
  private[graft] def oldestRetained(spark: SparkSession, root: String,
                                    cur: Long): Long = {
    val fs = Tables.fsFor(spark, root)
    val base = new Path(
      if (isManifest(spark, root)) s"$root/_manifests"
      else s"$root/_snapshots")
    val gens =
      if (!fs.exists(base)) Seq.empty
      else fs.listStatus(base).toSeq
        .filterNot(_.getPath.getName.endsWith(".next"))
        .flatMap(_.getPath.getName.toLongOption).filter(_ <= cur)
    if (gens.isEmpty) throw new graft.SnapshotUnavailable(
      s"no retained generation at $root")
    gens.min
  }

  /** Drain every promotion newer than the cursor, in order, through
    * `handler(gen, changes)` — the foreachBatch-compatible loop. On
    * FIRST CONTACT (no cursor): with the default `startGen = 0` the
    * consumer gets a FULL SYNC — the oldest retained generation
    * delivered as all-`added` rows — and then every later promotion's
    * diff (pruned early generations cannot replay, so the snapshot is
    * the honest starting point); pass `startGen = <serving gen>` to
    * start "from now" (diffs only). The cursor advances through a
    * [[MetaSwap]] swap AFTER each handler return, so a crash
    * mid-handler redelivers exactly that generation on the next call
    * (at-least-once, gen-keyed — idempotent sinks make it
    * exactly-once). Returns the generations processed this call.
    */
  def consume(spark: SparkSession, root: String, checkpointDir: String,
              keys: Seq[String],
              handler: (Long, DataFrame) => Unit,
              startGen: Long = 0L): Seq[Long] = {
    // cursor I/O on the CHECKPOINT's own filesystem (fsFor per path —
    // the Tables discipline): an s3a table with a local checkpoint
    // must not throw "Wrong FS"
    val fs = Tables.fsFor(spark, checkpointDir)
    val cur = currentGen(spark, root)
    val processed = scala.collection.mutable.ArrayBuffer[Long]()
    def commit(g: Long): Unit = {
      MetaSwap.swap(fs, cursorPath(checkpointDir),
        s"gen=$g\n".getBytes("UTF-8"))
      processed += g
    }
    val from = cursor(spark, root, checkpointDir).getOrElse {
      fs.mkdirs(new Path(checkpointDir))
      if (startGen > 0L) startGen
      else {
        // first contact: full sync of the oldest retained generation
        // as all-added rows (the change-feed bootstrap every CDF
        // consumer starts from), then diffs take over
        val oldest = oldestRetained(spark, root, cur)
        val to = readAt(spark, root, oldest)
        handler(oldest, graft.operators.Incremental
          .snapshotDiff(to.limit(0), to, keys))
        commit(oldest)
        oldest
      }
    }
    ((from + 1L) to cur).foreach { g =>
      // a pruned predecessor here is a lag-past-retention incident
      // and refuses typed inside changesAt — re-sync from scratch
      // with a fresh checkpoint
      handler(g, changesAt(spark, root, g, keys))
      commit(g)
    }
    processed.toSeq
  }
}
