package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A6b — the PERSISTED vector index (SURVEY.md §2.7): the serve shape
  * of the ANN family, completing the build-once/probe-many discipline
  * of the dedup index (D8b) and the BM25 postings index (T13c) for
  * vectors. What a 100 TB deployment keeps on disk is exactly this:
  *
  *   path/
  *     centroids/              (cell, centv)        — coarse quantizer
  *     codebook/               (subspace, code, centv) — PQ codebooks
  *     batches/<bid>/cellCodes/cell=<c>/ (id, subspace, code)
  *                             — one directory per ingested batch,
  *                               codes PARTITIONED by coarse cell
  *     _meta                   (m, dim, batches, retired) — commit
  *                             marker AND visibility list
  *
  * The training artifacts (centroids from [[Similarity.kmeansIterate]]
  * or any quantizer, codebook from [[Similarity.pqTrain]]) are INPUTS:
  * the write assembles and lays out, it never trains — re-index and
  * re-train stay independently schedulable, the same separation the
  * reference keeps between derivation and load jobs
  * (silver_to_gold.py:23 vs bigquery.py:105).
  *
  * VISIBILITY IS META-DRIVEN, exactly the [[Bm25.Bm25Meta]] protocol:
  * a batch serves if and only if it is on the meta's committed list.
  * A directory whose meta swap never landed (crashed [[append]]) is
  * invisible and reclaimed as crash residue by the next publish of
  * the same id; a directory half-deleted by a crashed [[dropBatch]]
  * is equally invisible, because the list shrank BEFORE the delete
  * started. Probes can never see a torn state. The `retired` list
  * carries batch ids superseded by [[compact]], so replay refusal
  * survives compaction without payload-free tombstone directories.
  *
  * INCREMENTAL ingest is the D8b batch protocol verbatim: [[append]]
  * encodes a new batch with the STORED artifacts (standard IVF
  * behavior — appending never retrains; retrain-and-reindex is a
  * separate scheduled rebuild), stages it under `_staging/<bid>`,
  * publishes with one atomic directory rename, and commits it with a
  * self-healing `_meta.next` swap. A batch id already on the
  * committed (or retired) list is refused loudly (O(1) probe), so
  * redelivered embedding batches cannot double-count candidates.
  *
  * Serve cost: a probe resolves its queries' probed cells DRIVER-side
  * (|queries|·nprobe rows — the "query router" of a real vector DB),
  * opens only those `cell=<c>` partition directories across the
  * COMMITTED batches by explicit path, and runs the cell-local ADC +
  * exact re-rank of [[Similarity.ivfpqShortlist]]/
  * [[Similarity.pqRerank]] over them. Scanned input ∝ probed cells,
  * never the corpus.
  *
  * Commit protocol: tables first, `_meta` LAST (the
  * [[Bm25.writeBm25Index]] marker discipline) — a crash mid-build
  * leaves a directory every probe refuses loudly, and [[write]] can
  * be safely re-run over it (uncommitted residue is wiped wholesale).
  * [[write]] REFUSES a path with a committed meta: rebuilding in
  * place would mix codes encoded under two codebooks; the documented
  * retrain→reindex flow is write-to-a-fresh-root + [[writePointer]].
  */
object VectorIndex {

  // one shared resolver ([[graft.sources.Tables.fsFor]]) so "the same
  // FS primitive as every publish path" is structural, not copy-paste
  private def fsFor(spark: SparkSession,
                    path: String): org.apache.hadoop.fs.FileSystem =
    graft.sources.Tables.fsFor(spark, path)

  /** The committed state of an index: PQ geometry plus the shared
    * batch lists ([[IndexProtocol.Listed]]: `batches` serve, `retired`
    * only refuse replay, `gen` is the swap fence).
    */
  private[graft] final case class VecMeta(m: Int, dim: Int,
                                          batches: Seq[String],
                                          retired: Seq[String],
                                          gen: Long = 0L)
      extends IndexProtocol.Listed

  /** The code layout on the shared batch-list protocol: head `m, dim`. */
  private object Layout extends IndexProtocol.BatchList[VecMeta](
      "vector index", "VectorIndex.write",
      "double-count every candidate it carries") {
    protected def head(m: VecMeta) = Seq("m" -> m.m, "dim" -> m.dim)
    protected def fromKv(kv: Map[String, String], batches: Seq[String],
                         retired: Seq[String], gen: Long) =
      VecMeta(kv("m").toInt, kv("dim").toInt, batches, retired, gen)
    protected def withLists(m: VecMeta, batches: Seq[String],
                            retired: Seq[String], gen: Long) =
      m.copy(batches = batches, retired = retired, gen = gen)
  }

  /** The committed meta ALONG WITH its raw bytes (the CAS expectation
    * of a maintenance swap); heals a crashed swap first.
    */
  private[graft] def readMetaRaw(spark: SparkSession,
                                 path: String): (VecMeta, Array[Byte]) =
    Layout.read(fsFor(spark, path), path)

  private[graft] def readMeta(spark: SparkSession,
                              path: String): VecMeta =
    readMetaRaw(spark, path)._1

  /** Encode `emb` with the given artifacts and stage its
    * cell-partitioned codes under `staging/cellCodes` — `staging` is
    * the rename source, so the whole batch directory publishes as one.
    */
  private def stageCodes(emb: DataFrame, idCol: String, vecCol: String,
                         centroids: DataFrame, codebook: DataFrame,
                         m: Int, dim: Int,
                         staging: org.apache.hadoop.fs.Path): Unit =
    writeCodes(Similarity.pqEncodeCells(emb, idCol, vecCol, centroids,
      codebook, m, dim), staging)

  /** Write code rows (id, subspace, code, cell) under
    * `staging/cellCodes`, partitioned by cell — the layout every
    * publish path writes. `cluster` groups rows by cell first, so each
    * cell dir lands as ~one file instead of one per (task × cell).
    */
  private def writeCodes(codes: DataFrame,
                         staging: org.apache.hadoop.fs.Path,
                         cluster: Boolean = false): Unit =
    (if (cluster) codes.repartition(col("cell")) else codes)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(new org.apache.hadoop.fs.Path(staging, "cellCodes")
        .toString)

  /** Assemble and publish the index from its trained artifacts; the
    * initial corpus lands as batch `bootstrap`, committed by the
    * meta written LAST. Refuses a path that already serves a
    * committed index — an in-place rebuild would first destroy the
    * serving artifacts and could leave old-codebook batches visible
    * next to new ones; retrain→reindex goes to a FRESH root behind
    * [[writePointer]]. A path holding only uncommitted residue (a
    * crashed earlier write) is wiped and rebuilt — re-running a
    * failed bootstrap is always safe.
    */
  def write(emb: DataFrame, idCol: String, vecCol: String,
            centroids: DataFrame, codebook: DataFrame,
            m: Int, dim: Int, path: String): Unit = {
    val spark = emb.sparkSession
    val fs = fsFor(spark, path)
    // complete a crashed swap first so it registers as committed
    require(!Layout.isCommitted(fs, path),
      s"refusing to rebuild over the COMMITTED vector index at $path " +
        "— in-place rebuilds mix codes from two codebooks and drop " +
        "the serving index on failure; write to a fresh root and " +
        "republish with VectorIndex.writePointer (or drop the old " +
        "root explicitly first)")
    // wipe crash residue by COMPONENT, never the root wholesale: a
    // mistyped path pointing at a shared directory must cost at most
    // the index-shaped names under it (_meta_history/_pending_delete
    // included — stale snapshot records from a torn-down predecessor
    // index must not resolve against the new one's batches)
    Seq("centroids", "codebook", "batches", "_staging", "_meta.next",
      "_meta_history", "_pending_delete")
      .foreach { c =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$c"), true); ()
      }
    centroids.select(col("cell"), col("centv"))
      .write.mode("overwrite").parquet(s"$path/centroids")
    codebook.select(col("subspace"), col("code"), col("centv"))
      .write.mode("overwrite").parquet(s"$path/codebook")
    Layout.bootstrap(fs, path) { staging =>
      stageCodes(emb, idCol, vecCol, centroids, codebook, m, dim, staging)
      VecMeta(m, dim, Nil, Nil)
    }
  }

  /** Daily dense ingest: encode `emb` with the STORED artifacts,
    * publish it as one atomic batch directory, and commit it with a
    * meta swap adding the batch to the visibility list. Never
    * retrains, never touches existing batches — `mode = "append"` in
    * the reference's warehouse sense (bigquery.py:141). Returns the
    * published batch id (content-derived from the batch's id set
    * unless supplied).
    */
  def append(emb: DataFrame, idCol: String, vecCol: String,
             path: String, batchId: Option[String] = None): String = {
    val spark = emb.sparkSession
    val centroids = spark.read.parquet(s"$path/centroids")
    val codebook = spark.read.parquet(s"$path/codebook")
    // a supplied id becomes a directory name and a meta-list entry;
    // content-derived ids are hex, but a caller's id must not smuggle
    // separators or the cell= marker the probe's path parser keys on —
    // and the merged-batch shape is reserved for compaction
    Layout.append(fsFor(spark, path), path)(_ =>
      batchId.getOrElse(Dedup.batchId(emb, idCol))) { (meta, staging) =>
      stageCodes(emb, idCol, vecCol, centroids, codebook, meta.m,
        meta.dim, staging)
      meta
    }
  }

  /** The `cell=<c>` partition directories matching `cells`, across
    * every batch LISTED IN THE META snapshot — EXPLICIT paths (one
    * driver listStatus per committed batch), exposed package-private
    * so the spec can assert the pruning contract on the literal path
    * set. Takes the caller's snapshot: a probe reads `_meta` once
    * and threads it, so a concurrent append/drop can never show it a
    * torn view.
    */
  private[graft] def prunedCellPaths(spark: SparkSession, path: String,
                                     meta: VecMeta,
                                     cells: Seq[Long]): Seq[String] = {
    val fs = fsFor(spark, path)
    val wanted = cells.map(c => s"cell=$c").toSet
    meta.batches.flatMap(cellDirs(fs, path, _))
      .filter(p => wanted(p.getName)).map(_.toString)
  }

  private def cellCodes(path: String, bid: String) =
    new org.apache.hadoop.fs.Path(s"$path/batches/$bid/cellCodes")

  /** A batch's `cell=<c>` code partition directories; empty when the
    * batch directory is gone.
    */
  private def cellDirs(fs: org.apache.hadoop.fs.FileSystem, path: String,
                       bid: String): Seq[org.apache.hadoop.fs.Path] = {
    val cc = cellCodes(path, bid)
    if (!fs.exists(cc)) Seq.empty
    else fs.listStatus(cc).filter(_.isDirectory).map(_.getPath).toSeq
  }

  /** Convenience form for callers without a snapshot in hand (specs,
    * one-off tooling): reads the meta itself, then delegates.
    */
  private[graft] def prunedCellPaths(spark: SparkSession, path: String,
                                     cells: Seq[Long]): Seq[String] =
    prunedCellPaths(spark, path, readMeta(spark, path), cells)

  /** The queries' probed cells, resolved driver-side: |queries|·nprobe
    * rows — the bounded "query router" scalar of a real serving tier.
    */
  private[graft] def probedCells(queries: DataFrame, idCol: String,
                                 vecCol: String, centroids: DataFrame,
                                 nprobe: Int): Seq[Long] = {
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("qdist").desc, col("cell"))
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(broadcast(centroids))
      .withColumn("qdist", Similarity.cosine(col("qv"), col("centv")))
      .withColumn("r", row_number().over(probeW))
      .filter(col("r") <= nprobe)
      .select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq
  }

  /** Remove one COMMITTED batch — the executable repair for a batch
    * ingested with bad embeddings (re-encode and re-append it after;
    * a dropped id does NOT join the retired list, so the re-append is
    * allowed). The meta swap commits FIRST, then the directory
    * deletes: a crash between the two leaves an invisible orphan that
    * the next publish of the same content reclaims — a reprobe serves
    * the pre-drop or post-drop view, never a torn one. An IN-FLIGHT
    * probe that resolved this batch's cell paths under the pre-drop
    * snapshot fails loudly if the delete races its read (fail-closed,
    * never a wrong ranking); retry, or set `retainMs > 0`: the
    * delisted directory then stays in place (invisible — probes are
    * meta-driven) for at least that grace window, recorded under
    * `_pending_delete/` and reclaimed by a later maintenance call's
    * sweep (the [[IndexProtocol]] grace contract). Returns false if
    * the batch was not committed.
    */
  def dropBatch(spark: SparkSession, path: String,
                batchId: String, retainMs: Long = 0L): Boolean = {
    val fs = fsFor(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_staging/$batchId"),
      true)
    val (meta, raw) = readMetaRaw(spark, path)
    if (!meta.batches.contains(batchId)) false
    else {
      Layout.delist(fs, path,
        meta.copy(batches = meta.batches.filterNot(_ == batchId)), raw,
        Seq(batchId), retainMs)
      true
    }
  }

  /** DOC-LEVEL RETRACTION (the takedown/opt-out path, R1 — the
    * [[Bm25.retractFromBm25Index]] twin for vectors): physically
    * remove `ids`' codes from every listed batch. Affected batches'
    * remainder codes republish as fresh cell-partitioned batch
    * directories (atomic rename, invisible until the swap), then ONE
    * compare-and-set meta swap replaces the affected ids and RETIRES
    * the originals, so a redelivered embedding batch is still refused
    * instead of resurrecting the retracted vectors. Old directories
    * delete after the swap (or linger invisibly for `retainMs`, the
    * [[dropBatch]] grace contract). The meta carries no corpus
    * scalars, so the swap is pure list surgery. Returns the number of
    * distinct retracted ids found (0 = meta untouched).
    */
  def retractIds(spark: SparkSession, path: String, ids: Seq[Any],
                 retainMs: Long = 0L): Long = {
    require(ids.nonEmpty, "retractIds needs at least one id")
    val fs = fsFor(spark, path)
    val (meta, raw) = readMetaRaw(spark, path)
    import spark.implicits._
    Layout.retract(fs, path, meta, raw, ids.map(_.toString), retainMs) {
      b =>
        val cc = cellCodes(path, b)
        if (!fs.exists(cc)) None
        else {
          val rows = spark.read.parquet(cc.toString)
          val idsDf = ids.map(_.toString).toDF("__rid")
            .select(col("__rid").cast(rows.schema("id").dataType)
              .as("id")).distinct()
          val dn = rows.join(broadcast(idsDf), Seq("id"), "left_semi")
            .select(col("id")).distinct().count()
          if (dn == 0L) None
          else Some((dn, rows.join(broadcast(idsDf), Seq("id"), "left_anti")))
        }
    }((remainder, staging) => writeCodes(remainder, staging))(_ => meta)
      .sum
  }

  /** Index MAINTENANCE: merge every committed batch's codes into ONE
    * batch directory — the compaction a years-lived daily ingest
    * eventually needs (file and directory counts grow one batch per
    * day). Correctness-preserving by construction: probes read the
    * same (id, cell, subspace, code) row set afterwards.
    *
    * The REPLAY CONTRACT survives compaction: superseded batch ids
    * move to the meta's `retired` list, so [[append]] refuses their
    * re-submission exactly as before — and the superseded
    * DIRECTORIES delete outright, or after the `retainMs` grace
    * window (see [[dropBatch]]). The retired list is CAPPED at
    * `maxRetired` ids, newest kept ([[Bm25.compactBm25Index]]'s
    * rationale: bounded meta on the O(1) replay-guard path; the
    * trade-off — a batch retired more than `maxRetired` retirements
    * ago could be re-appended unrefused — is sized to the stream's
    * redelivery horizon, not the corpus).
    *
    * The merged batch id derives from the SORTED COMMITTED LIST
    * (the [[IndexProtocol]] scheme [[Bm25.compactBm25Index]] shares),
    * NOT from the content id set: a content-derived id can
    * collide with a committed batch that happens to carry the full id
    * set (double-ingest, or a corrected re-ingest under a new id),
    * and the collision would skip the merge while the sweep deleted
    * the other batches' rows — the serve would change with no error.
    * The list-derived space is disjoint from append ids by
    * construction (reserved shape, refused at append), a single
    * committed batch is a no-op, and crash re-runs recompute the same
    * id so residue is reclaimed.
    *
    * Crash honesty, stage by stage: merged batch publishes first
    * (atomic rename, invisible — unlisted); the meta swap flips
    * visibility to exactly [cid] atomically; only then do superseded
    * dirs retire. A crash before the swap re-runs cleanly; a crash
    * after it leaves invisible orphan dirs that the post-swap sweep
    * of any later compaction removes. At no point can a probe see a
    * torn view. SINGLE MAINTAINER contract (all three indexes):
    * compact/drop and the append/streaming ingest are one logical
    * writer — run maintenance in the same scheduler slot as ingest,
    * never concurrently; and since r10 that contract is ENFORCED: the
    * meta swap is compare-and-set against the bytes this compaction
    * read, so a batch committed between the read and the swap fails
    * the compaction loudly (the typed CAS failure) with the appended
    * batch intact — the merged directory is
    * unlisted residue, reclaimed by the re-run. Entry runs the A6d
    * audit as a PRE-FLIGHT ([[IndexProtocol.preflightCompaction]]):
    * a committed batch with lost payload refuses the compaction
    * (typed [[graft.IndexUnhealthy]] — merging would bake the loss in
    * permanently) and a lost current-gen snapshot record is re-recorded
    * while the meta bytes still exist. Returns the merged batch's id.
    */
  def compact(spark: SparkSession, path: String, retainMs: Long = 0L,
              maxRetired: Int = 512): String =
    compactImpl(spark, path, retainMs, maxRetired, () => ())

  /** [[compact]] with two test seams: `beforeSwap` runs between the
    * merged batch's publish and the meta swap — the window the CAS
    * exists to defend — so the interleaved-append spec can prove the
    * compaction fails loudly instead of delisting the newcomer; and
    * `beforeSweep` runs between the committed swap and the retire
    * sweep, so the sweep-rail spec can prove a batch committed in
    * THAT window survives with its directory intact.
    */
  private[graft] def compactImpl(spark: SparkSession, path: String,
                                 retainMs: Long, maxRetired: Int,
                                 beforeSwap: () => Unit,
                                 beforeSweep: () => Unit = () => ())
      : String = {
    val fs = fsFor(spark, path)
    Layout.compact(fs, path, retainMs, maxRetired, beforeSwap,
      beforeSweep) { (meta, staging) =>
      val all = meta.batches.flatMap(cellDirs(fs, path, _))
      require(all.nonEmpty, s"no code partitions to compact at $path")
      // the exact-row dedup mirrors the probe's read-side discipline
      // (topK dropDuplicates the same four columns), so the merged
      // batch serves bit-identically — including under double-ingest,
      // where the duplicate codes were already invisible to scoring
      writeCodes(all
        .groupBy(p => p.getName.stripPrefix("cell=").toLong)
        .map { case (c, ps) =>
          spark.read.parquet(ps.map(_.toString): _*)
            .withColumn("cell", lit(c))
        }.reduce(_.unionByName(_))
        .dropDuplicates("id", "subspace", "code", "cell"),
        staging, cluster = true)
    }
  }

  // ---- zero-downtime republish: the serving pointer --------------

  /** Point the serving tier at an index root with one effectively
    * atomic swap — the retrain→reindex flow: train new artifacts,
    * [[write]] a complete index under a FRESH path, then redirect the
    * pointer. In-flight probes finish against the root they already
    * resolved; every later [[resolvePointer]] sees the new one; the
    * superseded root is dropped after a grace period. The swap is the
    * `_meta.next` protocol: stage `<pointer>.next`, delete, rename —
    * a crash mid-swap self-heals on the next resolve.
    */
  def writePointer(spark: SparkSession, pointerPath: String,
                   indexRoot: String): Unit = {
    // refuse to point at a root no probe could serve
    readMeta(spark, indexRoot)
    IndexProtocol.writePointer(fsFor(spark, pointerPath),
      new org.apache.hadoop.fs.Path(pointerPath), indexRoot)
  }

  /** Resolve the active index root; self-heals a crashed swap. */
  def resolvePointer(spark: SparkSession,
                     pointerPath: String): String =
    IndexProtocol.readPointer(fsFor(spark, pointerPath),
        new org.apache.hadoop.fs.Path(pointerPath)).getOrElse(
      throw new IllegalArgumentException(
        s"no serving pointer at $pointerPath — publish one with " +
          "VectorIndex.writePointer"))

  /** The pointer-resolved serve — what a serving tier actually calls,
    * so republishing an index never interrupts it.
    */
  def topKVia(spark: SparkSession, pointerPath: String, emb: DataFrame,
              idCol: String, vecCol: String,
              queryPred: org.apache.spark.sql.Column,
              k: Int = 10, nprobe: Int = 2,
              rerank: Int = 50): DataFrame =
    topK(spark, resolvePointer(spark, pointerPath), emb, idCol, vecCol,
      queryPred, k, nprobe, rerank)

  /** The full indexed serve: route queries to cells driver-side, read
    * ONLY those cells' code partitions (across the committed batches)
    * by explicit path, cell-local ADC shortlist, exact re-rank
    * against the vector table. Results are bit-identical to the
    * in-memory [[Similarity.ivfpqTopKReranked]] over the same
    * artifacts — the index changes where codes come from, never the
    * arithmetic. That includes the empty edge: a healthy sparse index
    * whose probed cells all happen to be memberless (partitionBy
    * writes no directory for them) returns the EMPTY result in the
    * scored schema, exactly as the in-memory form does — only an
    * index with no committed batches at all refuses loudly.
    *
    * `emb` is the vector table stage 2 re-ranks from (the serving
    * tier's vector store); only shortlisted ids are touched, by
    * equi-join.
    */
  def topK(spark: SparkSession, path: String, emb: DataFrame,
           idCol: String, vecCol: String,
           queryPred: org.apache.spark.sql.Column,
           k: Int = 10, nprobe: Int = 2, rerank: Int = 50): DataFrame = {
    // ONE meta read per probe: the same snapshot supplies geometry
    // and the visibility list, torn-free under concurrent maintenance
    serveWithMeta(spark, path, readMeta(spark, path), emb, idCol,
      vecCol, queryPred, k, nprobe, rerank)
  }

  /** The live index's current committed generation — what a reader
    * records alongside derived artifacts so [[topKAt]] can later
    * reproduce exactly the view those artifacts were computed from.
    */
  def currentGen(spark: SparkSession, path: String): Long =
    readMeta(spark, path).gen

  /** AS-OF-GENERATION serve (snapshot read): probe the index exactly
    * as it was at committed generation `gen` — the Iceberg-style
    * time-travel read restated on the batch-directory layout. The
    * snapshot's committed list comes from the `_meta_history` record
    * the swap at `gen` wrote; physical servability is bounded by
    * retention — a batch RETIRED after `gen` stays on disk (and this
    * probe stays answerable) only within its grace window
    * (`retainMs`), so snapshots are a bounded window by design, not
    * an unbounded log. A missing history record or a reclaimed batch
    * directory refuses with the typed [[graft.SnapshotUnavailable]]
    * so a reader can fall back to the live serve without message
    * matching. The serve arithmetic is [[topK]]'s, bit-identical —
    * only the visibility list differs.
    */
  def topKAt(spark: SparkSession, path: String, gen: Long,
             emb: DataFrame, idCol: String, vecCol: String,
             queryPred: org.apache.spark.sql.Column,
             k: Int = 10, nprobe: Int = 2, rerank: Int = 50): DataFrame =
    serveWithMeta(spark, path, Layout.readAt(fsFor(spark, path), path, gen),
      emb, idCol, vecCol, queryPred, k, nprobe, rerank)

  private def serveWithMeta(spark: SparkSession, path: String,
                            meta: VecMeta, emb: DataFrame,
                            idCol: String, vecCol: String,
                            queryPred: org.apache.spark.sql.Column,
                            k: Int, nprobe: Int,
                            rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank width $rerank must cover k=$k")
    require(meta.batches.nonEmpty,
      s"vector index at $path has no committed batches — everything " +
        "was dropped; append or rebuild before serving")
    val centroids = spark.read.parquet(s"$path/centroids")
    val codebook = spark.read.parquet(s"$path/codebook")
    val queries = emb.filter(queryPred)
    val cells = probedCells(queries, idCol, vecCol, centroids, nprobe)
    val paths = prunedCellPaths(spark, path, meta, cells)
    if (paths.isEmpty) {
      // every probed cell is memberless: the scored schema's empty
      // result (names AND types as a non-empty serve), the same
      // contract as the BM25 probe's absent-terms branch
      val idT = emb.schema(idCol).dataType
      return emb.sparkSession.emptyDataFrame
        .withColumn("query_id", lit(null).cast(idT))
        .withColumn("cand_id", lit(null).cast(idT))
        .withColumn("rank", lit(null).cast("bigint"))
        .withColumn("cos_sim", lit(null).cast("double"))
        .filter(lit(false))
    }
    // one scan relation per probed CELL (its directories across all
    // batches union in a single read); the partition-encoded cell
    // value is recovered from the directory name, so no
    // basePath-wide discovery runs — plan size is bounded by the
    // probed-cell count, not the batch count. The exact-row
    // dropDuplicates is defense in depth on probed-cells-sized data:
    // an intentional re-ingest of identical content under a new
    // batch id must not double the ADC partial sums (the dedup
    // index's dedupe-on-read discipline)
    val cellCodes = paths
      .groupBy(p => p.substring(p.lastIndexOf("cell=") + 5).toLong)
      .map { case (c, ps) =>
        spark.read.parquet(ps: _*).withColumn("cell", lit(c))
      }.reduce(_.unionByName(_))
      .dropDuplicates("id", "subspace", "code", "cell")
    Similarity.pqRerank(emb, idCol, vecCol, queryPred,
      Similarity.ivfpqShortlist(queries, idCol, vecCol, centroids,
        cellCodes, codebook, meta.m, meta.dim, rerank, nprobe), k)
  }
}
