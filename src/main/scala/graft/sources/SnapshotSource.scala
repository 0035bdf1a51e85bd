package graft.sources

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister,
  RelationProvider}

/** The SQL/DataFrameReader surface of the pointer-served tables —
  * S19's `readCurrent`/`readAt` (and the S20 manifest table's)
  * reachable without touching the Scala API, the `VERSION AS OF`
  * ergonomics restated as a standard data source:
  *
  * {{{
  *   -- pure SQL: a temp view over a served or time-traveled gen
  *   CREATE TEMPORARY VIEW fact USING `graft-snapshot`
  *     OPTIONS (path '/warehouse/gold/fact_sales', versionAsOf '7');
  *   SELECT ... FROM fact;
  *
  *   // DataFrameReader
  *   spark.read.format("graft-snapshot")
  *     .option("versionAsOf", 7).load(root)
  * }}}
  *
  * Options: `path` (the table root), `versionAsOf` (a generation —
  * omit for the serving one), `timestampAsOf` (time travel), `ref`
  * (an S25 tag or branch name — manifest tables only; a tag view is
  * pinned by construction, a branch view serves the head committed
  * at creation). The LAYOUT is probed from the root:
  * a `_manifests/` tree means the S20 manifest table, otherwise the
  * S19 snapshot table — one source name for the whole pointer
  * family.
  *
  * The relation handed back is the resolved generation's REAL
  * file-source relation ([[org.apache.spark.sql.GraftSqlBridge
  * .fileRelationOf]]), so SQL over a snapshot keeps native parquet
  * pushdown and pruning — this provider adds exactly one pointer
  * read of planning-time cost and nothing at scan time. Resolution
  * happens at VIEW CREATION (DSv1 relations are resolved once): a
  * view pinned with `versionAsOf` is immutable by construction; a
  * view created without it serves the generation that was current at
  * creation — re-create (or re-`load`) to follow the pointer, which
  * is the same read-your-resolution contract every
  * [[SnapshotStore.readCurrent]] caller already has. Refusals are
  * the typed ones the Scala API throws ([[graft.SnapshotUnavailable]]
  * for a residue or pruned gen).
  */
class SnapshotSource extends RelationProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft-snapshot"

  /** The STREAMING SINK form (`writeStream.format("graft-snapshot")`
    * — the `.toTable` ergonomics for the pointer family): every
    * micro-batch promotes through
    * [[graft.streaming.SnapshotStream.publishBatch]] — one
    * content-keyed partition per batch, atomically pointer-swapped,
    * exactly-once by the checkpoint plus the content-id replay guard
    * (a redelivered batch's typed refusal is treated as
    * already-done). Options: `path` (table root) or `table` (a
    * catalog identifier — S39 resolution), `idCol` (the
    * content-derivation key, required), `keep`, `retainMs`.
    */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming
                            .OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "the graft-snapshot sink partitions on the batch content id " +
        "by construction — drop partitionBy")
    val target = parameters.get("path")
      .orElse(parameters.get("table"))
      .getOrElse(throw new IllegalArgumentException(
        "the graft-snapshot sink needs a path option (the table " +
          "root) or a table option (a catalog identifier)"))
    val idCol = parameters.getOrElse("idCol",
      throw new IllegalArgumentException(
        "the graft-snapshot sink needs an idCol option (the " +
          "column its content-derived batch ids key on)"))
    val keep = parameters.get("keep").map(_.toInt).getOrElse(3)
    val retainMs = parameters.get("retainMs").map(_.toLong)
      .getOrElse(0L)
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long,
                            data: org.apache.spark.sql.DataFrame)
          : Unit = {
        val batch = org.apache.spark.sql.GraftSqlBridge.asBatch(data)
        if (!batch.isEmpty) {
          try {
            graft.streaming.SnapshotStream.publishBatch(
              batch.sparkSession, batch, target, idCol, keep,
              retainMs)
            ()
          } catch {
            // redelivery: this exact batch already promoted
            case _: graft.BatchAlreadyLanded => ()
          }
        }
      }
    }
  }

  /** `timestampAsOf` accepts epoch milliseconds or an ISO-ish local
    * timestamp (`yyyy-MM-dd[ HH:mm:ss[.fff]]`, `T` separator fine),
    * interpreted in UTC — the timezone the publish instants are
    * recorded in.
    */
  private def parseTs(v: String): Long =
    v.toLongOption.getOrElse {
      val norm = v.trim.replace('T', ' ')
      val withTime =
        if (norm.contains(' ')) norm else s"$norm 00:00:00"
      try java.time.LocalDateTime
        .parse(withTime.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      catch {
        case _: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"timestampAsOf must be epoch millis or " +
              s"yyyy-MM-dd[ HH:mm:ss], got '$v'")
      }
    }

  /** The manifest-table relation: empty generations serve an
    * explicit empty relation; tables WITH declared stat columns serve
    * through the stats-pruning FileIndex
    * ([[org.apache.spark.sql.GraftSqlBridge.statsPrunedFileRelation]])
    * so a pushed-down SQL range filter opens only the files whose
    * recorded `[min, max]` can match (the S22 entry-level skip,
    * now reachable from a SQL prompt); tables without stats keep the
    * plain explicit-file relation — zero added planning cost.
    */
  private def manifestRelation(sqlContext: SQLContext, root: String,
                               m: ManifestStore.Manifest,
                               pinned: Boolean)
      : BaseRelation = {
    val spark = sqlContext.sparkSession
    val schema =
      org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    def mark(rel: BaseRelation): BaseRelation =
      if (!pinned) rel
      else org.apache.spark.sql.GraftSqlBridge.withRelationOption(
        rel, SnapshotSource.PinnedOption, "true")
    if (m.entries.isEmpty)
      new EmptySnapshotRelation(sqlContext, schema, root, pinned)
    else if (m.entries.exists(ManifestStore.isDeleteEntry) ||
        m.renames.nonEmpty)
      // a generation carrying DELETION VECTORS (S37) or a column
      // RENAME MAPPING (S40) cannot serve as a bare file relation —
      // the scan must anti-join recorded positions out / read each
      // file era under its physical names. Serve the applied
      // DataFrame through a pruned-scan wrapper; the DV state is
      // transient (any COW rewrite or OPTIMIZE folds the vectors),
      // and a replaceAll rebuild clears the mapping
      new DvSnapshotRelation(sqlContext, schema, root,
        ManifestStore.readEntries(spark, root, m.schemaDdl, m.entries,
          m.renames),
        pinned)
    else if (m.statsCols.isEmpty)
      mark(org.apache.spark.sql.GraftSqlBridge.fileRelationOf(
        ManifestStore.readEntries(spark, root, m.schemaDdl, m.entries,
          m.renames)))
    else mark(org.apache.spark.sql.GraftSqlBridge.statsPrunedFileRelation(
      spark, schema,
      m.entries.map(e => s"$root/${e.relPath}" -> e.stats),
      dt => ManifestStore.statCompare(dt)))
  }

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String])
      : BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-snapshot needs a path option (the table root)"))
    val genOpt = parameters.get("versionAsOf").map { v =>
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"versionAsOf must be a generation number, got '$v'"))
    }
    val tsOpt = parameters.get("timestampAsOf").map(parseTs)
    val refOpt = parameters.get("ref")
    require(Seq(genOpt, tsOpt, refOpt).count(_.isDefined) <= 1,
      "versionAsOf, timestampAsOf and ref are mutually exclusive")
    // a view resolved through an EXPLICIT pin carries a marker the
    // DML router reads: DML through it would mutate the SERVING
    // generation while the reader sees the pinned one — refused there
    val pinned =
      genOpt.isDefined || tsOpt.isDefined || refOpt.isDefined
    def mark(rel: BaseRelation): BaseRelation =
      if (!pinned) rel
      else org.apache.spark.sql.GraftSqlBridge.withRelationOption(
        rel, SnapshotSource.PinnedOption, "true")
    val isManifest = Tables.fsFor(spark, root).exists(
      new org.apache.hadoop.fs.Path(s"$root/_manifests"))
    // a REF resolves here at view creation, like everything else: a
    // tag view is pinned by construction; a branch view serves the
    // head that was committed at creation (re-create to follow)
    if (refOpt.isDefined) {
      val name = refOpt.get
      if (!isManifest)
        // snapshot-layout refs: a tag resolves to its pinned
        // generation, a branch to its head copy (the base generation
        // while head = 0) — both real file relations
        mark(org.apache.spark.sql.GraftSqlBridge.fileRelationOf(
          SnapshotStore.readRef(spark, root, name)))
      else ManifestStore.refAt(spark, root, name) match {
        case Generations.TagRef(g, _) =>
          manifestRelation(sqlContext, root,
            ManifestStore.manifestAt(spark, root, g), pinned)
        case b: Generations.BranchRef =>
          val fs = Tables.fsFor(spark, root)
          manifestRelation(sqlContext, root, ManifestStore.assemble(
            fs, root,
            ManifestStore.branchGenFile(spark, root, name, b)), pinned)
      }
    } else {
    // time resolves to a generation ONCE, here — the view is then
    // pinned exactly like a versionAsOf view
    val gen = genOpt.orElse(tsOpt.map { t =>
      if (isManifest) ManifestStore.genAsOfTimestamp(spark, root, t)
      else SnapshotStore.genAsOfTimestamp(spark, root, t)
    })
    if (isManifest) {
      val g = gen.getOrElse(
        ManifestStore.currentGen(spark, root).getOrElse(
          throw new IllegalStateException(
            s"no published manifest table at $root")))
      manifestRelation(sqlContext, root,
        ManifestStore.manifestAt(spark, root, g), pinned)
    } else {
      val df = gen match {
        case Some(g) => SnapshotStore.readAt(spark, root, g)
        case None    => SnapshotStore.readCurrent(spark, root)
      }
      mark(org.apache.spark.sql.GraftSqlBridge.fileRelationOf(df))
    }
    }
  }
}

object SnapshotSource {
  /** The relation option marking a view resolved through an explicit
    * pin (`versionAsOf`/`timestampAsOf`/`ref`) — read by
    * [[GraftSqlDml.targetOf]] to refuse DML through such a view.
    */
  private[graft] val PinnedOption = "graft.pinned"
}

/** The zero-entry manifest generation's SQL relation: the recorded
  * schema with no rows — what makes an emptied-by-retention (or
  * [[ManifestStore.deleteWhere]]-emptied) table still SELECTable.
  * Carries the table `root` explicitly (there are no file paths to
  * derive it from) so the SQL DML router ([[GraftSqlDml.targetOf]])
  * can still address the table — a MERGE INTO an emptied table is a
  * perfectly good way to refill it.
  */
private[graft] class EmptySnapshotRelation(
    override val sqlContext: SQLContext,
    override val schema: org.apache.spark.sql.types.StructType,
    val root: String,
    val pinned: Boolean = false)
    extends BaseRelation with org.apache.spark.sql.sources.TableScan {
  override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    sqlContext.sparkContext.emptyRDD[org.apache.spark.sql.Row]
}

/** The SQL relation of a generation carrying DELETION VECTORS (S37):
  * wraps the DV-applied DataFrame (data scan anti-joined with the
  * recorded positions). Column pruning pushes into the wrapped plan
  * (the parquet scan reads only the requested columns plus the join
  * key); filters apply above the anti-join — sound, and cheap in the
  * state this relation exists for (vectors pending the next COW
  * rewrite/OPTIMIZE, which folds them and restores the plain pushed-
  * down file relation). Carries `root`/`pinned` explicitly for the
  * DML router ([[GraftSqlDml.targetOf]]), the
  * [[EmptySnapshotRelation]] posture.
  */
private[graft] class DvSnapshotRelation(
    override val sqlContext: SQLContext,
    override val schema: org.apache.spark.sql.types.StructType,
    val root: String,
    df: org.apache.spark.sql.DataFrame,
    val pinned: Boolean = false)
    extends BaseRelation with org.apache.spark.sql.sources.PrunedScan {
  override def buildScan(requiredColumns: Array[String])
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    (if (requiredColumns.isEmpty) df
     else df.select(requiredColumns.toSeq.map(
       org.apache.spark.sql.functions.col): _*)).rdd
}
