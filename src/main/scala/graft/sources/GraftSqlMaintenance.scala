package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, LongType, StringType}

/** The SQL MAINTENANCE verbs — `OPTIMIZE` / `VACUUM` / `FSCK
  * [REPAIR] TABLE` / `DESCRIBE HISTORY` / `SHOW PARTITIONS` on graft
  * targets, intercepted by [[GraftSqlParser]] BEFORE Spark's own
  * grammar (OPTIMIZE/VACUUM/FSCK are not Spark statements at all;
  * DESCRIBE HISTORY would mis-parse as a column describe; SHOW
  * PARTITIONS would refuse on a DSv2 table without partition
  * management) — so compaction, clustering, retention, and the fsck
  * are reachable from a pure SQL prompt exactly like the S28/S33 DML
  * verbs. Non-graft targets pass through to Spark untouched.
  */
private[graft] object GraftSqlMaintenance {

  private[sources] def requireManifest(t: GraftSqlDml.Target,
                                       what: String): Unit =
    if (!t.manifestLayout) throw new IllegalStateException(
      s"$what needs the manifest layout — snapshot-layout tables " +
        "are full copies (compact with SnapshotStore.compactCurrent*)")

  /** Count the table's metadata + pool inventory — the before/after
    * pair VACUUM reports its reclaim from.
    */
  private[sources] def inventory(spark: SparkSession,
                                 t: GraftSqlDml.Target): (Long, Long) = {
    val fs = Tables.fsFor(spark, t.root)
    val metaBase = new Path(
      if (t.manifestLayout) s"${t.root}/_manifests"
      else s"${t.root}/_snapshots")
    val gens =
      if (!fs.exists(metaBase)) 0L
      else fs.listStatus(metaBase)
        .count(st => st.getPath.getName.toLongOption.isDefined).toLong
    val poolBase = new Path(
      if (t.manifestLayout) s"${t.root}/_writes"
      else s"${t.root}/_snapshots")
    val files = Tables.filesUnder(fs, poolBase).count { f =>
      !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith(".")
    }.toLong
    (gens, files)
  }
}

/** `OPTIMIZE t [TARGET <bytes>] [SORT BY (c1, ...)]` — S13/S26 from
  * SQL: without SORT BY, small-file compaction to the byte target;
  * with it, range-clustering on the sort key. Returns the committed
  * generation and how many partitions rewrote (0 = nothing to do, no
  * new generation).
  */
case class GraftOptimizeCommand(table: Seq[String],
                                target: GraftSqlDml.Target,
                                targetBytes: Option[Long],
                                sortCols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("gen", LongType, nullable = false)(),
    AttributeReference("partitions_rewritten", LongType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlMaintenance.requireManifest(target, "OPTIMIZE")
    val bytes = targetBytes.getOrElse(128L * 1024 * 1024)
    // a maintenance publish INHERITS the table's recorded retention
    // (the keep= the pointer carries) — stamping a default here
    // would silently widen or narrow the operator's window
    val fs = Tables.fsFor(spark, target.root)
    val keep = Generations.parsedKeep(MetaSwap.readCommitted(fs,
      Generations.pointer(target.root))).getOrElse(3)
    val rewritten =
      if (sortCols.isEmpty)
        ManifestStore.compactSmallPartitions(spark, target.root,
          bytes, keep = keep)
      else
        ManifestStore.clusterPartitions(spark, target.root, sortCols,
          bytes, keep = keep)
    val gen = ManifestStore.currentGen(spark, target.root).getOrElse(
      throw new IllegalStateException(
        s"no published manifest table at ${target.root}"))
    Seq(Row(gen, rewritten.toLong))
  }
}

/** `VACUUM t` — explicit retention maintenance (S27's expire from
  * SQL): prune NOW against the serving generation's recorded
  * keep/grace. Returns the reclaim counts (metadata generations and
  * pool files before − after) and what remains.
  */
case class GraftVacuumCommand(table: Seq[String],
                              target: GraftSqlDml.Target)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("reclaimed_generations", LongType,
      nullable = false)(),
    AttributeReference("reclaimed_files", LongType,
      nullable = false)(),
    AttributeReference("retained_generations", LongType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (gBefore, fBefore) =
      GraftSqlMaintenance.inventory(spark, target)
    if (target.manifestLayout) ManifestStore.expire(spark, target.root)
    else SnapshotStore.expire(spark, target.root)
    val (gAfter, fAfter) = GraftSqlMaintenance.inventory(spark, target)
    Seq(Row(math.max(0L, gBefore - gAfter),
      math.max(0L, fBefore - fAfter), gAfter))
  }
}

/** `FSCK TABLE t` — the fsck from SQL: one row per audit finding. */
case class GraftFsckCommand(table: Seq[String],
                            target: GraftSqlDml.Target)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("status", StringType, nullable = false)(),
    AttributeReference("healthy", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val findings =
      if (target.manifestLayout)
        graft.operators.IndexAudit.auditManifestTable(spark,
          target.root)
      else graft.operators.IndexAudit.auditSnapshots(spark,
        target.root)
    findings.map(f => Row(f.kind, f.name, f.status, f.healthy))
  }
}

/** `FSCK REPAIR TABLE t` — executable repair: one row per action. */
case class GraftFsckRepairCommand(table: Seq[String],
                                  target: GraftSqlDml.Target)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("action", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val df =
      if (target.manifestLayout)
        graft.operators.IndexAudit.repairManifestTable(spark,
          target.root)
      else graft.operators.IndexAudit.repairSnapshots(spark,
        target.root)
    df.collect().toSeq
      .map(r => Row(r.getString(0), r.getString(1), r.getString(2)))
  }
}

/** `DESCRIBE HISTORY t` — the generation log from SQL: one row per
  * retained metadata generation, newest first, with the fsck's own
  * status classification (serving / superseded_retained /
  * grace_retained / ref_pinned / publish_residue / ...).
  */
case class GraftHistoryCommand(table: Seq[String],
                               target: GraftSqlDml.Target)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("generation", LongType, nullable = false)(),
    AttributeReference("published_at_ms", LongType,
      nullable = true)(),
    AttributeReference("status", StringType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val fs = Tables.fsFor(spark, target.root)
    if (target.manifestLayout) {
      val statusByGen = graft.operators.IndexAudit
        .auditManifestTable(spark, target.root)
        .filter(_.kind == "manifest")
        .map(f => f.name -> f.status).toMap
      val base = new Path(s"${target.root}/_manifests")
      val gens =
        if (!fs.exists(base)) Seq.empty[Long]
        else fs.listStatus(base).toSeq
          .flatMap(_.getPath.getName.toLongOption).sorted.reverse
      gens.map { g =>
        val gf = ManifestStore.genFileAt(spark, target.root, g)
        val n = ManifestStore
          .assembleLenient(fs, target.root, gf)._1.size.toLong
        Row(g,
          if (gf.publishedMs > 0L) gf.publishedMs else null,
          statusByGen.getOrElse(g.toString, "unknown"), n)
      }
    } else {
      val statusByGen = graft.operators.IndexAudit
        .auditSnapshots(spark, target.root)
        .filter(_.kind == "gen")
        .map(f => f.name -> f.status).toMap
      val base = new Path(s"${target.root}/_snapshots")
      val gens =
        if (!fs.exists(base)) Seq.empty[Long]
        else fs.listStatus(base).toSeq
          .flatMap(_.getPath.getName.toLongOption).sorted.reverse
      gens.map { g =>
        val dir = new Path(s"${target.root}/_snapshots/$g")
        val n = fs.listStatus(dir)
          .count(f => f.isFile &&
            f.getPath.getName.endsWith(".parquet")).toLong
        Row(g,
          SnapshotStore.publishedAt(fs, target.root, g)
            .map(Long.box).orNull,
          statusByGen.getOrElse(g.toString, "unknown"), n)
      }
    }
  }
}

/** `SHOW PARTITIONS t` on a graft manifest table: one row per
  * partition value of the SERVING generation — file/byte inventory
  * straight off the manifest (driver metadata, no data read).
  */
case class GraftShowPartitionsCommand(table: Seq[String],
                                      target: GraftSqlDml.Target)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("partition", StringType, nullable = false)(),
    AttributeReference("n_files", LongType, nullable = false)(),
    AttributeReference("n_delete_files", LongType,
      nullable = false)(),
    AttributeReference("bytes", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    GraftSqlMaintenance.requireManifest(target, "SHOW PARTITIONS")
    val fs = Tables.fsFor(spark, target.root)
    val gen = ManifestStore.currentGen(spark, target.root).getOrElse(
      throw new IllegalStateException(
        s"no published manifest table at ${target.root}"))
    val m = ManifestStore.manifestAt(spark, target.root, gen)
    m.entries.groupBy(_.partition).toSeq.sortBy(_._1).map {
      case (p, es) =>
        val (dels, datas) = es.partition(ManifestStore.isDeleteEntry)
        val bytes = es.map(e => fs.getFileStatus(
          new Path(s"${target.root}/${e.relPath}")).getLen).sum
        Row(p, datas.size.toLong, dels.size.toLong, bytes)
    }
  }
}
