package org.apache.spark.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.types.{DataType, StructType}

/** Bridge into the `private[sql]` Column ↔ Expression converters so
  * graft's native Catalyst expressions can expose a public Column API
  * (the standard extension-library technique for Spark 4's split
  * Column representation).
  */
object GraftSqlBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Block until every event posted so far has reached the session's
    * listeners — the listener bus delivers asynchronously, so a
    * profiler reads its counters only after this (`waitUntilEmpty` is
    * `private[spark]`, hence bridged).
    */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** A DataFrame over an unresolved logical plan — what lets the DML
    * router carry an `INSERT INTO ... SELECT` statement's query
    * subtree into its command and analyze it at execution
    * (`Dataset.ofRows` is `private[sql]`, hence bridged).
    */
  def dfOf(spark: SparkSession,
           plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Dataset[Row] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      plan)

  /** The file-source [[sources.BaseRelation]] inside a DataFrame's
    * analyzed plan — what lets graft's pointer-resolving data source
    * ([[graft.sources.SnapshotSource]]) hand Spark the REAL
    * HadoopFsRelation of the resolved generation, so SQL reads over a
    * snapshot get native pushdown/pruning instead of a wrapper scan.
    * Defined here because [[execution.datasources.LogicalRelation]]
    * is an sql-internal plan node.
    */
  def fileRelationOf(df: Dataset[Row]): sources.BaseRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: execution.datasources.LogicalRelation => l.relation
    }.getOrElse(throw new IllegalStateException(
      "no file relation in plan — expected a plain file-source read"))

  /** Re-wrap a batch DataFrame as a STREAMING one — what a DSv1
    * streaming [[execution.streaming.Source]]'s `getBatch` must
    * return (MicroBatchExecution asserts `isStreaming` on the plan).
    * `internalCreateDataFrame(isStreaming = true)` is the standard
    * source-implementation technique (Spark's own FileStreamSource
    * does exactly this); it is `private[sql]`, hence bridged here.
    */
  def asStreamingBatch(df: Dataset[Row]): Dataset[Row] = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** A batch DataFrame over already-computed internal rows of
    * `schema` (what [[graft.Checkpoints.cachedRows]] reads its
    * persisted rows through; `internalCreateDataFrame` is
    * `private[sql]`, hence bridged here).
    */
  def ofRows(spark: SparkSession,
             rows: org.apache.spark.rdd.RDD[catalyst.InternalRow],
             schema: StructType): Dataset[Row] =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Destroy `b` and wait until its blocks are removed (the blocking
    * form is `private[spark]`, hence bridged here).
    */
  def destroyBlocking(b: org.apache.spark.broadcast.Broadcast[_]): Unit =
    b.destroy(blocking = true)

  /** The inverse: re-wrap the DataFrame a DSv1 [[execution.streaming
    * .Sink]]'s `addBatch` receives (a streaming-tagged plan) as a
    * plain BATCH frame the store ops can publish — the standard
    * sink-implementation technique (Delta's DeltaSink does exactly
    * this); `internalCreateDataFrame` is `private[sql]`, hence
    * bridged here.
    */
  def asBatch(df: Dataset[Row]): Dataset[Row] = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Re-tag a file relation with an extra option — how
    * [[graft.sources.SnapshotSource]] marks a view resolved through an
    * explicit pin (`versionAsOf`/`timestampAsOf`/`ref`) so the DML
    * router can refuse writes through it (a pinned view names a
    * non-serving state; mutating the SERVING generation through it
    * would be a silent surprise). Non-file relations pass through —
    * the caller marks those by its own means.
    */
  def withRelationOption(rel: sources.BaseRelation, key: String,
                         value: String): sources.BaseRelation =
    rel match {
      case h: execution.datasources.HadoopFsRelation =>
        h.copy(options = h.options + (key -> value))(h.sparkSession)
      case other => other
    }

  /** Read an option off a file relation (None for other kinds). */
  def relationOption(rel: sources.BaseRelation,
                     key: String): Option[String] = rel match {
    case h: execution.datasources.HadoopFsRelation => h.options.get(key)
    case _ => None
  }

  /** A real parquet [[execution.datasources.HadoopFsRelation]] over
    * an EXPLICIT file list whose [[execution.datasources.FileIndex]]
    * additionally prunes on per-file column stats at PLANNING time —
    * what wires the manifest table's entry-level `(min, max)` stats
    * (graft's S22 layer) into the SQL surface: a pushed-down range
    * filter reaches `listFiles` as `dataFilters`, and files whose
    * recorded range provably cannot match are never opened, exactly
    * the Delta/Iceberg data-skipping architecture (their FileIndex
    * does the same against their own stats). Everything else about
    * the scan stays native — FileSourceScanExec, vectorized parquet,
    * row-group pushdown of the residual filter.
    *
    * `files` maps each absolute path to its stats (canonical strings;
    * a column absent = no stats, never pruned on); `compare` is the
    * TYPED comparator for a column's DataType (graft's statCompare —
    * lexicographic "9" > "10" would mis-prune).
    */
  def statsPrunedFileRelation(spark: SparkSession,
                              dataSchema: StructType,
                              files: Seq[(String, Map[String, (String, String)])],
                              compare: DataType => (String, String) => Int)
      : sources.BaseRelation = {
    val cls = spark.asInstanceOf[classic.SparkSession]
    val index = new GraftStatsFileIndex(cls, dataSchema, files, compare)
    execution.datasources.HadoopFsRelation(
      index,
      partitionSchema = new StructType(),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat =
        new execution.datasources.parquet.ParquetFileFormat,
      options = Map.empty)(cls)
  }
}

/** The stats-pruning [[execution.datasources.FileIndex]] behind
  * [[GraftSqlBridge.statsPrunedFileRelation]]: an
  * [[execution.datasources.InMemoryFileIndex]] over the explicit file
  * list (no directory-name partition inference — the same posture as
  * `spark.read.parquet(files: _*)`), whose `listFiles` drops every
  * file whose recorded `[min, max]` PROVES a pushed data filter
  * cannot match. Unknown expressions, missing stats, and non-literal
  * comparands all KEEP the file — pruning is an optimization, never a
  * correctness decision.
  */
private[sql] class GraftStatsFileIndex(
    session: classic.SparkSession,
    dataSchema: StructType,
    files: Seq[(String, Map[String, (String, String)])],
    compare: DataType => (String, String) => Int)
    extends execution.datasources.InMemoryFileIndex(
      session, files.map(f => new Path(f._1)), Map.empty,
      Some(dataSchema)) {

  // keyed on the last two path segments (the staged partition dir +
  // file name) — stable across scheme/authority renderings of the
  // same file, the manifest stats pass's own key
  private def keyOf(p: Path): String =
    p.toUri.getPath.split('/').takeRight(2).mkString("/")

  private val statsByKey: Map[String, Map[String, (String, String)]] =
    files.map { case (p, st) => keyOf(new Path(p)) -> st }.toMap

  private def ext(v: Any, dt: DataType): String =
    CatalystTypeConverters.convertToScala(v, dt).toString

  /** TRUE only when the filter PROVES the file holds no match. */
  private def excludedBy(stats: Map[String, (String, String)],
                         e: Expression): Boolean = e match {
    case And(l, r) => excludedBy(stats, l) || excludedBy(stats, r)
    case EqualTo(a: Attribute, Literal(v, dt)) => outside(stats, a, v, dt)
    case EqualTo(Literal(v, dt), a: Attribute) => outside(stats, a, v, dt)
    // a > v: impossible when max <= v; a >= v: impossible when max < v
    case GreaterThan(a: Attribute, Literal(v, dt)) =>
      maxCmp(stats, a, v, dt).exists(_ <= 0)
    case GreaterThanOrEqual(a: Attribute, Literal(v, dt)) =>
      maxCmp(stats, a, v, dt).exists(_ < 0)
    case LessThan(a: Attribute, Literal(v, dt)) =>
      minCmp(stats, a, v, dt).exists(_ >= 0)
    case LessThanOrEqual(a: Attribute, Literal(v, dt)) =>
      minCmp(stats, a, v, dt).exists(_ > 0)
    // IN: the predicate can only be TRUE on a non-null listed value
    // (a NULL in the list yields NULL, which filters), so the file is
    // provably empty of matches when EVERY non-null literal lies
    // outside its recorded range — including the all-null/empty list
    case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
      list.collect { case Literal(v, dt) if v != null => (v, dt) }
        .forall { case (v, dt) => outside(stats, a, v, dt) } &&
        stats.contains(a.name)
    case InSet(a: Attribute, hset) =>
      hset.forall(v => v == null ||
        outside(stats, a, v, a.dataType)) &&
        stats.contains(a.name)
    // flipped operand orders: v OP a  ≡  a flipped-OP v
    case GreaterThan(Literal(v, dt), a: Attribute) =>
      minCmp(stats, a, v, dt).exists(_ >= 0)
    case GreaterThanOrEqual(Literal(v, dt), a: Attribute) =>
      minCmp(stats, a, v, dt).exists(_ > 0)
    case LessThan(Literal(v, dt), a: Attribute) =>
      maxCmp(stats, a, v, dt).exists(_ <= 0)
    case LessThanOrEqual(Literal(v, dt), a: Attribute) =>
      maxCmp(stats, a, v, dt).exists(_ < 0)
    case _ => false
  }

  /** cmp(max, v), when the column has stats; None keeps the file. */
  private def maxCmp(stats: Map[String, (String, String)],
                     a: Attribute, v: Any, dt: DataType)
      : Option[Int] =
    if (v == null) None
    else stats.get(a.name).map { case (_, mx) =>
      compare(dt)(mx, ext(v, dt)) }

  private def minCmp(stats: Map[String, (String, String)],
                     a: Attribute, v: Any, dt: DataType)
      : Option[Int] =
    if (v == null) None
    else stats.get(a.name).map { case (mn, _) =>
      compare(dt)(mn, ext(v, dt)) }

  private def outside(stats: Map[String, (String, String)],
                      a: Attribute, v: Any, dt: DataType): Boolean =
    maxCmp(stats, a, v, dt).exists(_ < 0) ||
      minCmp(stats, a, v, dt).exists(_ > 0)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[execution.datasources.PartitionDirectory] = {
    val base = super.listFiles(partitionFilters, dataFilters)
    if (dataFilters.isEmpty) base
    else base.map { pd =>
      pd.copy(files = pd.files.filter { f =>
        statsByKey.get(keyOf(f.getPath)) match {
          case Some(st) => !dataFilters.exists(excludedBy(st, _))
          case None     => true
        }
      })
    }
  }
}
