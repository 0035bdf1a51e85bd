package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Lakehouse table I/O.
  *
  * Re-expresses the reference's object-store / warehouse I/O helpers
  * (reference: src/etl/utils/bucket.py:8 `read_from_minio`,
  * bucket.py:36 `write_to_minio`, bigquery.py:96 `read_bq_table`) as
  * plain Spark lakehouse reads/writes over parquet/csv/json.
  *
  * Scale notes (100 TB):
  *  - Reads are schema'd; CSV `inferSchema` (which the reference uses,
  *    bucket.py:27) is only offered for small bronze drops — inference
  *    is a full extra scan of the data.
  *  - All readers return lazy DataFrames so Catalyst pushes filters and
  *    prunes columns into the scan.
  *  - Writers support `partitionBy` so downstream incremental readers
  *    (see [[graft.operators.Incremental]]) prune partitions instead of
  *    scanning history.
  */
object Tables {

  /** The Hadoop FileSystem serving `path` — every metadata probe and
    * publish rename in this module goes through it (the same
    * primitive as the index protocols), so the freshness gates and
    * the WAP publish work on hdfs:///s3a:// roots, not just the
    * local filesystem.
    */
  private[graft] def fsFor(spark: SparkSession,
                           path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  /** Driver testdata tables (TESTDATA.md). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one testdata table from an sf directory.
    *
    * `events.ts` has shipped in two physical layouts across testdata
    * generations: INT64 TIMESTAMP(NANOS) — which Spark 4 refuses to
    * map to TimestampType, so it is read as long
    * (`spark.sql.legacy.parquet.nanosAsLong`) and floor-converted —
    * and plain TIMESTAMP(MICROS) without a UTC flag, which Spark
    * reads as TIMESTAMP_NTZ. Both normalize to the same microsecond
    * TimestampType here (sessions pin `spark.sql.session.timeZone`
    * to UTC, so the NTZ wall clock IS the instant), keeping every
    * downstream consumer layout-agnostic.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = readParquet(spark, path)
      import org.apache.spark.sql.functions.{col, expr}
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    } else readParquet(spark, path)
  }

  /** `spark.read.parquet(path)` without its schema-inference job:
    * Spark infers a parquet schema from the first data file's footer
    * (files sorted by path, hidden names skipped), but reads that one
    * footer inside a one-task Spark job per call. This reads the same
    * footer on the driver, converts it with Spark's own converter and
    * passes the result as the read schema; partition columns are
    * still discovered from the directory names. A path with summary
    * files, a glob, or no data file reads the plain way.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None    => spark.read.parquet(path)
    }

  private[graft] def footerSchema(spark: SparkSession, path: String)
      : Option[org.apache.spark.sql.types.StructType] =
    if (path.exists("*?[{".contains(_))) None
    else {
      val fs = fsFor(spark, path)
      val files =
        filesUnder(fs, new org.apache.hadoop.fs.Path(path), visible = true)
          .toSeq
      val summary = Set("_metadata", "_common_metadata")
      if (files.exists(f => summary(f.getPath.getName))) None
      else files.sortBy(_.getPath.toString).headOption
        .flatMap(org.apache.spark.sql.execution.datasources.parquet
          .GraftParquetBridge.footerSchema(spark, _))
    }

  /** Every file under `dir` (or `dir` itself when it is a file),
    * walked with plain listings. A directory that vanishes mid-walk —
    * a concurrent writer committing, a prune sweeping — lists as
    * empty, where the recursive `fs.listFiles` fails hard on a file
    * deleted under it (and, on the local file system, forks a
    * permission lookup per file). `visible` skips what a parquet read
    * skips: names starting with `_` (unless a `k=v` partition
    * directory or a `_metadata`/`_common_metadata` summary) or `.`.
    */
  private[graft] def filesUnder(fs: org.apache.hadoop.fs.FileSystem,
                                dir: org.apache.hadoop.fs.Path,
                                visible: Boolean = false)
      : Iterator[org.apache.hadoop.fs.FileStatus] = {
    def shown(n: String) = !visible || n.startsWith("_metadata") ||
      n.startsWith("_common_metadata") ||
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith("."))
    def walk(d: org.apache.hadoop.fs.Path)
        : Iterator[org.apache.hadoop.fs.FileStatus] =
      (try fs.listStatus(d).iterator
       catch { case _: java.io.FileNotFoundException => Iterator.empty })
        .flatMap { st =>
          // a file `dir` lists as itself: it is asked for, never hidden
          val self = st.isFile && d == dir && st.getPath.getName == d.getName
          if (!self && !shown(st.getPath.getName)) Iterator.empty
          else if (st.isDirectory) walk(st.getPath)
          else Iterator(st)
        }
    walk(dir)
  }

  /** Register every testdata table as a temp view (for spark.sql use). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))

  /** Restore scan parallelism when the input has fewer splits than the
    * cluster has cores. The testdata ships as single-row-group parquet
    * files — unsplittable, so a scan-side pipeline (sha256 keys,
    * shingling, pairwise loops) would run on ONE core no matter how
    * many are available. One cheap round-robin shuffle unlocks them.
    * A production layout with many files/row groups passes through
    * untouched.
    *
    * `partitionsHint`, when the caller already knows the input's
    * partition count (or pins the decision), skips the physical
    * planning pass the partition-count probe otherwise forces.
    */
  def fanOut(df: DataFrame, partitionsHint: Option[Int] = None): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // toRdd: the probe needs only the physical partitioning, not
    // df.rdd's extra row-deserializer RDD layer; planning is cached on
    // df.queryExecution so the no-repartition branch reuses it
    val parts = partitionsHint.getOrElse(
      df.queryExecution.toRdd.getNumPartitions)
    if (parts >= math.max(1, target / 2)) df
    else df.repartition(target)
  }

  /** S13 — small-file compaction (the OPTIMIZE maintenance op):
    * rewrite a parquet directory into ≈`targetRowsPerFile`-sized
    * files. Per-API-call landings like the reference's bronze CSVs
    * (bucket.py:96 writes one object per fetch) produce exactly the
    * small-file problem this fixes — at 100 TB a scan of a
    * million 50 KB files spends more time opening files than reading
    * bytes. Data is unchanged (spec-asserted set equality); only the
    * layout is. Returns the new file count.
    *
    * The swap is rename-based through the Hadoop FileSystem API
    * (the same [[fsFor]] primitives as every index publish and the
    * S18 WAP gate, so it runs on hdfs:///s3a:// roots, not just
    * file://): write to a side directory, rename the live table
    * aside, rename the compacted layout in, delete the old copy only
    * after the swap. STRICTLY single-writer / reader-gapped: between
    * the two renames there is a one-metadata-op window where no table
    * exists at `path` (smaller than the pre-r13 delete-in-the-middle
    * form, but real), and a crash inside it leaves the data
    * RECOVERABLE at `__old` — the residue check below refuses the
    * next compact and names it, and [[recoverCompact]] is the
    * executable repair. For zero-downtime OPTIMIZE of a SERVING
    * table, compact through the snapshot-table pointer instead
    * ([[SnapshotStore.compactCurrent]]): readers resolve the pointer
    * and never see a gap.
    */
  def compact(spark: SparkSession, path: String,
              targetRowsPerFile: Long): Int = {
    require(targetRowsPerFile > 0)
    // residue check BEFORE the sizing scan: in the crashed-swap state
    // the table lives at __old and a read of `path` would throw a
    // bare path-not-found instead of naming the repair
    refuseCompactResidue(spark, path)
    val n = spark.read.parquet(path).count()
    compactToFiles(spark, path, math.max(1L,
      (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt)
  }

  /** [[compact]] sized by BYTES from the file LISTING instead of a
    * row count — the form that matters at scale: the row-count form
    * reads the whole table TWICE (one count scan + the rewrite),
    * while the listing is pure metadata, so this halves the OPTIMIZE
    * cost of a large table. `targetBytesPerFile` is the INPUT bytes
    * per output file (e.g. 512 MB for ~128 MB row groups after
    * re-encoding gains); same swap, residue, and recovery contract
    * as [[compact]].
    */
  def compactBytes(spark: SparkSession, path: String,
                   targetBytesPerFile: Long): Int = {
    require(targetBytesPerFile > 0)
    refuseCompactResidue(spark, path)
    compactToFiles(spark, path, math.max(1L,
      (tableDataBytes(spark, path) + targetBytesPerFile - 1) /
        targetBytesPerFile).toInt)
  }

  /** The table's DATA bytes: parquet files under `path`, excluding
    * sidecar trees (underscore/dot-prefixed directories like
    * `_stats/` — invisible to a parquet read of the table, so their
    * bytes must not inflate a rewrite's sizing). Partition
    * directories (`col=value/...`) are included as normal.
    */
  private[graft] def tableDataBytes(spark: SparkSession,
                                    path: String): Long = {
    val fs = fsFor(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val rootStr = fs.makeQualified(root).toString.stripSuffix("/")
    val it = fs.listFiles(root, true)
    var total = 0L
    while (it.hasNext) {
      val st = it.next()
      val p = fs.makeQualified(st.getPath).toString
      val rel = p.stripPrefix(rootStr).stripPrefix("/")
      val hidden = rel.split("/").dropRight(1)
        .exists(s => s.startsWith("_") || s.startsWith("."))
      if (!hidden && st.getPath.getName.endsWith(".parquet"))
        total += st.getLen
    }
    total
  }

  /** The [[compact]] entry refusal: after a swap that died between
    * its two renames the data lives at `__old`, and any sizing scan
    * or rewrite would be wasted I/O ending in a misleading error —
    * refuse and name the repair instead of guessing which copy is
    * the truth.
    */
  private def refuseCompactResidue(spark: SparkSession,
                                   path: String): Unit = {
    val fs = fsFor(spark, path)
    val old = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__old")
    if (fs.exists(old)) throw new IllegalStateException(
      s"stale compaction residue at $old — a prior swap failed " +
        "mid-way; run Tables.recoverCompact to restore the table" +
        (if (fs.exists(new org.apache.hadoop.fs.Path(path))) ""
         else s" (the table data is at $old)"))
  }

  private def compactToFiles(spark: SparkSession, path: String,
                             files: Int): Int = {
    val fs = fsFor(spark, path)
    val dir = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__old")
    refuseCompactResidue(spark, path)
    val df = spark.read.parquet(path)
    val side = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__compacting")
    // verified wipe of side-dir residue: renaming into a surviving
    // directory would NEST the table under it (the S18 lesson)
    if (fs.exists(side) && !fs.delete(side, true))
      throw new IllegalStateException(
        s"cannot wipe stale compaction side directory $side")
    df.repartition(files).write.mode("overwrite")
      .parquet(side.toString)
    if (!fs.rename(dir, old)) throw new IllegalStateException(
      s"cannot stage $path for swap")
    if (!fs.rename(side, dir)) {
      val rolledBack = fs.rename(old, dir) // best-effort restore
      throw new IllegalStateException(
        s"cannot swap $side into $path; table data is at " +
          (if (rolledBack) path else old.toString))
    }
    // the delete is VERIFIED: undeletable residue would make every
    // FUTURE compact refuse with a misleading "prior swap failed" —
    // surface it now, while it is clear the swap itself succeeded
    if (!fs.delete(old, true) || fs.exists(old))
      throw new IllegalStateException(
        s"compaction succeeded but residue $old could not be " +
          "deleted; remove it manually before the next compact")
    files
  }

  /** The executable repair for a [[compact]] that crashed between its
    * two renames (the residue state its entry check refuses): restore
    * whichever copy survives. If the table is present at `path`, the
    * `__old` copy is superseded residue and is deleted; if not, the
    * `__old` copy IS the table and is renamed back. Idempotent; a
    * no-op when there is no residue. Returns true if the table is
    * readable at `path` afterwards.
    */
  def recoverCompact(spark: SparkSession, path: String): Boolean = {
    val fs = fsFor(spark, path)
    val dir = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__old")
    val side = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + "__compacting")
    if (fs.exists(old)) {
      if (fs.exists(dir)) {
        // swap completed, delete didn't: the old copy is residue
        if (!fs.delete(old, true)) throw new IllegalStateException(
          s"cannot delete superseded compaction residue at $old")
      } else {
        // crashed inside the window: the old copy IS the table
        if (!fs.rename(old, dir)) throw new IllegalStateException(
          s"cannot restore the table from $old to $path")
      }
    }
    // compacted-but-unswapped side data is residue either way (the
    // re-run rewrites it); verified wipe, same rationale as compact
    if (fs.exists(side) && !fs.delete(side, true))
      throw new IllegalStateException(
        s"cannot delete compaction side residue at $side")
    fs.exists(dir)
  }

  /** CSV read with explicit schema (bronze-layer ingest analog).
    * Pass `inferSchema=true` only for small bronze drops.
    */
  def readCsv(spark: SparkSession, path: String,
              schemaDdl: Option[String] = None): DataFrame = {
    val base = spark.read.option("header", "true")
    schemaDdl match {
      case Some(ddl) => base.schema(ddl).csv(path)
      case None      => base.option("inferSchema", "true").csv(path)
    }
  }

  def writeCsv(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).option("header", "true").csv(path)

  def readJson(spark: SparkSession, path: String,
               schemaDdl: Option[String] = None): DataFrame = {
    val base = spark.read
    schemaDdl match {
      case Some(ddl) => base.schema(ddl).json(path)
      case None      => base.json(path)
    }
  }

  def writeJson(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)

  /** ORC read/write — the third columnar lakehouse format beside
    * parquet, fully built into Spark (vectorized reader, predicate
    * pushdown into stripe/row-group stats, column pruning). The same
    * scale posture as the parquet helpers: schema'd lazy reads so
    * Catalyst pushes filters and prunes columns into the scan.
    */
  def readOrc(spark: SparkSession, path: String,
              schemaDdl: Option[String] = None): DataFrame =
    schemaDdl match {
      case Some(ddl) => spark.read.schema(ddl).orc(path)
      case None      => spark.read.orc(path)
    }

  def writeOrc(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).orc(path)

  /** Partitioned parquet write — the lakehouse layout that makes
    * incremental reads partition-pruned scans. With `partitionBy`,
    * rows are CLUSTERED by the
    * partition columns first. Without the cluster step every write
    * task opens a file in every partition directory it sees — tasks ×
    * partition-values small files (a 1000-task job over 700 dates is
    * 700k files); clustered, total files ≈ partition values. A date
    * so hot its single task would struggle is the signal to split
    * that write by an additional salt column — at which point you
    * know, and choose, the file count.
    */
  def writeParquet(df: DataFrame, path: String, mode: String = "overwrite",
                   partitionBy: Seq[String] = Nil): Unit = {
    val clustered =
      if (partitionBy.isEmpty) df
      else df.repartition(partitionBy.map(
        org.apache.spark.sql.functions.col): _*)
    val w = clustered.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(path)
  }

  /** S15 — BUCKETED catalog-table write: rows are hash-clustered into
    * `numBuckets` files per partition by `bucketCol` (and sorted by
    * `sortCols` within each file), with the layout recorded in the
    * catalog so readers can TRUST it. That trust is the point at
    * 100 TB: a join or aggregation keyed on the bucket column of two
    * co-bucketed tables needs NO Exchange on either side — the
    * per-executor map output IS already key-partitioned on disk —
    * which removes the single largest cost of a fact⋈fact join (both
    * sides' full shuffle). Pre-sorted buckets additionally drop the
    * per-task Sort before a SortMergeJoin. The bucket count is a
    * standing contract: pick it for the TARGET scale (buckets ≈
    * table size / healthy-task input, a power of two for future
    * splitting), because co-location only triggers when both sides'
    * counts divide evenly.
    *
    * The pruned/pushed-down scan posture of plain parquet is
    * unchanged — bucketing only ADDS the layout guarantee.
    */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int,
                    bucketCol: String, sortCols: Seq[String] = Nil,
                    mode: String = "overwrite"): Unit = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val w = df.write.mode(mode).format("parquet")
      .bucketBy(numBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
     else w).saveAsTable(table)
  }

  /** S14 — schema-EVOLUTION read: union the column sets of every
    * parquet footer under `path`, so files written before a column
    * existed read back with that column null. This is the lakehouse
    * append contract — adding a column is a METADATA-only evolution;
    * old files are never rewritten (no 100 TB backfill job just to
    * add a field), and readers see one consistent widened schema.
    *
    * Scale note: `mergeSchema` reads one footer per FILE at planning
    * time — fine on a compacted table, slow on a million-file mess.
    * Production readers of a table whose evolved schema is KNOWN
    * should pin it via `schemaDdl` (planning cost O(1), same data
    * back); the merge path is for discovery and ad-hoc reads.
    */
  def readEvolved(spark: SparkSession, path: String,
                  schemaDdl: Option[String] = None): DataFrame =
    schemaDdl match {
      case Some(ddl) => spark.read.schema(ddl).parquet(path)
      case None => spark.read.option("mergeSchema", "true").parquet(path)
    }

  /** Z-VALUE: bit-interleave of two bounded non-negative ints — the
    * space-filling-curve key for multi-dimensional data clustering.
    * Pure long shift/mask expressions, codegen'd and engine-portable.
    */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
             bits: Int = 16): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    (0 until bits).map { i =>
      shiftleft(shiftright(a.cast("long"), i).bitwiseAND(1L), 2 * i)
        .bitwiseOR(
          shiftleft(shiftright(b.cast("long"), i).bitwiseAND(1L), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))
  }

  /** Z-ORDER clustered write (the OPTIMIZE ZORDER trick of
    * Delta/Iceberg, done with plain Spark): range-partition and sort
    * the data by the interleaved z-value of two filter columns, then
    * write. Every output file then covers a tight min/max range on
    * BOTH columns, so parquet row-group/file stats prune scans
    * filtered on EITHER column — the layout that keeps 100 TB
    * point/range lookups from reading the whole table.
    */
  def zOrderWrite(df: DataFrame, path: String, colA: String, colB: String,
                  nFiles: Int = 8, bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions._
    df.withColumn("__z", zValue(col(colA), col(colB), bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** S16 — file-statistics index ("data skipping"): a tiny per-file
    * stats table — `(file, n_rows, min_<c>, max_<c> …)` — written
    * beside the data under `_stats/` (the underscore prefix keeps it
    * invisible to normal parquet reads of `path`). [[readSkipping]]
    * intersects a range predicate with the stats and hands Spark ONLY
    * the surviving file paths, so pruning happens at PLANNING time:
    * skipped files are never opened, never listed into tasks, never
    * touched — a stronger cut than parquet row-group stats, which
    * still require opening every footer every query. At 100 TB the
    * stats table is ~one row per file (KBs per TB); the skipping
    * decision is sketch-sized work against a full-scan alternative.
    *
    * Pairs with [[zOrderWrite]]: the z-layout makes per-file ranges
    * TIGHT on both cluster columns, which is what makes stat
    * intersection selective on either. Stats describe the files
    * present at build time — rewriting the data (compaction,
    * re-clustering) means rebuilding the index, same contract as any
    * secondary index.
    */
  def writeStatsIndex(spark: SparkSession, path: String,
                      statsCols: Seq[String]): Unit = {
    require(statsCols.nonEmpty, "statsCols must name at least one column")
    import org.apache.spark.sql.functions._
    val aggs = count(lit(1)).as("n_rows") +:
      statsCols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c")))
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_stats")
  }

  /** Range read through the [[writeStatsIndex]] stats: keep a file iff
    * its `[min, max]` interval for `column` intersects `[lo, hi]`,
    * scan only those files, then apply the exact predicate (stats are
    * file-granular; the residual filter still pushes into the pruned
    * scan). The file list is a driver-side collect of the ≤ file-count
    * stats rows — the same planning-time listing cost Spark itself
    * pays, minus the skipped files.
    */
  def readSkipping(spark: SparkSession, path: String, column: String,
                   lo: Column, hi: Column): DataFrame = {
    import org.apache.spark.sql.functions.col
    val stats = spark.read.parquet(s"$path/_stats")
    val keep = stats
      .filter(!(col(s"max_$column") < lo || col(s"min_$column") > hi))
      .select("file").collect().map(_.getString(0))
    val pruned =
      if (keep.isEmpty)
        spark.read.parquet(path).limit(0) // schema-stable empty relation
      else spark.read.parquet(keep: _*)
    pruned.filter(col(column).between(lo, hi))
  }

  /** Freshness-gated write (reference: bucket.py:96
    * `write_to_minio_once_a_year`): rewrite a slowly-changing table only
    * if the existing copy is older than `maxAgeDays` or absent.
    * Returns true if a write happened.
    *
    * Spark-first restatement: the gate is a cheap filesystem metadata
    * check (no data scan), so at 100 TB it costs nothing; the write
    * itself is a normal distributed parquet write.
    */
  def writeIfStale(df: DataFrame, path: String, maxAgeDays: Int = 365,
                   nowMillis: Long = System.currentTimeMillis()): Boolean = {
    val fs = fsFor(df.sparkSession, path)
    val p = new org.apache.hadoop.fs.Path(path)
    // freshness = the NEWEST FILE's mtime, never the directory's: on
    // an object store the "directory" is synthetic and its reported
    // mtime is 0 or listing time depending on the connector — either
    // would silently break the gate in one direction; file mtimes
    // are real everywhere, and the listing is one metadata call
    val fresh = fs.exists(p) && {
      val files = fs.listStatus(p).filter(_.isFile)
      files.nonEmpty &&
        (nowMillis - files.map(_.getModificationTime).max) <
          maxAgeDays * 86400000L
    }
    if (fresh) false
    else { df.write.mode("overwrite").parquet(path); true }
  }

  /** Data-derived freshness gate (reference: bigquery.py:60
    * `upload_to_bq_once_a_year`): skip the write when the existing
    * table's `MAX(lineageDateCol)` falls in the same period as `asOf`
    * (year granularity, like the reference). The staleness check reads
    * ONE aggregated value of one column — with parquet column stats
    * it's a footer read, not a scan.
    */
  def appendIfStaleByColumn(spark: SparkSession, df: DataFrame, path: String,
                            lineageDateCol: String, asOfYear: Int): Boolean = {
    val fresh = fsFor(spark, path)
      .exists(new org.apache.hadoop.fs.Path(path)) && {
      val last = spark.read.parquet(path)
        .agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.year(
            org.apache.spark.sql.functions.col(lineageDateCol))))
        .head()
      !last.isNullAt(0) && last.getInt(0) == asOfYear
    }
    if (fresh) false
    else { df.write.mode("append").parquet(path); true }
  }

  /** S18 — WRITE-AUDIT-PUBLISH: stage the write, audit WHAT WAS
    * ACTUALLY WRITTEN against a C11 expectation list
    * ([[graft.operators.Cleaning.validateExpectations]]), and only
    * then publish by ONE atomic rename — the Iceberg/Netflix WAP
    * discipline that keeps a bad batch from ever becoming visible.
    * Auditing the STAGED parquet (not the input plan) is the point:
    * it catches what a plan-level check cannot — writer bugs, schema
    * coercions, and nondeterministic upstream reads — because it
    * validates the exact bytes a consumer would see.
    *
    * On audit failure the staging directory is LEFT for inspection
    * and a typed [[graft.AuditFailed]] names the failing rules; the
    * target is never created — and, in `replace` mode, the EXISTING
    * target is never touched: validate-before-destroy, the serving
    * copy cannot be lost to a batch that fails its audit. With
    * `replace = false` (the default) an existing target refuses
    * (publish a fresh snapshot dir and repoint, the A6b rule); with
    * `replace = true` the swap renames the old target ASIDE
    * (`<path>.old`), renames the staging in, and deletes the aside
    * copy only after the swap — the no-table window is ONE metadata
    * rename (not the delete-then-rename of the pre-r13 form, whose
    * window included a recursive delete), and a crash inside it
    * leaves BOTH the validated staging and a recoverable `.old`
    * copy: the idempotent stage re-run re-stages, publishes, and
    * reclaims the aside residue. For a target that must never gap at
    * all, promote through the [[SnapshotStore]] pointer instead.
    * Returns the audit report (re-parallelized from
    * the bounded per-rule rows, so it does not re-read the
    * renamed-away staging path).
    *
    * Scale shape: the write is a normal distributed parquet write;
    * the audit is C11's one-scan bulk aggregation over the staged
    * files; publish is one filesystem rename — no second data pass.
    */
  def writeAudited(spark: SparkSession, df: DataFrame, path: String,
                   expectations: Seq[graft.operators.Cleaning.Expectation],
                   replace: Boolean = false)
      : DataFrame =
    writeAuditedImpl(spark, df, path, expectations, replace, () => ())

  /** [[writeAudited]] with a crash-injection hook fired inside the
    * replace-swap window (old target renamed aside, staging not yet
    * renamed in) — exists so the recoverable-crash contract is
    * TESTED, not asserted.
    */
  private[graft] def writeAuditedImpl(spark: SparkSession,
                                      df: DataFrame, path: String,
                                      expectations: Seq[graft.operators.Cleaning.Expectation],
                                      replace: Boolean,
                                      insideSwapWindow: () => Unit)
      : DataFrame = {
    // Hadoop FileSystem throughout (fsFor/exists/rename) — the same
    // primitives as the index publish paths, so the exists check and
    // the atomic publish hold on a cluster filesystem, not just
    // file:// (java.io.File cannot see an object store and its
    // renameTo silently returns false across filesystems)
    val fs = fsFor(spark, path)
    val target = new org.apache.hadoop.fs.Path(path)
    if (!replace && fs.exists(target))
      throw new graft.AuditFailed(
        s"audited publish refused: target $path already exists — " +
          "publish a fresh snapshot directory and repoint (or opt " +
          "into replace = true for the validate-then-swap form)")
    val staging = new org.apache.hadoop.fs.Path(path + ".staging")
    val aside = new org.apache.hadoop.fs.Path(path + ".old")
    df.write.mode("overwrite").parquet(staging.toString)
    val (rows, schema) = auditStaged(spark, staging.toString,
      expectations)
    if (replace && fs.exists(target)) {
      // rename-ASIDE, never delete-then-rename: the swap window is
      // one metadata rename, and a crash inside it leaves the old
      // copy recoverable at .old (plus the validated staging) — the
      // idempotent stage re-run republishes and reclaims it below.
      // Aside residue with the target PRESENT is a prior crashed
      // publish's superseded copy (the serving target is the truth);
      // verified wipe, because renaming into a surviving directory
      // would NEST the old copy under it
      if (fs.exists(aside) && !fs.delete(aside, true))
        throw new IllegalStateException(
          s"audited publish cannot reclaim stale aside residue " +
            s"$aside (staged data left at $staging)")
      if (!fs.rename(target, aside))
        throw new IllegalStateException(
          s"audited publish could not stage the previous target " +
            s"aside ($target -> $aside); nothing was changed " +
            s"(staged data left at $staging)")
      insideSwapWindow()
    }
    if (!fs.rename(staging, target)) {
      // best-effort rollback: restore the serving copy rather than
      // leave the window open for longer than one failed rename
      val rolledBack = replace && fs.rename(aside, target)
      throw new IllegalStateException(
        s"publish rename failed: $staging -> $target; the previous " +
          "table is " + (if (rolledBack) s"restored at $target"
          else s"recoverable at $aside") +
          " — a re-run of the stage re-stages and republishes")
    }
    // the publish IS committed; reclaim the superseded aside copy
    // (also consumes residue left by a crash-in-window retry, where
    // the replace branch above was skipped because the target was
    // absent). Verified: silently surviving residue would shadow the
    // NEXT publish's crash recovery
    if (fs.exists(aside) && !fs.delete(aside, true))
      throw new IllegalStateException(
        s"audited publish succeeded but the superseded copy at " +
          s"$aside could not be deleted; remove it manually")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The blocking-audit step of [[writeAudited]], factored out for
    * publish paths whose swap is not one whole-table rename (the
    * corpus gold's per-shard swap): validate the STAGED parquet with
    * C11's one-scan aggregation; pass → the bounded per-rule report
    * rows; fail → typed [[graft.AuditFailed]] naming the rules, with
    * the staging directory LEFT for inspection.
    */
  private[graft] def auditStaged(spark: SparkSession, stagingPath: String,
                                 expectations: Seq[graft.operators.Cleaning.Expectation])
      : (Array[org.apache.spark.sql.Row],
         org.apache.spark.sql.types.StructType) = {
    val report = graft.operators.Cleaning.validateExpectations(
      readParquet(spark, stagingPath), expectations)
    val rows = report.collect() // bounded: one row per rule
    val failed = rows.filter(!_.getBoolean(5))
    if (failed.nonEmpty)
      throw new graft.AuditFailed(
        s"audit failed for staged write at $stagingPath: " +
          failed.map(r => s"${r.getString(0)}/${r.getString(1)}=" +
            s"${r.getLong(4)} violations").mkString(", ") +
          s"; staged data left at $stagingPath for inspection")
    (rows, report.schema)
  }
}
