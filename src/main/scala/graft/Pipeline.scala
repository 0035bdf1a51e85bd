package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._
import graft.operators._
import graft.sources.Tables

/** The end-to-end medallion pipeline — the library's analog of the
  * reference's Airflow DAG (airflow/dags/bigquery_weather_dag.py:
  * bronze_ingest → bronze_to_silver → silver_to_gold, daily).
  *
  * Stages are plain functions over DataFrames with explicit
  * dependencies; an orchestrator (Airflow, cron, Structured Streaming
  * `availableNow` trigger) schedules them. Each stage writes a
  * partitioned lakehouse layout so the next stage's incremental read
  * is partition-pruned.
  */
object Pipeline {

  /** Bronze: land raw tables + lineage columns as CSV (the reference's
    * bronze drop format, bucket.py:36), partitioned by ingestion date.
    */
  def bronze(spark: SparkSession, sfDir: String, outDir: String,
             ingestionDate: String): Unit = {
    val enriched = Tables.table(spark, sfDir, "nation")
      .withColumn("_source", lit("testdata"))
      .withColumn("_ingestion_date", lit(ingestionDate))
    Tables.writeCsv(enriched, s"$outDir/bronze/nation")
    val ev = Bronze.eventsFlattened(spark, sfDir)
      .withColumn("_source", lit("testdata"))
      .withColumn("_ingestion_date", lit(ingestionDate))
    Tables.writeCsv(ev, s"$outDir/bronze/events_flat")
  }

  /** Silver: schema'd bronze read → full cleaning pipeline → parquet.
    */
  def silver(spark: SparkSession, outDir: String,
             processingDate: String): Unit = {
    val nation = Tables.readCsv(spark, s"$outDir/bronze/nation",
      Some("n_nationkey INT, n_name STRING, n_regionkey INT, " +
        "_source STRING, _ingestion_date DATE"))
    Tables.writeParquet(Cleaning.silverPipeline(nation, processingDate),
      s"$outDir/silver/nation")
  }

  /** Gold: star-schema dimensions + fact from silver inputs.
    *
    * Every gold table PROMOTES behind a pointer with a BLOCKING audit
    * of the staged bytes: the reference's quality checks
    * (bronze_to_silver.py:127's key↔name consistency audit) refuse
    * instead of report — a batch violating its rule list never
    * reaches a generation a pointer serves, the staged parquet stays
    * inspectable, and the PREVIOUS gold generation keeps serving
    * untouched. The bounded DIMS publish through the snapshot table
    * ([[graft.sources.SnapshotStore.publish]] — full physical gens,
    * the right cost for a small table; a dim whose `_fingerprint` —
    * plan, input files' paths/lengths/mtimes, schema, rules — equals
    * the serving generation's is carried forward as a file copy,
    * with no Spark job and no re-audit of bytes that already passed
    * the same rules); the FACT publishes through
    * the MANIFEST table ([[graft.sources.ManifestStore]], partitioned
    * by ship month) so a promotion writes only changed partitions'
    * files and retention holds deltas — at a 100 TB fact the daily
    * cost is O(batch), never O(table). Promotions stay
    * time-travelable within the retention window, crashes never gap
    * a reader (spec-driven via the crash hooks), and the THREE
    * generations commit as one consistent schema via a single
    * `_schema` pointer swapped LAST — read joined gold through
    * [[goldTable]], which can never pair fact gen N with dim gen N−1.
    * `extraFactAudit` appends caller rules to the fact's defaults —
    * the seam a deployment uses for run-specific contracts (and the
    * spec uses to plant a violation). `factLineitem` overrides the
    * fact's source rows (the full-rebuild form of the batch seam
    * [[goldIncrement]] uses daily).
    */
  def gold(spark: SparkSession, sfDir: String, outDir: String,
           modelingDate: String,
           extraFactAudit: Seq[Cleaning.Expectation] = Nil,
           factLineitem: Option[DataFrame] = None): Unit =
    goldImpl(spark, sfDir, outDir, modelingDate, extraFactAudit,
      () => (), () => (), factLineitem, incremental = false)

  /** DAILY gold increment — the production shape the reference's
    * "today's partition" read implies (bigquery.py:96 reads the
    * latest dim partition; bigquery.py:141 appends the fact by
    * partition): each dim rebuilds from its sources only when they
    * changed — the reference's rewrite-when-stale discipline
    * (bucket.py:96 `write_to_minio_once_a_year`), decided by the
    * snapshot table's `_fingerprint` instead of an age: unchanged
    * inputs and code carry the serving generation forward as a file
    * copy (no Spark job, no re-audit), anything else rebuilds and
    * re-audits in full (silver_to_gold.py:96). The FACT takes only
    * `batchLineitem`'s rows — built with [[StarSchema.factSalesFrom]]
    * and MERGED partition-scoped into the manifest fact
    * ([[graft.sources.ManifestStore.mergePartitions]] on the lineitem
    * PK): untouched ship months' files are not rewritten, moved, or
    * read, so the daily cost is O(batch's months), never O(fact).
    * Every table's generation advances either way, and the schema
    * pointer swaps once at the end, same as [[gold]].
    */
  def goldIncrement(spark: SparkSession, sfDir: String, outDir: String,
                    batchLineitem: DataFrame, modelingDate: String,
                    extraFactAudit: Seq[Cleaning.Expectation] = Nil)
      : Unit =
    goldImpl(spark, sfDir, outDir, modelingDate, extraFactAudit,
      () => (), () => (), Some(batchLineitem), incremental = true)

  private def factRules(extra: Seq[Cleaning.Expectation]) =
    Seq(Cleaning.ExpectNotNull("id_fact"),
      Cleaning.ExpectNotNull("id_ship_date"),
      Cleaning.ExpectNotNull("id_part_kind"),
      Cleaning.ExpectNotNull("id_supply")) ++ extra

  /** [[gold]]/[[goldIncrement]] with crash-injection hooks —
    * `beforeFactRepoint` fires between the fact's staged write+audit
    * and its pointer swap; `beforeSchemaSwap` between the last
    * per-table publish and the one schema-pointer swap — so the
    * no-serving-gap AND consistent-triple contracts are TESTED, not
    * asserted (the [[corpusIncrementWithHook]] pattern).
    */
  private[graft] def goldImpl(spark: SparkSession, sfDir: String,
                              outDir: String, modelingDate: String,
                              extraFactAudit: Seq[Cleaning.Expectation],
                              beforeFactRepoint: () => Unit,
                              beforeSchemaSwap: () => Unit = () => (),
                              factLineitem: Option[DataFrame] = None,
                              incremental: Boolean = false): Unit = {
    // SCHEMA-PINNED retention: if a later stage keeps failing run
    // after run, the tables before it advance a generation per run
    // while `_schema` stays put — with a flat keep=3 the third failed
    // run would prune the generation `_schema` still names and break
    // the consistent-triple reader exactly while promotions are
    // failing. Each publish (dims and fact) therefore sizes its keep
    // so the schema-named generation survives: keep >= (about-to-
    // commit gen) + 1 - (schema-named gen). `_schema` only moves at
    // the end of this call, so one read serves all three (there is
    // none before the first run).
    val schemaGens =
      try goldSchemaGens(spark, outDir)
      catch { case _: IllegalStateException => Map.empty[String, Long] }
    def pinnedKeep(name: String, cur: Option[Long]): Int =
      (schemaGens.get(name), cur) match {
        case (Some(s), Some(c)) => math.max(3, (c + 2 - s).toInt)
        case _                  => 3
      }
    val gDate = graft.sources.SnapshotStore.publish(spark,
      StarSchema.dimDate(spark, sfDir), s"$outDir/gold/dim_date",
      Seq(Cleaning.ExpectNotNull("id_date"),
        Cleaning.ExpectUnique("id_date")),
      keep = pinnedKeep("dim_date", graft.sources.SnapshotStore
        .currentGen(spark, s"$outDir/gold/dim_date")))
    val gCust = graft.sources.SnapshotStore.publish(spark,
      StarSchema.dimCustomer(spark, sfDir),
      s"$outDir/gold/dim_customer",
      Seq(Cleaning.ExpectNotNull("id_customer"),
        Cleaning.ExpectUnique("id_customer")),
      keep = pinnedKeep("dim_customer", graft.sources.SnapshotStore
        .currentGen(spark, s"$outDir/gold/dim_customer")))
    val li = factLineitem.getOrElse(
      Tables.table(spark, sfDir, "lineitem"))
    val factRows = StarSchema.factSalesFrom(li,
      Tables.table(spark, sfDir, "part").select("p_partkey", "p_brand"),
      modelingDate, withShipMonth = true)
    val factRoot = s"$outDir/gold/fact_sales"
    // the fact is a MANIFEST table (S20): a generation is a file
    // list, so the daily promotion writes only the touched ship
    // months' files and keep=3 retains deltas — never three copies
    // of a 100 TB fact (the O1×S19 full-rewrite boundary, closed)
    val factKeep = pinnedKeep("fact_sales",
      graft.sources.ManifestStore.currentGen(spark, factRoot))
    val gFact =
      if (incremental)
        graft.sources.ManifestStore.mergePartitions(spark, factRows,
          factRoot, Seq("l_orderkey", "l_linenumber"),
          factRules(extraFactAudit), keep = factKeep)
      else
        graft.sources.ManifestStore.publishImpl(spark, factRows,
          factRoot, "ship_month", factRules(extraFactAudit),
          keep = factKeep, replaceAll = true,
          coalescePartitions = true, beforeFactRepoint)
    beforeSchemaSwap()
    // ONE schema-level pointer naming all three generations, swapped
    // LAST: a reader resolving the triple through [[goldTable]] can
    // never join fact gen N against dim gen N−1 — the swap is a
    // single marker rename, and a crash anywhere earlier leaves the
    // OLD triple served in full (per-table keep=3 guarantees the old
    // gens outlive one in-flight promotion). Per-table pointers still
    // advance per publish for single-table readers; the schema
    // pointer is THE cross-table consistency surface.
    val fs = Tables.fsFor(spark, outDir)
    graft.sources.MetaSwap.swap(fs,
      new org.apache.hadoop.fs.Path(s"$outDir/gold/_schema"),
      (s"dim_date=$gDate\ndim_customer=$gCust\n" +
        s"fact_sales=$gFact\n").getBytes("UTF-8"))
    ()
  }

  /** The generations the last completed DAG run promoted as ONE
    * consistent star schema — parsed from the schema pointer the
    * [[gold]] stage swaps exactly once per run.
    */
  def goldSchemaGens(spark: SparkSession,
                     outDir: String): Map[String, Long] = {
    val fs = Tables.fsFor(spark, outDir)
    val p = new org.apache.hadoop.fs.Path(s"$outDir/gold/_schema")
    val raw = graft.sources.MetaSwap.read(fs, p).getOrElse(
      throw new IllegalStateException(
        s"no promoted gold schema at $outDir/gold — run the DAG first"))
    new String(raw, "UTF-8")
      .linesIterator.flatMap { l =>
        val i = l.indexOf('=')
        if (i < 0) None
        else l.drop(i + 1).trim.toLongOption.map(g => l.take(i) -> g)
      }.toMap
  }

  /** A gold table AS THE SCHEMA POINTER NAMES IT — the
    * consistent-triple reader: all three tables resolved through one
    * pointer read join correctly even while a promotion is mid-swap
    * elsewhere (dims via snapshot-table time travel, the fact via its
    * manifest). Readers that only need one table can keep the
    * per-table `readCurrent`; a JOIN across gold tables should come
    * through here.
    */
  def goldTable(spark: SparkSession, outDir: String,
                name: String): DataFrame = {
    val gens = goldSchemaGens(spark, outDir)
    val gen = gens.getOrElse(name, throw new IllegalArgumentException(
      s"unknown gold table $name (schema names: " +
        s"${gens.keys.toSeq.sorted.mkString(", ")})"))
    val root = s"$outDir/gold/$name"
    if (name == "fact_sales")
      graft.sources.ManifestStore.readAt(spark, root, gen)
    else graft.sources.SnapshotStore.readAt(spark, root, gen)
  }

  /** Retry wrapper for a pipeline stage (reference:
    * airflow/dags/bigquery_weather_dag.py `retries` / `retry_delay`):
    * re-runs the stage up to `maxAttempts` times, rethrowing the last
    * failure. Stages here are safe to retry because every write is
    * overwrite-mode (idempotent) — the same property that lets a real
    * orchestrator re-run a failed task.
    */
  def withRetries[T](maxAttempts: Int = 3, delayMs: Long = 0L)
                    (stage: => T): T = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var attempt = 0
    var last: Throwable = null
    while (attempt < maxAttempts) {
      try return stage
      catch {
        // NonFatal only: retrying after OutOfMemoryError/interrupt re-runs
        // a stage inside a possibly-broken JVM, and control throwables
        // (non-local return) must escape untouched
        case scala.util.control.NonFatal(e) =>
          last = e
          attempt += 1
          if (attempt < maxAttempts && delayMs > 0) Thread.sleep(delayMs)
      }
    }
    throw last
  }

  /** Cadence catch-up computation — the scheduling semantics of the
    * reference DAG (airflow/dags/bigquery_weather_dag.py:23
    * `schedule='@daily'`, `catchup`) as a pure function for whatever
    * loop invokes [[run]]: the logical run instants on the cadence
    * grid anchored at `start` that are due — strictly after `lastRun`
    * (or from `start` when there has never been a run) and at-or-
    * before `now`. `catchup = false` is Airflow's catchup=False: skip
    * the backlog, keep only the most recent due run. Driver-side by
    * nature (a bounded list of instants, no data touched) — the
    * actual stage execution stays fully distributed.
    */
  def dueRuns(schedule: String, start: java.time.Instant,
              lastRun: Option[java.time.Instant],
              now: java.time.Instant,
              catchup: Boolean = true): Seq[java.time.Instant] = {
    val step = schedule match {
      case "@hourly" => java.time.Duration.ofHours(1)
      case "@daily"  => java.time.Duration.ofDays(1)
      case "@weekly" => java.time.Duration.ofDays(7)
      case other => throw new IllegalArgumentException(
        s"unsupported schedule: $other (use @hourly/@daily/@weekly)")
    }
    // first due grid point: the one strictly after lastRun (a lastRun
    // off the grid rounds up to the next grid point), or `start` when
    // no run ever happened; lastRun before `start` never rewinds
    val first = lastRun match {
      case Some(lr) if !lr.isBefore(start) =>
        val k = java.time.Duration.between(start, lr).toMillis /
          step.toMillis
        start.plus(step.multipliedBy(k + 1))
      case _ => start
    }
    val due = Iterator.iterate(first)(_.plus(step))
      .takeWhile(!_.isAfter(now)).toSeq
    if (catchup || due.isEmpty) due else Seq(due.last)
  }

  /** Run all three stages in dependency order (each stage retried like
    * the reference DAG's task retries); returns the gold fact's
    * SERVING view (the pointer-resolved current generation).
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          runDate: String, maxAttempts: Int = 3): DataFrame = {
    withRetries(maxAttempts)(bronze(spark, sfDir, outDir, runDate))
    withRetries(maxAttempts)(silver(spark, outDir, runDate))
    withRetries(maxAttempts)(gold(spark, sfDir, outDir, runDate))
    goldTable(spark, outDir, "fact_sales")
  }

  // ---- The same medallion pattern applied to the CORPUS domain ----
  // (the warehouse DAG above mirrors the reference's weather ETL; this
  // one is what the identical orchestration looks like when the "gold"
  // product is a packed training set instead of a star schema)

  /** Corpus bronze: land raw documents with lineage columns. */
  def corpusBronze(spark: SparkSession, sfDir: String, outDir: String,
                   ingestionDate: String): Unit =
    corpusLand(Tables.table(spark, sfDir, "documents"), outDir,
      ingestionDate)

  /** [[corpusBronze]] with the raw documents supplied directly —
    * the ingestion-source-agnostic form.
    */
  def corpusLand(docs: DataFrame, outDir: String,
                 ingestionDate: String): Unit =
    Tables.writeParquet(
      docs.withColumn("_source", lit("testdata"))
        .withColumn("_ingestion_date", lit(ingestionDate)),
      s"$outDir/bronze/documents")

  /** The cleaning projection every corpus document passes through
    * exactly once (strip → normalize → hash → quality). `norm_hash`
    * persists into silver so later EXACT-dup checks are one hash
    * semi-join, no text recompute.
    */
  private[graft] def corpusClean(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tf = graft.functions.TextFunctions
    docs.select(col("doc_id"), col("lang"),
        tf.stripMarkup(col("text")).as("clean_text"))
      .withColumn("norm_text", tf.normalizeText(col("clean_text")))
      .withColumn("norm_hash", sha2(col("norm_text"), 256))
      .withColumn("q", tf.qualityScore(col("clean_text")))
  }

  /** The persisted silver projection. `n_bpe_tokens` and `shard` are
    * computed HERE, once per accepted document, so the gold stage (and
    * every daily gold rebuild) never re-tokenizes or re-hashes the
    * corpus — the batch-sized-cost contract of [[corpusIncrement]].
    * `shard` is a layout property fixed by the recipe at init time;
    * changing `recipe.shards` means a bootstrap re-run, exactly like
    * re-partitioning any other lakehouse table.
    */
  private[graft] def silverColumns(cleaned: org.apache.spark.sql.DataFrame,
                            processingDate: String,
                            recipe: Corpus.TrainingRecipe)
      : org.apache.spark.sql.DataFrame =
    cleaned.select(col("doc_id"), col("lang"), col("clean_text"),
      col("norm_hash"), col("q"),
      graft.functions.TextFunctions.bpeTokenCount(col("clean_text"))
        .cast("bigint").as("n_bpe_tokens"),
      lit(processingDate).as("_processing_date"),
      Corpus.hashBucket(col("doc_id"), recipe.shardSalt, recipe.shards)
        .as("shard"))

  private[graft] def writeSilver(df: org.apache.spark.sql.DataFrame,
                          outDir: String, mode: String): Unit =
    Tables.writeParquet(df, s"$outDir/silver/documents", mode = mode,
      partitionBy = Seq("shard"))

  /** Corpus silver: strip markup, normalize, exact-dedup to one
    * canonical (best-quality) document per normalized text, carrying
    * the computed quality score forward so gold never recomputes it.
    */
  def corpusSilver(spark: SparkSession, outDir: String,
                   processingDate: String,
                   recipe: Corpus.TrainingRecipe =
                     Corpus.TrainingRecipe.Default): Unit = {
    val cleaned = corpusClean(spark.read.parquet(s"$outDir/bronze/documents"))
    writeSilver(
      silverColumns(
        Dedup.keepCanonical(cleaned, "doc_id", "norm_hash", "q"),
        processingDate, recipe),
      outDir, "overwrite")
  }

  /** Corpus gold: training filter → language mixture → train split →
    * greedy pack → packed rows with a deterministic epoch order — the
    * publishable training-set table.
    *
    * Shard-local by design: the expensive per-document derivations
    * (`n_bpe_tokens`, `shard`) are PERSISTED into silver at accept
    * time and never recomputed here, and every downstream stage —
    * quality/token filter, mixture, split (all row-local hash
    * filters), then the pack, packed rows and epoch rank
    * ([[Corpus.packEpochRanked]], one shuffle on the shard) — is
    * per-shard work with no cross-shard dependency. So a rebuild
    * restricted to `shards = Some(ks)` reads ONLY those silver
    * partition directories (explicit-path read: pruning is
    * structural, not optimizer-dependent) and replaces ONLY those
    * gold shard directories — staged, C11-audited, then swapped per
    * `shard=` dir (the S18 write-audit-publish gate, hand-rolled
    * delete+verified-rename per directory rather than Spark's dynamic
    * partition overwrite, so a failing audit leaves the serving table
    * untouched and the staging inspectable). [[corpusIncrement]]'s
    * daily gold cost is therefore proportional to the silver rows of
    * the shards its accepted documents touch — not to the batch: a
    * touched shard repacks all of its silver rows, and with few
    * shards (4 in the default recipe) a batch of a hundred documents
    * touches every shard, so each increment repacks all of silver.
    */
  def corpusGold(spark: SparkSession, outDir: String,
                 modelingDate: String, epoch: Int = 1,
                 recipe: Corpus.TrainingRecipe = Corpus.TrainingRecipe.Default,
                 shards: Option[Seq[Long]] = None,
                 extraAudit: Seq[Cleaning.Expectation] = Nil): Unit = {
    val silverPath = s"$outDir/silver/documents"
    if (shards.exists(_.isEmpty)) return // no shard touched: nothing to do
    // the footer schema: no schema-inference job per rebuild
    val silver = shards match {
      case Some(ks) => Tables.readParquet(spark, silverPath,
        ks.map(k => s"$silverPath/shard=$k"))
      case None => Tables.readParquet(spark, silverPath)
    }
    publishGold(spark, outDir, goldRows(silver, modelingDate, epoch, recipe),
      shards, extraAudit)
  }

  /** [[corpusGold]]'s publish of the gold rows `out`: staged, audited
    * and swapped in per shard directory. A full rebuild (`shards =
    * None`) with no row — an empty corpus, or one the training filter
    * empties — leaves one zero-row file with gold's schema at the table
    * root, so gold still reads (as empty); the first staged shard
    * directory replaces that file.
    */
  private def publishGold(spark: SparkSession, outDir: String,
                          out: DataFrame, shards: Option[Seq[Long]],
                          extraAudit: Seq[Cleaning.Expectation]): Unit = {
    // WRITE-AUDIT-PUBLISH, restated for a shard-partitioned target
    // (the S18 discipline composed into the DAG): stage the batch's
    // shard directories, run the BLOCKING C11 audit over the staged
    // bytes, and only then swap each staged shard dir over its target
    // twin. The per-DIRECTORY swap — not a whole-table rename —
    // preserves the incremental contract above: a shard-local rebuild
    // still touches only its own partitions (what the former dynamic
    // partitionOverwriteMode did), but a batch that fails its audit
    // now never reaches a directory a trainer could read, and the
    // staged parquet is LEFT for inspection.
    val target = goldPath(outDir)
    val staging = s"$target.staging"
    // the kernel's shuffle already put each shard in one task
    out.write.mode("overwrite")
      .partitionBy("shard")
      .parquet(staging)
    val fs = Tables.fsFor(spark, target)
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(staging))
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("shard="))
    // no staged shard: no row to audit
    if (staged.nonEmpty)
      Tables.auditStaged(spark, staging,
        Seq(Cleaning.ExpectNotNull("packed_text"),
          Cleaning.ExpectNotNull("bin_id"),
          Cleaning.ExpectRange("n_docs", 1, Long.MaxValue.toDouble),
          Cleaning.ExpectRange("epoch_rank", 1, Long.MaxValue.toDouble))
          ++ extraAudit)
    fs.mkdirs(new org.apache.hadoop.fs.Path(target))
    // the swap is NOT atomic across shards — a failure mid-loop
    // leaves gold serving a mix of new and old shard snapshots. The
    // RECOVERY CONTRACT (stated in every failure message below): a
    // re-run of the same batch re-stages and republishes EVERY shard,
    // which is idempotent because the staged write is an overwrite
    // and each per-shard swap replaces whatever is there. Each shard
    // swaps by rename-ASIDE (old copy moves under `_retiring/` —
    // underscore-prefixed, invisible to readers — and is reclaimed
    // only after the whole batch is serving), so the per-shard
    // no-directory window is one metadata rename and no copy is ever
    // deleted before its replacement is in place.
    val retiring = new org.apache.hadoop.fs.Path(s"$target/_retiring")
    def recovery(detail: String) = new IllegalStateException(
      s"$detail — gold may be serving a MIX of old and new shard " +
        s"snapshots; superseded copies are preserved under $retiring " +
        s"and the staged batch at $staging: re-running the same " +
        "batch re-stages and republishes every shard (idempotent)")
    val stagedNames = staged.map(_.getPath.getName).toSet
    // an empty gold's zero-row file goes before the first shard lands
    if (staged.nonEmpty)
      fs.listStatus(new org.apache.hadoop.fs.Path(target))
        .filter(_.isFile).foreach(st => fs.delete(st.getPath, false))
    staged.foreach { st =>
      val name = st.getPath.getName
      val dst = new org.apache.hadoop.fs.Path(s"$target/$name")
      val aside = new org.apache.hadoop.fs.Path(retiring, name)
      if (fs.exists(dst)) {
        fs.mkdirs(retiring)
        // verified wipe of a prior crashed swap's aside residue:
        // renaming into a surviving directory NESTS and returns true
        if (fs.exists(aside) && !fs.delete(aside, true))
          throw recovery(
            s"gold publish cannot reclaim stale aside residue $aside")
        if (!fs.rename(dst, aside))
          throw recovery(
            s"gold publish could not stage the previous shard dir " +
              s"$dst aside")
      }
      if (!fs.rename(st.getPath, dst))
        throw recovery(s"publish rename failed: ${st.getPath} -> $dst")
    }
    // a FULL rebuild (shards = None) REPLACES the gold partitions: a
    // target shard directory absent from the staged batch (a rebuild
    // that now produces fewer shards) must not silently keep serving
    // its old rows
    if (shards.isEmpty)
      fs.listStatus(new org.apache.hadoop.fs.Path(target))
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("shard=") &&
          !stagedNames(st.getPath.getName))
        .foreach { st =>
          if (!fs.delete(st.getPath, true))
            throw recovery(
              s"full rebuild could not remove the stale shard dir " +
                s"${st.getPath} absent from the staged batch")
        }
    if (shards.isEmpty && staged.isEmpty)
      out.limit(0).write.mode("overwrite").parquet(target)
    // the whole batch is serving: reclaim the superseded copies and
    // the consumed staging (verified for the retiring copies — a
    // silent survivor would shadow the next publish's aside slot)
    if (fs.exists(retiring) && !fs.delete(retiring, true))
      throw recovery(
        s"gold publish succeeded but the superseded shard copies at " +
          s"$retiring could not be deleted")
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    ()
  }

  /** The gold table's path under `outDir`. */
  private def goldPath(outDir: String) = s"$outDir/gold/train_packed"

  /** The gold rows of `silver`: the training filter, language mixture,
    * train split and the packed rows with their epoch rank.
    */
  private def goldRows(silver: DataFrame, modelingDate: String, epoch: Int,
                       recipe: Corpus.TrainingRecipe): DataFrame = {
    val kept = silver
      .withColumn("shard", col("shard").cast("bigint"))
      .filter(col("q") >= recipe.minQuality &&
        col("n_bpe_tokens").between(recipe.minTokens, recipe.maxTokens))
    val train = Corpus.splitByHash(
        Corpus.mixtureSample(kept, "doc_id", "lang", recipe.mixtureSalt,
          recipe.mixtureDen, recipe.mixtureRates.toMap),
        "doc_id", recipe.splitSalt, recipe.splitWeights)
      .filter(col("split") === "train")
    Corpus.packEpochRanked(train, "doc_id", "clean_text",
        "n_bpe_tokens", "shard", recipe.packBudget, epoch)
      .withColumn("_modeling_date", lit(modelingDate))
  }

  /** The persisted MinHash index over every document the corpus
    * pipeline has EVER processed (accepted or rejected). Indexing
    * rejected docs too closes the transitivity gap a canonical-only
    * index leaves open: day-3's near-dup of a day-2 REJECT would
    * otherwise sail past an index that only knows day-2's canonical.
    */
  private def indexDir(outDir: String) = s"$outDir/dedup_index"

  /** Bootstrap the incremental corpus state: bronze → FULLY deduped
    * silver → gold, plus the dedup index over all processed docs. The
    * bootstrap batch is decided like a [[corpusIncrement]] batch
    * against an empty index: no evidence and nothing stored, so a
    * document is accepted iff it is its norm-hash's canonical
    * (best-quality, tie → min id) and the canonical of its near-dup
    * group among those ([[bootstrapDedup]]). After this, daily
    * [[corpusIncrement]] calls carry the corpus forward at batch-sized
    * cost, and the corpus-wide invariant holds: no two silver docs are
    * exact or (LSH-detectable) near duplicates.
    *
    * An empty `docs` gives an empty corpus that the next increment
    * grows: an index holding one empty batch, an empty silver, and a
    * gold of one zero-row file with gold's schema.
    */
  def corpusInit(spark: SparkSession, docs: DataFrame, outDir: String,
                 runDate: String, epoch: Int = 1,
                 maxAttempts: Int = 3,
                 recipe: Corpus.TrainingRecipe =
                   Corpus.TrainingRecipe.Default,
                 maxDocFreq: Option[Int] = None): DataFrame =
    corpusInit(spark, docs, outDir, runDate, epoch, maxAttempts, recipe,
      maxDocFreq, Dedup.LocalBatchRows, Dedup.LocalVerifyBytes)

  /** [[corpusInit]] with the batch-local bound (negative: never) and
    * the batch-local verify budget; specs force the exchange form or
    * trip the budget with them.
    */
  private[graft] def corpusInit(spark: SparkSession, docs: DataFrame,
                                outDir: String, runDate: String,
                                epoch: Int, maxAttempts: Int,
                                recipe: Corpus.TrainingRecipe,
                                maxDocFreq: Option[Int], localRows: Long,
                                verifyBytes: Long): DataFrame = {
    withRetries(maxAttempts)(corpusLand(docs, outDir, runDate))
    val rows = withRetries(maxAttempts) {
      val cleaned = Checkpoints.truncate(corpusClean(
        spark.read.parquet(s"$outDir/bronze/documents")))
      val (bid, n) = Dedup.batchIdAndRows(cleaned, "doc_id")
      bootstrapDedup(spark, cleaned, n, maxDocFreq, localRows,
          verifyBytes) { (kept, sketch) =>
        // two consumers: silver write + hash evidence
        val silverDf =
          Checkpoints.truncate(silverColumns(kept, runDate, recipe))
        writeSilver(silverDf, outDir, "overwrite")
        if (n == 0L) publishGold(spark, outDir,
          goldRows(silverDf, runDate, epoch, recipe), None, Nil)
        // the boilerplate cap persists into the index _meta, so every
        // daily append and query runs the SAME cap the bootstrap dedup
        // ran — the consistency the cap's Jaccard semantics need. The
        // bootstrap batch also carries the hash evidence of everything
        // that LANDED in silver, so the daily exact-dup probe never has
        // to read silver itself (see classifyCleaned).
        Dedup.publishBatch(sketch, cleaned, "doc_id", indexDir(outDir),
          "overwrite", knownId = Some(bid),
          sideTables = Seq("hashes" -> silverDf.select(col("norm_hash"))))
      }
      n
    }
    if (rows > 0L)
      withRetries(maxAttempts)(
        corpusGold(spark, outDir, runDate, epoch, recipe))
    spark.read.parquet(goldPath(outDir))
  }

  /** The bootstrap's dedup of `cleaned` (`rows` rows): ONE sketch of
    * the batch (df-capped over the whole batch with `maxDocFreq`),
    * from which both the decision and `land` — the silver write and
    * the index publish — read. `land` gets the accepted rows of
    * `cleaned` and the sketch.
    *
    * A batch-local sketch (at most `localRows` rows, long ids) is
    * decided by the batch-local kernel ([[Dedup.batchLocal]]) in one
    * task ([[labelTask]]) against no stored index, and its accepted ids
    * reach `cleaned` through a broadcast. Any other sketch, or one
    * whose verify state is over `verifyBytes`, runs the exchange form
    * on the same sketch: the norm-hash canonicals, their verified
    * near-dup pairs from the sketch ([[Dedup.batchPairs]]), their
    * groups ([[Dedup.resolveGroups]]) and each group's canonical. Both
    * equal the earlier two-sketch bootstrap kept in
    * `BootstrapParitySpec` (with a df-cap: each other's).
    */
  private[graft] def bootstrapDedup[T](spark: SparkSession,
                                       cleaned: DataFrame, rows: Long,
                                       maxDocFreq: Option[Int],
                                       localRows: Long, verifyBytes: Long)
                                      (land: (DataFrame, Dedup.BatchSketch) => T)
      : T =
    Dedup.withBatchSketch(cleaned, "doc_id", "norm_text", 16, 2,
        maxDocFreq.getOrElse(-1),
        Dedup.sketchesLocal(cleaned, "doc_id", rows, localRows),
        carry = decided) { sketch =>
      val kept = sketch.local.flatMap { _ =>
        Dedup.batchLocal(sketch, None, 1, 2, verifyBytes, None, labelSchema,
            labelTask) { labels =>
          spark.createDataFrame(labels.collect().toSeq.asJava, labelSchema)
        }
      }.map(labels => cleaned.join(broadcast(labels
          .filter(col("decision") === "accept").select(col("doc_id"))),
          Seq("doc_id")))
        .getOrElse {
          val exactCanon =
            Dedup.keepCanonical(cleaned, "doc_id", "norm_hash", "q")
          val groups = Dedup.resolveGroups(
              exactCanon.select(col("doc_id").as("id")),
              Dedup.batchPairs(sketch, exactCanon.select(col("doc_id").as("sid")))
                .select(col("id_a"), col("id_b")))
            .withColumnRenamed("id", "doc_id")
          Dedup.keepCanonical(exactCanon.join(groups, Seq("doc_id")),
            "doc_id", "group_id", "q")
        }
      land(kept, sketch)
    }

  /** Daily INCREMENT of the corpus state — the production shape: cost
    * scales with the batch, never the corpus. A batch document is
    * accepted iff it is (a) not an exact dup (norm-hash) of a silver
    * doc or a better-quality batch sibling, (b) not a near-dup of ANY
    * previously processed doc (checked against the persisted index —
    * new-batch-sized work via [[Dedup.minhashDedupAgainstIndex]]), and
    * (c) the canonical (best-quality, tie → min id) of its within-batch
    * near-dup group. First arrival wins across days (greedy streaming
    * dedup — a later, higher-quality near-dup does NOT displace an
    * accepted doc; re-canonicalization is a bootstrap re-run's job).
    * Accepted docs append to silver, the WHOLE batch publishes to the
    * index as one committed batch (see [[indexDir]] and
    * [[Dedup.writeDedupIndex]]), gold rebuilds ONLY the shards the
    * accepted docs touched (see [[corpusGold]]), and a replayed batch
    * is refused LOUDLY by an O(1) meta and marker probe — the guard's
    * cost never grows with the corpus. Returns the accepted count.
    *
    * `batch` needs (doc_id, lang, text) with ids disjoint from every
    * earlier batch — the landing-zone invariant. An exact replay is
    * always caught (the content-derived batch id matches); a
    * MALFORMED batch that reuses some already-processed ids without
    * being a replay is a landing-zone bug upstream — run
    * [[Dedup.writeDedupIndex]]'s `auditOverlap` scan as a maintenance
    * audit when that invariant needs re-verifying.
    */
  def corpusIncrement(spark: SparkSession, outDir: String,
                      batch: DataFrame, runDate: String,
                      epoch: Int = 1,
                      recipe: Corpus.TrainingRecipe =
                        Corpus.TrainingRecipe.Default): Long =
    corpusIncrementWithHook(spark, outDir, batch, runDate, epoch, recipe)

  /** The accept/reject DECISION for every document of a (cleaned)
    * batch against the persisted corpus state — the shared core of
    * [[corpusIncrement]] and the introspection surface
    * [[classifyBatch]] exposes. One label per batch document:
    *
    *  - `exact_dup_batch`  — lost the within-batch norm-hash
    *    canonical race to a better-quality sibling (step a);
    *  - `exact_dup_corpus` — its normalized text is already in silver
    *    (step a, after the sibling race);
    *  - `near_dup_corpus`  — LSH-near a previously processed document
    *    (step b, against the persisted index — batch-sized work);
    *  - `near_dup_batch`   — lost its within-batch near-dup group's
    *    canonical race (step c);
    *  - `accept`           — lands in silver.
    *
    * Labels are mutually exclusive and exhaustive over the batch
    * (spec-asserted), applied in exactly [[corpusIncrement]]'s
    * precedence — so `accept` here IS the increment's accepted set,
    * by construction rather than by parallel reimplementation.
    *
    * The evidence is every index batch's `hashes/` side table (32 B
    * per accepted doc) in one scan, never the silver table — except
    * for an index that predates the evidence (bare writeDedupIndex
    * state): the O(corpus) silver scan. A batch-local sketch (which
    * carries [[decided]]) is matched and decided by the batch-local
    * kernel ([[Dedup.batchLocal]]) in one task ([[labelTask]]); its
    * labels are collected (at most [[Dedup.LocalBatchRows]] rows). Any
    * other sketch, or one whose verify state is over `verifyBytes`,
    * runs the exchange match and the frame form ([[decideInFrames]]).
    * Both equal the five-branch reference kept in `ClassifyParitySpec`.
    */
  private def classifyCleaned(spark: SparkSession, outDir: String,
                              cleaned: DataFrame,
                              sketch: Dedup.BatchSketch,
                              verifyBytes: Long = Dedup.LocalVerifyBytes)
      : DataFrame = {
    val idx = indexDir(outDir)
    val evidence = Dedup.readBatchHashes(spark, idx).getOrElse(
      Tables.readParquet(spark, s"$outDir/silver/documents")
        .select(col("norm_hash")))
    // (b)'s near-dup pairs vs everything ever processed and within the
    // batch come from the batch's sketch (the index _meta supplies the
    // boilerplate df-cap, so batch and stored sides stay consistent
    // with the bootstrap build)
    sketch.local.flatMap { ls =>
      Dedup.batchLocal(sketch, Some(idx), 1, 2, verifyBytes,
          Some(evidence -> ls.carried.flatMap(r => Option(r.getString(1))).toSet),
          labelSchema, labelTask) { labels =>
        spark.createDataFrame(labels.collect().toSeq.asJava, labelSchema)
      }
    }.getOrElse(
      decideInFrames(cleaned, evidence, Dedup.exchangeMatch(sketch, idx)))
  }

  /** The batch columns a batch-local sketch carries to [[labelTask]]. */
  private val decided = Seq("doc_id", "norm_hash", "q")

  private val labelSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("decision", StringType, nullable = false)))

  /** The decision as frames: each document carries three flags (exact
    * winner, text in silver, near an older doc), the first three
    * labels are one `when` chain over them, and that frame is
    * checkpointed once; the within-batch groups run over its
    * unlabelled rows through [[Dedup.resolveGroups]].
    */
  private def decideInFrames(cleaned: DataFrame, evidence: DataFrame,
                             pairs: DataFrame): DataFrame = {
    val ids = cleaned.select(col("doc_id"))
    // (a) exact: the best-quality batch sibling per norm_hash wins
    // (keepCanonical's order: score desc, id asc); a winner whose text
    // is already in silver is a corpus dup
    val inSilver = evidence
      .join(cleaned.select(col("norm_hash")), Seq("norm_hash"), "left_semi")
      .distinct().withColumn("in_silver", lit(true))
    // (b) near an older document: a pair with one side outside the batch
    val nearOld = pairs
      .join(ids.withColumnRenamed("doc_id", "id_a"), Seq("id_a"),
        "left_anti")
      .select(col("id_b").as("doc_id"))
      .unionByName(pairs
        .join(ids.withColumnRenamed("doc_id", "id_b"), Seq("id_b"),
          "left_anti")
        .select(col("id_a").as("doc_id")))
      .distinct().withColumn("near_old", lit(true))
    val winner = row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("norm_hash"))
        .orderBy(negate(col("q")), col("doc_id"))) === 1
    val frame = Checkpoints.truncate(cleaned.select(col("doc_id"),
        col("norm_hash"), col("q"), winner.as("winner"))
      .join(inSilver, Seq("norm_hash"), "left")
      .join(nearOld, Seq("doc_id"), "left")
      .select(col("doc_id"), col("q"),
        when(!col("winner"), "exact_dup_batch")
          .when(col("in_silver"), "exact_dup_corpus")
          .when(col("near_old"), "near_dup_corpus").as("pre")))
    // (c) within-batch near-dup groups over the surviving docs
    val surviving = frame.filter(col("pre").isNull)
    val sIds = surviving.select(col("doc_id"))
    val innerPairs = pairs
      .join(sIds.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
      .join(sIds.withColumnRenamed("doc_id", "id_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"))
    val groups = Dedup.resolveGroups(
        sIds.withColumnRenamed("doc_id", "id"), innerPairs)
      .withColumnRenamed("id", "doc_id")
    val accepts = Dedup.keepCanonical(
        surviving.join(groups, Seq("doc_id")), "doc_id", "group_id", "q")
      .select(col("doc_id"), lit(true).as("accepted"))
    frame.join(accepts, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("pre"),
        when(col("accepted"), "accept").otherwise("near_dup_batch"))
        .as("decision"))
  }

  /** The decision of a batch-local batch (at most
    * [[Dedup.LocalBatchRows]] rows, long ids), run inside the
    * batch-local kernel's one task over its verified pairs — the
    * [[Dedup.resolveGroups]] union-find precedent. The batch documents
    * are the sketch's carried (doc_id, norm_hash, q) rows, and
    * `inSilver` the evidence hashes the task kept (those equal to a
    * batch hash). The documents take their slots in the frame form's
    * window order (-q, doc_id), Spark's own null and NaN placement
    * included ([[byQuality]]): the exact winner per hash (null hashes
    * form one group) is the hash's first slot, and a within-batch
    * group's canonical is its least slot — the union-find's root, since
    * a union parents the larger root to the smaller. Every pair with a
    * stored document arrives before the within-batch pairs, so those
    * stream through the union-find of the surviving documents and are
    * never held: the state is O(batch rows).
    */
  private val labelTask: Dedup.Consume = (carried, inSilver, withStored,
                                          within) => {
    val docs = carried.sorted(byQuality)
    val slot = new java.util.HashMap[java.lang.Long, Integer]()
    val hashes = docs.map(r => if (r.isNullAt(1)) null else r.getString(1))
    val winner = new java.util.HashMap[String, Integer]()
    docs.indices.foreach { i =>
      slot.put(docs(i).getLong(0), i); winner.putIfAbsent(hashes(i), i)
    }
    val nearOld = new Array[Boolean](docs.length)
    // a stored id that is also a batch doc (a landing-zone violation)
    // makes its pair a within-batch one
    val late = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    withStored.foreach { p =>
      (slot.get(p(0)), slot.get(p(1))) match {
        case (null, null) =>
        case (a, null)    => nearOld(a) = true
        case (null, b)    => nearOld(b) = true
        case _            => late += p
      }
    }
    // labels (a) and (b): null for a surviving doc
    val pre = Array.tabulate(docs.length) { i =>
      if (winner.get(hashes(i)).intValue != i) "exact_dup_batch"
      else if (hashes(i) != null && inSilver.contains(hashes(i)))
        "exact_dup_corpus"
      else if (nearOld(i)) "near_dup_corpus"
      else null
    }
    val parent = Array.tabulate(docs.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    (late.iterator ++ within).foreach { p =>
      val (a, b) = (slot.get(p(0)), slot.get(p(1)))
      if (a != null && b != null && pre(a) == null && pre(b) == null) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    docs.indices.iterator.map { i =>
      Row(docs(i).getLong(0), if (pre(i) != null) pre(i)
        else if (find(i) == i) "accept" else "near_dup_batch")
    }
  }

  /** Carried (doc_id, norm_hash, q) rows in the frame form's window
    * order: `negate(q)` ascending — null first, then Spark's double
    * order (0.0 equals -0.0, NaN last) — then doc_id.
    */
  private val byQuality: Ordering[Row] = (x, y) =>
    (x.isNullAt(2), y.isNullAt(2)) match {
      case (true, false) => -1
      case (false, true) => 1
      case (nx, _) =>
        val c =
          if (nx) 0
          else {
            val (a, b) = (-x.getDouble(2), -y.getDouble(2))
            if (a == b) 0 else java.lang.Double.compare(a, b)
          }
        if (c != 0) c else java.lang.Long.compare(x.getLong(0), y.getLong(0))
    }

  /** Why was each document of `batch` kept or rejected? The
    * introspection form of [[corpusIncrement]]'s decision — same
    * cleaning, same persisted-state checks, same precedence, NO state
    * mutation (nothing lands, nothing appends): the dry-run a corpus
    * operator reaches for when a day's acceptance rate moves.
    * Returns (doc_id, decision); see [[classifyCleaned]] for the
    * label vocabulary.
    */
  def classifyBatch(spark: SparkSession, outDir: String,
                    batch: DataFrame): DataFrame =
    classifyBatch(spark, outDir, batch, Dedup.LocalBatchRows)

  /** [[classifyBatch]] with the batch-local bound of
    * [[Dedup.withIndexSketch]] (negative: never) and the batch-local
    * verify budget; specs force the frame form or trip the budget's
    * gates with them.
    */
  private[graft] def classifyBatch(spark: SparkSession, outDir: String,
                                   batch: DataFrame, localRows: Long,
                                   verifyBytes: Long = Dedup.LocalVerifyBytes)
      : DataFrame = {
    val cleaned = Checkpoints.truncate(corpusClean(batch))
    Dedup.withIndexSketch(cleaned, "doc_id", "norm_text", indexDir(outDir),
      cleaned.count(), localRows = localRows, carry = decided)(
      classifyCleaned(spark, outDir, cleaned, _, verifyBytes))
  }

  /** [[corpusIncrement]] with a crash-injection hook fired at the
    * commit point (after the index batch publishes, before any silver
    * lands) — exists so the recovery contract below is TESTED, not
    * asserted: a spec throws from the hook and verifies the retry
    * resumes cleanly.
    *
    * Commit protocol (all idempotent under retry):
    *  1. compute the accepted set ([[classifyCleaned]]'s accept
    *     label);
    *  2. append ONE batch to the index via [[Dedup.writeDedupIndex]]'s
    *     protocol (staged, committed by the `_meta` swap), carrying
    *     the accepted docs' silver rows as a commit record
    *     (`accepted/` side table) — before this point a crash leaves
    *     no visible state at all;
    *  3. land the accepted rows into silver, rebuild gold for the
    *     touched shards, then write the batch's `_landed` marker.
    * A retry of a FULLY landed batch is refused loudly (one `_meta`
    * read and one marker probe; a retired id counts as landed). A
    * retry after a crash between 2 and 3 RESUMES: the
    * accepted set is read back from the commit record (never
    * recomputed — recomputing against a half-committed index would
    * mis-classify near-dups of this batch's own docs), silver gets
    * only the rows it is missing, gold rebuilds, the marker lands.
    * The r6 design refused that retry and demanded manual parquet
    * surgery; now the documented repair step is the code path itself.
    */
  private[graft] def corpusIncrementWithHook(
      spark: SparkSession, outDir: String, batch: DataFrame,
      runDate: String, epoch: Int = 1,
      recipe: Corpus.TrainingRecipe = Corpus.TrainingRecipe.Default,
      afterIndexPublish: () => Unit = () => ()): Long = {
    val cleaned = Checkpoints.truncate(corpusClean(batch))
    val idx = indexDir(outDir)
    val (bid, rows) = Dedup.batchIdAndRows(cleaned, "doc_id")
    // an empty day is a no-op: nothing to index, land or repack (its
    // empty id set would otherwise publish a batch directory, and the
    // next empty day would be refused as its replay)
    if (rows == 0L) return 0L
    val batchDir = new org.apache.hadoop.fs.Path(s"$idx/batches/$bid")
    val fs = Tables.fsFor(spark, idx)
    val landedMarker = new org.apache.hadoop.fs.Path(batchDir, "_landed")
    val index = Dedup.readMeta(fs, idx)
    val resuming = index.batches.contains(bid)
    // the LANDED subtype, not the parent: this is the one replay the
    // streaming sink may treat as "already done" — the batch finished
    // the whole protocol, silver/gold included. A retired id was
    // compacted or retracted away, which both refuse while a batch is
    // mid-landing, so it landed. The index-level append refusal further
    // down (a batch another writer committed after this read) stays the
    // parent type and fails the stream loudly: swallowing it would drop
    // a micro-batch that never reached silver/gold.
    if (index.retired.contains(bid) || (resuming && fs.exists(landedMarker)))
      throw new graft.BatchAlreadyLanded(
        s"corpusIncrement replay refused: batch $bid has already been " +
          s"processed and landed in the index at $idx — re-submitting a " +
          "committed batch would double-count it")
    if (!resuming) Dedup.withIndexSketch(cleaned, "doc_id", "norm_text",
        idx, rows, carry = decided) { sketch =>
      val acceptIds = classifyCleaned(spark, outDir, cleaned, sketch)
        .filter(col("decision") === "accept").select(col("doc_id"))
      val accepted = cleaned.join(
        if (sketch.local.isDefined) broadcast(acceptIds) else acceptIds,
        Seq("doc_id"))
      // two consumers: commit record + hash evidence
      val acceptedSilver0 =
        Checkpoints.truncate(silverColumns(accepted, runDate, recipe))
      Dedup.publishBatch(sketch, cleaned, "doc_id", idx, mode = "append",
        knownId = Some(bid),
        sideTables = Seq("accepted" -> acceptedSilver0.coalesce(1),
          "hashes" -> acceptedSilver0.select(col("norm_hash"))))
      ()
    }
    afterIndexPublish()
    // landing — reads the published commit record, so this half is
    // retry-idempotent and shared by the fresh and resume paths
    if (resuming &&
        !fs.exists(new org.apache.hadoop.fs.Path(batchDir, "accepted")))
      throw new IllegalStateException(
        s"batch $bid is published at $batchDir without a commit " +
          "record — it was indexed outside corpusIncrement (e.g. the " +
          "bootstrap corpus or a bare writeDedupIndex append); " +
          "re-submitting those documents as a daily batch is a " +
          "landing-zone error, not a resumable crash")
    val acceptedSilver = Tables.readParquet(spark, s"$batchDir/accepted")
    val toLand =
      if (!resuming) acceptedSilver
      else acceptedSilver.join( // recovery only: O(corpus) id probe
        spark.read.parquet(s"$outDir/silver/documents").select("doc_id"),
        Seq("doc_id"), "left_anti")
    writeSilver(toLand, outDir, "append")
    // gold rebuild is SHARD-LOCAL: only shards that received an
    // accepted doc repack (their pack/epoch windows shift); every
    // other gold partition is untouched on disk. The shard list is a
    // bounded driver scalar (≤ recipe.shards values), never row data;
    // one aggregate over the commit record yields it and the count.
    val landed = acceptedSilver
      .agg(sort_array(collect_set(col("shard"))), count(lit(1))).head()
    corpusGold(spark, outDir, runDate, epoch, recipe,
      Some(landed.getSeq[Long](0)))
    fs.create(landedMarker, true).close()
    landed.getLong(1)
  }

  /** What [[retractDocs]] did, per store — bounded driver scalars for
    * the caller's audit trail.
    */
  final case class RetractReport(requested: Long, silverRemoved: Long,
                                 shardsRewritten: Seq[Long],
                                 dedupHits: Long, bm25Removed: Long,
                                 vectorRemoved: Long)

  /** CROSS-STORE TAKEDOWN (R2 — the opt-out path a production
    * training-data pipeline needs on day one): make `docIds`
    * unservable EVERYWHERE the corpus pipeline persisted them, in one
    * call:
    *
    *  1. SILVER — the affected shard partitions (layout-derived from
    *     the recipe, no scan of unaffected shards) rewrite without
    *     the docs; a shard emptied by the retraction is removed. The
    *     victims' `norm_hash` values are captured first (bounded by
    *     the request) to scrub the exact-dup evidence below.
    *  2. GOLD — the affected `train_packed` shards are DELETED first
    *     and then rebuilt from the rewritten silver
    *     ([[corpusGold]]'s shard-scoped rebuild): a retracted doc's
    *     text can sit inside a packed row, so the bias is removal
    *     over availability — a crash mid-step leaves the affected
    *     shards absent, never a packed row still carrying the text;
    *     re-run to finish the rebuild.
    *  3. DEDUP INDEX — band/shingle rows, exact-dup hash evidence,
    *     and the batches' `accepted` text records scrub via
    *     [[Dedup.retractFromDedupIndex]] (the retired originals keep
    *     refusing replays, so a redelivered batch cannot resurrect
    *     the doc).
    *  4. Optionally a BM25 postings index and a vector index over the
    *     same ids ([[Bm25.retractFromBm25Index]] /
    *     [[VectorIndex.retractIds]]).
    *
    * NOT touched: bronze (the raw landing zone — retention there is a
    * lifecycle policy, not an index rewrite) and past manifest/
    * snapshot GENERATIONS still inside their retention windows
    * (bounded by keep/grace by design; size those windows to the
    * take-down SLA, or age them out with follow-up publishes).
    *
    * Recovery: silver shards swap via rename-aside under
    * `<silver>.retracting/` — a crash mid-swap preserves every
    * superseded copy there, and the recovery is re-running the same
    * retraction (idempotent: already-scrubbed stores report 0 hits).
    */
  def retractDocs(spark: SparkSession, outDir: String,
                  docIds: Seq[String], modelingDate: String,
                  epoch: Int = 1,
                  recipe: Corpus.TrainingRecipe =
                    Corpus.TrainingRecipe.Default,
                  bm25IndexPath: Option[String] = None,
                  vectorIndexPath: Option[String] = None)
      : RetractReport = {
    require(docIds.nonEmpty, "retractDocs needs at least one doc id")
    import spark.implicits._
    val silverPath = s"$outDir/silver/documents"
    val fs = Tables.fsFor(spark, silverPath)
    val idsDf = docIds.toDF("doc_id").distinct()
    // affected shards are LAYOUT-derived (the recipe's hash bucket):
    // a bounded driver list, no scan of unaffected partitions
    val affected = docIds.toDF("doc_id")
      .select(Corpus.hashBucket(col("doc_id"), recipe.shardSalt,
        recipe.shards).as("shard"))
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    val existingShardDirs = affected
      .map(k => k -> s"$silverPath/shard=$k")
      .filter { case (_, p) =>
        fs.exists(new org.apache.hadoop.fs.Path(p)) }
    var silverRemoved = 0L
    var victimHashes = Seq.empty[String]
    if (existingShardDirs.nonEmpty) {
      val rows = spark.read.option("basePath", silverPath)
        .parquet(existingShardDirs.map(_._2): _*)
      // the stored doc_id keeps its ingest type — cast the request
      // to it so the joins are typed, never coercion-dependent
      val idsTyped = idsDf.select(col("doc_id")
        .cast(rows.schema("doc_id").dataType).as("doc_id"))
      // bounded collect (≤ the request size): the hashes that scrub
      // the index's exact-dup evidence
      victimHashes = rows
        .join(broadcast(idsTyped), Seq("doc_id"), "left_semi")
        .select(col("norm_hash")).collect().map(_.getString(0)).toSeq
      silverRemoved = victimHashes.size
      if (silverRemoved > 0) {
        val staging = s"$silverPath.retracting"
        if (fs.exists(new org.apache.hadoop.fs.Path(staging)) &&
            !fs.delete(new org.apache.hadoop.fs.Path(staging), true))
          throw new IllegalStateException(
            s"cannot wipe stale retraction staging at $staging")
        rows.join(broadcast(idsDf.select(col("doc_id")
            .cast(rows.schema("doc_id").dataType).as("doc_id"))),
            Seq("doc_id"), "left_anti")
          .withColumn("shard", col("shard").cast("bigint"))
          .repartition(col("shard"))
          .write.mode("overwrite").partitionBy("shard")
          .parquet(staging)
        val stagedNames = fs.listStatus(
            new org.apache.hadoop.fs.Path(staging))
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("shard="))
          .map(_.getPath.getName).toSet
        existingShardDirs.foreach { case (k, p) =>
          val name = s"shard=$k"
          val dst = new org.apache.hadoop.fs.Path(p)
          val aside = new org.apache.hadoop.fs.Path(
            s"$staging/__retired_$name")
          if (!fs.rename(dst, aside))
            throw new IllegalStateException(
              s"silver retraction could not stage $dst aside — " +
                s"superseded copies are under $staging; re-run the " +
                "same retraction to recover")
          // a shard emptied by the retraction stays absent
          if (stagedNames(name) &&
              !fs.rename(new org.apache.hadoop.fs.Path(
                s"$staging/$name"), dst))
            throw new IllegalStateException(
              s"silver retraction publish failed for $name — " +
                s"superseded copies are under $staging; re-run the " +
                "same retraction to recover")
        }
        if (!fs.delete(new org.apache.hadoop.fs.Path(staging), true))
          throw new IllegalStateException(
            s"cannot reclaim retraction staging at $staging")
      }
    }
    // gold: removal first (a packed row can carry the text), then the
    // shard-scoped rebuild from the rewritten silver
    val goldTarget = s"$outDir/gold/train_packed"
    affected.foreach { k =>
      val p = new org.apache.hadoop.fs.Path(s"$goldTarget/shard=$k")
      if (fs.exists(p) && !fs.delete(p, true))
        throw new IllegalStateException(
          s"cannot remove the affected gold shard $p")
    }
    val rebuildable = affected.filter(k => fs.exists(
      new org.apache.hadoop.fs.Path(s"$silverPath/shard=$k")))
    if (rebuildable.nonEmpty)
      corpusGold(spark, outDir, modelingDate, epoch, recipe,
        shards = Some(rebuildable))
    val dedupHits =
      if (fs.exists(new org.apache.hadoop.fs.Path(indexDir(outDir))))
        Dedup.retractFromDedupIndex(spark, indexDir(outDir), docIds,
          victimHashes)
      else 0L
    val bm25N = bm25IndexPath
      .map(p => Bm25.retractFromBm25Index(spark, p, docIds))
      .getOrElse(0L)
    val vecN = vectorIndexPath
      .map(p => VectorIndex.retractIds(spark, p, docIds))
      .getOrElse(0L)
    RetractReport(docIds.distinct.size.toLong, silverRemoved, affected,
      dedupHits, bm25N, vecN)
  }

  /** Corpus-domain DAG run (bronze → silver → gold with retries, same
    * orchestration contract as [[run]]); returns the packed training
    * set. One-shot form of [[corpusInit]] without the incremental
    * index.
    */
  def runCorpus(spark: SparkSession, sfDir: String, outDir: String,
                runDate: String, epoch: Int = 1,
                maxAttempts: Int = 3,
                recipe: Corpus.TrainingRecipe =
                  Corpus.TrainingRecipe.Default): DataFrame = {
    withRetries(maxAttempts)(corpusBronze(spark, sfDir, outDir, runDate))
    withRetries(maxAttempts)(corpusSilver(spark, outDir, runDate, recipe))
    withRetries(maxAttempts)(
      corpusGold(spark, outDir, runDate, epoch, recipe))
    spark.read.parquet(s"$outDir/gold/train_packed")
  }
}
