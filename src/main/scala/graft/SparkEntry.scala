package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §2/§7.
  *
  * Each `queries` entry is one operator/capability from SURVEY.md §2;
  * `oracleSql` holds the DuckDB-equivalent SQL for the hash-compare
  * gate (omitted only for ops whose hashing/bucketing is
  * Spark-specific — those get the weaker rows-only check).
  *
  * Determinism rules that make the hash gate meaningful (and make a
  * 100 TB re-run diffable): wall-clock stamps are injected constants,
  * float aggregates run in exact decimal, and every column is aliased
  * identically in the Spark plan and the oracle SQL.
  */
object SparkEntry {
  private val Stamp = "2026-08-12" // injected _processing/_modeling date

  /** Shared fixture of the two fsck gates (q_index_audit /
    * q_index_repair): a REAL postings index over the documents table
    * (80% bootstrap + 20% append) with the common incident plants —
    * crashed-compaction residue (reserved merged shape), an orphan
    * directory, a dangling grace marker. One definition so the two
    * gates' oracles can never desynchronize on what was planted.
    * Returns the index root's FileSystem for further plants.
    */
  private def plantedIndexFixture(s: SparkSession, d: String,
                                  dir: String)
      : org.apache.hadoop.fs.FileSystem = {
    val docs = Tables.table(s, d, "documents")
      .select(col("doc_id"), col("text"))
    val isNew = Corpus.hashBucket(col("doc_id"), "binc", 5) === 0
    graft.operators.Bm25.writeBm25Index(docs.filter(!isNew),
      "doc_id", "text", dir)
    graft.operators.Bm25.appendBm25Index(docs.filter(isNew), "text",
      dir)
    val fs = graft.sources.Tables.fsFor(s, dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(
      s"$dir/batches/m0123456789abcdef"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/batches/orphan01"))
    graft.operators.IndexProtocol.markPendingDelete(fs, dir,
      "gonebatch01", 0L, 0L)
    fs
  }

  /** Stage `copies` copies of the events table in a throwaway dir,
    * run `pipeline` over a file-source stream of it to completion, and
    * return the streamed result, fully detached from the run's
    * resources: the memory-sink temp view is dropped and the staging
    * dir deleted EAGERLY before returning (not deleteOnExit), so
    * repeated gate runs in one long-lived session leave no growing
    * temp disk or catalog entries behind. Shared by the q_stream_*
    * gate entries.
    */
  private def runStreamGate(s: SparkSession, sfDir: String, copies: Int,
                            outputMode: String,
                            pipeline: DataFrame => DataFrame): DataFrame = {
    Checkpoints.tempDir("graft-stream-gate") { dir =>
      (1 to copies).foreach { i =>
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$sfDir/events.parquet"),
          java.nio.file.Paths.get(dir, s"events_$i.parquet"))
      }
      val name = "stream_gate_" +
        java.lang.Long.toHexString(System.nanoTime())
      try {
        val q = graft.streaming.EventStream.runToMemory(
          pipeline(graft.streaming.EventStream.readEvents(s, dir)),
          name, outputMode)
        q.stop()
        // pin the sink's rows so the returned plan survives the view
        // drop and the source-file delete
        Checkpoints.truncate(s.table(name))
      } finally s.catalog.dropTempView(name)
    }
  }

  /** The ANN gates' query (probe) predicate: every 50th vector — a
    * probe set that SCALES with the corpus, which is what makes the
    * q_ann_pq / q_ann_ivfpq recall oracles O(corpus²/50) by
    * construction (each of n/50 queries compares against all n).
    * That full-probe form is the CORRECTNESS gate and stays the
    * Verify shape; the BENCH run sets `graft.ann.maxQueries` (a
    * fixed probe count at any scale — first-N multiples of 50, still
    * deterministic) so `BENCH_sf1` measures engine scaling instead
    * of a quadratic oracle's constant. Recall floors are calibrated
    * for the full probe set; the capped form is a timing shape only.
    */
  private def annQueryPred: org.apache.spark.sql.Column = {
    val base = col("vec_id") % 50 === 0
    sys.props.get("graft.ann.maxQueries").flatMap(_.toLongOption)
      .map(q => base && col("vec_id") < 50L * q).getOrElse(base)
  }

  /** The IVFPQ gate's coarse-cell seed predicate: every 37th vector —
    * nlist ∝ corpus, which makes the gate's ENCODE pass (every vector
    * assigned to its nearest of n/37 cells) the second O(corpus²/37)
    * term beside the probe set. Same discipline as [[annQueryPred]]:
    * the bench pins `graft.ann.maxCells` for a fixed cell count at
    * any scale; Verify keeps the full corpus-proportional form its
    * recall/candidate-fraction floors are calibrated for.
    */
  private def annCellPred: org.apache.spark.sql.Column = {
    val base = col("vec_id") % 37 === 1
    sys.props.get("graft.ann.maxCells").flatMap(_.toLongOption)
      .map(c => base && col("vec_id") < 37L * c).getOrElse(base)
  }

  /** The PQ gates' codebook SEED predicate: every 17th vector — a
    * k ∝ corpus/17 codebook whose Lloyd rounds cost k·corpus each
    * (the measured 911 s sf1 melt; the production form is
    * [[graft.operators.Similarity.pqTrainFixedK]], k a model
    * constant). The modulo init stays because the DuckDB oracle
    * replays it; the bench pins `graft.ann.maxTrainSeeds` for a
    * fixed seed count at any scale.
    */
  private def annSeedPred: org.apache.spark.sql.Column = {
    val base = col("vec_id") % 17 === 5
    sys.props.get("graft.ann.maxTrainSeeds").flatMap(_.toLongOption)
      .map(c => base && col("vec_id") < 17L * c).getOrElse(base)
  }

  /** The three persisted-ANN gates (q_ann_pq, q_ann_ivfpq,
    * q_ann_index) train the IDENTICAL PQ codebook — same corpus, same
    * (m, dim, init, rounds) — so a gate sweep redid ~3 s of identical
    * k-means three times at sf0.1. Train once per sf dir, memoize the
    * COLLECTED rows (m·k codebook rows — driver-trivial), and
    * re-parallelize per caller: values are byte-identical to a fresh
    * train (same deterministic pqTrain on the same input), so every
    * gate stays bit-exact while the sweep pays for one training run.
    * Keyed by (sfDir, rounds); a new SparkSession reuses the rows —
    * they are plain JVM data, session-free.
    */
  private val pqCbCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int, Int),
    (Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)]()
  // the cache key carries EVERY training input a caller can vary (sf
  // dir, m, dim, rounds) — a key that omitted geometry would silently
  // serve an 8/64 codebook to a caller that asked for 16/64; the init
  // predicate is pinned here and is part of the memo's contract
  private def sharedPqCodebook(s: SparkSession, d: String, m: Int,
                               dim: Int, rounds: Int): DataFrame = {
    // the bench's seed cap changes the trained codebook, so it is
    // part of the memo key (a Verify JVM never sets it)
    val capKey = sys.props.getOrElse("graft.ann.maxTrainSeeds", "")
    val (rows, schema) =
      pqCbCache.computeIfAbsent((s"$d|$capKey", m, dim, rounds), _ => {
        val cb = Similarity.pqTrain(Tables.table(s, d, "embeddings"),
          "vec_id", "embedding", m, dim,
          initPred = annSeedPred, rounds = rounds)
        (cb.collect(), cb.schema)
      })
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Same memo for the BPE gates: q_text_bpe's result IS the trained
    * merge table and q_text_bpe_encode retrains it only to collect
    * the 6-row driver artifact — identical corpus, identical rounds.
    * One training run serves both (the merge table is rounds-sized).
    */
  private val bpeCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int),
    (Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)]()
  private def sharedBpeMerges(s: SparkSession, d: String,
                              rounds: Int): DataFrame = {
    val (rows, schema) = bpeCache.computeIfAbsent((d, rounds), _ => {
      val m = graft.operators.BpeTrain.train(
        Tables.table(s, d, "documents").select(col("text")),
        "text", rounds)
      (m.collect(), m.schema)
    })
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** And for the LM gates: four gates (q_text_perplexity, _interp,
    * _tri, and q_corpus_dsir's raw side) train the identical bigram
    * count table + V scalar over the SAME held-in hash slice. The
    * table is bigram-vocabulary-bounded (~1k rows at sf0.1) — one
    * training scan serves all four, bit-exact.
    */
  private val lmCache = new java.util.concurrent.ConcurrentHashMap[
    String,
    (Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType, Long)]()
  private def sharedHeldinBigramLm(s: SparkSession,
                                   d: String): (DataFrame, Long) = {
    val (rows, schema, v) = lmCache.computeIfAbsent(d, _ => {
      val heldin = Tables.table(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .filter(Corpus.hashBucket(col("doc_id"), "lm", 5) =!= 0)
      val bg = graft.operators.LangModel.trainBigramLm(heldin, "text")
      (bg.collect(), bg.schema,
        graft.operators.LangModel.vocabSize(heldin, "text"))
    })
    (s.createDataFrame(java.util.Arrays.asList(rows: _*), schema), v)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.4 G5–G7 warehouse analytics ----
    "q_pricing_summary" -> ((s, d) => Analytics.pricingSummary(s, d)),
    "q_top_orders"      -> ((s, d) => Analytics.topOrders(s, d)),
    "q_region_volume"   -> ((s, d) => Analytics.regionVolume(s, d)),
    "q_revenue_change"  -> ((s, d) => Analytics.revenueChange(s, d)),
    "q_order_count_dist" -> ((s, d) => Analytics.orderCountDistribution(s, d)),
    // ---- §2.4 G10 bucketed range join ----
    "q_range_join" -> ((s, d) => Analytics.demandWindow(s, d)),
    // ---- §2.4 G11 top-N per group ----
    "q_top_per_group" -> ((s, d) =>
      Analytics.topNPerGroup(
        Tables.table(s, d, "orders")
          .select("o_orderkey", "o_orderpriority", "o_totalprice"),
        Seq("o_orderpriority"),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 3)),
    // ---- §2.4 G12 month-over-month deltas ----
    "q_monthly_delta" -> ((s, d) => Analytics.monthlyRevenueDelta(s, d)),
    // ---- §2.4 G13 conditional-aggregation join report ----
    "q_priority_lines" -> ((s, d) => Analytics.priorityLineReport(s, d)),
    // ---- §2.4 G14b hierarchical rollup report ----
    "q_rollup" -> ((s, d) => Analytics.revenueRollup(s, d)),
    // ---- §2.6 G14c full cube with grouping_id ----
    "q_cube" -> ((s, d) => Analytics.revenueCube(s, d)),
    "q_grouping_sets" -> ((s, d) => Analytics.revenueGroupingSets(s, d)),
    // ---- §2.12 X3 bloom-pruned join ----
    "q_bloom_join" -> ((s, d) => Analytics.bloomPriorityRevenue(s, d)),
    // ---- §2.12 X2 salted replicated join ----
    // the salt is internal plumbing: the (key, salt) join against the
    // salt-replicated right side must produce EXACTLY the plain join,
    // which is what the oracle checks. saltOn varies within a key
    // (l_orderkey), so a hot part's rows spread over the buckets.
    "q_salted_join" -> ((s, d) => {
      val li = Tables.table(s, d, "lineitem")
        .select(col("l_partkey"), col("l_orderkey"), col("l_quantity"))
      val part = Tables.table(s, d, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      Skew.saltedJoin(li, part, "l_partkey", col("l_orderkey"), 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_quantity").cast("decimal(12,2)")), 2)
            .cast("double").as("sum_qty"))
    }),
    // ---- §2.12 X2b hot-key-only salted join ----
    // same report as q_salted_join (and the same plain-join oracle):
    // the hot/cold split + per-hot-key salting is internal plumbing.
    // threshold 40 makes the split REAL at sf0.01 — high-frequency
    // parts go through the salted branch, the rest through the plain
    // cold join.
    "q_salted_join_hot" -> ((s, d) => {
      val li = Tables.table(s, d, "lineitem")
        .select(col("l_partkey"), col("l_orderkey"), col("l_quantity"))
      val part = Tables.table(s, d, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      Skew.saltedJoinHotKeys(li, part, "l_partkey", col("l_orderkey"),
          saltBuckets = 8, hotThreshold = 40L)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_quantity").cast("decimal(12,2)")), 2)
            .cast("double").as("sum_qty"))
    }),
    // ---- §2.4 G14 SCD Type-2 dimension versioning ----
    // each user's purchase stream becomes versioned rows: a purchase's
    // value is "current" until the user's next purchase
    "q_scd2" -> ((s, d) => {
      val ev = Tables.table(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      StarSchema.scd2(ev, "user_id", "ts", col("event_id"),
          Seq("event_id", "value"))
        .select(col("user_id"), col("event_id"), col("value"),
          // second-trunc for DISPLAY only (the window ordered on full
          // µs); nullable timestamp goes out as a string (pandas
          // NaT-vs-ns pitfall), the non-null one stays a timestamp
          date_trunc("second", col("effective_from")).as("effective_from"),
          date_trunc("second", col("effective_to")).cast("string")
            .as("effective_to"),
          col("is_current").cast("int").cast("bigint").as("is_current"))
    }),
    // ---- §2.1 S12 CDC snapshot diff ----
    // cumulative order-quantity snapshots at two ship-date cutoffs:
    // orders first shipped in H2 are `added`, orders shipped in both
    // halves are `changed`
    "q_snapshot_diff" -> ((s, d) => {
      val li = Tables.table(s, d, "lineitem")
      def snap(cut: String) = li
        .filter(col("l_shipdate") <= lit(cut).cast("timestamp"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("qty"))
      Incremental.snapshotDiff(snap("1995-06-30"), snap("1995-12-31"),
          Seq("l_orderkey"))
        .filter(col("change") =!= "unchanged")
        .select(col("l_orderkey"),
          col("before.qty").cast("double").as("qty_before"),
          col("after.qty").cast("double").as("qty_after"),
          col("change"))
    }),
    // ---- §2.5 E9 cohort retention ----
    "q_retention" -> ((s, d) => Analytics.retentionCohorts(s, d)),
    // ---- §2.2 C8 pivot reshape ----
    "q_pivot" -> ((s, d) => Analytics.ordersPivot(s, d)),
    // ---- §2.2 C9 unpivot (melt) ----
    "q_unpivot" -> ((s, d) => Analytics.ordersUnpivot(s, d)),
    // ---- §2.5 E8 rolling window ----
    "q_rolling_value" -> ((s, d) => Analytics.rollingDailyValue(s, d)),
    // ---- §2.11 K7 curriculum buckets ----
    "q_corpus_curriculum" -> ((s, d) =>
      Corpus.curriculumBuckets(
        graft.functions.TextFunctions.qualityReport(
          Tables.table(s, d, "documents"), "doc_id", "text")
          .select("doc_id", "quality_score"),
        "doc_id", "quality_score", 10)),
    // ---- §2.2 C1–C6 silver cleaning ----
    "q_clean_nulls" -> ((s, d) =>
      Cleaning.removeNullRows(Tables.table(s, d, "customer"))),
    "q_clean_trim" -> ((s, d) =>
      Cleaning.trimStrings(Tables.table(s, d, "documents"))),
    "q_dedup_exact_rows" -> ((s, d) =>
      Cleaning.dedupExact(Tables.table(s, d, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity"))),
    "q_clean_columns" -> ((s, d) =>
      Cleaning.normalizeColumnNames(
        Cleaning.dropColumns(Tables.table(s, d, "part"), Seq("p_size")),
        Map("p_name" -> "part_name"))),
    // ---- §2.2 C11 declarative expectations over orders: a mixed
    // rule list (clean keys, duplicate customers, ~40%-violating
    // range and set rules) so both pass and fail paths carry real
    // counts ----
    "q_clean_validate" -> ((s, d) =>
      Cleaning.validateExpectations(Tables.table(s, d, "orders"), Seq(
        Cleaning.ExpectNotNull("o_custkey"),
        Cleaning.ExpectUnique("o_orderkey"),
        Cleaning.ExpectUnique("o_custkey"),
        Cleaning.ExpectRange("o_totalprice", 1000.0, 300000.0),
        Cleaning.ExpectInSet("o_orderstatus", Seq("O", "F", "P")),
        Cleaning.ExpectInSet("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM")),
        Cleaning.ExpectMatches("o_orderpriority", "^[0-9]-[A-Z ]+$")))),
    // ---- §2.2 C10 quantile clipping (winsorize) ----
    // deterministic null injection into BOTH the group and the value
    // column (TPC-H columns are non-null, which would leave the
    // operator's null contract — null values stay null, null-group
    // rows are kept and clipped against their own bounds — mirrored
    // in the oracle but never exercised)
    "q_clean_winsorize" -> ((s, d) =>
      Cleaning.winsorize(Tables.table(s, d, "orders")
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 89 =!= 0, col("o_orderpriority"))
              .as("o_orderpriority"),
            when(col("o_orderkey") % 97 =!= 0, col("o_totalprice"))
              .as("o_totalprice")),
        "o_orderpriority", "o_totalprice")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice_clipped"))),
    "q_multiformat_date" -> ((s, d) => {
      // Bronze dates arrive in three formats (reference:
      // bronze_to_silver.py:47); synthesize the mess, then parse it back.
      val ord = Tables.table(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("dt"))
      val messy = ord.select(
        col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, date_format(col("dt"), "yyyy-MM-dd"))
          .when(col("o_orderkey") % 3 === 1, date_format(col("dt"), "dd/MM/yyyy"))
          .otherwise(date_format(col("dt"), "MM-dd-yyyy")).as("raw"))
      messy.select(col("o_orderkey"),
        Cleaning.parseDateMulti(col("raw")).cast("string").as("parsed_date"))
    }),
    "q_silver_pipeline" -> ((s, d) =>
      Cleaning.silverPipeline(Tables.table(s, d, "documents"), Stamp)
        .withColumn("_processing_date", col("_processing_date").cast("string"))),
    // ---- §2.3 P1–P4 profiling ----
    "q_profile"       -> ((s, d) => Profiling.profile(Tables.table(s, d, "orders"))),
    // ---- §2.3 P1b distinct-values sample (reference data_profiling.py:8) ----
    "q_profile_values" -> ((s, d) =>
      Profiling.valueSample(Tables.table(s, d, "orders"), 10)),
    "q_unique_counts" -> ((s, d) => Profiling.uniqueCounts(Tables.table(s, d, "customer"))),
    // ---- §2.3 P11 key-skew profile over the events join keys (the
    // diagnostic that triggers the §2.12 salting remedies) ----
    "q_profile_skew" -> ((s, d) =>
      Profiling.keySkewProfile(Tables.table(s, d, "events"),
        Seq("user_id", "event_type"))),
    // ---- §2.3 P10 pairwise correlation from exact sufficient stats ----
    // one combinable aggregation; the oracle recomputes the decimal
    // sums and derives the identical IEEE pearson_r. The decimal sums
    // hash as strings: their unscaled values exceed 2^53, so a double
    // column could not round-trip them exactly
    "q_profile_corr" -> ((s, d) => {
      val r = Profiling.correlationReport(Tables.table(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
      r.select(Seq(col("col_x"), col("col_y"), col("n_pairs")) ++
        Seq("sum_x", "sum_y", "sum_xx", "sum_yy", "sum_xy")
          .map(c => col(c).cast("string").as(c)) :+ col("pearson_r"): _*)
    }),
    // (on orders the audit legitimately fires: a customer maps to many
    // orders — demonstrating violation *detection*, reference
    // bronze_to_silver.py:127)
    "q_consistency"   -> ((s, d) =>
      Profiling.consistency(Tables.table(s, d, "orders"),
        "o_custkey", "o_orderkey")),
    "q_completeness"  -> ((s, d) => Profiling.completeness(Tables.table(s, d, "events"))),
    "q_histogram"     -> ((s, d) =>
      Profiling.histogram(Tables.table(s, d, "orders"), "o_totalprice", 10000.0)),
    "q_quantiles"     -> ((s, d) =>
      Profiling.quantiles(Tables.table(s, d, "orders"),
        "o_orderpriority", "o_totalprice")),
    // ---- §2.4 G1–G4 star schema ----
    "q_dim_date"     -> ((s, d) => StarSchema.dimDate(s, d)
      .withColumn("data", col("data").cast("string"))),
    "q_dim_part"     -> ((s, d) => StarSchema.dimPart(s, d)),
    "q_dim_customer" -> ((s, d) => StarSchema.dimCustomer(s, d)),
    "q_fact_sales"   -> ((s, d) => StarSchema.factSales(s, d, Stamp)
      .withColumn("_modeling_date", col("_modeling_date").cast("string"))),
    // ---- §2.1 S6–S7 incremental reads ----
    // (ts emitted second-truncated: the source parquet carries
    // nanosecond timestamps, which Spark reads at microsecond
    // precision — sub-second output would be engine-dependent.)
    "q_latest_partition" -> ((s, d) =>
      Incremental.latestPartition(
        Tables.table(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("props"),
            date_trunc("second", col("ts")).as("ts_sec"),
            col("ts").cast("date").cast("string").as("event_date")),
        col("event_date"))),
    "q_asof_partition" -> ((s, d) =>
      Incremental.asOfPartition(
        Tables.table(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("props"),
            date_trunc("second", col("ts")).as("ts_sec"),
            col("ts").cast("date").cast("string").as("event_date")),
        col("event_date"), lit("2024-01-15"))),
    // ---- §2.1 S8 latest record per key (append-only resolution) ----
    "q_latest_by_key" -> ((s, d) =>
      Incremental.latestByKey(Tables.table(s, d, "orders"),
        Seq("o_custkey"), col("o_orderdate"), col("o_orderkey"))),
    // ---- §2.5 E1–E2 events ----
    "q_events_window"   -> ((s, d) => Events.hourlyRollup(s, d)),
    // ---- §2.5 E3/E4 streaming pipelines, driver-gated ----
    // the REAL Structured Streaming pipelines run to completion
    // (AvailableNow) against staged copies of the events table; the
    // DuckDB oracle checks the streamed results themselves, not batch
    // stand-ins. (Bench skips q_stream_* keys: stream startup latency,
    // not operator throughput.)
    "q_stream_rollup" -> ((s, d) =>
      runStreamGate(s, d, copies = 1, "complete",
        graft.streaming.EventStream.windowedRollup(_))
        .select(col("window_start"), col("event_type"),
          col("n_events"), col("sum_value"))),
    // events staged TWICE (the duplicate-delivery case); the streamed
    // dedup output must be exactly the original set
    "q_stream_dedup" -> ((s, d) =>
      runStreamGate(s, d, copies = 2, "append",
        graft.streaming.EventStream.dedupStream(_))
        .select(col("event_id"), col("user_id"),
          col("ts"), col("event_type"), col("value"))),
    "q_events_sessions" -> ((s, d) => Events.sessionize(s, d)),
    // built-in session_window twin; >=-boundary semantics mirrored in
    // the oracle's break condition, session_end = last ts + gap
    "q_events_sessions_native" -> ((s, d) => Events.sessionizeNative(s, d)),
    // ---- §2.5 E10 stream-static dimension enrichment, driver-gated ----
    // the dimension is restricted to custkey < 100 so the LEFT-join
    // pass-through semantics are exercised: users 100+ stream through
    // with a null segment instead of being dropped
    "q_stream_enrich" -> ((s, d) => {
      val dim = Tables.table(s, d, "customer")
        .filter(col("c_custkey") < 100)
        .select(col("c_custkey"), col("c_mktsegment"))
      runStreamGate(s, d, copies = 1, "append",
        ev => graft.streaming.EventStream
          .enrichStream(ev, dim, "user_id", "c_custkey")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("event_type"), col("value"), col("c_mktsegment")))
    }),
    // ---- §2.5 E12 stream-stream interval join, driver-gated ----
    // views matched to same-user purchases within 2 hours, BOTH sides
    // streaming (split from one source stream); append-mode inner
    // matches emit eagerly, so the streamed set equals the batch
    // interval join the oracle computes
    "q_stream_join" -> ((s, d) =>
      runStreamGate(s, d, copies = 1, "append", ev =>
        graft.streaming.EventStream.intervalJoinStream(
          ev.filter(col("event_type") === "view")
            .select(col("user_id"), col("event_id").as("view_id"),
              col("ts").as("view_ts")),
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("event_id").as("purchase_id"),
              col("ts").as("purchase_ts")),
          "user_id", "view_ts", "purchase_ts")
          .select(col("user_id"), col("view_id"), col("purchase_id"),
            col("view_ts"), col("purchase_ts")))),
    // ---- §2.5 E11 idempotent micro-batch sink, driver-gated ----
    // outcome contract: run the foreachBatch dynamic-overwrite sink,
    // then REPLAY the identical stream into the same directory (the
    // at-least-once redelivery case — a fresh query restarts batch ids
    // at 0, so the replay rewrites exactly the same (date, batch)
    // partitions); the read-back must equal the source set exactly
    // once. A plain append sink would double every row here.
    "q_stream_sink" -> ((s, d) => {
      Checkpoints.tempDir("graft-sink-stage") { stage =>
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$d/events.parquet"),
          java.nio.file.Paths.get(stage, "events.parquet"))
        Checkpoints.tempDir("graft-sink-out") { out =>
          graft.streaming.EventStream.idempotentDailySink(
            graft.streaming.EventStream.readEvents(s, stage), out)
          // replay: same data, fresh query, same output dir
          graft.streaming.EventStream.idempotentDailySink(
            graft.streaming.EventStream.readEvents(s, stage), out)
          Checkpoints.truncate(s.read.parquet(out)
            .select(col("event_id"), col("user_id"), col("ts"),
              col("event_type"), col("value")))
        }
      }
    }),
    // ---- §2.5 E6 custom-state streaming sessionization, driver-gated ----
    // the flatMapGroupsWithState pipeline run to completion. Emission
    // semantics are deterministic for a finite AvailableNow run (one
    // staged file = one data micro-batch + the closing no-data batch):
    // a session closed by a successor event always emits; a user's
    // LAST session emits iff its event-time timeout fired, i.e.
    // floor(last_event_µs/1000) + gap_ms < final watermark
    // (= floor(max_ts_µs/1000) − 3600000). The oracle mirrors exactly
    // that rule over the batch session definition.
    "q_stream_sessions" -> ((s, d) =>
      runStreamGate(s, d, copies = 1, "append",
        df => graft.streaming.EventStream.sessionizeStream(df).toDF())
        .select(col("user_id"), col("session_start"),
          col("session_end"), col("n_events"))),
    "q_events_funnel"   -> ((s, d) => Events.funnel(s, d)),
    // ---- §2.5 E7 as-of join ----
    // every event tagged with the user's latest purchase at-or-before
    // its timestamp
    "q_events_asof" -> ((s, d) => {
      val ev = Tables.table(s, d, "events")
      val left = ev.select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          date_trunc("second", col("ts")).as("pts"))
      // nullable timestamp goes out as a string: the pandas comparator
      // breaks on ns-vs-µs datetime columns once NaT values appear
      Events.asofJoin(left, right, "user_id", "ts", "event_id", Seq("pts"))
        .select(col("event_id"), col("user_id"),
          date_trunc("second", col("ts")).as("ts_sec"),
          col("asof_pts").cast("string").as("last_purchase_ts"))
    }),
    // ---- §2.8 T1–T4 text analysis ----
    "q_text_tokens" -> ((s, d) => {
      val doc = Tables.table(s, d, "documents")
      doc.select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("bigint")
          .as("n_ws_tokens"),
        graft.functions.TextFunctions.bpeTokenCount(col("text")).cast("bigint")
          .as("n_bpe_tokens"))
    }),
    "q_text_langid" -> ((s, d) =>
      Tables.table(s, d, "documents").select(col("doc_id"),
        col("lang").as("lang_label"),
        graft.functions.TextFunctions.langId(col("text")).as("lang_pred"))),
    "q_text_vocab" -> ((s, d) =>
      graft.functions.TextFunctions.vocabulary(
        Tables.table(s, d, "documents"), "doc_id", "text", 100)),
    // ---- §2.8 T15 chi-square token↔label association (feature
    // selection for the T12 classifier; label = English doc; k = 20
    // so the cut BINDS — the corpus vocabulary holds ~31 qualifying
    // tokens at every gate scale) ----
    "q_text_chi2" -> ((s, d) =>
      graft.functions.TextFunctions.chiSquareTerms(
        Tables.table(s, d, "documents"), "doc_id", "text",
        col("lang") === "en", topK = 20)),
    "q_text_quality" -> ((s, d) =>
      graft.functions.TextFunctions.qualityReport(
        Tables.table(s, d, "documents"), "doc_id", "text")),
    "q_text_redact" -> ((s, d) =>
      Tables.table(s, d, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.redactPII(col("text")).as("clean_text"))),
    // portable variant so the gate is a hash compare, not rows-only;
    // the native MinRollingHash form (Dedup.fingerprintGroups) is the
    // production path, spec-verified in ExtensionsSpec,
    // PipelineOperatorsSpec and PropertySpec
    "q_text_fingerprint" -> ((s, d) =>
      Dedup.fingerprintGroupsPortable(Tables.table(s, d, "documents"),
        "doc_id", "text")),
    // ---- §2.8 T16 cross-document n-gram novelty (the inter-doc
    // complement of T7; shingle-less docs report NULL novelty) ----
    "q_text_novelty" -> ((s, d) =>
      Dedup.noveltyReport(Tables.table(s, d, "documents"),
        "doc_id", "text")),
    // ---- §2.6 D1–D5 dedup ----
    "q_dedup_exact_text" -> ((s, d) =>
      Dedup.exactTextDedup(Tables.table(s, d, "documents"),
        "doc_id", "text")),
    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minhashDedup(Tables.table(s, d, "documents"),
        "doc_id", "text")),
    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simhash(Tables.table(s, d, "documents"),
        "doc_id", "text")),
    "q_dedup_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(Tables.table(s, d, "documents"),
        "doc_id", "text")),
    // df cap 1000: a no-op on the test corpora (max df 25 at sf0.1)
    // but the bound that keeps the inverted-index join finite at scale;
    // mirrored in the oracle's QUALIFY
    "q_dedup_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.table(s, d, "documents"),
        "doc_id", "text", maxDocFreq = 1000)),
    // ---- §2.6 D13 shingle containment (asymmetric near-dup: the
    // quote/excerpt detector; df-capped at 20 — the boilerplate
    // guard bounding the inverted-index join) ----
    "q_dedup_containment" -> ((s, d) =>
      Dedup.containmentPairs(Tables.table(s, d, "documents"),
        "doc_id", "text", maxDocFreq = 20)),
    // ---- §2.6 D12 duplicated-window (exact-substring) detection ----
    // 16-token windows, stride 1: the per-document duplicated-window
    // report and the merged cut-list spans; the oracle recomputes the
    // whole window table (tokens, start grid, sha256 of every slice),
    // the corpus-wide duplicate marking, and the island merge
    "q_dedup_windows" -> ((s, d) =>
      Dedup.duplicateWindowReport(
        Tables.table(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", w = 16)),
    "q_dedup_spans" -> ((s, d) =>
      Dedup.duplicateSpans(
        Tables.table(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", w = 16)),
    // ---- §2.11 D12+T10 composed retrieval-prep pipeline ----
    // substring-trim → quality re-score on the TRIMMED text → chunk
    // survivors; the oracle recomputes the whole chain in one
    // statement (window table, cut, quality blend, token floor,
    // chunk grid + slices)
    "q_corpus_retrieval" -> ((s, d) =>
      Corpus.retrievalPrep(
        Tables.table(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text")),
    // the cut applied: duplicated spans trimmed out of every document
    "q_dedup_trim" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
        .select(col("doc_id"), col("text"))
      Dedup.trimSpans(docs, "doc_id", "text",
        Dedup.duplicateSpans(docs, "doc_id", "text", w = 16))
    }),
    // ---- §2.6 D7 near-dup group resolution ----
    "q_dedup_groups" -> ((s, d) => {
      val doc = Tables.table(s, d, "documents")
      val pairs = Dedup.minhashDedup(doc, "doc_id", "text")
        .select(col("id_a"), col("id_b"))
      Dedup.resolveGroups(doc.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("group_id"))
    }),
    // ---- §2.11 K1–K4 corpus management ----
    "q_corpus_sample" -> ((s, d) =>
      Corpus.sampleByHash(
        Tables.table(s, d, "documents").select("doc_id", "lang", "n_chars"),
        "doc_id", 1, 10, "s1")),
    // ---- §2.11 K8 weighted (importance) sampling ----
    // keep rate proportional to quality: a score-s doc survives with
    // probability floor(20s)/20 — deterministic in (doc_id, salt)
    "q_corpus_weighted" -> ((s, d) => {
      val q = graft.functions.TextFunctions.qualityReport(
        Tables.table(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
      Corpus.sampleWeighted(q, "doc_id", "w1",
        floor(col("quality_score") * 20).cast("bigint"), 20)
    }),
    "q_corpus_split" -> ((s, d) =>
      Corpus.splitByHash(Tables.table(s, d, "documents").select("doc_id"),
        "doc_id", "sp", Seq(("train", 8), ("val", 1), ("test", 1)))),
    // ---- §2.11 K2b decontaminated split (K2 ∘ D9) ----
    // benchmark rows excluded, lexically-contaminated docs dropped
    // BEFORE the hash split; the oracle recomputes the shingle
    // contamination join and the split cases in one statement
    "q_corpus_decontam_split" -> ((s, d) =>
      Corpus.decontaminatedSplit(Tables.table(s, d, "documents"),
        "doc_id", "text",
        Corpus.hashBucket(col("doc_id"), "bench", 20) === 0,
        "sp", Seq(("train", 8), ("val", 1), ("test", 1)))),
    "q_corpus_cap" -> ((s, d) =>
      Corpus.capPerGroup(
        Tables.table(s, d, "documents").select("doc_id", "lang"),
        Seq("lang"), Seq("doc_id"), 50)),
    "q_corpus_filter" -> ((s, d) =>
      Corpus.trainingFilter(Tables.table(s, d, "documents"),
        "doc_id", "text", 0.45, 10, 100000)),
    // ---- §2.10 K12 token-budget-constrained selection: top-quality
    // docs until the 15k-token budget is spent (cuts mid-corpus at
    // BOTH gate scales: ~15k of 27k sf0.01 / of 271k sf0.1 tokens) ----
    "q_corpus_budget" -> ((s, d) =>
      Corpus.budgetSelect(
        Tables.table(s, d, "documents").select(col("doc_id"),
          graft.functions.TextFunctions.qualityScore(col("text"))
            .as("quality_score"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("bigint").as("n_tokens")),
        "doc_id", "quality_score", "n_tokens", 15000L)),
    // mixture recipe: keep all en, half de/fr, 30% es, drop zh
    "q_corpus_mixture" -> ((s, d) =>
      Corpus.mixtureSample(
        Tables.table(s, d, "documents").select("doc_id", "lang"),
        "doc_id", "lang", "mix", 10,
        Map("en" -> 10, "de" -> 5, "fr" -> 5, "es" -> 3))),
    // temperature mixture: rates DERIVED from the observed language
    // distribution at α=0.5 (sqrt is IEEE-exact cross-engine; see
    // Corpus.temperatureRates)
    "q_corpus_temperature" -> ((s, d) =>
      Corpus.temperatureMixture(
        Tables.table(s, d, "documents").select("doc_id", "lang"),
        "doc_id", "lang", "temp", 1000, alpha = 0.5)),
    // packing: per-shard contiguous fill of 4000-char bins (n_chars
    // stands in for the token count; same shape either way)
    "q_corpus_pack" -> ((s, d) =>
      Corpus.packGreedy(
        Tables.table(s, d, "documents").select("doc_id", "n_chars")
          .withColumn("shard",
            Corpus.hashBucket(col("doc_id"), "shard", 8)),
        "doc_id", "n_chars", "shard", Seq("doc_id"), 4000)),
    // packed bins → one training row each, docs joined in id order
    "q_corpus_pack_text" -> ((s, d) => {
      val doc = Tables.table(s, d, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"))
        .withColumn("shard", Corpus.hashBucket(col("doc_id"), "shard", 8))
      val bins = Corpus.packGreedy(doc, "doc_id", "n_chars", "shard",
        Seq("doc_id"), 4000)
      Corpus.materializePacked(
        doc.join(bins.drop("shard"), Seq("doc_id")),
        "doc_id", "text", "shard", "bin_id")
    }),
    // ---- §2.11 K6c budget-exact packing with document splitting ----
    // every bin carries EXACTLY 2000 BPE-ish tokens (per-shard tail
    // bins excepted); boundary documents split across bins with
    // token-offset slices. The oracle recomputes tokenization, the
    // cumulative spans, the per-bin piece ranges, the list slices and
    // the doc-ordered join — so a one-token boundary error anywhere
    // breaks the hash
    "q_corpus_pack_exact" -> ((s, d) =>
      Corpus.packTokenStream(
        Tables.table(s, d, "documents").select(col("doc_id"), col("text"))
          .withColumn("shard",
            Corpus.hashBucket(col("doc_id"), "shard", 4)),
        "doc_id", "text", "shard", budget = 2000)),
    // reproducible epoch permutation: per-shard rank over the epoch-
    // salted hash
    "q_corpus_shuffle" -> ((s, d) =>
      Corpus.epochOrder(
        Tables.table(s, d, "documents").select(col("doc_id"))
          .withColumn("shard",
            Corpus.hashBucket(col("doc_id"), "shard", 8)),
        "doc_id", "shard", epoch = 1)),
    // ---- §2.8 T6 text normalization ----
    "q_text_normalize" -> ((s, d) =>
      Tables.table(s, d, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.normalizeText(col("text"))
          .as("norm_text"))),
    // ---- §2.8 T6b markup/boilerplate stripping ----
    // every row gets synthetic markup wrapped around its text so the
    // tag/url/entity patterns — including decimal and hex numeric
    // character references — are exercised on the whole table, then
    // stripped — the gate checks the strip recovers clean text
    "q_text_strip" -> ((s, d) =>
      Tables.table(s, d, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.stripMarkup(
          concat(lit("<div class=\"doc\"><p>"), col("text"),
            lit("</p></div> source: https://example.com/doc?id="),
            col("doc_id"), lit(" &amp; more&nbsp;it&#39;s &#x2019;quoted&#x2019;")))
          .as("clean_text"))),
    // ---- §2.8 T7 repetition signals ----
    "q_text_repetition" -> ((s, d) =>
      graft.functions.TextFunctions.repetitionReport(
        Tables.table(s, d, "documents"), "doc_id", "text")),
    // ---- §2.8 T8 token-budget truncation ----
    "q_text_truncate" -> ((s, d) =>
      Tables.table(s, d, "documents").select(col("doc_id"),
        graft.functions.TextFunctions.truncateTokens(col("text"), 50)
          .as("trunc_text"))),
    // ---- §2.8 T13 BM25 lexical retrieval ----
    // top-20 documents for a fixed query; the oracle recomputes
    // postings, df, idf, length normalization, the decimal per-term
    // sum and the rounded-score ranking
    "q_text_bm25" -> ((s, d) =>
      graft.operators.Bm25.bm25TopK(
        Tables.table(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", "fast vector hash join", k = 20)),
    // ---- §2.8 T13c persisted BM25 postings index (serve shape) ----
    // the PRODUCTION form of q_text_bm25: the inverted index is
    // WRITTEN once (postings partitioned by term-hash prefix inside
    // atomic batch dirs, corpus scalars + committed-batch list pinned
    // in _meta) and the query probes only its own terms' partition
    // directories — the corpus is never re-tokenized. The bootstrap
    // lands an 80% slice and the remaining 20% arrives through the
    // APPEND path (atomic batch + meta swap), so the gate covers
    // incremental lexical ingest; postings/N/Σlen are additive, so
    // the result — and the oracle — are the one-shot full-corpus
    // BM25, bit for bit.
    "q_text_bm25_indexed" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val isNew = Corpus.hashBucket(col("doc_id"), "binc", 5) === 0
      Checkpoints.tempDir("graft-bm25-index") { dir =>
        graft.operators.Bm25.writeBm25Index(docs.filter(!isNew),
          "doc_id", "text", dir)
        graft.operators.Bm25.appendBm25Index(docs.filter(isNew),
          "text", dir)
        // maintenance runs INSIDE the gated path: the compacted index
        // must serve the identical ranking (merged postings, same
        // scalars), so the oracle pins compaction correctness too
        graft.operators.Bm25.compactBm25Index(s, dir)
        Checkpoints.truncate(graft.operators.Bm25.bm25TopKIndexed(s, dir,
          "fast vector hash join", k = 20))
      }
    }),
    // ---- §2.8 T13b reciprocal-rank fusion (hybrid retrieval) ----
    // BM25 relevance fused with a document-quality prior ranking;
    // the oracle recomputes both rankings and the fusion
    "q_text_rrf" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val lexical = graft.operators.Bm25.bm25TopK(docs, "doc_id", "text",
        "fast vector hash join", k = 100)
      val prior = graft.operators.Bm25.rankBy(
        graft.functions.TextFunctions.qualityReport(docs, "doc_id", "text")
          .select(col("doc_id"), col("quality_score")),
        "doc_id", "quality_score", k = 100)
      graft.operators.Bm25.rrfFuse(Seq(lexical, prior), "doc_id", k = 20)
    }),
    // ---- §2.8 T13d hybrid retrieval: dense ANN ⊕ sparse BM25 ----
    // the composition the whole T13/T13b + A-family exists for:
    // lexical BM25 top-100 fused with an IVF ANN top-100 (query =
    // embedding 0, the corpus's vec_id↔doc_id id bridge made explicit
    // by the join) through reciprocal-rank fusion; the oracle
    // recomputes BOTH rankings and the fusion
    "q_text_hybrid" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val lexical = graft.operators.Bm25.bm25TopK(docs, "doc_id", "text",
        "fast vector hash join", k = 100)
      val dense = Similarity.ivfTopK(Tables.table(s, d, "embeddings"),
        "vec_id", "embedding", queryPred = col("vec_id") === 0,
        centroidPred = col("vec_id") % 37 === 1, k = 100, nprobe = 2)
      // embeddings↔documents id bridge: vec_id indexes the same
      // corpus as doc_id; the join keeps only candidates that exist
      // as documents (and is where a real vec_id→doc_id mapping
      // table would slot in)
      val bridged = dense.join(docs.select(col("doc_id")),
          dense("cand_id") === col("doc_id"))
        .select(col("doc_id"), col("rank"))
      graft.operators.Bm25.rrfFuse(Seq(lexical, bridged), "doc_id",
        k = 20)
    }),
    // ---- §2.8 T14 LM-perplexity quality filter ----
    // the CCNet-style trained quality gate: a bigram LM with add-0.5
    // smoothing trained on the 80% held-in hash slice, every document
    // scored by mean per-bigram negative log-likelihood, keep flag at
    // nll <= 3.39 (the corpus median — a real split); the oracle recomputes counts, V, every smoothed
    // probability, the 9-dp rounded log stream, and the 6-dp mean
    "q_text_perplexity" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val (bg0, v) = sharedHeldinBigramLm(s, d)
      Checkpoints.cached(bg0) { bg =>
        Checkpoints.truncate(graft.operators.LangModel
          .perplexityReport(docs, "doc_id", "text", bg, v)
          .withColumn("keep", col("nll") <= 3.39))
      }
    }),
    // ---- §2.8 T14c interpolated (Jelinek–Mercer) perplexity ----
    // the same trained bigram counts served through λ·P_bigram +
    // (1−λ)·P_unigram smoothing (λ = 0.8) — the standard fix for
    // add-α's over-penalty of unseen bigrams ending in common words;
    // the oracle recomputes the right-context sums, the total-bigram
    // scalar, and every interpolated probability
    "q_text_perplexity_interp" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val (bg0, v) = sharedHeldinBigramLm(s, d)
      Checkpoints.cached(bg0) { bg =>
        Checkpoints.truncate(graft.operators.LangModel
          .perplexityReport(docs, "doc_id", "text", bg, v,
            lambda = 0.8)
          .withColumn("keep", col("nll") <= 3.387))
      }
    }),
    // ---- §2.8 T14d backoff trigram perplexity ----
    // the T14c discipline one order up: λ₃P₃ + λ₂P₂ + λ₁P₁ with
    // (0.5, 0.3, 0.2), the first scored position absorbing λ₃ into
    // the bigram term; the oracle unrolls the full trajectory —
    // trigram counts, context sums, both bigram-derived orders, the
    // 9-dp log stream, and the 6-dp mean
    "q_text_perplexity_tri" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val heldin = docs.filter(
        Corpus.hashBucket(col("doc_id"), "lm", 5) =!= 0)
      val (bg0, v) = sharedHeldinBigramLm(s, d)
      Checkpoints.cached(bg0) { bg =>
        Checkpoints.cached(graft.operators.LangModel
          .trainTrigramLm(heldin, "text")) { tri =>
          Checkpoints.truncate(graft.operators.LangModel
            .perplexityReportTri(docs, "doc_id", "text", tri, bg, v,
              alpha = 0.5, lambda3 = 0.5, lambda2 = 0.3, lambda1 = 0.2)
            .withColumn("keep", col("nll") <= 3.35))
        }
      }
    }),
    // ---- §2.11 T14b DSIR importance selection ----
    // two LMs — target = held-in English slice, raw = whole held-in
    // slice — score every document; the per-token log importance
    // ratio nll_raw − nll_target tilts selection toward the target
    // domain (Xie et al. 2023 restated on the gated bigram LM); keep
    // at ratio >= 0 (target-likelier than raw). The oracle recomputes
    // BOTH LM trajectories and the joined ratio per document.
    "q_corpus_dsir" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val heldin = docs.filter(
        Corpus.hashBucket(col("doc_id"), "lm", 5) =!= 0)
      val target = heldin.filter(col("lang") === "en")
      Checkpoints.cached(graft.operators.LangModel
        .trainBigramLm(target, "text")) { tBg =>
        val (rBg0, rV) = sharedHeldinBigramLm(s, d)
        Checkpoints.cached(rBg0) { rBg =>
          val tV = graft.operators.LangModel.vocabSize(target, "text")
          Checkpoints.truncate(graft.operators.LangModel.importanceReport(
              docs.select(col("doc_id"), col("text")), "doc_id", "text",
              tBg, tV, rBg, rV)
            .withColumn("keep", col("log_ratio") >= 0.0))
        }
      }
    }),
    // ---- §2.8 T12 logistic-regression classifier training ----
    // four GD rounds learning lang=='en' from the quality-report
    // features; the oracle unrolls every iteration (sigmoid, rounded
    // decimal gradient sums, 9-dp weight updates) and must land on
    // the identical weight trajectory
    "q_text_classifier" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      graft.operators.Classifier.trainLogistic(docs,
        (col("lang") === "en").cast("int"),
        graft.operators.Classifier.qualityFeatures(col("text")))
    }),
    // ---- §2.8 T11 BPE merge training ----
    // six merge rounds learned from the documents corpus; the oracle
    // unrolls the whole training loop, so any drift in pair counting,
    // tie-breaking, or the greedy merge pass breaks the hash
    "q_text_bpe" -> ((s, d) => sharedBpeMerges(s, d, rounds = 6)),
    // ---- §2.8 T11 learn→serve: encode the corpus with its own
    // trained merges (memoized per-distinct-word scale path); the
    // 6-row merge table is the bounded driver-side artifact
    "q_text_bpe_encode" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val merges = sharedBpeMerges(s, d, rounds = 6)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.operators.BpeTrain.encodeByVocab(docs, "doc_id", "text", merges)
        .select(col("doc_id"), array_join(col("pieces"), " ").as("piece_text"))
    }),
    // ---- §2.8 T10 sliding-window token chunking ----
    // 64-token windows at stride 48 (25% overlap); the oracle
    // recomputes tokenization, the integer start grid, and every
    // token slice — a one-token boundary error anywhere breaks the
    // hash
    "q_text_chunk" -> ((s, d) =>
      Corpus.chunkTokens(
        Tables.table(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", chunkSize = 64, stride = 48)),
    // ---- §2.12 X1 salted aggregation (skew mitigation) ----
    "q_salted_agg" -> ((s, d) =>
      Skew.saltedSum(Tables.table(s, d, "events"), Seq("event_type"),
        col("value").cast("decimal(18,6)"), col("event_id"))
        .select(col("event_type"),
          round(col("sum_value"), 4).cast("double").as("sum_value"),
          col("n_rows"))),
    // ---- §2.6 D8 incremental dedup (new batch vs corpus) ----
    // "new" = a deterministic 20% hash slice standing in for today's
    // landed batch
    "q_dedup_incremental" -> ((s, d) =>
      Dedup.minhashDedupIncremental(Tables.table(s, d, "documents"),
        "doc_id", "text",
        Corpus.hashBucket(col("doc_id"), "inc", 5) === 0)),
    // ---- §2.6 D8b persisted-index incremental dedup ----
    // the PRODUCTION form of q_dedup_incremental: the 80% "existing
    // corpus" slice's band/shingle index is WRITTEN to disk, and the
    // 20% "new batch" slice is checked against the stored index — the
    // corpus is never re-shingled. Same result, same oracle.
    "q_dedup_index" -> ((s, d) => {
      val doc = Tables.table(s, d, "documents")
      val isNew = Corpus.hashBucket(col("doc_id"), "inc", 5) === 0
      Checkpoints.tempDir("graft-dedup-index") { dir =>
        Dedup.writeDedupIndex(doc.filter(!isNew), "doc_id", "text", dir)
        Dedup.minhashDedupAgainstIndex(doc.filter(isNew),
          "doc_id", "text", dir)
      }
    }),
    // ---- §2.6 D10 canonical-document selection ----
    // groups from the exact-dedup key (normalized-text hash), winner
    // by quality score, ties to the lowest doc_id
    "q_dedup_canonical" -> ((s, d) => {
      val doc = Tables.table(s, d, "documents")
      val scored = doc.select(col("doc_id"),
        sha2(graft.functions.TextFunctions.normalizeText(col("text")), 256)
          .as("grp"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("q"))
      Dedup.keepCanonical(scored, "doc_id", "grp", "q")
    }),
    // ---- §2.6 D9 benchmark contamination ----
    // "benchmark" = a deterministic 5% hash slice standing in for an
    // eval set
    "q_contamination" -> ((s, d) =>
      Dedup.contaminationCheck(Tables.table(s, d, "documents"),
        "doc_id", "text",
        Corpus.hashBucket(col("doc_id"), "bench", 20) === 0)),
    // ---- §2.6 D9b SEMANTIC contamination ----
    // the dense complement of q_contamination: the same 5%-slice
    // benchmark convention over the embeddings table, corpus vectors
    // within cosine 0.30 of any benchmark vector flagged; the oracle
    // recomputes every surviving pair's cosine
    "q_contamination_semantic" -> ((s, d) =>
      Similarity.semanticContamination(Tables.table(s, d, "embeddings"),
        "vec_id", "embedding",
        Corpus.hashBucket(col("vec_id"), "bench", 20) === 0, 0.30)),
    // ---- composed end-to-end LLM-corpus pipeline ----
    // The real composition the per-operator gates can't see: strip
    // (T6b) → normalize (T6) → exact-hash + MinHash near-dup pairs
    // (D1/D2) → connected groups (D7) → canonical doc per group (D10)
    // → training filter (K4) → language mixture (K5) → train split
    // (K2) → greedy pack + packed-row materialization (K6/K6b) →
    // epoch ordering (K9), as ONE dataflow. Dedup keys on the
    // NORMALIZED text (formatting noise must not defeat hashing);
    // quality metrics, token counts and the packed rows use the
    // STRIPPED text — the trainable content. The oracle recomputes
    // the entire chain in a single SQL statement, so column
    // collisions, normalize-before-hash ordering and filter/pack
    // interactions are all under the hash compare.
    "q_llm_pipeline" -> ((s, d) => {
      val tf = graft.functions.TextFunctions
      val R = Corpus.TrainingRecipe.Default // shared with Pipeline.corpusGold
      // the markup-bearing crawl-source analog (same wrap as
      // q_text_strip, so T6b does real work inside the composition)
      Checkpoints.cached(Tables.table(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          tf.stripMarkup(
            concat(lit("<div class=\"doc\"><p>"), col("text"),
              lit("</p></div> source: https://example.com/doc?id="),
              col("doc_id"),
              lit(" &amp; more&nbsp;it&#39;s &#x2019;quoted&#x2019;")))
            .as("clean_text"))
        .withColumn("norm_text", tf.normalizeText(col("clean_text")))) {
        normed =>
        // near-dup pairs over normalized text, with the boilerplate
        // df-cap: the wrap's shared suffix is exactly the crawl-corpus
        // boilerplate that otherwise collapses every doc into one band
        // bucket (539k candidate pairs instead of ~1.4k at sf0.1 —
        // see Dedup.minhashDedup's maxDocFreq rationale). Exact-hash
        // pairs catch the docs too short for the shingler.
        val mhPairs = Dedup.minhashDedup(normed, "doc_id", "norm_text",
            maxDocFreq = Some(100))
          .select(col("id_a"), col("id_b"))
        val hashed = normed.select(col("doc_id"),
          sha2(col("norm_text"), 256).as("h"))
        val exactPairs = hashed.join(
            hashed.groupBy(col("h")).agg(min(col("doc_id")).as("keep")),
            Seq("h"))
          .filter(col("doc_id") =!= col("keep"))
          .select(col("keep").as("id_a"), col("doc_id").as("id_b"))
        val groups = Dedup.resolveGroups(
            normed.select(col("doc_id").as("id")),
            mhPairs.unionByName(exactPairs))
          .withColumnRenamed("id", "doc_id")
        val canon = Dedup.keepCanonical(
          normed.join(groups, Seq("doc_id"))
            .withColumn("q", tf.qualityScore(col("clean_text"))),
          "doc_id", "group_id", "q")
        // the K4 training filter, single-pass form: canon already
        // carries the quality score (identical formula — qualityScore
        // == qualityReport's quality_score, the equivalence q_dedup_
        // canonical's oracle rests on), so the composition filters on
        // the computed column and adds only the token count, instead
        // of re-running the whole quality report (the standalone
        // Corpus.trainingFilter stays gated by q_corpus_filter)
        val kept = canon
          .withColumn("n_bpe_tokens",
            tf.bpeTokenCount(col("clean_text")).cast("bigint"))
          .filter(col("q") >= R.minQuality &&
            col("n_bpe_tokens").between(R.minTokens, R.maxTokens))
          .select(col("doc_id"), col("n_bpe_tokens"), col("lang"),
            col("clean_text"))
        val mixed = Corpus.mixtureSample(kept, "doc_id", "lang",
          R.mixtureSalt, R.mixtureDen, R.mixtureRates.toMap)
        val train = Corpus.splitByHash(mixed, "doc_id", R.splitSalt,
            R.splitWeights)
          .filter(col("split") === "train")
          .withColumn("shard",
            Corpus.hashBucket(col("doc_id"), R.shardSalt, R.shards))
        // pack, packed rows and epoch rank: the corpus gold's one-shuffle
        // kernel, so the oracle below pins what Pipeline.corpusGold writes
        Checkpoints.truncate(Corpus.packEpochRanked(train, "doc_id",
          "clean_text", "n_bpe_tokens", "shard", R.packBudget, epoch = 1))
      }
    }),
    "q_dedup_cosine" -> ((s, d) =>
      Similarity.cosineNearDupPairs(Tables.table(s, d, "embeddings"),
        "vec_id", "embedding", 0.35)),
    "q_dedup_cosine_lsh" -> ((s, d) =>
      Similarity.cosineNearDupPairsLsh(Tables.table(s, d, "embeddings"),
        "vec_id", "embedding", 0.35)),
    // semantic (cluster-then-prune) near-dup: same seed-centroid
    // pattern as q_ann_ivf/q_embed_centroid so the oracle can mirror
    // the assignment; production feeds kmeansIterate's trained table
    "q_dedup_semantic" -> ((s, d) =>
      Similarity.semanticNearDupPairsSeeded(
        Tables.table(s, d, "embeddings"), "vec_id", "embedding",
        centroidPred = col("vec_id") % 37 === 1, 0.35)),
    // ---- §2.7 A1–A2 similarity search ----
    "q_ann_bruteforce" -> ((s, d) =>
      Similarity.bruteForceTopK(Tables.table(s, d, "embeddings"),
        "vec_id", "embedding", col("vec_id") % 50 === 0)),
    // ---- §2.7 A7 random-projection (JL) reduction: exact top-k in
    // the PROJECTED space, the whole chain (±1 sign projection →
    // prepped cosine → rank) recomputed by DuckDB from the same sign
    // constants; the recall-vs-64-dim floor lives in the spec ----
    "q_embed_project" -> ((s, d) =>
      Similarity.projectedTopK(Tables.table(s, d, "embeddings"),
        "vec_id", "embedding", col("vec_id") % 50 === 0)),
    "q_ann_lsh" -> ((s, d) =>
      Similarity.lshTopK(Tables.table(s, d, "embeddings"),
        "vec_id", "embedding", col("vec_id") % 50 === 0)),
    "q_ann_ivf" -> ((s, d) =>
      Similarity.ivfTopK(Tables.table(s, d, "embeddings"),
        "vec_id", "embedding",
        queryPred = col("vec_id") % 50 === 0,
        centroidPred = col("vec_id") % 37 === 1)),
    // ---- §2.7 A4 centroid update (index-training step) ----
    "q_embed_centroid" -> ((s, d) =>
      Similarity.centroidUpdate(Tables.table(s, d, "embeddings"),
        "vec_id", "embedding", centroidPred = col("vec_id") % 37 === 1)),
    // ---- §2.7 A4 iterated k-means (the full IVF index-training loop)
    // tol = -1 disables early stop, so the run is EXACTLY two
    // assign→update rounds plus a final assignment — which the oracle
    // unrolls verbatim; raw-quotient means keep every intermediate
    // bit-identical across engines (see Similarity.centroidTable)
    "q_embed_kmeans" -> ((s, d) =>
      Similarity.kmeansIterate(Tables.table(s, d, "embeddings"),
        "vec_id", "embedding", initPred = col("vec_id") % 37 === 1,
        maxIter = 2, tol = -1.0)._1),
    // ---- §2.7 A5 product quantization, driver-gated ----
    // outcome contract (q_freq_sketches pattern — the component math
    // is already hash-gated through A3/A4/A4b): trained 8×~30
    // codebook, every vector encoded to exactly 8 codes (64× smaller
    // than the vectors), ADC-only recall@10 and the two-stage
    // rerank recall must clear floors measured with margin at BOTH
    // gate scales (sf0.01: 0.35/0.90, sf0.1: 0.385/0.85), mean
    // reconstruction cosine ≥ 0.70; n_vectors is the real row DuckDB
    // recounts
    "q_ann_pq" -> ((s, d) => {
      val (m, dim) = (8, 64)
      val emb = Tables.table(s, d, "embeddings")
      val qp = annQueryPred
      Checkpoints.cached(sharedPqCodebook(s, d, m, dim, rounds = 3)) { cb =>
        val codes = graft.Checkpoints.truncate(
          Similarity.pqEncode(emb, "vec_id", "embedding", cb, m, dim))
        def topSets(df: DataFrame) = df.collect()
          .groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
        def recallVs(exact: Map[Long, Set[Long]],
                     got: Map[Long, Set[Long]]): Double = {
          val per = exact.map { case (q, want) =>
            got.getOrElse(q, Set.empty[Long]).intersect(want)
              .size.toDouble / want.size }
          per.sum / per.size
        }
        val exact = topSets(Similarity.bruteForceTopK(
          emb, "vec_id", "embedding", qp))
        // one ADC pass at the rerank width; its rank<=10 prefix IS
        // pqTopK(k=10) (same total order), so both recalls ride one
        // shortlist job
        val shortlist = graft.Checkpoints.truncate(Similarity.pqTopK(
          emb.filter(qp), "vec_id", "embedding", codes, cb, m, dim,
          k = 100))
        val adc = recallVs(exact,
          topSets(shortlist.filter(col("rank") <= 10)))
        val rr = recallVs(exact, topSets(Similarity.pqRerank(
          emb, "vec_id", "embedding", qp, shortlist, k = 10)))
        val recon = Similarity.pqDecode(codes, cb)
          .join(emb, col("id") === col("vec_id"))
          .agg(avg(Similarity.cosine(col("decoded"), col("embedding"))))
          .head().getDouble(0)
        val n = emb.count()
        val codesComplete = codes.groupBy(col("id")).count()
          .filter(col("count") =!= m).count() == 0 &&
          codes.count() == n * m
        import s.implicits._
        Seq((adc >= 0.30, rr >= 0.80, recon >= 0.70, codesComplete, n))
          .toDF("adc_recall_floor", "rerank_recall_floor",
            "recon_cosine_floor", "codes_complete", "n_vectors")
      }
    }),
    // ---- §2.7 A6 IVFPQ: cell-routed PQ, driver-gated ----
    // outcome contract (q_ann_pq pattern): the codes table keyed by
    // coarse cell, queries probe nprobe=6 of the ~n/37 cells, ADC
    // runs over probed cells' codes only, exact rerank of the top-50
    // shortlist. Floors measured with margin at BOTH gate scales
    // (recall: sf0.01 0.60, sf0.1 0.348; mean candidate fraction:
    // sf0.01 0.430, sf0.1 0.108): reranked recall@10 must clear the
    // SAME 0.30 floor as global ADC while scanning a cand_fraction
    // bounded ≤ 0.5 of the codes — approximate quality at a strictly
    // sublinear candidate count, the production vector-index trade.
    "q_ann_ivfpq" -> ((s, d) => {
      val (m, dim) = (8, 64)
      val emb = Tables.table(s, d, "embeddings")
      val qp = annQueryPred
      Checkpoints.cached(sharedPqCodebook(s, d, m, dim, rounds = 3)) { cb =>
        val cents = emb.filter(annCellPred)
          .select(col("vec_id").as("cell"), col("embedding").as("centv"))
        val cellCodes = graft.Checkpoints.truncate(
          Similarity.pqEncodeCells(emb, "vec_id", "embedding", cents,
            cb, m, dim))
        def topSets(df: DataFrame) = df.collect()
          .groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
        val exact = topSets(Similarity.bruteForceTopK(
          emb, "vec_id", "embedding", qp))
        val got = topSets(Similarity.ivfpqTopKReranked(emb, "vec_id",
          "embedding", qp, cents, cellCodes, cb, m, dim,
          k = 10, nprobe = 6, rerank = 50))
        val per = exact.map { case (q, want) =>
          got.getOrElse(q, Set.empty[Long]).intersect(want)
            .size.toDouble / want.size }
        val rr = per.sum / per.size
        // mean candidate fraction actually scanned: Σ probed-cell
        // sizes per query / corpus — the measured sublinearity claim
        val n = emb.count()
        val cellSizes = cellCodes.filter(col("subspace") === 0)
          .groupBy("cell").count()
        val probeW = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id")
          .orderBy(col("qdist").desc, col("cell"))
        val frac = emb.filter(qp)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("qv"))
          .join(broadcast(cents))
          .withColumn("qdist", Similarity.cosine(col("qv"), col("centv")))
          .withColumn("r", row_number().over(probeW))
          .filter(col("r") <= 6)
          .join(cellSizes, Seq("cell"))
          .groupBy("query_id").agg(sum("count").as("c"))
          .agg(avg(col("c"))).head().getDouble(0) / n
        import s.implicits._
        Seq((rr >= 0.30, frac <= 0.5, n))
          .toDF("rerank_recall_floor", "cand_fraction_bound",
            "n_vectors")
      }
    }),
    // ---- §2.7 A6b persisted vector index (serve shape) ----
    // the PRODUCTION form of q_ann_ivfpq: trained artifacts assembled
    // into an on-disk index (codes partitioned by coarse cell inside
    // atomic per-batch directories, _meta commit marker), queries
    // routed driver-side to their probed cells, ONLY those cell
    // partitions read by explicit path. The bootstrap lands an 80%
    // slice and the remaining 20% arrives through the APPEND path
    // (encoded with the STORED artifacts, atomic batch publish), so
    // the gate's contract covers incremental dense ingest: the
    // indexed serve over bootstrap+append is bit-identical to the
    // in-memory cell-routed serve over the full corpus.
    "q_ann_index" -> ((s, d) => {
      val (m, dim) = (8, 64)
      val emb = Tables.table(s, d, "embeddings")
      val qp = col("vec_id") % 50 === 0
      val isNew = Corpus.hashBucket(col("vec_id"), "inc", 5) === 0
      Checkpoints.cached(sharedPqCodebook(s, d, m, dim, rounds = 3)) { cb =>
        val cents = emb.filter(col("vec_id") % 37 === 1)
          .select(col("vec_id").as("cell"), col("embedding").as("centv"))
        Checkpoints.tempDir("graft-vec-index") { dir =>
          // the serve goes THROUGH the republish pointer — the
          // retrain→reindex indirection is part of the gated path
          val idx = s"$dir/v1"
          graft.operators.VectorIndex.write(emb.filter(!isNew),
            "vec_id", "embedding", cents, cb, m, dim, idx)
          graft.operators.VectorIndex.append(emb.filter(isNew),
            "vec_id", "embedding", idx)
          graft.operators.VectorIndex.writePointer(s, s"$dir/current",
            idx)
          val served = graft.operators.VectorIndex.topKVia(s,
            s"$dir/current", emb, "vec_id", "embedding", qp,
            k = 10, nprobe = 6, rerank = 50).collect()
          val mem = Similarity.ivfpqTopKReranked(emb, "vec_id",
            "embedding", qp, cents,
            graft.Checkpoints.truncate(Similarity.pqEncodeCells(emb,
              "vec_id", "embedding", cents, cb, m, dim)),
            cb, m, dim, k = 10, nprobe = 6, rerank = 50).collect()
          import s.implicits._
          Seq((served.toSet == mem.toSet && served.nonEmpty,
              emb.count()))
            .toDF("indexed_equals_inmemory", "n_vectors")
        }
      }
    }),
    // ---- §2.7 A6c as-of-generation snapshot serve (time travel) ----
    // the Iceberg-style snapshot read on the batch-directory layout,
    // on BOTH persisted indexes: every meta swap records its committed
    // bytes under _meta_history, and topKAt / bm25TopKIndexedAt replay
    // the serve against the committed view at a past gen — identical
    // arithmetic, only the visibility list (and, for BM25, the N/Σlen
    // scalars) differs. Outcome contract: the serve collected while
    // gen g was LIVE must be reproduced bit-for-bit by the snapshot
    // probe AFTER the next append lands, on both indexes — and a gen
    // that never committed must refuse with the TYPED
    // SnapshotUnavailable (never a wrong or partial ranking). Bounded
    // by design: the history cap and batch-dir retention are
    // spec-pinned (SnapshotProbeSpec), not gated here.
    "q_ann_snapshot" -> ((s, d) => {
      val (m, dim) = (8, 64)
      val emb = Tables.table(s, d, "embeddings")
      val qp = col("vec_id") % 50 === 0
      val isNew = Corpus.hashBucket(col("vec_id"), "inc", 5) === 0
      Checkpoints.cached(sharedPqCodebook(s, d, m, dim, rounds = 3)) { cb =>
        val cents = emb.filter(col("vec_id") % 37 === 1)
          .select(col("vec_id").as("cell"), col("embedding").as("centv"))
        Checkpoints.tempDir("graft-snapshot") { dir =>
          // dense side: bootstrap → live serve collected → append
          val idx = s"$dir/vec"
          graft.operators.VectorIndex.write(emb.filter(!isNew),
            "vec_id", "embedding", cents, cb, m, dim, idx)
          val g0 = graft.operators.VectorIndex.currentGen(s, idx)
          val before = graft.operators.VectorIndex.topK(s, idx, emb,
            "vec_id", "embedding", qp, k = 10, nprobe = 6, rerank = 50)
            .collect().toSet
          graft.operators.VectorIndex.append(emb.filter(isNew),
            "vec_id", "embedding", idx)
          val atG0 = graft.operators.VectorIndex.topKAt(s, idx, g0, emb,
            "vec_id", "embedding", qp, k = 10, nprobe = 6, rerank = 50)
            .collect().toSet
          val liveGen = graft.operators.VectorIndex.currentGen(s, idx)
          val vecMissingTyped =
            try {
              graft.operators.VectorIndex.topKAt(s, idx, liveGen + 999,
                emb, "vec_id", "embedding", qp).collect(); false
            } catch { case _: graft.SnapshotUnavailable => true }
          // lexical side: same shape — the snapshot must reproduce
          // the pre-append SCALARS (N/Σlen/df), not just visibility
          val docs = Tables.table(s, d, "documents")
            .select(col("doc_id"), col("text"))
          val bIsNew = Corpus.hashBucket(col("doc_id"), "binc", 5) === 0
          val bIdx = s"$dir/bm25"
          graft.operators.Bm25.writeBm25Index(docs.filter(!bIsNew),
            "doc_id", "text", bIdx)
          val bg0 = graft.operators.Bm25.currentGen(s, bIdx)
          val bBefore = graft.operators.Bm25.bm25TopKIndexed(s, bIdx,
            "fast vector hash join", k = 20).collect().toSet
          graft.operators.Bm25.appendBm25Index(docs.filter(bIsNew),
            "text", bIdx)
          val bAtG0 = graft.operators.Bm25.bm25TopKIndexedAt(s, bIdx,
            bg0, "fast vector hash join", k = 20).collect().toSet
          val bMissingTyped =
            try {
              graft.operators.Bm25.bm25TopKIndexedAt(s, bIdx,
                graft.operators.Bm25.currentGen(s, bIdx) + 999,
                "fast vector hash join", k = 20).collect(); false
            } catch { case _: graft.SnapshotUnavailable => true }
          import s.implicits._
          Seq((atG0 == before && before.nonEmpty,
              bAtG0 == bBefore && bBefore.nonEmpty,
              vecMissingTyped && bMissingTyped,
              emb.count()))
            .toDF("vec_snapshot_exact", "bm25_snapshot_exact",
              "missing_gen_refused", "n_vectors")
        }
      }
    }),
    // ---- §2.7 A6d persisted-index integrity audit (fsck) ----
    // build a real postings index (bootstrap + append), plant the
    // three incident classes an operator meets — crashed-compaction
    // residue (reserved merged shape), an unlisted orphan directory,
    // a dangling grace marker — and audit: the report's per-status
    // counts are STRUCTURE-driven (2 committed batches, 1 of each
    // plant, current gen recorded), identical at every sf, and the
    // oracle states them literally. The audit itself is pure
    // metadata (one meta read + three listings), so its cost is
    // independent of corpus size.
    "q_index_audit" -> ((s, d) => {
      Checkpoints.tempDir("graft-fsck") { dir =>
        plantedIndexFixture(s, d, dir)
        Checkpoints.truncate(graft.operators.IndexAudit.audit(s, dir)
          .groupBy(col("kind"), col("status"), col("healthy"))
          .agg(count(lit(1)).as("n")))
      }
    }),
    // ---- §2.7 A6e fsck REPAIR (diagnose → remedy, closed loop) ----
    // plant the full repairable incident set on a live index — stale
    // marker on a committed batch, dangling marker, orphan dir,
    // crashed-compaction residue, a LOST current-gen snapshot record
    // — run repair once, and pin the outcome: each action executed
    // exactly once, the residue physically reclaimed in the same
    // call, the index auditing healthy afterwards, and the re-recorded
    // history record serving the as-of-gen probe again (the one lost-
    // record case that IS recoverable, because the current meta holds
    // that gen's bytes).
    "q_index_repair" -> ((s, d) => {
      Checkpoints.tempDir("graft-repair") { dir =>
        val fs = plantedIndexFixture(s, d, dir)
        // two plants beyond the shared fixture: a stale marker on a
        // committed batch, and a LOST current-gen snapshot record
        val committedId = graft.operators.IndexProtocol
          .committedFromMeta(fs, dir).toSeq.sorted.head
        graft.operators.IndexProtocol.markPendingDelete(fs, dir,
          committedId, 0L, 0L)
        val gen = graft.operators.Bm25.currentGen(s, dir)
        fs.delete(new org.apache.hadoop.fs.Path(
          s"$dir/_meta_history/$gen"), false)
        val acts = graft.operators.IndexAudit.repair(s, dir)
          .collect().map(_.getString(2))
        def n(a: String) = acts.count(_ == a).toLong
        val healthyAfter = graft.operators.IndexAudit.isHealthy(s, dir)
        val snapServed =
          try graft.operators.Bm25.bm25TopKIndexedAt(s, dir, gen,
            "fast vector hash join", k = 5).collect().nonEmpty
          catch { case _: graft.SnapshotUnavailable => false }
        import s.implicits._
        Seq((n("cleared_stale_marker"), n("cleared_dangling_marker"),
            n("scheduled_reclaim_orphan_grace"), n("scheduled_reclaim"),
            n("rerecorded_from_meta"), n("reclaimed"),
            healthyAfter, snapServed))
          .toDF("stale_cleared", "dangling_cleared",
            "orphans_scheduled", "residue_scheduled",
            "history_rerecorded", "dirs_reclaimed",
            "healthy_after", "snapshot_served")
      }
    }),
    // ---- §2.7 A6f dedup-index fsck ---------------------------------
    // the A6d never-trust-the-filesystem pass on the MinHash dedup
    // index, which runs the same batch-list protocol: build a real
    // two-batch index and compact it (one merged batch, two retired
    // ids), then plant one incident of each class the audit reaches on
    // a dedup root — a crashed landing (a committed batch with a commit
    // record and no _landed), filesystem damage (a committed batch's
    // half payload), an unlisted orphan directory — and recount the
    // status inventory against a literal oracle. Repair runs in-gate
    // behind requires: damage reported not papered over, the orphan
    // scheduled for reclaim, and the index audits healthy once the
    // planted damage is lifted.
    "q_dedup_index_audit" -> ((s, d) => {
      Checkpoints.tempDir("graft-dfsck") { dir =>
        val idx = s"$dir/idx"
        val docs = Tables.table(s, d, "documents")
          .select(col("doc_id"), col("text"))
        graft.operators.Dedup.writeDedupIndex(
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", idx)
        graft.operators.Dedup.writeDedupIndex(
          docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", idx,
          mode = "append")
        val merged = graft.operators.Dedup.compactDedupIndex(s, idx)
        val fs = Tables.fsFor(s, idx)
        // crashed landing: a batch committed with its commit record
        val day = docs.filter(col("doc_id") % 3 === 2)
        val landing = graft.operators.Dedup.writeDedupIndex(day, "doc_id",
          "text", idx, mode = "append", sideTables = Seq("accepted" -> day))
        require(fs.delete(new org.apache.hadoop.fs.Path(
          s"$idx/batches/$merged/shingles"), true)) // FS damage
        require(fs.mkdirs(new org.apache.hadoop.fs.Path(
          s"$idx/batches/feedbead01")))             // unlisted orphan
        val report = Checkpoints.truncate(
          graft.operators.IndexAudit.audit(s, idx)
            .groupBy(col("kind"), col("status"), col("healthy"))
            .agg(count(lit(1)).as("n")))
        require(!graft.operators.IndexAudit.isHealthy(s, idx))
        // repair: damage reported — never hidden — and the orphan
        // scheduled behind the orphan grace, not deleted
        val acts = graft.operators.IndexAudit.repair(s, idx)
          .collect().map(_.getString(2)).sorted.toSeq
        require(acts == Seq("needs_increment_retry",
          "scheduled_reclaim_orphan_grace",
          "unrepairable_partial_payload"), acts.toString)
        require(fs.exists(new org.apache.hadoop.fs.Path(
          s"$idx/_pending_delete/feedbead01")))
        // lifting the planted damage restores a healthy audit: the
        // landing finishes, the damaged batch is dropped
        fs.create(new org.apache.hadoop.fs.Path(
          s"$idx/batches/$landing/_landed"), true).close()
        require(graft.operators.Dedup.dropBatchFromIndex(s, idx, merged))
        require(graft.operators.IndexAudit.isHealthy(s, idx))
        report
      }
    }),
    // ---- §2.9 M1 multimodal ----
    // features projected to scalar columns: the driver's pandas
    // comparator can't sort an array<float> cell, and scalars let the
    // oracle recompute each feature independently
    "q_multimodal_meta" -> ((s, d) =>
      Multimodal.extractFeatures(Multimodal.mediaTable(s, d)).toDF()
        .select(col("media_id"), col("byte_len"), col("checksum"),
          col("features")(0).cast("double").as("f_len"),
          col("features")(1).cast("double").as("f_mean"),
          col("features")(2).cast("double").as("f_mod"),
          col("features")(3).cast("double").as("f_first"))),
    // ---- §2.9 M3 frame sampling ----
    "q_multimodal_frames" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.mediaTable(s, d))),
    // ---- §2.9 M2b REAL PNG codec round-trip ----
    // deterministic gray PNGs (dimensions and every pixel an integer
    // function of media_id) encoded through javax.imageio's real PNG
    // writer, decoded back through ImageIO.read, raster-walked for
    // the exact pixel mean; the oracle recomputes dimensions and
    // mean from the same integer formulas — matching REQUIRES a
    // working codec round-trip, not byte games
    "q_multimodal_imgdecode" -> ((s, d) =>
      Multimodal.decodeImages(Multimodal.syntheticPngTable(s, d)).toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("channels"), round(col("mean_gray"), 6).as("mean_gray"))),
    // ---- §2.9 M4 media transform (resize analog) ----
    // payload → payload rewrite with metadata update; the deterministic
    // byte-decimation stub is mirrored byte-for-byte by the oracle
    // (hex projection, like q_multimodal_frames)
    "q_multimodal_transform" -> ((s, d) =>
      Multimodal.transformMedia(Multimodal.mediaTable(s, d), 320, 240)
        .toDF()
        .select(col("media_id"), col("media_type"),
          col("width"), col("height"),
          length(col("payload")).cast("bigint").as("out_len"),
          hex(col("payload")).as("out_hex"))),
    // ---- §2.9 M2 batched decode over COMPOSED media ----
    // the transform→re-extract chain the module advertises: decode
    // plumbing must consume arbitrary upstream media, not just the
    // scan — features here are over the DECIMATED payloads, so this
    // gate is not a rerun of q_multimodal_meta
    "q_multimodal_decode" -> ((s, d) =>
      Multimodal.extractFeatures(
        Multimodal.transformMedia(Multimodal.mediaTable(s, d), 320, 240)
          .toDF())
        .toDF()
        .select(col("media_id"), col("byte_len"), col("checksum"),
          col("features")(0).cast("double").as("f_len"),
          col("features")(1).cast("double").as("f_mean"),
          col("features")(2).cast("double").as("f_mod"),
          col("features")(3).cast("double").as("f_first"))),
    // ---- §2.2 C7 bronze nested-JSON flatten ----
    "q_bronze_flatten" -> ((s, d) => Bronze.eventsFlattened(s, d)),
    // ---- §2.1 S9 manifest ingestion (data_ingestion.py analog) ----
    // manifest built from the events table's raw JSON payloads; the
    // file-directory manifest form is spec-verified (SourcesSpec)
    "q_ingest_manifest" -> ((s, d) => {
      val manifest = Tables.table(s, d, "events")
        .select(
          concat(lit("manifest://events/"), col("event_id"))
            .as("source_uri"),
          col("props").as("payload"))
      graft.sources.Ingest.landRawJson(manifest, "k INT", Stamp)
    }),
    // ---- §2.1 S2–S5 sources & sinks ----
    "q_csv_roundtrip" -> ((s, d) => {
      // bronze-layer CSV drop (reference: bucket.py write_to_minio
      // format='csv') → schema'd read back — values must survive
      Checkpoints.tempDir("graft-csv") { tmp =>
        Tables.writeCsv(Tables.table(s, d, "nation"), s"$tmp/nation")
        Checkpoints.truncate(Tables.readCsv(s, s"$tmp/nation",
          Some("n_nationkey INT, n_name STRING, n_regionkey INT")))
      }
    }),
    "q_json_roundtrip" -> ((s, d) => {
      Checkpoints.tempDir("graft-json") { tmp =>
        Tables.writeJson(Tables.table(s, d, "customer"), s"$tmp/customer")
        Checkpoints.truncate(Tables.readJson(s, s"$tmp/customer",
          Some("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
            "c_acctbal DOUBLE, c_mktsegment STRING"))
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment"))
      }
    }),
    "q_orc_roundtrip" -> ((s, d) => {
      // the third columnar format: ORC write → schema'd read back —
      // every value (including raw doubles, which are never
      // aggregated here) must survive bit-for-bit
      Checkpoints.tempDir("graft-orc") { tmp =>
        Tables.writeOrc(Tables.table(s, d, "supplier"), s"$tmp/supplier")
        Checkpoints.truncate(Tables.readOrc(s, s"$tmp/supplier",
          Some("s_suppkey BIGINT, s_name STRING, s_nationkey INT, " +
            "s_acctbal DOUBLE")))
      }
    }),
    "q_schema_evolution" -> ((s, d) => {
      // lakehouse append contract: half the table is written BEFORE
      // two columns existed, the other half after — the merged read
      // must surface one widened schema with nulls backfilling the
      // old files (which are never rewritten)
      Checkpoints.tempDir("graft-evolve") { tmp =>
        val cust = Tables.table(s, d, "customer")
        Tables.writeParquet(cust.filter(col("c_custkey") % 2 === 0)
          .select("c_custkey", "c_name", "c_nationkey"), s"$tmp/customer")
        Tables.writeParquet(cust.filter(col("c_custkey") % 2 === 1)
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment"), s"$tmp/customer", mode = "append")
        Checkpoints.truncate(Tables.readEvolved(s, s"$tmp/customer"))
      }
    }),
    // ---- §2.1 S17 partition-scoped upsert (MERGE), driver-gated ----
    // base lands partitioned by order year (key-stable); the batch
    // bumps ~1% of keys (version 1 beats version 0). The gate reads
    // the WHOLE post-merge table back and aggregates — every updated
    // row must carry the new price and v=1, every other row must be
    // untouched, or the DuckDB recount breaks. Partition-rewrite
    // minimality and replay idempotence are spec-asserted.
    "q_upsert" -> ((s, d) => {
      Checkpoints.tempDir("graft-upsert") { dir =>
        val tmp = dir + "/orders"
        val base = Tables.table(s, d, "orders")
          .withColumn("yr", year(col("o_orderdate")))
          .withColumn("v", lit(0L))
        Tables.writeParquet(base, tmp, partitionBy = Seq("yr"))
        val batch = Tables.table(s, d, "orders")
          .filter(col("o_orderkey") % 97 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0))
          .withColumn("yr", year(col("o_orderdate")))
          .withColumn("v", lit(1L))
        Incremental.upsertPartitioned(s, tmp, batch,
          Seq("o_orderkey"), "yr", "v")
        Checkpoints.truncate(s.read.parquet(tmp)
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
              .cast("double").as("revenue"),
            sum(col("v")).as("n_updated")))
      }
    }),
    // ---- §2.1 S16 file-stats data skipping, driver-gated ----
    // range-clustered layout + per-file stats index; the skipping read
    // prunes files at planning time and must return EXACTLY the rows
    // of the plain filtered read (DuckDB recomputes the aggregate
    // over the original table — any wrongly skipped file breaks the
    // hash). File-count pruning is SourcesSpec-asserted.
    "q_skipping_read" -> ((s, d) => {
      Checkpoints.tempDir("graft-skip") { tmp =>
        Tables.table(s, d, "orders")
          .repartitionByRange(8, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey")
          .write.mode("overwrite").parquet(s"$tmp/orders")
        Tables.writeStatsIndex(s, s"$tmp/orders", Seq("o_orderkey"))
        Checkpoints.truncate(Tables.readSkipping(s, s"$tmp/orders",
            "o_orderkey", lit(1000L), lit(5000L))
          .groupBy(col("o_orderpriority").as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
              .cast("double").as("revenue")))
      }
    }),
    // ---- §2.1 S15 co-bucketed shuffle-free join, driver-gated ----
    // both facts land hash-clustered on the join key (8 buckets), so
    // the join needs no Exchange on either side (the zero-shuffle
    // plan property is SourcesSpec-asserted; this gate recounts the
    // joined aggregate against DuckDB). The 5-row result is
    // materialized before the finally-drop of the gate database.
    "q_bucketed_join" -> ((s, d) => {
      val db = "graft_bkt_gate_" +
        java.lang.Long.toHexString(System.nanoTime())
      Checkpoints.tempDir("graft-bkt") { loc =>
        s.sql(s"CREATE DATABASE `$db` LOCATION '$loc'")
        try {
          Tables.writeBucketed(Tables.table(s, d, "orders")
            .select("o_orderkey", "o_orderpriority"),
            s"`$db`.orders_b", 8, "o_orderkey", Seq("o_orderkey"))
          Tables.writeBucketed(Tables.table(s, d, "lineitem")
            .select("l_orderkey", "l_extendedprice", "l_discount"),
            s"`$db`.lineitem_b", 8, "l_orderkey", Seq("l_orderkey"))
          val o = s.table(s"`$db`.orders_b")
          val l = s.table(s"`$db`.lineitem_b")
          val agg = l.join(o, l("l_orderkey") === o("o_orderkey"))
            .groupBy(col("o_orderpriority"))
            .agg(round(sum(col("l_extendedprice").cast("decimal(12,2)") *
              (lit(1) - col("l_discount")).cast("decimal(4,2)")), 2)
              .cast("double").as("revenue"),
              count(lit(1)).as("n_lines"))
            .withColumnRenamed("o_orderpriority", "priority")
          val rows = agg.collect()
          s.createDataFrame(java.util.Arrays.asList(rows: _*), agg.schema)
        } finally s.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
      }
    }),
    "q_partitioned_write" -> ((s, d) => {
      // lakehouse layout: write partitioned by day, read back filtered
      // to one partition (pruned scan), aggregate
      Checkpoints.tempDir("graft-part") { tmp =>
        val ev = Tables.table(s, d, "events")
          .withColumn("event_date", col("ts").cast("date").cast("string"))
        Tables.writeParquet(ev, s"$tmp/events",
          partitionBy = Seq("event_date"))
        Checkpoints.truncate(s.read.parquet(s"$tmp/events")
          .filter(col("event_date").cast("string") === "2024-01-15")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value").cast("decimal(18,6)")), 4).cast("double")
              .as("sum_value")))
      }
    }),
    // ---- §2.1 S11 z-order clustering key ----
    "q_zorder_key" -> ((s, d) =>
      Tables.table(s, d, "events").select(col("event_id"),
        Tables.zValue(pmod(col("user_id"), lit(65536)),
          pmod(col("event_id"), lit(65536))).as("z"))),
    // ---- §2.11 O1 medallion DAG runner, driver-gated ----
    // the full bronze → silver → gold run on a throwaway dir; the
    // invariants a DAG run must satisfy (silver row preservation,
    // surrogate-key uniqueness) go out as booleans/counts, and
    // fact_rows is the real oracle row: the fact table must carry
    // exactly one row per source lineitem, which DuckDB recounts
    "q_pipeline_run" -> ((s, d) => {
      Checkpoints.tempDir("graft-dag") { out =>
        val fact = Pipeline.run(s, d, out, Stamp)
        val factN = fact.count()
        val silverN = s.read.parquet(s"$out/silver/nation").count()
        val dims = graft.sources.SnapshotStore.readCurrent(s,
          s"$out/gold/dim_customer")
        val dimsUnique =
          dims.select(col("id_customer")).distinct().count() == dims.count()
        import s.implicits._
        Seq((silverN, dimsUnique, factN))
          .toDF("silver_nation_rows", "dim_keys_unique", "fact_rows")
      }
    }),
    // ---- §2.11 O1b incremental gold (S7 as-of slice + S17 merge ----
    // ---- into the S20 manifest fact), driver-gated ----
    // outcome contract: day 1 bootstraps gold from the pre-1998
    // lineitem slice; day 2 merges the 1998 slice partition-scoped.
    // The gate asserts on literal paths+mtimes that every pre-1998
    // ship month's files were REUSED (the daily cost is the batch's
    // months, never the fact), that the batch's months are new files,
    // and that the schema triple advanced atomically. fact_rows is
    // the real oracle row: the merged fact must equal the full-table
    // build, which DuckDB recounts from lineitem.
    "q_pipeline_incremental" -> ((s, d) => {
      Checkpoints.tempDir("graft-goldinc") { out =>
        val M = graft.sources.ManifestStore
        val factRoot = s"$out/gold/fact_sales"
        val li = Tables.table(s, d, "lineitem")
        val cut = col("l_shipdate").cast("date") >=
          lit("1998-01-01").cast("date")
        Pipeline.gold(s, d, out, Stamp,
          factLineitem = Some(li.filter(!cut)))
        val fs = Tables.fsFor(s, factRoot)
        def state(gen: Long) = M.manifestAt(s, factRoot, gen).entries
          .map(e => e.relPath -> fs.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$factRoot/${e.relPath}"))
            .getModificationTime).toMap
        val before = state(1L)
        Pipeline.goldIncrement(s, d, out, li.filter(cut), Stamp)
        val m2 = M.manifestAt(s, factRoot, 2L)
        val after = state(2L)
        val untouched = m2.entries.filter(_.partition < "1998-01")
        val untouchedReused = untouched.nonEmpty && untouched.forall(
          e => e.relPath.startsWith("_writes/1/") &&
            before.get(e.relPath).contains(after(e.relPath)))
        val batchMonthsNew = m2.entries
          .filter(_.partition >= "1998-01").nonEmpty &&
          m2.entries.filter(_.partition >= "1998-01")
            .forall(_.relPath.startsWith("_writes/2/"))
        val gens = Pipeline.goldSchemaGens(s, out)
        val tripleAdvanced = gens("fact_sales") == 2L &&
          gens("dim_date") == 2L && gens("dim_customer") == 2L
        val factRows = Pipeline.goldTable(s, out, "fact_sales").count()
        import s.implicits._
        Seq((untouchedReused, batchMonthsNew, tripleAdvanced, factRows))
          .toDF("untouched_months_reused", "batch_months_new",
            "schema_triple_advanced", "fact_rows")
      }
    }),
    // ---- §2.1 S13 small-file compaction, driver-gated ----
    // outcome contract (same pattern as q_freshness_gate): scatter the
    // table across many small files, compact, and emit the invariants
    // — file count shrank to the target math, no row lost or invented
    // (rows_readable is the REAL oracle row: DuckDB recounts the
    // source table)
    "q_compact" -> ((s, d) => {
      Checkpoints.tempDir("graft-compact") { dir =>
        val tmp = dir + "/orders"
        val orders = Tables.table(s, d, "orders")
        orders.repartition(24).write.mode("overwrite").parquet(tmp)
        def nFiles = Option(new java.io.File(tmp).listFiles()).get
          .count(f => f.getName.endsWith(".parquet"))
        val before = nFiles
        // the per-file row target scales WITH the table (≈12 output
        // files at any sf) — a fixed 10k target stops being a
        // compaction above 240k rows (the sf1 sweep caught target >
        // scattered there, inverting the shrink assertion)
        val rowsPerFile = math.max(1L, (orders.count() + 11L) / 12L)
        val target = Tables.compact(s, tmp,
          targetRowsPerFile = rowsPerFile)
        val after = nFiles
        import s.implicits._
        Seq((before == 24, after == target && after < before,
          s.read.parquet(tmp).count()))
          .toDF("scattered_24", "compacted_to_target", "rows_readable")
      }
    }),
    // ---- §2.3 P7 mergeable HLL sketches, driver-gated ----
    // outcome contract: a union of per-shard sketches estimates within
    // a sliver of the one-shot global sketch (exact in coupon mode;
    // ≤2% once dense — measured 0.74% at sf0.1, the scale twist the
    // sf0.1 re-run caught), and the estimate lands within the sketch
    // error envelope of the exact count — which DuckDB recomputes as
    // the real oracle row
    "q_hll_sketches" -> ((s, d) => {
      val ev = Tables.table(s, d, "events")
      val shards = Profiling.distinctSketches(ev,
        col("ts").cast("date"), col("user_id"))
      val unionEst = Profiling.unionEstimate(shards).head().getLong(0)
      val globalEst = Profiling.unionEstimate(
        Profiling.distinctSketches(ev, lit(1), col("user_id")))
        .head().getLong(0)
      val exact = ev.agg(count_distinct(col("user_id"))).head().getLong(0)
      import s.implicits._
      Seq((math.abs(unionEst - globalEst).toDouble <= 0.02 * globalEst,
        math.abs(unionEst - exact).toDouble <= 0.05 * exact, exact))
        .toDF("union_within_2pct_of_global", "estimate_within_5pct",
          "n_users_exact")
    }),
    // ---- §2.3 P6b mergeable quantile sketches, driver-gated ----
    // outcome contract (q_hll_sketches pattern): the union of per-year
    // histogram sketches equals the one-shot global histogram EXACTLY
    // (histogram merge is lossless, unlike HLL), the estimate lands
    // within one bin width of the NEAREST-RANK median — the comparator
    // the bound actually holds against (an interpolated median has no
    // bin-width bound on gappy data; see Profiling.quantileSketches) —
    // and exact_p50 is the real oracle row DuckDB recomputes with
    // quantile_cont (whose parity with percentile() is already proven
    // by q_quantiles)
    "q_quantile_sketches" -> ((s, d) => {
      val o = Tables.table(s, d, "orders")
      val (lo, hi, bins) = (0.0, 600000.0, 600) // fixed grid, w = 1000
      val shards = Profiling.quantileSketches(o,
        year(col("o_orderdate")), col("o_totalprice"), lo, hi, bins)
      val unionEst = Profiling.unionQuantile(shards, 0.5, lo, hi, bins)
        .head().getDouble(0)
      val globalEst = Profiling.unionQuantile(
        Profiling.quantileSketches(o, lit(1), col("o_totalprice"),
          lo, hi, bins), 0.5, lo, hi, bins)
        .head().getDouble(0)
      // r19: the two exact percentiles ride ONE aggregate action
      // instead of two (same scalars, same output row, one fewer
      // pass over orders — guide §1.2). Caching the projected scan
      // was also tried and measured SLOWER at bench scale (cache
      // build ≥ the scan it saves), so the actions read the parquet
      // directly, deliberately.
      val pcts = o.agg(
        org.apache.spark.sql.functions.expr(
          "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"),
        org.apache.spark.sql.functions
          .expr("percentile(o_totalprice, 0.5)")).head()
      val disc = pcts.getDouble(0)
      val exact = pcts.getDouble(1)
      import s.implicits._
      Seq((unionEst == globalEst,
        unionEst >= disc && unionEst - disc <= (hi - lo) / bins, exact))
        .toDF("union_equals_global", "within_one_bin", "exact_p50")
    }),
    // ---- §2.3 P8 heavy hitters, driver-gated ----
    // full-data gate: the two-pass sketch-then-recount operator is
    // EXACT by construction (the Misra–Gries guarantee makes the
    // candidate set a superset of every qualifying item; pass 2 is
    // exact arithmetic), so its whole output hash-gates against the
    // plain GROUP BY ... HAVING mirror. Threshold is integer math
    // (count·500 > n) — no float crosses engines.
    "q_heavy_hitters" -> ((s, d) => {
      val toks = Tables.table(s, d, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      Profiling.heavyHitters(toks, col("tok"), 500)
        .withColumnRenamed("item", "token")
    }),
    // ---- §2.3 P8b mergeable frequency sketches, driver-gated ----
    // outcome contract (q_hll_sketches pattern): per-source Misra–
    // Gries sketches merged must (a) still contain every EXACT heavy
    // hitter at the sketch's support — the mergeable-summaries
    // guarantee — and (b) every merged counter is a lower bound within
    // the additive budget n/(k+1) of its exact count (checked in
    // integer math). n_heavy_exact and n_tokens are the real oracle
    // rows DuckDB recomputes.
    "q_freq_sketches" -> ((s, d) => {
      val k = 500
      val toks = Tables.table(s, d, "documents")
        .select(col("source"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      val shards = Profiling.freqSketches(toks, col("source"),
        col("tok"), k)
      val merged = shards
        .agg(Profiling.freqSketchMergeAgg(col("sketch"), k).as("sk"))
        .select(explode(col("sk")).as(Seq("item", "est")))
      Checkpoints.cached(toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("exact"))) { exact =>
        val n = exact.agg(sum(col("exact"))).head().getLong(0)
        // r19: the three counting actions (missed heavy hitters,
        // guarantee violations, heavy count) fuse into ONE aggregate
        // over a single exact⟕merged join — merged items are unique
        // (one exploded map) and exact is keyed by tok, so the outer
        // join preserves exactly the rows the three separate
        // count()s classified. Same integers, one pass (guide §1.2).
        val fused = exact.join(merged,
            exact("tok") === merged("item"), "left_outer")
          .agg(
            sum(when(col("exact") * k > lit(n) && col("item").isNull,
              1L).otherwise(0L)).as("missed"),
            sum(when(col("item").isNotNull &&
              (col("est") > col("exact") ||
                (col("exact") - col("est")) * (k + 1) > lit(n)),
              1L).otherwise(0L)).as("oob"),
            sum(when(col("exact") * k > lit(n), 1L).otherwise(0L))
              .as("nheavy"))
          .head()
        val missed = fused.getLong(0)
        val outOfBound = fused.getLong(1)
        val nHeavy = fused.getLong(2)
        import s.implicits._
        Seq((missed == 0L, outOfBound == 0L, nHeavy, n))
          .toDF("union_contains_all_heavy", "counters_within_guarantee",
            "n_heavy_exact", "n_tokens")
      }
    }),
    // ---- §2.3 P9 incremental profile maintenance, driver-gated ----
    // per-year shard profiles merged into the current profile: counts
    // and min/max merge EXACTLY (DuckDB recomputes them from the raw
    // table — if merging lost anything, the hash breaks), the HLL
    // distinct union is checked within 5% of the exact count per
    // column (boolean, q_hll_sketches pattern)
    "q_profile_incremental" -> ((s, d) => {
      val o = Tables.table(s, d, "orders")
      val shards = Profiling.profileShards(o, year(col("o_orderdate")))
      val merged = Profiling.mergeProfiles(shards, o.schema)
      val exact = Profiling.profile(o)
        .select(col("column_name").as("cn"), col("n_distinct"))
      merged.join(exact, col("column_name") === col("cn"))
        .select(col("column_name"), col("n_nonnull"),
          (col("n_rows") - col("n_nonnull")).as("n_null"),
          col("min_val"), col("max_val"),
          (abs(col("n_distinct_est") - col("n_distinct"))
            <= col("n_distinct") * 0.05).as("distinct_within_5pct"))
    }),
    "q_freshness_gate" -> ((s, d) => {
      Checkpoints.tempDir("graft-fresh") { dir =>
        val tmp = dir + "/nation"
        val nation = Tables.table(s, d, "nation")
        val first = Tables.writeIfStale(nation, tmp)
        val second = Tables.writeIfStale(nation, tmp) // fresh → skipped
        val forced = Tables.writeIfStale(nation, tmp,
          nowMillis = System.currentTimeMillis() + 366L * 86400000L) // stale
        import s.implicits._
        Seq((first, second, forced, s.read.parquet(tmp).count()))
          .toDF("first_write", "second_skipped_is_false", "forced_rewrite",
            "rows_readable")
      }
    }),
    // ---- §2.1 S18 write-audit-publish, driver-gated ----
    // outcome contract (q_freshness_gate pattern): a clean-rules
    // publish lands and reads back (published_rows is the real row
    // DuckDB recounts), a failing audit refuses with the TYPE, leaves
    // staging for inspection and never creates the target, and a
    // second publish onto the live target refuses
    "q_write_audited" -> ((s, d) => {
      Checkpoints.tempDir("graft-wap") { tmp =>
        val orders = Tables.table(s, d, "orders")
        val goodRules = Seq(
          Cleaning.ExpectNotNull("o_custkey"),
          Cleaning.ExpectUnique("o_orderkey"),
          Cleaning.ExpectInSet("o_orderstatus", Seq("O", "F", "P")))
        val report = Tables.writeAudited(s, orders,
          s"$tmp/orders_ok", goodRules)
        val allPassed = report.collect().forall(_.getBoolean(5))
        val publishedRows = s.read.parquet(s"$tmp/orders_ok").count()
        val refused =
          try {
            Tables.writeAudited(s, orders, s"$tmp/orders_bad",
              Seq(Cleaning.ExpectRange("o_totalprice", 1000.0, 300000.0)))
            false
          } catch { case _: graft.AuditFailed => true }
        val targetAbsent = !new java.io.File(s"$tmp/orders_bad").exists()
        val stagingLeft =
          new java.io.File(s"$tmp/orders_bad.staging").exists()
        val republishRefused =
          try {
            Tables.writeAudited(s, orders, s"$tmp/orders_ok", goodRules)
            false
          } catch { case _: graft.AuditFailed => true }
        import s.implicits._
        Seq((publishedRows, allPassed, refused, targetAbsent,
          stagingLeft, republishRefused))
          .toDF("published_rows", "audit_all_passed",
            "failing_audit_refused", "failed_target_absent",
            "staging_left_for_inspection", "existing_target_refused")
      }
    }),
    // ---- §2.1 S19 snapshot-table pointer publish, driver-gated ----
    // outcome contract (q_write_audited pattern): an audited v1 then
    // v2 promote behind the pointer; time travel reproduces v1
    // exactly; a crash injected BETWEEN the staged write and the
    // repoint leaves the mid-crash reader serving v2 in full (the
    // no-serving-gap claim, DRIVEN not asserted) and the residue gen
    // refuses with the typed SnapshotUnavailable; the zero-downtime
    // compactCurrent hits its file-count target with rows unchanged.
    // rows_current is the real oracle row DuckDB recounts.
    "q_snapshot_table" -> ((s, d) => {
      Checkpoints.tempDir("graft-snap") { tmp =>
        val root = s"$tmp/nation"
        val nation = Tables.table(s, d, "nation")
        val v1 = nation.filter(col("n_regionkey") < 2)
        val rules = Seq(Cleaning.ExpectNotNull("n_nationkey"),
          Cleaning.ExpectUnique("n_nationkey"))
        graft.sources.SnapshotStore.publish(s, v1, root, rules)
        graft.sources.SnapshotStore.publish(s, nation, root, rules)
        val v1Exact = graft.sources.SnapshotStore.readAt(s, root, 1L)
          .exceptAll(v1).isEmpty &&
          v1.exceptAll(
            graft.sources.SnapshotStore.readAt(s, root, 1L)).isEmpty
        // the crash probe: mid-publish (written + audited, not yet
        // repointed) the serving view is STILL the full v2 table
        var midCrashServed = false
        class Boom extends RuntimeException("injected")
        val residueRefused =
          try {
            graft.sources.SnapshotStore.publishImpl(s, v1, root,
              rules, 3, () => {
                midCrashServed = graft.sources.SnapshotStore
                  .readCurrent(s, root).count() == nation.count()
                throw new Boom
              })
            false
          } catch {
            case _: Boom =>
              try {
                graft.sources.SnapshotStore.readAt(s, root, 3L)
                false
              } catch { case _: graft.SnapshotUnavailable => true }
          }
        val compactedToTarget = graft.sources.SnapshotStore
          .compactCurrent(s, root, targetRowsPerFile = 10L) ==
          math.max(1L, (nation.count() + 9L) / 10L).toInt
        val rowsCurrent = graft.sources.SnapshotStore
          .readCurrent(s, root).count()
        import s.implicits._
        Seq((v1Exact, midCrashServed, residueRefused,
          compactedToTarget, rowsCurrent))
          .toDF("v1_timetravel_exact", "crash_never_gapped",
            "residue_refused", "compacted_to_target", "rows_current")
      }
    }),
    // ---- §2.1 S20 manifest table (file-level reuse between ----
    // ---- generations), driver-gated ----
    // outcome contract (q_snapshot_table pattern): a full publish
    // then a PARTITION-SCOPED promotion; the gate asserts on the
    // literal on-disk paths+mtimes that every untouched partition's
    // files were reused (not rewritten), that time travel reproduces
    // gen 1 exactly, that retention with keep=2 prunes the manifest
    // but keeps every file a surviving manifest references (deltas,
    // not full copies), and that the fsck flags a manifest naming a
    // missing file. rows_current is the real oracle row.
    "q_snapshot_manifest" -> ((s, d) => {
      Checkpoints.tempDir("graft-manifest") { tmp =>
        val root = s"$tmp/nation"
        val M = graft.sources.ManifestStore
        val nation = Tables.table(s, d, "nation")
        M.publish(s, nation, root, "n_regionkey",
          Seq(Cleaning.ExpectNotNull("n_nationkey")), keep = 2)
        val fs = Tables.fsFor(s, root)
        def state(gen: Long) = M.manifestAt(s, root, gen).entries
          .map(e => e.relPath -> fs.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))
            .getModificationTime).toMap
        val before = state(1L)
        val v2part = nation.filter(col("n_regionkey") === 2)
          .withColumn("n_name", lit("CHANGED"))
        M.publish(s, v2part, root, "n_regionkey", Nil, keep = 2)
        val after = state(2L)
        val untouched = M.manifestAt(s, root, 2L).entries
          .filter(_.partition != "2").map(_.relPath)
        val untouchedReused = untouched.nonEmpty &&
          untouched.forall(p => before.get(p).contains(after(p)))
        val changedIsNew = M.manifestAt(s, root, 2L).entries
          .filter(_.partition == "2")
          .forall(_.relPath.startsWith("_writes/2/"))
        val v1Exact = M.readAt(s, root, 1L).exceptAll(nation).isEmpty &&
          nation.exceptAll(M.readAt(s, root, 1L)).isEmpty
        // third promotion (region 2 back to the original rows) prunes
        // manifest 1 under keep=2, yet gens 2+3 keep serving gen 1's
        // untouched FILES — retention held a delta, not 2 full copies
        M.publish(s, nation.filter(col("n_regionkey") === 2), root,
          "n_regionkey", Nil, keep = 2)
        val manifest1Pruned =
          try { M.readAt(s, root, 1L); false }
          catch { case _: graft.SnapshotUnavailable => true }
        val deltaRetention = manifest1Pruned &&
          M.manifestAt(s, root, 3L).entries
            .exists(_.relPath.startsWith("_writes/1/")) &&
          M.manifestAt(s, root, 3L).entries.forall(e => fs.exists(
            new org.apache.hadoop.fs.Path(s"$root/${e.relPath}")))
        // the fsck: a manifest naming a GONE file is UNHEALTHY
        val victim = M.manifestAt(s, root, 3L).entries.head.relPath
        val victimBytes = {
          val in = fs.open(new org.apache.hadoop.fs.Path(
            s"$root/$victim"))
          try {
            val buf = new java.io.ByteArrayOutputStream()
            val b = new Array[Byte](8192)
            var n = in.read(b)
            while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
            buf.toByteArray
          } finally in.close()
        }
        require(fs.delete(new org.apache.hadoop.fs.Path(
          s"$root/$victim"), false))
        val missingFlagged = graft.operators.IndexAudit
          .auditManifestTable(s, root)
          .exists(f => f.status == "manifest_missing_file" &&
            !f.healthy)
        val out = fs.create(new org.apache.hadoop.fs.Path(
          s"$root/$victim"), true)
        try out.write(victimBytes) finally out.close()
        require(graft.operators.IndexAudit
          .isManifestTableHealthy(s, root))
        val rowsCurrent = M.readCurrent(s, root).count()
        import s.implicits._
        Seq((untouchedReused, changedIsNew, v1Exact, deltaRetention,
          missingFlagged, rowsCurrent))
          .toDF("untouched_files_reused", "changed_partition_new",
            "v1_timetravel_exact", "retention_holds_deltas",
            "missing_file_unhealthy", "rows_current")
      }
    }),
    // ---- §2.1 S19c time-travel CDC over the snapshot table ----
    // S12's added/removed/changed/unchanged diff applied to two
    // SERVED generations — answerable for any pair inside retention
    // because generations are immutable. The gate publishes the full
    // nation as v1, then a promotion that drops the high regions,
    // renames one surviving row, and lands a batch of new keys; the
    // per-status counts are all data-derived and DuckDB recomputes
    // each from the base table.
    "q_snapshot_diff_gens" -> ((s, d) => {
      Checkpoints.tempDir("graft-snapdiffg") { tmp =>
        val root = s"$tmp/nation"
        val nation = Tables.table(s, d, "nation")
        graft.sources.SnapshotStore.publish(s, nation, root) // gen 1
        val v2 = nation.filter(col("n_regionkey") < 3)
          .withColumn("n_name", when(col("n_nationkey") === 0,
            lit("RENAMED")).otherwise(col("n_name")))
          .unionByName(nation.filter(col("n_regionkey") === 4)
            .withColumn("n_nationkey", col("n_nationkey") + 1000))
        graft.sources.SnapshotStore.publish(s, v2, root) // gen 2
        Checkpoints.truncate(graft.sources.SnapshotStore
          .diff(s, root, 1L, 2L, Seq("n_nationkey"))
          .groupBy(col("change")).agg(count(lit(1)).as("n")))
      }
    }),
    // ---- §2.1 S19b snapshot-table fsck (the A6d family on the ----
    // ---- pointer protocol), driver-gated ----
    // build a real two-generation snapshot table, plant one incident
    // per class — a crashed publish's residue gen (current+1), an
    // impossible future gen (tampering), an interrupted pointer swap
    // (a stage file beside the committed pointer), and a crashed prune's
    // leftover (audited with keep=1 against a keep=3 publish) — and
    // recount the structure-driven status inventory against a literal
    // oracle. Repair runs in-gate behind requires: residue and the
    // stale prune reclaimed, the tampered gen REPORTED never deleted,
    // the serving read untouched throughout, and the audit healthy
    // once the planted damage is lifted.
    "q_snapshot_audit" -> ((s, d) => {
      Checkpoints.tempDir("graft-snapfsck") { tmp =>
        val root = s"$tmp/tbl"
        val nation = Tables.table(s, d, "nation")
        graft.sources.SnapshotStore.publish(s, nation, root, Nil,
          keep = 3) // gen 1
        graft.sources.SnapshotStore.publish(s,
          nation.filter(col("n_regionkey") < 2), root, Nil,
          keep = 3) // gen 2 (serving)
        val fs = Tables.fsFor(s, root)
        def mk(p: String) = {
          require(fs.mkdirs(new org.apache.hadoop.fs.Path(p))); ()
        }
        mk(s"$root/_snapshots/3") // crashed publish residue (cur+1)
        mk(s"$root/_snapshots/9") // impossible future gen
        val stage = graft.sources.MetaSwap.stagePath(
          graft.sources.Generations.pointer(root))
        val out = fs.create(stage, true)
        try out.write("gen=3\n".getBytes("UTF-8")) finally out.close()
        val report = Checkpoints.truncate(graft.operators.IndexAudit
          .auditSnapshotsDf(s, root, keep = 1)
          .groupBy(col("kind"), col("status"), col("healthy"))
          .agg(count(lit(1)).as("n")))
        require(!graft.operators.IndexAudit
          .isSnapshotsHealthy(s, root, keep = 1))
        val acts = graft.operators.IndexAudit
          .repairSnapshots(s, root, keep = 1).collect()
          .map(_.getString(2)).sorted.toSeq
        require(acts == Seq("pruned_over_retained", "reclaimed_residue",
          "reclaimed_swap_residue", "unrepairable_orphan_future"),
          acts.toString)
        require(!fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/_snapshots/3")))
        require(!fs.exists(stage))
        require(fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/_snapshots/9")),
          "repair must never delete tampering evidence")
        // lifting the planted damage restores a healthy audit; the
        // serving generation was untouched through all of it
        require(fs.delete(new org.apache.hadoop.fs.Path(
          s"$root/_snapshots/9"), true))
        require(graft.operators.IndexAudit
          .isSnapshotsHealthy(s, root, keep = 1))
        require(graft.sources.SnapshotStore.readCurrent(s, root)
          .count() ==
          nation.filter(col("n_regionkey") < 2).count())
        report
      }
    }),
    // ---- §2.1 S19d SQL time-travel surface, driver-gated ----
    // S19's readCurrent/readAt reachable from pure SQL: a pinned
    // VERSION-AS-OF temp view and a serving view over a real
    // two-generation table, queried with an aggregate DuckDB
    // recomputes from the base table — the output IS the SQL result,
    // not booleans.
    "q_snapshot_sql" -> ((s, d) => {
      Checkpoints.tempDir("graft-snapsql") { tmp =>
        val root = s"$tmp/nation"
        val nation = Tables.table(s, d, "nation")
        graft.sources.SnapshotStore.publish(s, nation, root) // gen 1
        graft.sources.SnapshotStore.publish(s,
          nation.filter(col("n_regionkey") < 2), root)       // gen 2
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_snap_v1 " +
          s"USING graft.sources.SnapshotSource " +
          s"OPTIONS (path '$root', versionAsOf '1')")
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_snap_cur " +
          s"USING graft.sources.SnapshotSource " +
          s"OPTIONS (path '$root')")
        val out = Checkpoints.truncate(s.sql(
          """SELECT n_regionkey, count(*) AS n_v1,
            |  (SELECT count(*) FROM graft_snap_cur) AS n_current
            |FROM graft_snap_v1 GROUP BY n_regionkey""".stripMargin))
        s.catalog.dropTempView("graft_snap_v1")
        s.catalog.dropTempView("graft_snap_cur")
        out
      }
    }),
    // ---- §2.1 S23 change feed (streaming CDC source), ----
    // ---- driver-gated ----
    // the read complement of the O6d sink: per-promotion diffs served
    // in order behind a persisted cursor. The gate consumes a real
    // two-promotion table from scratch (full-sync bootstrap + one
    // diff), proves restart is a no-op and a crashed handler gets
    // exactly its generation redelivered, and recounts every streamed
    // change class against DuckDB (the q_snapshot_diff_gens shapes,
    // minus `unchanged` — a change feed carries changes).
    "q_snapshot_cdc" -> ((s, d) => {
      Checkpoints.tempDir("graft-cdc-gate") { tmp =>
        val S = graft.sources.SnapshotStore
        val CF = graft.sources.ChangeFeed
        val root = s"$tmp/nation"
        val nation = Tables.table(s, d, "nation")
        S.publish(s, nation, root) // gen 1
        val v2 = nation.filter(col("n_regionkey") < 3)
          .withColumn("n_name", when(col("n_nationkey") === 0,
            lit("RENAMED")).otherwise(col("n_name")))
          .unionByName(nation.filter(col("n_regionkey") === 4)
            .withColumn("n_nationkey", col("n_nationkey") + 1000))
        S.publish(s, v2, root) // gen 2
        val keys = Seq("n_nationkey")
        val seen = scala.collection.mutable.Map
          .empty[Long, Set[org.apache.spark.sql.Row]]
        val p1 = CF.consume(s, root, s"$tmp/ck1", keys,
          (g, df) => { seen(g) = df.collect().toSet; () })
        val fullSyncAdded = p1 == Seq(1L, 2L) &&
          seen(1L).forall(_.getAs[String]("change") == "added")
        val restartNoop = CF.consume(s, root, s"$tmp/ck1", keys,
          (_, _) => throw new RuntimeException("not a no-op")).isEmpty
        // crash redelivery: a handler failing on gen 2 gets exactly
        // that generation's set again on retry
        class Boom extends RuntimeException("injected")
        var first = true
        val crashRedelivers =
          try {
            CF.consume(s, root, s"$tmp/ck2", keys, (g, df) => {
              if (g == 2L && first) { first = false; throw new Boom }
              df.count(); ()
            })
            false
          } catch {
            case _: Boom =>
              val re = scala.collection.mutable.Map
                .empty[Long, Set[org.apache.spark.sql.Row]]
              CF.consume(s, root, s"$tmp/ck2", keys,
                (g, df) => { re(g) = df.collect().toSet; () }) ==
                Seq(2L) && re(2L) == seen(2L)
          }
        val g2 = seen(2L).toSeq
          .groupBy(_.getAs[String]("change"))
          .view.mapValues(_.size.toLong).toMap
        import s.implicits._
        Seq((fullSyncAdded, restartNoop, crashRedelivers,
          seen(1L).size.toLong,
          g2.getOrElse("added", 0L), g2.getOrElse("changed", 0L),
          g2.getOrElse("removed", 0L)))
          .toDF("full_sync_added", "restart_noop",
            "crash_redelivers_exact", "n_bootstrap", "n_added",
            "n_changed", "n_removed")
      }
    }),
    // ---- §2.1 S23b change feed as a readStream SOURCE, ----
    // ---- driver-gated ----
    // the `graft-cdf` form of S23: offsets ARE generation numbers, so
    // Spark's checkpointed offset log replaces the hand-rolled
    // cursor and the feed composes with the whole streaming operator
    // set. The gate drains a real two-promotion table (full-sync
    // bootstrap + one diff), proves a checkpointed restart delivers
    // nothing, proves startGen serves diffs-only, and recounts every
    // streamed change class against DuckDB (the q_snapshot_cdc
    // shapes).
    "q_stream_cdf" -> ((s, d) => {
      Checkpoints.tempDir("graft-cdfgate") { tmp =>
        val S = graft.sources.SnapshotStore
        val root = s"$tmp/nation"
        val nation = Tables.table(s, d, "nation")
        S.publish(s, nation, root) // gen 1
        val v2 = nation.filter(col("n_regionkey") < 3)
          .withColumn("n_name", when(col("n_nationkey") === 0,
            lit("RENAMED")).otherwise(col("n_name")))
          .unionByName(nation.filter(col("n_regionkey") === 4)
            .withColumn("n_nationkey", col("n_nationkey") + 1000))
        S.publish(s, v2, root) // gen 2
        def drain(ck: String, startGen: Option[Long])
            : Map[Long, Seq[String]] = {
          val buf = scala.collection.mutable.Map
            .empty[Long, Seq[String]]
          val reader = s.readStream.format("graft-cdf")
            .option("keys", "n_nationkey")
          val q = startGen.fold(reader)(g =>
            reader.option("startGen", g.toString)).load(root)
            .writeStream.option("checkpointLocation", ck)
            .foreachBatch {
              (df: org.apache.spark.sql.DataFrame, _: Long) =>
                df.collect()
                  .groupBy(_.getAs[Long]("graft_gen"))
                  .foreach { case (g, rs) =>
                    buf(g) = buf.getOrElse(g, Seq.empty) ++
                      rs.map(_.getAs[String]("change")) }
            }.start()
          q.processAllAvailable()
          q.stop()
          buf.toMap
        }
        val first = drain(s"$tmp/ck1", None)
        val fullSyncAdded = first(1L).forall(_ == "added")
        val restartNoop = drain(s"$tmp/ck1", None).isEmpty
        // a "from gen 1" consumer skips the bootstrap and gets
        // exactly promotion 2's diff
        val fromG1 = drain(s"$tmp/ck2", Some(1L))
        val startgenDiffsOnly = fromG1.keySet == Set(2L) &&
          fromG1(2L).sorted == first(2L).sorted
        val g2 = first(2L).groupBy(identity)
          .view.mapValues(_.size.toLong).toMap
        import s.implicits._
        Seq((fullSyncAdded, restartNoop, startgenDiffsOnly,
          first(1L).size.toLong,
          g2.getOrElse("added", 0L), g2.getOrElse("changed", 0L),
          g2.getOrElse("removed", 0L)))
          .toDF("full_sync_added", "restart_noop",
            "startgen_diffs_only", "n_bootstrap", "n_added",
            "n_changed", "n_removed")
      }
    }),
    // ---- §2.1 S24 manifest-list layer (two-level metadata), ----
    // ---- driver-gated ----
    // the data layer's reuse trick applied to the METADATA layer: a
    // generation file lists per-group manifests, a partition-scoped
    // promotion writes only the touched groups' manifests (untouched
    // groups carry by REFERENCE into earlier generations' files), and
    // a partition-scoped read parses O(touched groups) of metadata.
    // The gate asserts the literal group-file reuse and the
    // one-group-parse contract; rows_current is the real oracle row.
    "q_manifest_list" -> ((s, d) => {
      Checkpoints.tempDir("graft-manilist") { tmp =>
        val root = s"$tmp/nation"
        val M = graft.sources.ManifestStore
        val nation = Tables.table(s, d, "nation")
        M.publish(s, nation, root, "n_regionkey", manifestGroups = 4)
        val lg1 = M.genFileAt(s, root, 1L)
          .asInstanceOf[graft.sources.ManifestStore.ListGen]
        val v2part = nation.filter(col("n_regionkey") === 2)
          .withColumn("n_name", lit("CHANGED"))
        M.publish(s, v2part, root, "n_regionkey")
        val lg2 = M.genFileAt(s, root, 2L)
          .asInstanceOf[graft.sources.ManifestStore.ListGen]
        val g2 = graft.sources.ManifestStore.groupOf("2", 4)
        // untouched groups: the REFERENCE strings carry verbatim and
        // still point into gen 1's group dir — nothing was reparsed
        // or rewritten at the metadata layer either
        val refsReused = lg2.refs.filter(_.group != g2).nonEmpty &&
          lg2.refs.filter(_.group != g2).forall(r =>
            r.relPath.startsWith("_manifests/1.d/") &&
              lg1.refs.find(_.group == r.group)
                .exists(_.relPath == r.relPath)) &&
          lg2.refs.find(_.group == g2)
            .exists(_.relPath == s"_manifests/2.d/$g2")
        val oneGroupParse =
          M.scopedGroupPaths(lg2, Seq("2")).size == 1
        val partRead = M.readPartitions(s, root, Seq("2"))
        val partExact = partRead.exceptAll(v2part).isEmpty &&
          v2part.exceptAll(partRead).isEmpty
        val v1Exact = M.readAt(s, root, 1L).exceptAll(nation).isEmpty &&
          nation.exceptAll(M.readAt(s, root, 1L)).isEmpty
        // third promotion restores region 2 — the serving table is
        // the full base again (the q_snapshot_manifest recount shape)
        M.publish(s, nation.filter(col("n_regionkey") === 2), root,
          "n_regionkey")
        val healthy = graft.operators.IndexAudit
          .isManifestTableHealthy(s, root)
        val rowsCurrent = M.readCurrent(s, root).count()
        import s.implicits._
        Seq((refsReused, oneGroupParse, partExact, v1Exact, healthy,
          rowsCurrent))
          .toDF("group_refs_reused", "single_group_parse",
            "partition_read_exact", "v1_timetravel_exact",
            "fsck_healthy", "rows_current")
      }
    }),
    // ---- §2.1 S19e TIME-based travel (timestampAsOf), ----
    // ---- driver-gated ----
    // both pointer-served table kinds resolve "as of instant T" to
    // the newest generation published at-or-before T (publish
    // instants are recorded per gen — _published_at / published=);
    // the SQL surface pins a timestampAsOf view the same way. A T
    // before every retained publish refuses typed. n_at_t1 and
    // n_current are the real oracle rows (DuckDB recounts both).
    "q_snapshot_ts" -> ((s, d) => {
      Checkpoints.tempDir("graft-snapts") { tmp =>
        val S = graft.sources.SnapshotStore
        val M = graft.sources.ManifestStore
        val snapRoot = s"$tmp/nation"
        val maniRoot = s"$tmp/mani"
        val nation = Tables.table(s, d, "nation")
        val preT = System.currentTimeMillis() - 1L
        S.publish(s, nation, snapRoot) // gen 1
        Thread.sleep(5)
        val t1 = System.currentTimeMillis()
        Thread.sleep(5)
        S.publish(s, nation.filter(col("n_regionkey") < 2),
          snapRoot) // gen 2
        val nAtT1 = S.readAsOfTimestamp(s, snapRoot, t1).count()
        val nNow = S.readAsOfTimestamp(s, snapRoot,
          System.currentTimeMillis()).count()
        val currentMatches =
          nNow == S.readCurrent(s, snapRoot).count()
        // an instant before the first retained publish refuses typed
        val preRefused =
          try { S.readAsOfTimestamp(s, snapRoot, preT); false }
          catch { case _: graft.SnapshotUnavailable => true }
        // the manifest kind resolves time through published= headers
        M.publish(s, nation, maniRoot, "n_regionkey")
        Thread.sleep(5)
        val t2 = System.currentTimeMillis()
        Thread.sleep(5)
        M.publish(s, nation.filter(col("n_regionkey") === 2)
          .withColumn("n_name", lit("CHANGED")), maniRoot,
          "n_regionkey")
        val maniResolves =
          M.readAsOfTimestamp(s, maniRoot, t2).count() ==
            nation.count() &&
          M.genAsOfTimestamp(s, maniRoot,
            System.currentTimeMillis()) == 2L
        // SQL: a timestampAsOf view is pinned to the resolved gen
        s.sql("CREATE OR REPLACE TEMPORARY VIEW graft_snap_ts " +
          s"USING graft.sources.SnapshotSource " +
          s"OPTIONS (path '$snapRoot', timestampAsOf '$t1')")
        val sqlPinned = s.sql(
          "SELECT count(*) FROM graft_snap_ts").head().getLong(0) ==
          nAtT1
        s.catalog.dropTempView("graft_snap_ts")
        import s.implicits._
        Seq((preRefused, currentMatches, maniResolves, sqlPinned,
          nAtT1, nNow))
          .toDF("pre_publish_refused", "now_resolves_current",
            "manifest_ts_resolves", "sql_ts_pinned", "n_at_t1",
            "n_current")
      }
    }),
    // ---- §2.1 S21 row-level DELETE on the manifest table, ----
    // ---- driver-gated ----
    // outcome contract (q_snapshot_manifest pattern): a takedown
    // predicate touching ONE partition rewrites only it (untouched
    // files byte-identical by literal path+mtime), a predicate that
    // empties a partition drops it from the manifest instead of
    // resurrecting its files, pre-delete generations stay
    // time-travelable, and the fsck stays healthy. n_rows_current is
    // the real oracle row — DuckDB recomputes the post-delete table
    // from orders.
    "q_manifest_delete" -> ((s, d) => {
      Checkpoints.tempDir("graft-manidel") { tmp =>
        val root = s"$tmp/orders"
        val M = graft.sources.ManifestStore
        val orders = Tables.table(s, d, "orders")
          .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
        M.publish(s, orders, root, "o_year")
        val fs = Tables.fsFor(s, root)
        def state(g: Long) = M.manifestAt(s, root, g).entries
          .map(e => e.relPath -> fs.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))
            .getModificationTime).toMap
        val before = state(1L)
        // the takedown: 1996's F-status rows — only 1996's partition
        // may be rewritten
        M.deleteWhere(s, root, col("o_year") === "1996" &&
          col("o_orderstatus") === "F")
        val after = state(2L)
        val untouched = M.manifestAt(s, root, 2L).entries
          .filter(_.partition != "1996").map(_.relPath)
        val untouchedReused = untouched.nonEmpty &&
          untouched.forall(p => before.get(p).contains(after(p)))
        // a delete that empties 2001 entirely must DROP the partition
        // from the manifest, not resurrect its old files
        M.deleteWhere(s, root, col("o_year") === "2001")
        val emptiedDropped = M.manifestAt(s, root, 3L).entries
          .forall(_.partition != "2001")
        val timetravelIntact =
          M.readAt(s, root, 1L).count() == orders.count()
        val healthy = graft.operators.IndexAudit
          .isManifestTableHealthy(s, root)
        val nCur = M.readCurrent(s, root).count()
        import s.implicits._
        Seq((untouchedReused, emptiedDropped, timetravelIntact,
          healthy, nCur))
          .toDF("untouched_files_reused", "emptied_partition_dropped",
            "timetravel_intact", "fsck_healthy", "n_rows_current")
      }
    }),
    // ---- §2.1 S37 MERGE-ON-READ delete (deletion vectors), ----
    // ---- driver-gated ----
    // outcome contract: a sparse takedown lands as position delete
    // files with EVERY data file byte-identical (path+mtime — not
    // one partition rewrites), reads/CDC/time travel see the
    // DV-applied rows, the fsck stays healthy, and OPTIMIZE folds
    // the vectors back into plain data files. n_rows_current is the
    // real oracle row — DuckDB recomputes the post-delete table.
    "q_manifest_dv" -> ((s, d) => {
      Checkpoints.tempDir("graft-manidv") { tmp =>
        val root = s"$tmp/orders"
        val M = graft.sources.ManifestStore
        val orders = Tables.table(s, d, "orders")
          .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
        M.publish(s, orders, root, "o_year")
        val fs = Tables.fsFor(s, root)
        def mtime(rel: String) = fs.getFileStatus(
          new org.apache.hadoop.fs.Path(s"$root/$rel"))
          .getModificationTime
        val before = M.manifestAt(s, root, 1L).entries
          .map(e => e.relPath -> mtime(e.relPath)).toMap
        // the sparse takedown: a handful of keys across partitions —
        // merge-on-read, so NO data file may be rewritten
        M.deleteWhereMor(s, root, col("o_orderkey") % 997 === 0)
        val m2 = M.manifestAt(s, root, 2L)
        val (dv2, data2) = m2.entries.partition(M.isDeleteEntry)
        val dataByteIdentical =
          data2.map(_.relPath).toSet == before.keySet &&
            data2.forall(e => before(e.relPath) == mtime(e.relPath))
        val dvAdded = dv2.nonEmpty
        val nDeleted = orders.filter(col("o_orderkey") % 997 === 0)
          .count()
        // the change feed sees exactly the removed rows
        val cdfRemovedExact = graft.sources.ChangeFeed
          .changesAt(s, root, 2L, Seq("o_orderkey"))
          .filter(col("change") === "removed").count() == nDeleted
        val timetravelIntact =
          M.readAt(s, root, 1L).count() == orders.count()
        // a second, partition-dense DV delete stacks on the first
        M.deleteWhereMor(s, root, col("o_year") === "1996" &&
          col("o_orderstatus") === "F")
        val healthyWithDv = graft.operators.IndexAudit
          .isManifestTableHealthy(s, root)
        // OPTIMIZE folds the vectors into plain data files
        M.compactSmallPartitions(s, root,
          targetBytesPerFile = 1L << 30)
        val curGen = M.currentGen(s, root).get
        val dvFolded = M.manifestAt(s, root, curGen).entries
          .forall(e => !M.isDeleteEntry(e))
        val nCur = M.readCurrent(s, root).count()
        import s.implicits._
        Seq((dataByteIdentical, dvAdded, cdfRemovedExact,
          timetravelIntact, healthyWithDv, dvFolded, nCur))
          .toDF("data_files_byte_identical", "dv_entries_added",
            "cdf_removed_exact", "timetravel_intact",
            "fsck_healthy_with_dv", "dv_folded_by_compaction",
            "n_rows_current")
      }
    }),
    // ---- §2.1 S40 metadata-only column RENAME, driver-gated ----
    // the name mapping: one manifest publish renames the column with
    // every data file byte-identical; old files serve under the NEW
    // name (per-era footer resolution), pre-rename generations
    // time-travel under their own schema, DML binds the new name,
    // and the fsck stays healthy. DuckDB recomputes rows + the
    // post-update revenue under the renamed column.
    "q_manifest_rename" -> ((s, d) => {
      Checkpoints.tempDir("graft-maniren") { tmp =>
        val root = s"$tmp/orders"
        val M = graft.sources.ManifestStore
        val orders = Tables.table(s, d, "orders")
          .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
        M.publish(s, orders, root, "o_year")
        val fs = Tables.fsFor(s, root)
        def state(g: Long) = M.manifestAt(s, root, g).entries
          .map(e => e.relPath -> fs.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))
            .getModificationTime).toMap
        val before = state(1L)
        M.renameColumn(s, root, "o_totalprice", "price")
        val dataIdentical = state(2L) == before
        val timetravelOldSchema =
          M.readAt(s, root, 1L).schema == orders.schema
        // DML binds the NEW name over files carrying the OLD one:
        // 1996 reprices ×0.90 in exact decimal
        M.updateWhere(s, root, col("o_year") === "1996",
          Seq("price" -> round(
            col("price").cast("decimal(18,2)") *
              lit("0.90").cast("decimal(3,2)"), 2)))
        val healthy = graft.operators.IndexAudit
          .isManifestTableHealthy(s, root)
        val agg = M.readCurrent(s, root).agg(
          count(lit(1)).as("n"),
          round(sum(col("price").cast("decimal(18,2)")), 2)
            .cast("double").as("r")).head()
        import s.implicits._
        Seq((dataIdentical, timetravelOldSchema, healthy,
          agg.getLong(0), agg.getDouble(1)))
          .toDF("data_files_byte_identical", "timetravel_old_schema",
            "fsck_healthy", "n_rows", "revenue")
      }
    }),
    // ---- §2.1 S21b row-level UPDATE on the manifest table, ----
    // ---- driver-gated ----
    // the DML triad's third leg: assignments evaluate against the
    // row's OLD values (SQL UPDATE semantics, pinned by the swap-like
    // o_totalprice/o_shipprio pair below), only partitions holding
    // matched rows rewrite (untouched files byte-identical by literal
    // path+mtime), pre-update generations stay time-travelable, and
    // the fsck stays healthy. The aggregate row is the real oracle —
    // DuckDB recomputes the post-update table with CASE WHEN.
    "q_manifest_update" -> ((s, d) => {
      Checkpoints.tempDir("graft-maniupd") { tmp =>
        val root = s"$tmp/orders"
        val M = graft.sources.ManifestStore
        val orders = Tables.table(s, d, "orders")
          .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
        M.publish(s, orders, root, "o_year")
        val fs = Tables.fsFor(s, root)
        def state(g: Long) = M.manifestAt(s, root, g).entries
          .map(e => e.relPath -> fs.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))
            .getModificationTime).toMap
        val before = state(1L)
        // the update: 1996's URGENT orders get a 10% price cut and
        // their priority stamped — both RHSs read OLD values, and
        // only 1996's partition may be rewritten
        M.updateWhere(s, root,
          col("o_year") === "1996" && col("o_orderpriority")
            .startsWith("1"),
          Seq(
            // decimal arithmetic end-to-end: exact in both engines,
            // so the 10% reprice can't drift on an IEEE tie
            "o_totalprice" -> round(
              col("o_totalprice").cast("decimal(18,2)") *
                lit("0.90").cast("decimal(3,2)"), 2),
            "o_orderpriority" -> lit("9-REPRICED")))
        val after = state(2L)
        val untouched = M.manifestAt(s, root, 2L).entries
          .filter(_.partition != "1996").map(_.relPath)
        val untouchedReused = untouched.nonEmpty &&
          untouched.forall(p => before.get(p).contains(after(p)))
        val timetravelIntact = M.readAt(s, root, 1L)
          .agg(round(sum(col("o_totalprice")
            .cast("decimal(18,2)")), 2)).head().getDecimal(0) ==
          orders.agg(round(sum(col("o_totalprice")
            .cast("decimal(18,2)")), 2)).head().getDecimal(0)
        val healthy = graft.operators.IndexAudit
          .isManifestTableHealthy(s, root)
        val agg = M.readCurrent(s, root).agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").as("p"),
          count(when(col("o_orderpriority") === "9-REPRICED",
            lit(1))).as("u")).head()
        import s.implicits._
        Seq((untouchedReused, timetravelIntact, healthy,
          agg.getLong(0), agg.getDouble(1), agg.getLong(2)))
          .toDF("untouched_files_reused", "timetravel_intact",
            "fsck_healthy", "n_rows_current", "revenue_after",
            "n_updated")
      }
    }),
    // ---- §2.1 S28 SQL DML on pointer-served tables, driver-gated ----
    // the statement-level write surface: DELETE FROM / UPDATE /
    // MERGE INTO against a `graft-snapshot` view route through the
    // injected parser (GraftExtensions → GraftSqlParser) to the
    // manifest-table DML ops, each returning the committed gen. The
    // gate drives all three through spark.sql on a real table,
    // asserts the partition-scoped contract held (untouched files
    // byte-identical after the DELETE), and DuckDB recomputes the
    // final table from orders (delete → decimal reprice → canonical
    // upsert with deterministic key-sampled source).
    "q_sql_dml" -> ((s, d) => {
      Checkpoints.tempDir("graft-sqldml") { tmp =>
        val root = s"$tmp/orders"
        val M = graft.sources.ManifestStore
        val orders = Tables.table(s, d, "orders")
          .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
        M.publish(s, orders, root, "o_year")
        val fs = Tables.fsFor(s, root)
        def state(g: Long) = M.manifestAt(s, root, g).entries
          .map(e => e.relPath -> fs.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))
            .getModificationTime).toMap
        val before = state(1L)
        s.sql("CREATE OR REPLACE TEMPORARY VIEW sql_dml_t USING " +
          s"`graft-snapshot` OPTIONS (path '$root')")
        val delGen = s.sql("DELETE FROM sql_dml_t WHERE " +
          "o_year = '1996' AND o_orderstatus = 'F'").head().getLong(0)
        val after = state(2L)
        val untouched = M.manifestAt(s, root, 2L).entries
          .filter(_.partition != "1996").map(_.relPath)
        val untouchedReused = untouched.nonEmpty &&
          untouched.forall(p => before.get(p).contains(after(p)))
        val updGen = s.sql("UPDATE sql_dml_t SET o_totalprice = " +
          "round(cast(o_totalprice as decimal(18,2)) * " +
          "cast(0.95 as decimal(3,2)), 2) " +
          "WHERE o_year = '1997' AND o_orderpriority LIKE '2%'")
          .head().getLong(0)
        // canonical upsert: matched rows re-land with status 'M',
        // key-shifted copies insert — the source is key-sampled
        // (o_orderkey % 997) so DuckDB can rebuild it exactly
        val src = M.readCurrent(s, root)
          .filter(col("o_orderkey") % 997 === 0)
          .withColumn("o_orderstatus", lit("M"))
        // insert keys NEGATED: provably outside the key domain at
        // every scale factor (an additive shift collides with sf1's
        // replicated key ranges and silently turns inserts into
        // matches)
        src.unionByName(src.withColumn("o_orderkey",
          -col("o_orderkey")))
          .createOrReplaceTempView("sql_dml_src")
        val mrgGen = s.sql("MERGE INTO sql_dml_t t USING sql_dml_src " +
          "s ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *").head().getLong(0)
        val gensAdvance = delGen == 2L && updGen == 3L && mrgGen == 4L
        val healthy = graft.operators.IndexAudit
          .isManifestTableHealthy(s, root)
        val agg = M.readCurrent(s, root).agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").as("p"),
          count(when(col("o_orderstatus") === "M", lit(1))).as("m"))
          .head()
        s.catalog.dropTempView("sql_dml_t")
        s.catalog.dropTempView("sql_dml_src")
        import s.implicits._
        Seq((untouchedReused, gensAdvance, healthy,
          agg.getLong(0), agg.getDouble(1), agg.getLong(2)))
          .toDF("untouched_files_reused", "sql_returns_gen",
            "fsck_healthy", "n_rows", "revenue", "n_status_m")
      }
    }),
    // ---- §2.1 S28b GENERAL SQL MERGE (CDC apply), driver-gated ----
    // the full MERGE grammar Delta/Iceberg users write: conditional
    // WHEN MATCHED clauses (update vs delete by row state),
    // column-list assignments, a conditional INSERT of a THIN source,
    // and WHEN NOT MATCHED BY SOURCE THEN DELETE — executed by
    // ManifestStore.mergeInto as ONE generation commit. The source is
    // key-sampled + negated-key closed form so DuckDB rebuilds the
    // whole apply; partitions no clause touches must carry
    // byte-identical.
    "q_sql_merge" -> ((s, d) => {
      Checkpoints.tempDir("graft-sqlmerge") { tmp =>
        val root = s"$tmp/orders"
        val M = graft.sources.ManifestStore
        val orders = Tables.table(s, d, "orders")
          .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
        M.publish(s, orders, root, "o_year")
        val fs = Tables.fsFor(s, root)
        def state(g: Long) = M.manifestAt(s, root, g).entries
          .map(e => e.relPath -> fs.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))
            .getModificationTime).toMap
        val before = state(1L)
        s.sql("CREATE OR REPLACE TEMPORARY VIEW sql_mrg_t USING " +
          s"`graft-snapshot` OPTIONS (path '$root')")
        // the CDC batch: 1996-1998 key-sampled rows (update/delete by
        // status) + their negated keys (conditional inserts) — key 0
        // excluded (its negation is itself); the other years stay
        // untouched except the BY SOURCE retirement in 2000
        val src = M.readCurrent(s, root)
          .filter(col("o_orderkey") % 499 === 0 &&
            col("o_orderkey") > 0 &&
            col("o_year").between("1996", "1998"))
          .select(col("o_orderkey"),
            round(col("o_totalprice").cast("decimal(18,2)") * 2, 2)
              .as("newprice"),
            col("o_year"))
        src.unionByName(src.select(
          (-col("o_orderkey")).as("o_orderkey"), col("newprice"),
          col("o_year")))
          .createOrReplaceTempView("sql_mrg_src")
        val g = s.sql("MERGE INTO sql_mrg_t t USING sql_mrg_src s " +
          "ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED AND t.o_orderstatus = 'F' THEN UPDATE SET " +
          "o_totalprice = s.newprice, o_orderpriority = 'CDC' " +
          "WHEN MATCHED THEN DELETE " +
          "WHEN NOT MATCHED AND s.o_orderkey % 2 = 0 THEN INSERT " +
          "(o_orderkey, o_year, o_totalprice) VALUES " +
          "(s.o_orderkey, s.o_year, s.newprice) " +
          "WHEN NOT MATCHED BY SOURCE AND o_year = '2000' AND " +
          "o_orderkey % 10 = 0 THEN DELETE").head().getLong(0)
        val oneGeneration = g == 2L
        val after = state(2L)
        val untouched = M.manifestAt(s, root, 2L).entries
          .filterNot(e => (e.partition >= "1996" &&
            e.partition <= "1998") || e.partition == "2000")
          .map(_.relPath)
        val untouchedReused = untouched.nonEmpty &&
          untouched.forall(p => before.get(p).contains(after(p)))
        val healthy = graft.operators.IndexAudit
          .isManifestTableHealthy(s, root)
        val agg = M.readCurrent(s, root).agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").as("p"),
          count(when(col("o_orderpriority") === "CDC", lit(1)))
            .as("c"),
          count(when(col("o_orderkey") < 0, lit(1))).as("i")).head()
        s.catalog.dropTempView("sql_mrg_t")
        s.catalog.dropTempView("sql_mrg_src")
        import s.implicits._
        Seq((untouchedReused, oneGeneration, healthy,
          agg.getLong(0), agg.getDouble(1), agg.getLong(2),
          agg.getLong(3)))
          .toDF("untouched_files_reused", "one_generation",
            "fsck_healthy", "n_rows", "revenue", "n_cdc", "n_inserted")
      }
    }),
    // ---- §2.1 S33 SQL INSERT INTO (append), driver-gated ----
    // the fourth DML verb: INSERT INTO a graft view appends through
    // ManifestStore.append — ONLY the partitions the new rows land in
    // rewrite (existing rows union the new ones), everything else
    // rides byte-identical; a column list NULL-fills the unnamed
    // columns. Sources are closed-form (key-negated slices of the
    // table itself) so DuckDB recounts the final state.
    "q_sql_insert" -> ((s, d) => {
      Checkpoints.tempDir("graft-sqlins") { tmp =>
        val root = s"$tmp/orders"
        val M = graft.sources.ManifestStore
        val orders = Tables.table(s, d, "orders")
          .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
        M.publish(s, orders, root, "o_year")
        val fs = Tables.fsFor(s, root)
        def state(g: Long) = M.manifestAt(s, root, g).entries
          .map(e => e.relPath -> fs.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))
            .getModificationTime).toMap
        val before = state(1L)
        s.sql("CREATE OR REPLACE TEMPORARY VIEW sql_ins_t USING " +
          s"`graft-snapshot` OPTIONS (path '$root')")
        // positional full-width append: 1996's rows re-land
        // key-negated with priority NEW — only 1996 may rewrite
        val g1 = s.sql("INSERT INTO sql_ins_t " +
          "SELECT -o_orderkey, o_custkey, 'N', o_totalprice, " +
          "o_orderdate, 'NEW', o_year FROM sql_ins_t " +
          "WHERE o_year = '1996' AND o_orderkey > 0")
          .head().getLong(0)
        val after = state(2L)
        val untouched = M.manifestAt(s, root, 2L).entries
          .filter(_.partition != "1996").map(_.relPath)
        val untouchedReused = untouched.nonEmpty &&
          untouched.forall(p => before.get(p).contains(after(p)))
        // column-list append: unnamed columns land NULL (the
        // key shift keeps the new keys disjoint from the first batch)
        val g2 = s.sql("INSERT INTO sql_ins_t (o_orderkey, o_year) " +
          "SELECT -(o_orderkey + 3000000), o_year FROM sql_ins_t " +
          "WHERE o_year = '1997' AND o_orderkey > 0")
          .head().getLong(0)
        val gensAdvance = g1 == 2L && g2 == 3L
        val healthy = graft.operators.IndexAudit
          .isManifestTableHealthy(s, root)
        val agg = M.readCurrent(s, root).agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").as("p"),
          count(when(col("o_orderpriority") === "NEW", lit(1)))
            .as("w"),
          count(when(col("o_totalprice").isNull, lit(1))).as("z"))
          .head()
        s.catalog.dropTempView("sql_ins_t")
        import s.implicits._
        Seq((untouchedReused, gensAdvance, healthy,
          agg.getLong(0), agg.getDouble(1), agg.getLong(2),
          agg.getLong(3)))
          .toDF("untouched_files_reused", "sql_returns_gen",
            "fsck_healthy", "n_rows", "revenue", "n_new",
            "n_nullfilled")
      }
    }),
    // ---- §2.1 S34 DSv2 TableCatalog, driver-gated ----
    // the temp-view ceremony removed: CREATE NAMESPACE / CREATE TABLE
    // PARTITIONED BY / INSERT INTO / UPDATE / DELETE / SELECT with
    // native VERSION AS OF + TIMESTAMP AS OF, all through spark.sql
    // on `catalog.ns.table` identifiers (GraftCatalog resolves
    // metadata; GraftCatalogRule swaps reads onto the S32
    // stats-pruned relation; DML rides the S28/S33 parser routes).
    // DuckDB recomputes the insert→update→delete trajectory.
    "q_sql_catalog" -> ((s, d) => {
      Checkpoints.tempDir("graft-sqlcat") { tmp =>
        // catalog instances cache by NAME per session — derive a fresh
        // name from the temp dir so re-runs never see a stale warehouse
        val cat = "gcat" + tmp.replaceAll("[^0-9a-zA-Z]", "")
          .takeRight(8)
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp)
        s.sql(s"CREATE NAMESPACE $cat.gold")
        s.sql(s"CREATE TABLE $cat.gold.orders (" +
          "o_orderkey BIGINT, o_custkey BIGINT, " +
          "o_orderstatus STRING, o_totalprice DOUBLE, " +
          "o_orderpriority STRING, o_year STRING) " +
          "PARTITIONED BY (o_year)")
        val listed = s.sql(s"SHOW TABLES IN $cat.gold").collect()
          .exists(_.getString(1) == "orders")
        Tables.table(s, d, "orders")
          .withColumn("o_year", date_format(col("o_orderdate"),
            "yyyy"))
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), col("o_totalprice"),
            col("o_orderpriority"), col("o_year"))
          .createOrReplaceTempView("cat_src")
        val g1 = s.sql(s"INSERT INTO $cat.gold.orders " +
          "SELECT * FROM cat_src").head().getLong(0)
        val g2 = s.sql(s"UPDATE $cat.gold.orders SET o_totalprice = " +
          "round(cast(o_totalprice as decimal(18,2)) * " +
          "cast(0.95 as decimal(3,2)), 2) " +
          "WHERE o_year = '1997' AND o_orderpriority LIKE '2%'")
          .head().getLong(0)
        val g3 = s.sql(s"DELETE FROM $cat.gold.orders WHERE " +
          "o_year = '1996' AND o_orderstatus = 'F'").head().getLong(0)
        val gens = g1 == 2L && g2 == 3L && g3 == 4L
        // native time travel: the pre-update state by GENERATION and
        // the serving state by a future TIMESTAMP
        val nV2 = s.sql(s"SELECT count(*) AS n FROM $cat.gold.orders " +
          "VERSION AS OF 2").head().getLong(0)
        val nNow = s.sql(
          s"SELECT count(*) AS n FROM $cat.gold.orders")
          .head().getLong(0)
        val tsServes = s.sql(s"SELECT count(*) AS n FROM " +
          s"$cat.gold.orders TIMESTAMP AS OF '2050-01-01'")
          .head().getLong(0) == nNow
        val rev = s.sql("SELECT cast(round(sum(" +
          "cast(o_totalprice as decimal(18,2))), 2) as double) AS r " +
          s"FROM $cat.gold.orders").head().getDouble(0)
        val healthy = graft.operators.IndexAudit
          .isManifestTableHealthy(s, s"$tmp/gold/orders")
        // ---- CTAS: one statement, the rows ARE generation 1 ----
        s.sql(s"CREATE TABLE $cat.gold.byyear PARTITIONED BY " +
          s"(o_year) AS SELECT o_year, o_orderkey, o_totalprice " +
          s"FROM $cat.gold.orders")
        val byyearRoot = s"$tmp/gold/byyear"
        val M = graft.sources.ManifestStore
        val ctasOneGen = M.currentGen(s, byyearRoot).contains(1L)
        val nCtas = s.sql(s"SELECT count(*) FROM $cat.gold.byyear")
          .head().getLong(0)
        // ---- ALTER ADD COLUMNS: the S29 widening publish, ----
        // ---- metadata-only (files byte-identical) ----
        val fsB = Tables.fsFor(s, byyearRoot)
        def mt(g: Long) = M.manifestAt(s, byyearRoot, g).entries
          .map(e => e.relPath -> fsB.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$byyearRoot/${e.relPath}"))
            .getModificationTime).toMap
        val preAlter = mt(1L)
        s.sql(s"ALTER TABLE $cat.gold.byyear ADD COLUMNS " +
          "(o_note STRING)")
        val alterMetadataOnly = mt(2L) == preAlter
        val alterBackfills = s.sql(s"SELECT count(*) FROM " +
          s"$cat.gold.byyear WHERE o_note IS NULL").head()
          .getLong(0) == nCtas
        // ---- writer-V2: dynamic partition overwrite carries ----
        // ---- untouched partitions byte-identical ----
        val preOv = mt(2L)
        s.table(s"$cat.gold.byyear")
          .filter(col("o_year") === "1997")
          .withColumn("o_note", lit("OV"))
          .writeTo(s"$cat.gold.byyear").overwritePartitions()
        val postOv = mt(3L)
        val ovCarried = M.manifestAt(s, byyearRoot, 3L).entries
          .filter(_.partition != "1997").map(_.relPath)
        val overwriteCarries = ovCarried.nonEmpty &&
          ovCarried.forall(p => preOv.get(p).contains(postOv(p)))
        val nOv1997 = s.sql(s"SELECT count(*) FROM $cat.gold.byyear " +
          "WHERE o_note = 'OV'").head().getLong(0)
        // ---- writer-V2 append ----
        import s.implicits._
        Seq(("1996", -1L, 0.0, "APPENDED"))
          .toDF("o_year", "o_orderkey", "o_totalprice", "o_note")
          .writeTo(s"$cat.gold.byyear").append()
        val nAfterAppend = s.sql(
          s"SELECT count(*) FROM $cat.gold.byyear").head().getLong(0)
        s.catalog.dropTempView("cat_src")
        Seq((listed, gens, tsServes, healthy, ctasOneGen,
          alterMetadataOnly, alterBackfills, overwriteCarries,
          nV2, nNow, rev, nCtas, nOv1997, nAfterAppend))
          .toDF("table_listed", "sql_returns_gen",
            "timestamp_as_of_serves", "fsck_healthy", "ctas_one_gen",
            "alter_metadata_only", "alter_backfills",
            "overwrite_carries", "n_version2", "n_rows", "revenue",
            "n_ctas", "n_overwritten_1997", "n_after_append")
      }
    }),
    // ---- §2.1 S29 manifest-table schema evolution, driver-gated ----
    // the S14 contract pinned INSIDE S20: a partial publish may WIDEN
    // — carried old-schema files serve null-backfilled through the
    // new generation's one recorded DDL (parquet by-name resolution),
    // untouched partitions byte-identical — while a drop/rename/
    // re-type refuses typed (graft.SchemaMismatch; replaceAll is the
    // honest rebuild). DuckDB recomputes rows/flags/revenue from
    // orders.
    "q_manifest_evolution" -> ((s, d) => {
      Checkpoints.tempDir("graft-manievol") { tmp =>
        val root = s"$tmp/orders"
        val M = graft.sources.ManifestStore
        val orders = Tables.table(s, d, "orders")
          .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
        M.publish(s, orders, root, "o_year")
        val fs = Tables.fsFor(s, root)
        def state(g: Long) = M.manifestAt(s, root, g).entries
          .map(e => e.relPath -> fs.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))
            .getModificationTime).toMap
        val before = state(1L)
        // WIDEN: only 1996 re-publishes, carrying the new column
        val widened = orders.filter(col("o_year") === "1996")
          .withColumn("o_flag", lit("W"))
        M.publish(s, widened, root, "o_year")
        val after = state(2L)
        val untouched = M.manifestAt(s, root, 2L).entries
          .filter(_.partition != "1996").map(_.relPath)
        val untouchedReused = untouched.nonEmpty &&
          untouched.forall(p => before.get(p).contains(after(p)))
        val cur = M.readCurrent(s, root)
        // old-era rows null-backfill, the widened partition carries W
        val backfilled = cur.columns.contains("o_flag") &&
          cur.filter(col("o_year") =!= "1996")
            .filter(col("o_flag").isNotNull).count() == 0L &&
          cur.filter(col("o_year") === "1996")
            .filter(col("o_flag") =!= "W").count() == 0L
        val timetravelOldSchema =
          M.readAt(s, root, 1L).schema == orders.schema
        val dropRefused =
          try { M.publish(s, widened.drop("o_orderpriority"), root,
            "o_year"); false }
          catch { case _: graft.SchemaMismatch => true }
        val retypeRefused =
          try { M.publish(s, widened.withColumn("o_orderkey",
            col("o_orderkey").cast("string")), root, "o_year"); false }
          catch { case _: graft.SchemaMismatch => true }
        val healthy = graft.operators.IndexAudit
          .isManifestTableHealthy(s, root)
        val agg = cur.agg(count(lit(1)).as("n"),
          count(when(col("o_flag") === "W", lit(1))).as("f"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").as("p")).head()
        import s.implicits._
        Seq((untouchedReused, backfilled, timetravelOldSchema,
          dropRefused, retypeRefused, healthy,
          agg.getLong(0), agg.getLong(1), agg.getDouble(2)))
          .toDF("untouched_files_reused", "old_era_null_backfilled",
            "timetravel_old_schema", "drop_refused", "retype_refused",
            "fsck_healthy", "n_rows", "n_flagged", "revenue")
      }
    }),
    // ---- §2.1 S30 hierarchical (multi-column) partitioning, ----
    // ---- driver-gated ----
    // the standard 100 TB fact layout (date × region) on the manifest
    // table: `partCol = "o_year,o_month"` makes a partition the
    // escaped component tuple, a MERGE touching one (year, month)
    // cell rewrites ONLY that cell (every other cell byte-identical —
    // asserted on path+mtime), tupleKey addresses cells for scoped
    // reads, and readPartitionPrefix serves "all of 1996" opening
    // exactly the prefix's files. DuckDB recomputes the merged table.
    // ---- §2.1 S35 partition-spec migration, driver-gated ----
    // the one-call spec change (ManifestStore.repartitionTable): a
    // year-partitioned table rebuilds under (year, month) in ONE
    // replaceAll generation; the OLD generation stays time-travelable
    // under its own recorded spec, and a cell-scoped merge on the NEW
    // spec rewrites only its (year, month) cell — untouched cells
    // byte-identical. DuckDB recomputes rows/revenue in closed form.
    "q_manifest_repartition" -> ((s, d) => {
      Checkpoints.tempDir("graft-manirepart") { tmp =>
        val root = s"$tmp/orders"
        val M = graft.sources.ManifestStore
        val orders = Tables.table(s, d, "orders")
          .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
          .withColumn("o_month", date_format(col("o_orderdate"), "MM"))
        M.publish(s, orders, root, "o_year")
        val migGen = M.repartitionTable(s, root, "o_year,o_month")
        val specMigrated = migGen == 2L &&
          M.manifestAt(s, root, 2L).partCol == "o_year,o_month" &&
          M.manifestAt(s, root, 1L).partCol == "o_year"
        // old generation still serves under ITS spec
        val timetravelOldSpec =
          M.readPartitions(s, root, Seq("1996"), Some(1L)).count() ==
            orders.filter(col("o_year") === "1996").count()
        val fs = Tables.fsFor(s, root)
        def state(g: Long) = M.manifestAt(s, root, g).entries
          .map(e => e.relPath -> fs.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))
            .getModificationTime).toMap
        val before = state(2L)
        // a cell-scoped merge on the NEW spec: (1996, 03)'s
        // key-sampled slice doubles its price
        val cell = M.readCurrent(s, root)
          .filter(col("o_year") === "1996" && col("o_month") === "03"
            && col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice",
            round(col("o_totalprice").cast("decimal(18,2)") * 2, 2)
              .cast("double"))
        M.mergePartitions(s, cell, root, Seq("o_orderkey"))
        val after = state(3L)
        val cellKey = M.tupleKey(Seq("1996", "03"))
        val untouched = M.manifestAt(s, root, 3L).entries
          .filter(_.partition != cellKey).map(_.relPath)
        val untouchedReused = untouched.nonEmpty &&
          untouched.forall(p => before.get(p).contains(after(p)))
        val prefixScoped = M.readPartitionPrefix(s, root, Seq("1996"))
          .count() == orders.filter(col("o_year") === "1996").count()
        val healthy = graft.operators.IndexAudit
          .isManifestTableHealthy(s, root)
        val agg = M.readCurrent(s, root).agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").as("p")).head()
        import s.implicits._
        Seq((specMigrated, timetravelOldSpec, untouchedReused,
          prefixScoped, healthy, agg.getLong(0), agg.getDouble(1)))
          .toDF("spec_migrated", "timetravel_old_spec",
            "untouched_cells_reused", "prefix_read_scoped",
            "fsck_healthy", "n_rows", "revenue")
      }
    }),
    "q_manifest_multipart" -> ((s, d) => {
      Checkpoints.tempDir("graft-manimulti") { tmp =>
        val root = s"$tmp/orders"
        val M = graft.sources.ManifestStore
        val orders = Tables.table(s, d, "orders")
          .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
          .withColumn("o_month", date_format(col("o_orderdate"), "MM"))
        M.publish(s, orders, root, "o_year,o_month")
        val fs = Tables.fsFor(s, root)
        def state(g: Long) = M.manifestAt(s, root, g).entries
          .map(e => e.relPath -> fs.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))
            .getModificationTime).toMap
        val before = state(1L)
        val cellKey = M.tupleKey(Seq("1996", "03"))
        // the cell-scoped upsert: a key-sampled slice of 1996-03
        // doubles its price — everything else must carry untouched
        val batch = orders.filter(col("o_year") === "1996" &&
          col("o_month") === "03" && col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice",
            (col("o_totalprice").cast("decimal(18,2)") * 2)
              .cast(orders.schema("o_totalprice").dataType))
        M.mergePartitions(s, batch, root, Seq("o_orderkey"))
        val after = state(2L)
        val untouched = M.manifestAt(s, root, 2L).entries
          .filter(_.partition != cellKey).map(_.relPath)
        val cellScoped = untouched.nonEmpty && untouched.forall(p =>
          before.get(p).contains(after(p)))
        // the cell read opens only the cell's files and is exact
        val cell = M.readPartitions(s, root, Seq(cellKey))
        val nCell = cell.count()
        // the prefix read: all of 1996, opening only 1996's files
        val prefix = M.readPartitionPrefix(s, root, Seq("1996"))
        val prefixScoped = prefix.inputFiles.nonEmpty &&
          prefix.inputFiles.forall(_.contains("graft_p=1996"))
        val nPrefix = prefix.count()
        val healthy = graft.operators.IndexAudit
          .isManifestTableHealthy(s, root)
        val agg = M.readCurrent(s, root).agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").as("p")).head()
        import s.implicits._
        Seq((cellScoped, prefixScoped, healthy, nCell, nPrefix,
          agg.getLong(0), agg.getDouble(1)))
          .toDF("cell_scoped_rewrite", "prefix_read_scoped",
            "fsck_healthy", "n_cell", "n_prefix", "n_rows", "revenue")
      }
    }),
    // ---- §2.1 S27 metadata-only RESTORE + explicit expire, ----
    // ---- driver-gated ----
    // rollback semantics: a bad promotion is undone by republishing
    // the good generation's FILE LIST as the next generation — zero
    // data files rewritten (path+mtime asserted), history not
    // renumbered (the bad gen stays time-travelable). expire is the
    // quiet-table janitor: it reclaims a dropped branch's private
    // files with NO publish. DuckDB recounts the restored table.
    "q_manifest_restore" -> ((s, d) => {
      Checkpoints.tempDir("graft-manirestore") { tmp =>
        val root = s"$tmp/orders"
        val M = graft.sources.ManifestStore
        val orders = Tables.table(s, d, "orders")
          .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
        M.publish(s, orders, root, "o_year")
        val fs = Tables.fsFor(s, root)
        def mtimes(g: Long) = M.manifestAt(s, root, g).entries
          .map(e => e.relPath -> fs.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))
            .getModificationTime).toMap
        val goodState = mtimes(1L)
        // a bad promotion truncates 1996 to its O-status rows
        M.publish(s, orders.filter(col("o_year") === "1996" &&
          col("o_orderstatus") === "O"), root, "o_year")
        // ROLLBACK: gen 3 carries gen 1's file list verbatim
        val g = M.restore(s, root, 1L)
        val after = mtimes(g)
        val metadataOnly = g == 3L && after == goodState
        val historyIntact = M.readAt(s, root, 2L).count() > 0
        // EXPIRE: a dropped branch's garbage reclaims with no publish
        M.branch(s, root, "tmpb")
        M.publishToBranch(s, orders.filter(col("o_year") === "1997"),
          root, "tmpb")
        M.dropRef(s, root, "tmpb")
        M.expire(s, root)
        val reclaimed = !fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/_manifests/r-tmpb-1")) &&
          !fs.exists(new org.apache.hadoop.fs.Path(
            s"$root/_writes/r-tmpb-1"))
        val healthy = graft.operators.IndexAudit
          .isManifestTableHealthy(s, root)
        val agg = M.readCurrent(s, root).agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").as("p")).head()
        import s.implicits._
        Seq((metadataOnly, historyIntact, reclaimed, healthy,
          agg.getLong(0), agg.getDouble(1)))
          .toDF("restore_metadata_only", "history_intact",
            "expire_reclaimed_branch", "fsck_healthy",
            "n_rows_current", "revenue")
      }
    }),
    // ---- §2.1 S26 clustered OPTIMIZE on the manifest table, ----
    // ---- driver-gated ----
    // the maintenance that makes S22's entry stats actually prune: a
    // fresh append's files each span the whole key range (nothing
    // skips), range-clustering rewrites them into narrow disjoint
    // slices — the gate asserts the same range read opens < half the
    // bytes afterwards with row-identical results, and DuckDB
    // recounts the range aggregate.
    "q_manifest_cluster" -> ((s, d) => {
      Checkpoints.tempDir("graft-maniclus") { tmp =>
        val root = s"$tmp/orders"
        val M = graft.sources.ManifestStore
        val orders = Tables.table(s, d, "orders")
          .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
        M.publish(s, orders, root, "o_year",
          statsCols = Seq("o_custkey"))
        val fs = Tables.fsFor(s, root)
        // a narrow o_custkey range: pre-cluster every year file spans
        // the whole key domain, so nothing prunes
        val (lo, hi) = (100L, 199L)
        def keptBytes(): Long =
          M.statsPrunedEntries(s, root, "o_custkey", lo, hi)._2
            .map(e => fs.getFileStatus(
              new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))
              .getLen).sum
        val preBytes = keptBytes()
        val total = M.manifestAt(s, root, 1L).entries
          .map(e => fs.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))
            .getLen).sum
        val rewrote = M.clusterPartitions(s, root, Seq("o_custkey"),
          targetBytesPerFile = math.max(1L, total / 32))
        val postBytes = keptBytes()
        val prunedUnderHalf = postBytes * 2 < preBytes
        val pruned = M.readWhere(s, root, "o_custkey", lo, hi)
        val unpruned = M.readCurrent(s, root)
          .filter(col("o_custkey").between(lit(lo), lit(hi)))
        val rowsEqual = pruned.exceptAll(unpruned).isEmpty &&
          unpruned.exceptAll(pruned).isEmpty
        val healthy = graft.operators.IndexAudit
          .isManifestTableHealthy(s, root)
        val agg = pruned.agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").as("p")).head()
        import s.implicits._
        Seq((rewrote > 0, prunedUnderHalf, rowsEqual, healthy,
          agg.getLong(0), agg.getDouble(1)))
          .toDF("partitions_rewritten", "pruned_under_half",
            "rows_equal_unpruned", "fsck_healthy", "n_rows", "revenue")
      }
    }),
    // ---- §2.1 S25 named refs: tags + branches with WAP-on-branch ----
    // ---- and metadata-only fast-forward, driver-gated ----
    // the full write-audit-publish-on-a-branch cycle: a tag pins the
    // pre-change table under a stable name, a branch stages a
    // partition replacement invisibly to main, a C11 audit gates the
    // promotion, and fast-forward moves main to the branch head
    // METADATA-ONLY (untouched files byte-identical by path+mtime,
    // changed partition served from the branch's own staged write).
    // The aggregate row is the real oracle — DuckDB recomputes the
    // post-promotion table from orders.
    "q_table_refs" -> ((s, d) => {
      Checkpoints.tempDir("graft-manirefs") { tmp =>
        val root = s"$tmp/orders"
        val M = graft.sources.ManifestStore
        val orders = Tables.table(s, d, "orders")
          .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
        M.publish(s, orders, root, "o_year")
        M.tag(s, root, "v1")
        M.branch(s, root, "wap")
        val fs = Tables.fsFor(s, root)
        def mtimes(entries: Seq[graft.sources.ManifestStore.ManifestEntry]) =
          entries.map(e => e.relPath -> fs.getFileStatus(
            new org.apache.hadoop.fs.Path(s"$root/${e.relPath}"))
            .getModificationTime).toMap
        val before = mtimes(M.manifestAt(s, root, 1L).entries)
        // the staged change: 1996 keeps only its O-status rows —
        // published on the BRANCH, invisible to main
        M.publishToBranch(s,
          orders.filter(col("o_year") === "1996" &&
            col("o_orderstatus") === "O"), root, "wap")
        val mainIsolated =
          M.readCurrent(s, root).count() == orders.count()
        // audited, metadata-only promotion
        val g = M.fastForward(s, root, "wap", Seq(
          graft.operators.Cleaning.ExpectNotNull("o_orderkey")))
        val promoted = M.manifestAt(s, root, g).entries
        val after = mtimes(promoted)
        val untouched = promoted.filter(_.partition != "1996")
        val untouchedReused = untouched.nonEmpty && untouched.forall(
          e => before.get(e.relPath).contains(after(e.relPath)))
        val fromBranch = promoted.filter(_.partition == "1996")
          .forall(_.relPath.startsWith("_writes/r-wap-1/"))
        val tagServes =
          M.readRef(s, root, "v1").count() == orders.count()
        // the SQL surface: a ref-addressed view of the pinned tag
        val sqlServes = s.read.format("graft-snapshot")
          .option("ref", "v1").load(root).count() == orders.count()
        // tags pin on the SNAPSHOT layout too: keep=1 would sweep
        // gen 1 on each publish — the tag must keep it servable
        val S = graft.sources.SnapshotStore
        val snapRoot = s"$tmp/nation_snap"
        val nation = Tables.table(s, d, "nation")
        S.publish(s, nation, snapRoot, Nil, keep = 1)
        S.tag(s, snapRoot, "v1")
        S.publish(s, nation.limit(10), snapRoot, Nil, keep = 1)
        S.publish(s, nation.limit(5), snapRoot, Nil, keep = 1)
        val snapTagPinned =
          S.readRef(s, snapRoot, "v1").count() == nation.count() &&
            s.read.format("graft-snapshot").option("ref", "v1")
              .load(snapRoot).count() == nation.count() &&
            graft.operators.IndexAudit.isSnapshotsHealthy(s, snapRoot)
        // BRANCHES on the snapshot layout (layout parity): the WAP
        // cycle at dimension scale — isolated full-copy publish,
        // fast-forward by RENAME (the head copy's files carry into
        // the promoted generation with their mtimes — no data moved)
        val sbRoot = s"$tmp/nation_branch"
        S.publish(s, nation, sbRoot)
        S.branch(s, sbRoot, "wap")
        S.publishToBranch(s,
          nation.withColumn("n_name", concat(lit("B-"), col("n_name"))),
          sbRoot, "wap")
        val sbIsolated = S.currentGen(s, sbRoot).contains(1L) &&
          S.readCurrent(s, sbRoot)
            .filter(col("n_name").startsWith("B-")).count() == 0
        val sbFs = Tables.fsFor(s, sbRoot)
        val sbBefore = sbFs.listStatus(new org.apache.hadoop.fs.Path(
          s"$sbRoot/_snapshots/r-wap-1"))
          .filter(f => f.isFile &&
            f.getPath.getName.endsWith(".parquet"))
          .map(f => f.getPath.getName -> f.getModificationTime).toMap
        val sbGen = S.fastForwardBranch(s, sbRoot, "wap")
        val sbAfter = sbFs.listStatus(new org.apache.hadoop.fs.Path(
          s"$sbRoot/_snapshots/$sbGen"))
          .filter(f => f.isFile &&
            f.getPath.getName.endsWith(".parquet"))
          .map(f => f.getPath.getName -> f.getModificationTime).toMap
        val snapBranchFf = sbIsolated && sbAfter == sbBefore &&
          S.readCurrent(s, sbRoot)
            .filter(!col("n_name").startsWith("B-")).count() == 0 &&
          graft.operators.IndexAudit.isSnapshotsHealthy(s, sbRoot)
        val healthy = graft.operators.IndexAudit
          .isManifestTableHealthy(s, root)
        val agg = M.readCurrent(s, root).agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").as("p")).head()
        import s.implicits._
        Seq((mainIsolated, untouchedReused, fromBranch,
          tagServes && sqlServes, snapTagPinned, snapBranchFf, healthy,
          agg.getLong(0), agg.getDouble(1)))
          .toDF("main_isolated", "untouched_files_reused",
            "promoted_from_branch", "tag_serves_original",
            "snapshot_tag_pinned", "snapshot_branch_ff",
            "fsck_healthy", "n_rows_current", "revenue")
      }
    }),
    // ---- §2.1 S22 per-file column stats in manifest entries → ----
    // ---- scan-pruned manifest reads, driver-gated ----
    // S16's data skipping folded into the S20 metadata layer: entries
    // carry (min, max) per declared stat column, and a range read
    // prunes the ENTRY LIST driver-side before opening anything. The
    // gate asserts the literal kept-entry count (one file of seven)
    // and recounts the pruned read's aggregate against DuckDB's plain
    // range filter.
    "q_manifest_skipping" -> ((s, d) => {
      Checkpoints.tempDir("graft-maniskip") { tmp =>
        val root = s"$tmp/orders"
        val M = graft.sources.ManifestStore
        val orders = Tables.table(s, d, "orders")
          .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
        M.publish(s, orders, root, "o_year",
          statsCols = Seq("o_orderdate"))
        val total = M.manifestAt(s, root, 1L).entries.size
        val (lo, hi) = ("1996-03-01", "1996-05-31")
        val (_, kept) = M.statsPrunedEntries(s, root, "o_orderdate",
          lo, hi)
        val prunedUnderHalf = kept.size * 2 < total
        val openedOnlyMatching = kept.map(_.partition).toSet ==
          Set("1996")
        val pruned = M.readWhere(s, root, "o_orderdate", lo, hi)
        val unpruned = M.readCurrent(s, root)
          .filter(col("o_orderdate").between(lit(lo), lit(hi)))
        val rowsEqual = pruned.exceptAll(unpruned).isEmpty &&
          unpruned.exceptAll(pruned).isEmpty
        val agg = pruned.agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double").as("p")).head()
        import s.implicits._
        Seq((prunedUnderHalf, openedOnlyMatching, rowsEqual,
          agg.getLong(0), agg.getDouble(1)))
          .toDF("pruned_under_half", "opened_only_matching",
            "rows_equal_unpruned", "n_rows", "revenue")
      }
    }),
    // ---- §2.11 O2 stage retries, driver-gated ----
    // outcome contract (q_pipeline_run pattern): a stage failing twice
    // then succeeding is retried to the third attempt and returns its
    // value; an always-failing stage is attempted EXACTLY maxAttempts
    // times and rethrows the last error. nation_rows is the real
    // oracle row — the retried stage's result, which DuckDB recounts.
    "q_pipeline_retries" -> ((s, d) => {
      val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
      val n = Pipeline.withRetries(maxAttempts = 3) {
        if (attempts.incrementAndGet() < 3)
          throw new RuntimeException("transient failure")
        Tables.table(s, d, "nation").count()
      }
      val failures = new java.util.concurrent.atomic.AtomicInteger(0)
      val exhausted =
        try {
          Pipeline.withRetries(maxAttempts = 2) {
            failures.incrementAndGet()
            throw new RuntimeException("permanent")
          }
          false
        } catch {
          case e: RuntimeException => e.getMessage == "permanent"
        }
      import s.implicits._
      Seq((attempts.get() == 3, exhausted, failures.get() == 2, n))
        .toDF("retried_to_third_attempt", "exhaustion_rethrows_last",
          "failed_exactly_max_attempts", "nation_rows")
    }),
    // ---- §2.11 O3 schedule cadence + catchup, driver-gated ----
    // the cadence grid anchored on the events table's REAL date span,
    // so n_daily_runs is a data-derived row DuckDB recomputes
    // (date_diff + 1), not a constant; the grid/catchup/resume laws
    // ride along as booleans
    "q_pipeline_schedule" -> ((s, d) => {
      val mm = Tables.table(s, d, "events")
        .agg(min(col("ts").cast("date")), max(col("ts").cast("date")))
        .head()
      def day(i: Int) = mm.getDate(i).toLocalDate
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
      val (start, now) = (day(0), day(1))
      val daily = Pipeline.dueRuns("@daily", start, None, now)
      // the resume/off-grid laws reference daily(1) — on a degenerate
      // single-date events span they are vacuously true rather than an
      // IndexOutOfBounds crash (every standard sf dir spans months)
      val multi = daily.size >= 2
      import s.implicits._
      Seq((daily.size.toLong,
        daily.head == start && daily.last == now,
        Pipeline.dueRuns("@daily", start, None, now, catchup = false) ==
          Seq(daily.last),
        !multi || Pipeline.dueRuns("@daily", start, Some(daily(1)),
          now) == daily.drop(2),
        !multi || Pipeline.dueRuns("@daily", start,
          Some(daily(1).plusSeconds(3600)), now) == daily.drop(2)))
        .toDF("n_daily_runs", "grid_spans_inclusive",
          "catchup_false_keeps_last", "resume_after_lastrun",
          "offgrid_lastrun_rounds_up")
    }),
    // ---- §2.10/§2.11 corpus-domain medallion DAG, driver-gated ----
    // the reference's DAG pattern with a TRAINING SET as the gold
    // product: bronze lands raw docs, silver strips/normalizes/
    // canonicalizes, gold filters/mixes/splits/packs with an epoch
    // order. Outcome contract + the real row: silver holds exactly
    // one doc per distinct normalized text, which DuckDB recomputes
    // from scratch.
    "q_corpus_pipeline" -> ((s, d) => {
      Checkpoints.tempDir("graft-corpus-dag") { out =>
        val gold = Pipeline.runCorpus(s, d, out, Stamp)
        val silverN = s.read.parquet(s"$out/silver/documents").count()
        val goldRows = gold.count()
        // per-shard epoch ranks must be a dense 1..n permutation
        val dense = gold.groupBy(col("shard"))
          .agg(count(lit(1)).as("n"), max(col("epoch_rank")).as("mx"),
            min(col("epoch_rank")).as("mn"))
          .filter(col("mx") =!= col("n") || col("mn") =!= 1)
          .count() == 0
        import s.implicits._
        Seq((goldRows > 0, dense, silverN))
          .toDF("gold_nonempty", "epoch_ranks_dense", "silver_docs")
      }
    }),
    // ---- §2.11 R2 cross-store takedown, driver-gated ----
    // the opt-out path: two documents retract from EVERY store that
    // persisted them — corpus silver + packed gold (the composed
    // Pipeline.retractDocs), a BM25 postings index, and a vector
    // index over the same ids. The gate asserts PHYSICAL scrub (a
    // recursive read of every listed batch finds zero rows for the
    // ids), that no packed gold row still carries the text, and that
    // every index audits healthy after. n_silver_after is the real
    // oracle row: DuckDB recomputes the canonical silver count from
    // the raw table and subtracts the two retracted docs.
    "q_corpus_retract" -> ((s, d) => {
      Checkpoints.tempDir("graft-retract-gate") { out =>
        Pipeline.runCorpus(s, d, out, Stamp)
        val silverPath = s"$out/silver/documents"
        val victims = s.read.parquet(silverPath)
          .orderBy("doc_id").select("doc_id", "clean_text")
          .limit(2).collect()
        val ids = victims.map(_.getLong(0)).toSeq
        val cleanTexts = victims.map(_.getString(1)).toSeq
        // standalone serving stores over the same corpus
        val docs = Tables.table(s, d, "documents")
          .select("doc_id", "text")
        val bm25Dir = s"$out/bm25"
        graft.operators.Bm25.writeBm25Index(docs, "doc_id", "text",
          bm25Dir)
        val (m, dim) = (8, 64)
        val emb = Tables.table(s, d, "embeddings")
        val cb = sharedPqCodebook(s, d, m, dim, rounds = 3)
        val cents = emb.filter(col("vec_id") % 37 === 1)
          .select(col("vec_id").as("cell"),
            col("embedding").as("centv"))
        val vecDir = s"$out/vec"
        graft.operators.VectorIndex.write(emb, "vec_id", "embedding",
          cents, cb, m, dim, vecDir)
        val vecBefore = s.read
          .parquet(s"$vecDir/batches/bootstrap/cellCodes")
          .filter(col("id").isin(ids.map(Long.box): _*))
          .select("id").distinct().count()
        val report = Pipeline.retractDocs(s, out,
          ids.map(_.toString), Stamp,
          bm25IndexPath = Some(bm25Dir),
          vectorIndexPath = Some(vecDir))
        def scrubbed(batchDirs: Seq[String], idCol: String): Boolean =
          batchDirs.forall(p => s.read
            .option("recursiveFileLookup", "true").parquet(p)
            .filter(col(idCol).isin(ids.map(Long.box): _*))
            .count() == 0L)
        val bmMeta = graft.operators.Bm25.readBm25Meta(s, bm25Dir)
        val bm25Scrubbed = report.bm25Removed == 2L &&
          scrubbed(bmMeta.batches.map(b => s"$bm25Dir/batches/$b"),
            "doc_id")
        val vecMeta = graft.operators.VectorIndex.readMeta(s, vecDir)
        val vecScrubbed = report.vectorRemoved == vecBefore &&
          scrubbed(vecMeta.batches.map(b =>
            s"$vecDir/batches/$b/cellCodes"), "id")
        val silverAfter = s.read.parquet(silverPath)
        val silverScrubbed = report.silverRemoved == 2L &&
          silverAfter.filter(col("doc_id")
            .isin(ids.map(Long.box): _*)).count() == 0L
        val packed = s.read.parquet(s"$out/gold/train_packed")
        val goldScrubbed = packed.count() > 0 &&
          cleanTexts.forall(t =>
            packed.filter(col("packed_text").contains(t))
              .count() == 0L)
        val auditsHealthy =
          graft.operators.IndexAudit.isHealthy(s, bm25Dir) &&
          graft.operators.IndexAudit.isHealthy(s, vecDir)
        import s.implicits._
        Seq((silverScrubbed, goldScrubbed, bm25Scrubbed, vecScrubbed,
          auditsHealthy, silverAfter.count()))
          .toDF("silver_scrubbed", "gold_scrubbed", "bm25_scrubbed",
            "vector_scrubbed", "audits_healthy", "n_silver_after")
      }
    }),
    // ---- §2.10/§2.11 INCREMENTAL corpus pipeline, driver-gated ----
    // the production daily shape: init on a 60% slice, then two daily
    // increments checked against the persisted state (silver hashes +
    // MinHash index) at batch-sized cost. Outcome contract: silver
    // grows by exactly the accepted counts, a planted near-dup and
    // exact dup of a day-0 doc are rejected, the corpus-wide
    // no-duplicates invariant holds across days, and a replayed batch
    // is refused by the index guard. n_docs_processed is the real row
    // (every source doc plus the two planted ones), recounted by
    // DuckDB.
    "q_corpus_increment" -> ((s, d) => {
      Checkpoints.tempDir("graft-cinc-gate") { out =>
        val doc = Tables.table(s, d, "documents")
          .select("doc_id", "lang", "text")
        val bucket = Corpus.hashBucket(col("doc_id"), "cinc", 5)
        Pipeline.corpusInit(s, doc.filter(bucket >= 2), out, Stamp)
        val silverPath = s"$out/silver/documents"
        val n0 = s.read.parquet(silverPath).count()
        val seed = doc.filter(bucket >= 2).orderBy("doc_id").limit(1)
          .collect()(0)
        import s.implicits._
        val planted = Seq(
          (900001L, seed.getString(1),
            seed.getString(2) + " trailing extra"),
          (900002L, seed.getString(1), seed.getString(2)))
          .toDF("doc_id", "lang", "text")
        val day1 = doc.filter(bucket === 0).unionByName(planted)
        val acc1 = Pipeline.corpusIncrement(s, out, day1, Stamp)
        val acc2 = Pipeline.corpusIncrement(s, out,
          doc.filter(bucket === 1), Stamp)
        val silver = s.read.parquet(silverPath)
        val noExact = silver.groupBy("norm_hash").count()
          .filter(col("count") > 1).count() == 0
        val noNear = Dedup.minhashDedup(
          silver.select(col("doc_id"),
            graft.functions.TextFunctions.normalizeText(col("clean_text"))
              .as("nt")), "doc_id", "nt").count() == 0
        // replay = re-submitting a COMMITTED batch verbatim; the
        // content-derived batch id matches and the landed marker
        // refuses it at O(1) cost (no corpus scan in the guard)
        val replayRefused =
          try { Pipeline.corpusIncrement(s, out, day1, Stamp); false }
          catch { case _: IllegalStateException => true }
        // exactly the planted ids, not an id-space threshold: a
        // larger scale factor legitimately populates high doc_ids
        // (the sf1 sweep caught the >= form misfiring there)
        Seq((silver.count() == n0 + acc1 + acc2,
          silver.filter(col("doc_id").isin(900001L, 900002L))
            .count() == 0,
          noExact && noNear, replayRefused, doc.count() + 2))
          .toDF("growth_exact", "planted_rejected", "silver_deduped",
            "replay_refused", "n_docs_processed")
      }
    }),
    // ---- §2.10 O6 streaming corpus ingestion, driver-gated ----
    // the continuous form of corpusIncrement: per-file micro-batches
    // land through the same decision/commit path. Outcome contract:
    // the stream lands new docs, a restart on the SAME checkpoint is
    // a no-op, a redelivery run on a FRESH checkpoint is refused by
    // the content-id guard (at-least-once delivery → exactly-once
    // landing), and the corpus-wide exact-dedup invariant holds.
    // n_docs_source is the real row, recounted by DuckDB.
    "q_stream_corpus" -> ((s, d) => {
      Checkpoints.tempDir("graft-cstream-gate") { out =>
        val doc = Tables.table(s, d, "documents")
          .select("doc_id", "lang", "text")
        val bucket = Corpus.hashBucket(col("doc_id"), "cinc", 5)
        Pipeline.corpusInit(s, doc.filter(bucket >= 2), out, Stamp)
        val silverPath = s"$out/silver/documents"
        val n0 = s.read.parquet(silverPath).count()
        val src = s"$out/incoming"
        doc.filter(bucket <= 1).repartition(3).write.json(src)
        def run(ckpt: String): Unit = {
          graft.streaming.CorpusStream.corpusIncrementSink(
            s.readStream
              .schema("doc_id BIGINT, lang STRING, text STRING")
              .option("maxFilesPerTrigger", "1").json(src),
            out, Stamp, s"$out/$ckpt")
          ()
        }
        run("ckpt")
        val n1 = s.read.parquet(silverPath).count()
        run("ckpt") // restart, same checkpoint: nothing new to read
        val n2 = s.read.parquet(silverPath).count()
        run("ckpt2") // fresh checkpoint: full redelivery, all refused
        val n3 = s.read.parquet(silverPath).count()
        val noExact = s.read.parquet(silverPath)
          .groupBy(col("norm_hash")).count()
          .filter(col("count") > 1).count() == 0
        import s.implicits._
        Seq((n1 > n0, n2 == n1, n3 == n1, noExact, doc.count()))
          .toDF("stream_landed", "restart_noop", "redelivery_skipped",
            "silver_deduped", "n_docs_source")
      }
    }),
    // ---- §2.11 O6d streaming snapshot promotion ----
    // the exactly-once foreachBatch discipline applied to the
    // pointer-served table family: each micro-batch promotes ONE
    // content-keyed partition of a manifest table (O(batch) cost) and
    // swaps the pointer — a reader never gaps across promotions.
    // Contract: the stream lands (one gen per micro-batch), a
    // same-checkpoint restart is a no-op, a fresh-checkpoint
    // redelivery is refused batch-by-batch by the content-derived
    // partition guard, and time travel across promotions stays exact.
    "q_stream_snapshot" -> ((s, d) => {
      Checkpoints.tempDir("graft-sstream-gate") { out =>
        val M = graft.sources.ManifestStore
        val root = s"$out/gold"
        val doc = Tables.table(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        val src = s"$out/incoming"
        doc.repartition(3).write.json(src)
        def run(ckpt: String): Unit = {
          graft.streaming.SnapshotStream.snapshotSink(
            s.readStream
              .schema("doc_id BIGINT, lang STRING, text STRING")
              .option("maxFilesPerTrigger", "1").json(src),
            root, s"$out/$ckpt", "doc_id")
          ()
        }
        run("ckpt")
        val n1 = M.readCurrent(s, root).count()
        val gen1 = M.currentGen(s, root).get
        run("ckpt") // restart, same checkpoint: nothing new to read
        val restartNoop = M.currentGen(s, root).contains(gen1)
        run("ckpt2") // fresh checkpoint: redelivery, all refused
        val redeliverySkipped = M.currentGen(s, root).contains(gen1) &&
          M.readCurrent(s, root).count() == n1
        val g1 = M.readAt(s, root, 1L).count()
        val timetravelPartial = g1 > 0 && g1 < n1
        import s.implicits._
        Seq((n1 == doc.count() && gen1 == 3L, restartNoop,
          redeliverySkipped, timetravelPartial, doc.count()))
          .toDF("stream_landed", "restart_noop", "redelivery_skipped",
            "timetravel_per_batch", "n_docs_source")
      }
    }),
    // ---- §2.7 O6b streaming dense-index ingest ----
    // the CONTINUOUS form of q_ann_index's append path: an 80%
    // bootstrap index, the 20% slice streamed in as one-file
    // micro-batches, each published atomically through
    // VectorIndex.append. Contract: the stream lands (batch dirs
    // appear), a same-checkpoint restart is a no-op, a
    // fresh-checkpoint redelivery is refused batch-by-batch, and the
    // served top-k over the streamed index is bit-identical to the
    // in-memory serve over the full corpus.
    "q_stream_vectors" -> ((s, d) => {
      Checkpoints.tempDir("graft-vstream-gate") { out =>
        val (m, dim) = (8, 64)
        val emb = Tables.table(s, d, "embeddings")
        val qp = col("vec_id") % 50 === 0
        val isNew = Corpus.hashBucket(col("vec_id"), "vinc", 5) === 0
        Checkpoints.cached(sharedPqCodebook(s, d, m, dim, rounds = 2)) { cb =>
          val cents = emb.filter(col("vec_id") % 37 === 1)
            .select(col("vec_id").as("cell"),
              col("embedding").as("centv"))
          val idx = s"$out/index"
          graft.operators.VectorIndex.write(emb.filter(!isNew),
            "vec_id", "embedding", cents, cb, m, dim, idx)
          val src = s"$out/incoming"
          emb.filter(isNew).repartition(3).write.parquet(src)
          def batches() = new java.io.File(s"$idx/batches")
            .listFiles().count(_.isDirectory)
          def run(ckpt: String): Unit = {
            graft.streaming.VectorStream.vectorIndexSink(
              s.readStream
                .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, " +
                  "label INT")
                .option("maxFilesPerTrigger", "1").parquet(src),
              idx, s"$out/$ckpt")
            ()
          }
          val b0 = batches()
          run("ckpt")
          val b1 = batches()
          run("ckpt") // restart, same checkpoint: nothing new to read
          val b2 = batches()
          run("ckpt2") // fresh checkpoint: redelivery, all refused
          val b3 = batches()
          val served = graft.operators.VectorIndex.topK(s, idx, emb,
            "vec_id", "embedding", qp, k = 10, nprobe = 6,
            rerank = 50).collect()
          val mem = Similarity.ivfpqTopKReranked(emb, "vec_id",
            "embedding", qp, cents,
            graft.Checkpoints.truncate(Similarity.pqEncodeCells(emb,
              "vec_id", "embedding", cents, cb, m, dim)),
            cb, m, dim, k = 10, nprobe = 6, rerank = 50).collect()
          import s.implicits._
          Seq((b1 > b0, b2 == b1, b3 == b1,
              served.toSet == mem.toSet && served.nonEmpty,
              emb.count()))
            .toDF("stream_landed", "restart_noop",
              "redelivery_skipped", "serve_equals_inmemory",
              "n_vectors_source")
        }
      }
    }),
    // ---- §2.8 O6c streaming lexical-index ingest ----
    // the CONTINUOUS form of q_text_bm25_indexed's append path: 80%
    // bootstrap, the 20% slice streamed in as one-file micro-batches
    // through Bm25Stream.bm25IndexSink. The streaming contracts
    // (landing, restart no-op, redelivery refusal) are asserted
    // LOUDLY inside the gate; the hashed output is the served top-20
    // itself — which must equal the one-shot full-corpus BM25, so
    // this gate rides the REAL ranking oracle, not booleans.
    "q_stream_bm25" -> ((s, d) => {
      Checkpoints.tempDir("graft-bstream-gate") { out =>
        val docs = Tables.table(s, d, "documents")
          .select(col("doc_id"), col("text"))
        val isNew = Corpus.hashBucket(col("doc_id"), "binc", 5) === 0
        val idx = s"$out/index"
        graft.operators.Bm25.writeBm25Index(docs.filter(!isNew),
          "doc_id", "text", idx)
        val src = s"$out/incoming"
        docs.filter(isNew).repartition(3).write.json(src)
        def committed() =
          graft.operators.Bm25.readBm25Meta(s, idx).batches.size
        def run(ckpt: String): Unit = {
          graft.streaming.Bm25Stream.bm25IndexSink(
            s.readStream.schema("doc_id BIGINT, text STRING")
              .option("maxFilesPerTrigger", "1").json(src),
            "text", idx, s"$out/$ckpt")
          ()
        }
        val b0 = committed()
        run("ckpt")
        val b1 = committed()
        run("ckpt") // restart, same checkpoint: nothing new to read
        val b2 = committed()
        run("ckpt2") // fresh checkpoint: redelivery, all refused
        val b3 = committed()
        require(b1 > b0 && b2 == b1 && b3 == b1,
          s"stream contract broken: batches $b0 -> $b1 -> $b2 -> $b3")
        Checkpoints.truncate(graft.operators.Bm25.bm25TopKIndexed(s, idx,
          "fast vector hash join", k = 20))
      }
    }),
    // ---- §2.10/§2.11 batch decision introspection, driver-gated ----
    // classifyBatch = corpusIncrement's accept/reject decision as a
    // DRY-RUN report. Outcome contract: labels partition the batch
    // exactly, the accept label IS the set the real increment then
    // lands (same code path, cross-checked against silver), and the
    // planted exact/near duplicates of a day-0 doc get their specific
    // rejection reasons. n_docs_classified is the real row (the
    // day-1 slice plus the two planted docs), recounted by DuckDB.
    "q_corpus_classify" -> ((s, d) => {
      Checkpoints.tempDir("graft-classify-gate") { out =>
        val doc = Tables.table(s, d, "documents")
          .select("doc_id", "lang", "text")
        val bucket = Corpus.hashBucket(col("doc_id"), "cinc", 5)
        Pipeline.corpusInit(s, doc.filter(bucket >= 2), out, Stamp)
        val seed = doc.filter(bucket >= 2).orderBy("doc_id").limit(1)
          .collect()(0)
        import s.implicits._
        val planted = Seq(
          (900001L, seed.getString(1),
            seed.getString(2) + " trailing extra"),
          (900002L, seed.getString(1), seed.getString(2)))
          .toDF("doc_id", "lang", "text")
        val day1 = doc.filter(bucket === 0).unionByName(planted)
        val labels = Pipeline.classifyBatch(s, out, day1)
        val nDay1 = day1.count()
        val acc = Pipeline.corpusIncrement(s, out, day1, Stamp)
        val silverNow = s.read.parquet(s"$out/silver/documents")
        val acceptIds = labels.filter(col("decision") === "accept")
          .select(col("doc_id"))
        val acceptsLanded = acceptIds.count() == acc &&
          acceptIds.join(silverNow, Seq("doc_id"), "left_anti")
            .count() == 0
        val partitionExact = labels.count() == nDay1 &&
          labels.select(col("doc_id")).distinct().count() == nDay1
        Seq((partitionExact, acceptsLanded,
          labels.filter(col("doc_id") === 900002L).head()
            .getString(1) == "exact_dup_corpus",
          labels.filter(col("doc_id") === 900001L).head()
            .getString(1) == "near_dup_corpus",
          nDay1))
          .toDF("labels_partition_batch", "accepts_equal_landed",
            "planted_exact_labeled", "planted_near_labeled",
            "n_docs_classified")
      }
    }),
    // ---- §2.1 S10 namespace init, driver-gated ----
    // create-once/exists-after idempotence for both namespace forms,
    // plus the real row: a table landed into the ensured path reads
    // back with every source row (DuckDB recounts nation)
    "q_namespace_init" -> ((s, d) => {
      val db = "graft_ns_gate_" +
        java.lang.Long.toHexString(System.nanoTime())
      // finally-guarded: a failing second ensure must not leave the
      // gate database behind in the shared session catalog
      val (dbCreated, dbAgain) =
        try {
          val created = graft.sources.Ingest.ensureDatabase(s, db)
          (created, graft.sources.Ingest.ensureDatabase(s, db))
        } finally s.sql(s"DROP DATABASE IF EXISTS `$db`")
      Checkpoints.tempDir("graft-ns") { root =>
        val path = root + "/warehouse/nation"
        val pCreated = graft.sources.Ingest.ensurePath(path)
        val pAgain = graft.sources.Ingest.ensurePath(path)
        Tables.writeParquet(Tables.table(s, d, "nation"), path)
        import s.implicits._
        Seq((dbCreated && !dbAgain, pCreated && !pAgain,
          s.read.parquet(path).count()))
          .toDF("database_created_once", "path_created_once",
            "rows_readable")
      }
    }),
  )

  // ---- DuckDB oracle helpers (mirror the Spark expressions 1:1) ----

  /** Index-ordered cosine over 64-dim list columns (mirrors
    * Similarity.cosine's left fold; IEEE-identical).
    */
  private def duckCos(a: String, b: String): String =
    s"(list_reduce(list_transform(range(1, 65), i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x,y) -> x + y) / " +
      s"(sqrt(list_reduce(list_transform(range(1, 65), i -> $a[i]::DOUBLE * $a[i]::DOUBLE), (x,y) -> x + y)) * " +
      s"sqrt(list_reduce(list_transform(range(1, 65), i -> $b[i]::DOUBLE * $b[i]::DOUBLE), (x,y) -> x + y))))"

  private def duckList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ",", "]")

  /** A7 oracle projection: the SAME ±1 sign constants the Spark side
    * uses (Similarity.projectionSigns), emitted as literal lists; same
    * left-fold accumulation order, same exact /√16 scale.
    */
  private def duckProjection: String = {
    val signs = graft.operators.Similarity.projectionSigns(64, 16, 43L)
    val dims = signs.map { s =>
      val lits = s.map(v => if (v > 0) "1.0" else "-1.0")
        .mkString("[", ",", "]")
      "list_reduce(list_transform(range(1, 65), " +
        s"i -> embedding[i]::DOUBLE * ($lits)[i]), (x,y) -> x + y) / 4.0"
    }.mkString("[", ", ", "]")
    s"SELECT vec_id, $dims AS pv FROM embeddings"
  }

  /** 16-dim cosine over projected (double) vectors — [[duckCos]]'s
    * shape at the reduced dimension, no element cast (both sides are
    * already double).
    */
  private def duckCos16(a: String, b: String): String =
    s"(list_reduce(list_transform(range(1, 17), i -> $a[i] * $b[i]), (x,y) -> x + y) / " +
      s"(sqrt(list_reduce(list_transform(range(1, 17), i -> $a[i] * $a[i]), (x,y) -> x + y)) * " +
      s"sqrt(list_reduce(list_transform(range(1, 17), i -> $b[i] * $b[i]), (x,y) -> x + y))))"

  /** LSH sign-bucket of a 64-dim vector column against the same seeded
    * hyperplanes the Spark side uses, as DuckDB SQL. Plane constants
    * are emitted via Double.toString (shortest round-trip repr), which
    * any correctly-rounding SQL parser reads back to the identical
    * double — so the sign tests agree bit-for-bit.
    */
  private def duckLshBucket(v: String): String = {
    val planes = graft.operators.Similarity.hyperplanes(64, 12, 42L)
    planes.zipWithIndex.map { case (p, i) =>
      val lits = p.map(_.toString).mkString("[", ",", "]")
      s"(CASE WHEN list_reduce(list_transform(range(1, 65), i -> $v[i]::DOUBLE * ($lits)[i]), (x,y) -> x + y) >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  private val duckShinglesBody =
    """words AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id AS sid,
      |    unnest(list_transform(range(1, len(w)-1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |  FROM words WHERE len(w) >= 3
      |)""".stripMargin

  private val duckShingles = "WITH " + duckShinglesBody

  /** Quality-report oracle (mirrors TextFunctions.qualityReport);
    * shared by q_text_quality, the composed q_corpus_filter, and —
    * via the `src` parameter — compositions that re-score a DERIVED
    * text column (q_corpus_retrieval scores the trimmed text).
    */
  private def duckQualitySql: String = duckQualitySqlFrom("documents")

  private def duckQualitySqlFrom(src: String): String = {
    val allStop = duckList(
      graft.functions.TextFunctions.Stopwords.flatMap(_._2).distinct)
    s"""WITH t AS (
       |  SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS ws
       |  FROM $src
       |), m AS (
       |  SELECT doc_id,
       |    CASE WHEN length(text) = 0 THEN 0.0
       |         ELSE CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) / length(text) END AS alpha_ratio,
       |    CASE WHEN length(text) = 0 THEN 0.0
       |         ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text) END AS punct_ratio,
       |    CASE WHEN len(ws) = 0 THEN 0.0
       |         ELSE CAST(len(list_filter(ws, t -> list_contains($allStop, t))) AS DOUBLE) / len(ws) END AS stopword_ratio,
       |    CASE WHEN len(ws) = 0 THEN 0.0
       |         ELSE CAST(list_sum(list_transform(ws, t -> length(t))) AS DOUBLE) / len(ws) END AS mean_token_len
       |  FROM t
       |)
       |SELECT doc_id, alpha_ratio, punct_ratio, stopword_ratio, mean_token_len,
       |  ROUND((stopword_ratio * 0.4) + (alpha_ratio * 0.3) +
       |        (LEAST(mean_token_len / 10.0, 1.0) * 0.2) +
       |        ((1.0 - punct_ratio) * 0.1), 6) AS quality_score
       |FROM m""".stripMargin
  }

  /** Portable hash bucket (mirrors Corpus.hashBucket): first 8 hex of
    * sha256(key ':' salt) as an integer, mod den.
    */
  private def duckHashBucket(key: String, salt: String, den: Int): String =
    s"(CAST(concat('0x', substr(sha256(concat_ws(':', CAST($key AS VARCHAR), '$salt')), 1, 8)) AS BIGINT) % $den)"

  /** Portable correlation-report mirror (Profiling.correlationReport):
    * per-pair pairwise-complete count + five exact decimal sums cast
    * to double, pearson_r derived with the identical IEEE expression.
    */
  private def duckCorrPair(x: String, y: String, table: String): String = {
    val both = s"$x IS NOT NULL AND $y IS NOT NULL"
    // sums surface as DECIMAL(38,12) strings — exact, like the Spark
    // side. (DuckDB's decimal→DOUBLE cast is NOT correctly rounded at
    // unscaled values past 2^53, so doubles could not hash-match.)
    def s(e: String) =
      s"CAST(CAST(SUM(CASE WHEN $both THEN $e END) AS DECIMAL(38,12)) AS VARCHAR)"
    // width 19 forces DuckDB's int128 decimal storage: an 18-wide
    // operand pair multiplies in int64 and overflows on real measures,
    // while 19+19 = 38 still fits the engine's max product width.
    // The value grid is the same as Spark's decimal(18,6) operands,
    // so the exact sums agree.
    def d(c: String) = s"CAST($c AS DECIMAL(19,6))"
    s"""SELECT '$x' AS col_x, '$y' AS col_y,
       |  COUNT(CASE WHEN $both THEN 1 END) AS n_pairs,
       |  ${s(d(x))} AS sum_x, ${s(d(y))} AS sum_y,
       |  ${s(s"${d(x)} * ${d(x)}")} AS sum_xx,
       |  ${s(s"${d(y)} * ${d(y)}")} AS sum_yy,
       |  ${s(s"${d(x)} * ${d(y)}")} AS sum_xy
       |FROM $table""".stripMargin
  }

  private def duckCorrSql(cols: Seq[String], table: String): String = {
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val base = pairs.map { case (x, y) => duckCorrPair(x, y, table) }
      .mkString("\nUNION ALL\n")
    // the VARCHAR→DOUBLE casts are correctly rounded (unlike DuckDB's
    // direct decimal→double), so the r inputs are bit-identical to
    // Spark's decimal→double casts and the IEEE formula lands on the
    // same double
    def dd(c: String) = s"CAST($c AS DOUBLE)"
    val n = "CAST(n_pairs AS DOUBLE)"
    val vx = s"$n * ${dd("sum_xx")} - ${dd("sum_x")} * ${dd("sum_x")}"
    val vy = s"$n * ${dd("sum_yy")} - ${dd("sum_y")} * ${dd("sum_y")}"
    val cv = s"$n * ${dd("sum_xy")} - ${dd("sum_x")} * ${dd("sum_y")}"
    s"""WITH p AS (
       |$base
       |)
       |SELECT col_x, col_y, n_pairs, sum_x, sum_y, sum_xx, sum_yy,
       |  sum_xy,
       |  CASE WHEN n_pairs > 0 AND $vx > 0 AND $vy > 0
       |  THEN ROUND(($cv) / (sqrt($vx) * sqrt($vy)), 6)
       |  END AS pearson_r
       |FROM p""".stripMargin
  }

  /** Portable BM25 mirror (Bm25.bm25TopK): postings restricted to the
    * query terms, integer tf/df/N/len, ln-idf × length-normalized tf
    * rounded to 9 dp per term, exact decimal sum, 6-dp final score,
    * (score desc, id) ranking.
    */
  private def duckBm25Sql(query: String, k: Int, k1: Double,
                          b: Double): String = {
    val terms = graft.operators.Bm25.queryTerms(query)
    val inList =
      terms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    val avgdl = "(CAST(st.sl AS DOUBLE) / CAST(st.n AS DOUBLE))"
    s"""WITH base AS (
       |  SELECT doc_id, regexp_extract_all(lower(text),
       |    '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS t
       |  FROM documents
       |), lens AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS len FROM base
       |), st AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(len) AS BIGINT) AS sl FROM lens
       |), tf AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(t) AS term FROM base)
       |  WHERE term IN ($inList)
       |  GROUP BY doc_id, term
       |), dft AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
       |), pt AS (
       |  SELECT tf.doc_id,
       |    CAST(ROUND(
       |      ln(1.0 + (CAST(st.n AS DOUBLE) - CAST(dft.df AS DOUBLE) + 0.5)
       |        / (CAST(dft.df AS DOUBLE) + 0.5)) *
       |      (CAST(tf.tf AS DOUBLE) / (CAST(tf.tf AS DOUBLE) +
       |        $k1 * (${1.0 - b} + $b * CAST(lens.len AS DOUBLE)
       |          / $avgdl))),
       |      9) AS DECIMAL(18,9)) AS s
       |  FROM tf
       |  JOIN dft USING (term) JOIN lens USING (doc_id), st
       |), sc AS (
       |  SELECT doc_id, ROUND(CAST(SUM(s) AS DOUBLE), 6) AS score
       |  FROM pt GROUP BY doc_id
       |)
       |SELECT doc_id, score,
       |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
       |    AS rank
       |FROM sc QUALIFY rank <= $k""".stripMargin
  }

  /** Portable RRF mirror (Bm25.rrfFuse over the BM25 ranking and the
    * quality-prior ranking): both bounded rankings recomputed, one
    * exact division per contribution, fixed-order sum, 6-dp fused
    * score, (score desc, id) final ranks.
    */
  private def duckRrfSql(query: String, listK: Int, k: Int,
                         k0: Int): String = {
    val bm = duckBm25Sql(query, listK, 1.2, 0.75)
    s"""WITH bmr AS (
       |$bm
       |), qr AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY quality_score DESC, doc_id)
       |      AS BIGINT) AS rank
       |  FROM (${duckQualitySqlFrom("documents")})
       |  QUALIFY rank <= $listK
       |), fu AS (
       |  SELECT doc_id,
       |    ROUND(
       |      COALESCE(1.0 / ($k0.0 + CAST(a.rank AS DOUBLE)), 0.0) +
       |      COALESCE(1.0 / ($k0.0 + CAST(q.rank AS DOUBLE)), 0.0),
       |      6) AS rrf_score
       |  FROM bmr a FULL OUTER JOIN qr q USING (doc_id)
       |)
       |SELECT doc_id, rrf_score,
       |  CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
       |    AS BIGINT) AS rank
       |FROM fu QUALIFY rank <= $k""".stripMargin
  }

  /** Portable hybrid-retrieval mirror (q_text_hybrid): the BM25
    * ranking, the single-query IVF ANN ranking (the q_ann_ivf CTEs
    * restricted to `qid`), the vec_id↔doc_id bridge join, and the
    * RRF fusion — all recomputed.
    */
  private def duckHybridSql(query: String, qid: Long, listK: Int,
                            k: Int, k0: Int): String = {
    val bm = duckBm25Sql(query, listK, 1.2, 0.75)
    s"""WITH bmr AS (
       |$bm
       |), cent AS (
       |  SELECT vec_id AS cent_id, embedding AS centv FROM embeddings
       |  WHERE vec_id % 37 = 1
       |), assigned AS (
       |  SELECT cand_id, cv, cell FROM (
       |    SELECT e.vec_id AS cand_id, e.embedding AS cv,
       |      c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCos("e.embedding", "c.centv")} DESC, c.cent_id) AS r
       |    FROM embeddings e CROSS JOIN cent c) x
       |  WHERE r = 1
       |), probed AS (
       |  SELECT query_id, qv, cell FROM (
       |    SELECT e.vec_id AS query_id, e.embedding AS qv,
       |      c.cent_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${duckCos("e.embedding", "c.centv")} DESC, c.cent_id) AS r
       |    FROM embeddings e CROSS JOIN cent c
       |    WHERE e.vec_id = $qid) x
       |  WHERE r <= 2
       |), dn AS (
       |  SELECT y.cand_id AS doc_id, y.rank FROM (
       |    SELECT p.query_id, a.cand_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.query_id
       |        ORDER BY ${duckCos("p.qv", "a.cv")} DESC, a.cand_id) AS rank
       |    FROM probed p
       |    JOIN assigned a ON a.cell = p.cell AND p.query_id <> a.cand_id) y
       |  JOIN documents d ON d.doc_id = y.cand_id
       |  WHERE y.rank <= $listK
       |), fu AS (
       |  SELECT doc_id,
       |    ROUND(
       |      COALESCE(1.0 / ($k0.0 + CAST(b.rank AS DOUBLE)), 0.0) +
       |      COALESCE(1.0 / ($k0.0 + CAST(n.rank AS DOUBLE)), 0.0),
       |      6) AS rrf_score
       |  FROM bmr b FULL OUTER JOIN dn n USING (doc_id)
       |)
       |SELECT doc_id, rrf_score,
       |  CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
       |    AS BIGINT) AS rank
       |FROM fu QUALIFY rank <= $k""".stripMargin
  }

  /** Shared head of every LM mirror: the token stream (with lang, so
    * training slices can filter on it) and the all-docs bigram pair
    * stream.
    */
  private val duckLmHead =
    """tok AS (
      |  SELECT doc_id, lang, regexp_extract_all(lower(text),
      |    '[a-z]+|[0-9]+|[^a-z0-9\s]') AS t
      |  FROM documents
      |), pairs AS (
      |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM (
      |    SELECT doc_id, t, unnest(range(1, len(t))) AS i
      |    FROM tok WHERE len(t) >= 2)
      |)""".stripMargin

  /** One bigram-LM block (LangModel.trainBigramLm + perplexityReport)
    * with CTE names prefixed by `p`: train on the `trainWhere` slice
    * of `tok`, score every document from the shared `pairs` stream —
    * ${p}sc(doc_id, n_bigrams, nll). Composable: the perplexity gate
    * uses one block, the DSIR gate two with different slices.
    */
  private def duckLmBlock(p: String, trainWhere: String,
                          alpha: Double,
                          lambda: Double = 1.0): String = {
    val pBi =
      s"""(CAST(COALESCE(b.n12, 0) AS DOUBLE) + $alpha) /
         |      (CAST(COALESCE(u.n1, 0) AS DOUBLE)
         |        + $alpha * CAST(${p}vv.v AS DOUBLE))""".stripMargin
    val (interpCtes, interpJoin, prob) =
      if (lambda == 1.0) ("", "", pBi)
      else (
        s"""${p}unir AS (
           |  SELECT w2, CAST(SUM(n12) AS BIGINT) AS c2
           |  FROM ${p}bg GROUP BY w2
           |), ${p}tot AS (
           |  SELECT CAST(SUM(n12) AS BIGINT) AS nb FROM ${p}bg
           |), """.stripMargin,
        s"""
           |  LEFT JOIN ${p}unir ur USING (w2)
           |  CROSS JOIN ${p}tot""".stripMargin,
        s"""$lambda * ($pBi)
           |      + ${1.0 - lambda} *
           |      ((CAST(COALESCE(ur.c2, 0) AS DOUBLE) + $alpha) /
           |       (CAST(${p}tot.nb AS DOUBLE)
           |         + $alpha * CAST(${p}vv.v AS DOUBLE)))""".stripMargin)
    s"""${p}hi AS (
       |  SELECT t FROM tok WHERE $trainWhere
       |), ${p}hbg AS (
       |  SELECT t[i] AS w1, t[i + 1] AS w2 FROM (
       |    SELECT t, unnest(range(1, len(t))) AS i
       |    FROM ${p}hi WHERE len(t) >= 2)
       |), ${p}bg AS (
       |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12
       |  FROM ${p}hbg GROUP BY w1, w2
       |), ${p}uni AS (
       |  SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1
       |  FROM ${p}bg GROUP BY w1
       |), ${interpCtes}${p}vv AS (
       |  SELECT CAST(COUNT(DISTINCT tk) AS BIGINT) AS v FROM (
       |    SELECT unnest(t) AS tk FROM ${p}hi)
       |), ${p}lp AS (
       |  SELECT doc_id, CAST(ROUND(ln(
       |      $prob), 9)
       |    AS DECIMAL(18,9)) AS lp
       |  FROM pairs
       |  LEFT JOIN ${p}bg b USING (w1, w2)
       |  LEFT JOIN ${p}uni u USING (w1)$interpJoin
       |  CROSS JOIN ${p}vv
       |), ${p}sc AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    ROUND(-(CAST(SUM(lp) AS DOUBLE)) / CAST(COUNT(*) AS DOUBLE),
       |      6) AS nll
       |  FROM ${p}lp GROUP BY doc_id
       |)""".stripMargin
  }

  /** Portable perplexity mirror (LangModel): bigram counts from the
    * held-in slice, derived left-context sums, the V scalar, smoothed
    * probabilities as one IEEE division of exact integers, 9-dp
    * rounded ln per bigram, exact decimal sum, 6-dp mean NLL.
    */
  private def duckPerplexitySql(alpha: Double, maxNll: Double,
                                lambda: Double = 1.0): String =
    s"""WITH $duckLmHead,
       |${duckLmBlock("", s"${duckHashBucket("doc_id", "lm", 5)} <> 0",
          alpha, lambda)}
       |SELECT doc_id, n_bigrams, nll, nll <= $maxNll AS keep
       |FROM sc""".stripMargin

  /** Portable backoff-trigram mirror (LangModel.perplexityReportTri):
    * trigram + bigram counts from the held-in slice, the one-scan
    * scored-position stream with a NULL first-position trigram
    * context, λ₃P₃+λ₂P₂+λ₁P₁ (first position (λ₃+λ₂)P₂+λ₁P₁), the
    * 9-dp rounded log stream, exact decimal sums, 6-dp mean NLL.
    */
  private def duckTriPerplexitySql(alpha: Double, maxNll: Double,
                                   l3: Double, l2: Double,
                                   l1: Double): String = {
    val pTri =
      s"""(CAST(COALESCE(n123, 0) AS DOUBLE) + $alpha) /
         |      (CAST(COALESCE(c12, 0) AS DOUBLE)
         |        + $alpha * CAST(vv.v AS DOUBLE))""".stripMargin
    val pBi =
      s"""(CAST(COALESCE(b.n12, 0) AS DOUBLE) + $alpha) /
         |      (CAST(COALESCE(u.n1, 0) AS DOUBLE)
         |        + $alpha * CAST(vv.v AS DOUBLE))""".stripMargin
    val pUni =
      s"""(CAST(COALESCE(ur.c2, 0) AS DOUBLE) + $alpha) /
         |      (CAST(tot.nb AS DOUBLE) + $alpha * CAST(vv.v AS DOUBLE))"""
        .stripMargin
    s"""WITH $duckLmHead,
       |hi AS (
       |  SELECT t FROM tok
       |  WHERE ${duckHashBucket("doc_id", "lm", 5)} <> 0
       |), hbg AS (
       |  SELECT t[i] AS w1, t[i + 1] AS w2 FROM (
       |    SELECT t, unnest(range(1, len(t))) AS i
       |    FROM hi WHERE len(t) >= 2)
       |), bg AS (
       |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12
       |  FROM hbg GROUP BY w1, w2
       |), uni AS (
       |  SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM bg GROUP BY w1
       |), unir AS (
       |  SELECT w2, CAST(SUM(n12) AS BIGINT) AS c2 FROM bg GROUP BY w2
       |), tot AS (
       |  SELECT CAST(SUM(n12) AS BIGINT) AS nb FROM bg
       |), htri AS (
       |  SELECT t[i] AS w1, t[i + 1] AS w2, t[i + 2] AS w3 FROM (
       |    SELECT t, unnest(range(1, len(t) - 1)) AS i
       |    FROM hi WHERE len(t) >= 3)
       |), tri AS (
       |  SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS n123
       |  FROM htri GROUP BY w1, w2, w3
       |), tctx AS (
       |  SELECT w1, w2, CAST(SUM(n123) AS BIGINT) AS c12
       |  FROM tri GROUP BY w1, w2
       |), vv AS (
       |  SELECT CAST(COUNT(DISTINCT tk) AS BIGINT) AS v FROM (
       |    SELECT unnest(t) AS tk FROM hi)
       |), tpos AS (
       |  SELECT doc_id, CASE WHEN i >= 2 THEN t[i - 1] END AS w1,
       |    t[i] AS w2, t[i + 1] AS w3 FROM (
       |    SELECT doc_id, t, unnest(range(1, len(t))) AS i
       |    FROM tok WHERE len(t) >= 2)
       |), lp AS (
       |  SELECT doc_id, CAST(ROUND(ln(CASE WHEN tpos.w1 IS NULL THEN
       |      ${l3 + l2} * ($pBi)
       |      + $l1 * ($pUni)
       |    ELSE $l3 * ($pTri)
       |      + $l2 * ($pBi)
       |      + $l1 * ($pUni) END), 9)
       |    AS DECIMAL(18,9)) AS lp
       |  FROM tpos
       |  LEFT JOIN tri USING (w1, w2, w3)
       |  LEFT JOIN tctx USING (w1, w2)
       |  LEFT JOIN bg b ON b.w1 = tpos.w2 AND b.w2 = tpos.w3
       |  LEFT JOIN uni u ON u.w1 = tpos.w2
       |  LEFT JOIN unir ur ON ur.w2 = tpos.w3
       |  CROSS JOIN tot CROSS JOIN vv
       |), sc AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ngrams,
       |    ROUND(-(CAST(SUM(lp) AS DOUBLE)) / CAST(COUNT(*) AS DOUBLE),
       |      6) AS nll
       |  FROM lp GROUP BY doc_id
       |)
       |SELECT doc_id, n_ngrams, nll, nll <= $maxNll AS keep
       |FROM sc""".stripMargin
  }

  /** Portable DSIR mirror (LangModel.importanceReport): TWO LM blocks
    * — target slice and raw slice — joined per document, log
    * importance ratio = one exact IEEE subtraction of the two 6-dp
    * means, re-rounded.
    */
  private def duckDsirSql(alpha: Double, minRatio: Double): String =
    s"""WITH $duckLmHead,
       |${duckLmBlock("t_",
          s"${duckHashBucket("doc_id", "lm", 5)} <> 0 AND lang = 'en'",
          alpha)},
       |${duckLmBlock("r_", s"${duckHashBucket("doc_id", "lm", 5)} <> 0",
          alpha)}
       |SELECT t.doc_id, t.n_bigrams, t.nll AS nll_target,
       |  r.nll AS nll_raw,
       |  ROUND(r.nll - t.nll, 6) AS log_ratio,
       |  ROUND(r.nll - t.nll, 6) >= $minRatio AS keep
       |FROM t_sc t JOIN r_sc r USING (doc_id)""".stripMargin

  /** Portable logistic-GD mirror (Classifier.trainLogistic): every
    * iteration unrolled — sigmoid margins against the previous
    * round's one-row weight CTE, 8-dp-rounded decimal gradient sums,
    * 9-dp weight updates. Gradient unscaled values stay under 2^53,
    * so the decimal→double cast is exact even in DuckDB.
    */
  private def duckLogisticSql(iters: Int, lr: Double): String = {
    val names = Seq("bias", "alpha", "punct", "stop", "mtl")
    val f =
      s"""f AS (
         |  SELECT q.doc_id,
         |    CASE WHEN d.lang IS NULL THEN NULL
         |         WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         |    1.0 AS f_bias, q.alpha_ratio AS f_alpha,
         |    q.punct_ratio AS f_punct, q.stopword_ratio AS f_stop,
         |    LEAST(q.mean_token_len / 10.0, 1.0) AS f_mtl
         |  FROM (${duckQualitySqlFrom("documents")}) q
         |  JOIN documents d USING (doc_id)
         |), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM f)"""
        .stripMargin
    val w0 = s"w0 AS (SELECT ${names.map(n => s"0.0 AS w_$n").mkString(", ")})"
    val marginSql = names.map(n => s"w.w_$n * f.f_$n").mkString(" + ")
    val iterCtes = (1 to iters).map { k =>
      val g = names.map(n =>
        s"SUM(CAST(ROUND((1.0 / (1.0 + exp(-($marginSql))) - f.y) * f.f_$n, 8) AS DECIMAL(28,8))) AS g_$n")
        .mkString(",\n    ")
      val upd = names.map(n =>
        s"ROUND(w.w_$n - $lr * CAST(g.g_$n AS DOUBLE) / nn.n, 9) AS w_$n")
        .mkString(",\n    ")
      s"""g$k AS (
         |  SELECT $g
         |  FROM f, w${k - 1} w
         |), w$k AS (
         |  SELECT $upd
         |  FROM w${k - 1} w, g$k g, nn
         |)""".stripMargin
    }
    val finals = (1 to iters).flatMap { k =>
      names.map(n =>
        s"SELECT $k AS round, '$n' AS feature, w_$n AS weight FROM w$k")
    }
    s"WITH $f,\n$w0,\n${iterCtes.mkString(",\n")}\n" +
      finals.mkString("\nUNION ALL\n")
  }

  /** Portable BPE-training mirror (BpeTrain.train): the full training
    * loop unrolled — per round, pair counts over the word table, the
    * (count desc, pair asc) argmax, and the greedy non-overlapping
    * merge pass restated positionally (gaps-and-islands over
    * consecutive-match runs: within a run of equal symbols, offsets
    * 0, 2, 4… merge — the positional equivalent of the Spark side's
    * left-to-right fold). A one-symbol drift in any round cascades
    * into every later round's counts, so the gate pins the whole
    * trajectory.
    */
  private def duckBpeSql(rounds: Int): String = {
    val w0 =
      """d0 AS (
        |  SELECT unnest(regexp_extract_all(text,
        |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS word
        |  FROM documents
        |), w0 AS (
        |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
        |    list_transform(range(1, len(word) + 1), i -> word[i:i]) AS syms
        |  FROM d0 GROUP BY word
        |)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"w${r - 1}"
      s"""p$r AS (
         |  SELECT syms[i] AS a, syms[i + 1] AS b,
         |    CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i
         |        FROM $prev WHERE len(syms) >= 2)
         |  GROUP BY 1, 2
         |), b$r AS (
         |  SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1
         |), e$r AS (
         |  SELECT w.word, w.freq, b.a AS ba, b.b AS bb, w.syms,
         |    unnest(range(1, len(w.syms) + 1)) AS i
         |  FROM $prev w, b$r b
         |), f$r AS (
         |  SELECT word, freq, ba, bb, i, syms[i] AS s,
         |    (i < len(syms) AND syms[i] = ba AND syms[i + 1] = bb) AS m
         |  FROM e$r
         |), g$r AS (
         |  SELECT *, CASE WHEN m THEN i - ROW_NUMBER()
         |      OVER (PARTITION BY word, m ORDER BY i) END AS grp
         |  FROM f$r
         |), h$r AS (
         |  SELECT *, m AND (i - MIN(i) OVER (PARTITION BY word, grp)) % 2 = 0
         |      AS taken
         |  FROM g$r
         |), i$r AS (
         |  SELECT *, COALESCE(LAG(taken) OVER (PARTITION BY word ORDER BY i),
         |      FALSE) AS ptk
         |  FROM h$r
         |), w$r AS (
         |  SELECT word, freq,
         |    list(CASE WHEN taken THEN ba || bb ELSE s END ORDER BY i)
         |      FILTER (WHERE taken OR NOT ptk) AS syms
         |  FROM i$r GROUP BY word, freq
         |)""".stripMargin
    }
    val finals = (1 to rounds).map { r =>
      s"""SELECT $r AS round, a AS lhs, b AS rhs, a || b AS merged,
         |  cnt AS pair_count FROM b$r""".stripMargin
    }
    s"WITH $w0,\n${roundCtes.mkString(",\n")}\n" +
      finals.mkString("\nUNION ALL\n")
  }

  /** Learn→serve mirror (BpeTrain.encodeByVocab after train): the same
    * unrolled training chain, then every document's words joined to
    * the final word table's symbol sequences and reassembled in
    * position order.
    */
  private def duckBpeEncodeSql(rounds: Int): String = {
    val trained = duckBpeSql(rounds)
    val ctes = trained.substring(0, trained.indexOf("\nSELECT 1 AS round"))
    s"""$ctes,
       |docw AS (
       |  SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos
       |  FROM (SELECT doc_id, regexp_extract_all(text,
       |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS ws FROM documents)
       |)
       |SELECT d.doc_id,
       |  string_agg(array_to_string(w.syms, ' '), ' ' ORDER BY d.pos)
       |    AS piece_text
       |FROM (SELECT doc_id, pos, ws[pos] AS word FROM docw) d
       |JOIN w$rounds w USING (word)
       |GROUP BY d.doc_id""".stripMargin
  }

  /** Portable 16-token window-hash table (mirrors Dedup.windowHashes
    * at w=16, stride=1): CTEs `c` (all docs + token count) and `h`
    * (doc_id, start `s`, window sha256 `wh`). Shared by the
    * duplicated-window report and span gates.
    */
  private def duckWindowHashes: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n FROM t
      |), wn AS (
      |  SELECT doc_id, unnest(range(0, n - 16 + 1, 1)) AS s, ws
      |  FROM c WHERE n >= 16
      |), h AS (
      |  SELECT doc_id, s,
      |    sha256(array_to_string(ws[(s + 1):(s + 16)], ' ')) AS wh
      |  FROM wn
      |)""".stripMargin

  /** Portable SimHash mirror (Dedup.simhash): per-bit majority
    * vote over sha256-nibble token hashes, 60-bit word. Shared by the
    * signature and pair-join gates.
    */
  private def duckSimhashSql: String = {
    val bitSums = (0 until 60).map { b =>
      s"SUM(CASE WHEN ((strpos('0123456789abcdef', substr(dg, ${b / 4 + 1}, 1)) - 1) >> ${b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(",\n    ")
    val word = (0 until 60)
      .map(b => s"(CASE WHEN b$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT sid, sha256(t) AS dg FROM (
       |    SELECT doc_id AS sid,
       |      unnest(string_split_regex(trim(text), '\\s+')) AS t
       |    FROM documents) x
       |), bits AS (
       |  SELECT sid,
       |    $bitSums
       |  FROM tok GROUP BY sid
       |)
       |SELECT sid, CAST($word AS BIGINT) AS simhash FROM bits""".stripMargin
  }

  /** Shared by q_dedup_incremental and q_dedup_index: the persisted-
    * index form is an execution strategy over identical semantics.
    */
  private lazy val duckIncrementalDedupSql =
    s"""$duckShingles, mh AS (
       |  SELECT sid, $duckMh FROM sh GROUP BY sid
       |), bk AS (
       |  SELECT sid, b, CASE b $duckBandCase END AS bucket
       |  FROM mh CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bs
       |), newids AS (
       |  SELECT doc_id AS nid FROM documents
       |  WHERE ${duckHashBucket("doc_id", "inc", 5)} = 0
       |), cand AS (
       |  SELECT DISTINCT least(a.sid, b.sid) AS id_a,
       |    greatest(a.sid, b.sid) AS id_b
       |  FROM bk a
       |  JOIN newids ON a.sid = nid
       |  JOIN bk b ON a.b = b.b AND a.bucket = b.bucket AND a.sid <> b.sid
       |), ${duckJaccardTail(1, 2, restrictToCand = true)}""".stripMargin

  private val duckMh = (0 until 16)
    .map(i => s"min(substr(sha256(sh), ${1 + 3 * i}, 8)) AS mh$i")
    .mkString(", ")

  private val duckBandCase = (0 until 8)
    .map(b => s"WHEN $b THEN mh${2 * b} || mh${2 * b + 1}")
    .mkString(" ")

  private def duckJaccardTail(num: Int, den: Int, restrictToCand: Boolean,
                              shTable: String = "sh"): String = {
    val inter =
      if (restrictToCand)
        s"""inter AS (
           |  SELECT c.id_a, c.id_b, count(*) AS i
           |  FROM cand c
           |  JOIN $shTable x ON x.sid = c.id_a
           |  JOIN $shTable y ON y.sid = c.id_b AND y.sh = x.sh
           |  GROUP BY 1, 2
           |)""".stripMargin
      else
        s"""inter AS (
           |  SELECT x.sid AS id_a, y.sid AS id_b, count(*) AS i
           |  FROM $shTable x JOIN $shTable y ON x.sh = y.sh AND x.sid < y.sid
           |  GROUP BY 1, 2
           |)""".stripMargin
    s"""$inter,
       |sizes AS (SELECT sid, count(*) AS n FROM $shTable GROUP BY sid)
       |SELECT i.id_a, i.id_b,
       |  ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON sa.sid = i.id_a
       |JOIN sizes sb ON sb.sid = i.id_b
       |WHERE i.i * $den >= (sa.n + sb.n - i.i) * $num""".stripMargin
  }

  /** DuckDB oracle SQL, same column names as the Spark results. */
  def oracleSql: Map[String, String] = Map(
    // Mirrors Multimodal.decodeStub byte-for-byte: UTF-8 payload bytes
    // recovered from hex(encode(text)) nibbles; checksum is the same
    // 31-polynomial in BIGINT (range() lists are BIGINT, so no int32
    // overflow); f_mean reproduces float32 division exactly (byte sums
    // < 2^24 are float32-exact).
    "q_multimodal_meta" ->
      """WITH h AS (
        |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS byte_len
        |  FROM documents
        |), b AS (
        |  SELECT media_id, byte_len,
        |    list_transform(range(1, byte_len + 1),
        |      i -> (strpos('0123456789ABCDEF', substr(hx, CAST(2*i-1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF', substr(hx, CAST(2*i AS INT), 1)) - 1)) AS bytes
        |  FROM h
        |), c AS (
        |  SELECT media_id, byte_len, bytes,
        |    list_reduce(list_prepend(0, bytes),
        |      (acc, x) -> (acc * 31 + x) & 2147483647) AS checksum
        |  FROM b
        |)
        |SELECT media_id, byte_len, checksum,
        |  CAST(byte_len AS DOUBLE) AS f_len,
        |  CASE WHEN byte_len = 0 THEN 0.0
        |       ELSE CAST(CAST(list_sum(bytes) AS FLOAT) / CAST(byte_len AS FLOAT) AS DOUBLE)
        |  END AS f_mean,
        |  CAST(checksum % 256 AS DOUBLE) AS f_mod,
        |  CAST(COALESCE(bytes[1], 0) AS DOUBLE) AS f_first
        |FROM c""".stripMargin,
    "q_bronze_flatten" ->
      """SELECT event_id, event_type,
        |  CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS INT) AS props_k
        |FROM events""".stripMargin,
    "q_csv_roundtrip" -> "SELECT * FROM nation",
    "q_orc_roundtrip" -> "SELECT * FROM supplier",
    "q_ingest_manifest" ->
      """SELECT CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS INT) AS k,
        |  'manifest://events/' || event_id AS _source,
        |  '2026-08-12' AS _ingestion_date
        |FROM events""".stripMargin,
    "q_json_roundtrip" -> "SELECT * FROM customer",
    "q_partitioned_write" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |GROUP BY event_type""".stripMargin,
    // the even-key half was written without the last two columns and
    // must read back with them null; doubles pass through unaggregated
    // (bit-exact round trip, same contract as q_orc_roundtrip)
    // the post-merge table is base with the batch's keys replaced:
    // mirrored as one CASE over the raw table (double + 1000 is the
    // same IEEE add both sides; SUM(v) cast to BIGINT for dtype
    // parity)
    "q_upsert" ->
      """WITH merged AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1000
        |         ELSE o_totalprice END AS tp,
        |    CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END AS v
        |  FROM orders)
        |SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(tp AS DECIMAL(18,2))), 2) AS DOUBLE)
        |    AS revenue,
        |  CAST(SUM(v) AS BIGINT) AS n_updated
        |FROM merged GROUP BY o_orderpriority""".stripMargin,
    // skipping changes which FILES are opened, never the rows: the
    // mirror is the plain range filter over the same table
    "q_skipping_read" ->
      """SELECT o_orderpriority AS priority, COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
        |    AS DOUBLE) AS revenue
        |FROM orders WHERE o_orderkey BETWEEN 1000 AND 5000
        |GROUP BY o_orderpriority""".stripMargin,
    // bucketing changes the LAYOUT, never the rows: the mirror is the
    // plain join over the same parquet (decimal-exact revenue, same
    // factor casts as q_pricing_summary)
    "q_bucketed_join" ->
      """SELECT o_orderpriority AS priority,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
        |    AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q_schema_evolution" ->
      """SELECT c_custkey, c_name, c_nationkey,
        |  CAST(NULL AS DOUBLE) AS c_acctbal,
        |  CAST(NULL AS VARCHAR) AS c_mktsegment
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer WHERE c_custkey % 2 = 1""".stripMargin,
    "q_text_tokens" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    // (term_freq DESC, token) is a total order, so the top-100 cut is
    // deterministic; tokens are the same BPE-ish regex pieces as
    // n_bpe_tokens above (testdata is ASCII, so string order agrees)
    // T15: exact-integer 2×2 contingency per token, χ² as ONE multiply
    // + two left-associated divides (the identical IEEE shape the
    // Spark side computes), round 6 BEFORE the rank, token tie-break
    "q_text_chi2" ->
      """WITH docs AS (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lab,
        |    string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents
        |), pairs AS (
        |  SELECT DISTINCT doc_id, lab, unnest(ws) AS token FROM docs
        |), tot AS (
        |  SELECT COUNT(*) AS n_docs, CAST(SUM(lab) AS BIGINT) AS n_pos
        |  FROM docs
        |), cnt AS (
        |  SELECT token, COUNT(*) AS df_all,
        |    CAST(SUM(lab) AS BIGINT) AS df_pos
        |  FROM pairs GROUP BY token
        |), sc AS (
        |  SELECT token, df_pos, df_all,
        |    ROUND(CAST(n_docs AS DOUBLE)
        |        * CAST((df_pos * (n_docs - n_pos - (df_all - df_pos))
        |                - (df_all - df_pos) * (n_pos - df_pos))
        |             * (df_pos * (n_docs - n_pos - (df_all - df_pos))
        |                - (df_all - df_pos) * (n_pos - df_pos)) AS DOUBLE)
        |        / CAST(df_all * (n_docs - df_all) AS DOUBLE)
        |        / CAST(n_pos * (n_docs - n_pos) AS DOUBLE), 6) AS chi2
        |  FROM cnt, tot
        |  WHERE df_all >= 3 AND df_all < n_docs
        |)
        |SELECT token, df_pos, df_all, chi2,
        |  ROW_NUMBER() OVER (ORDER BY chi2 DESC, token) AS chi2_rank
        |FROM sc
        |QUALIFY chi2_rank <= 20""".stripMargin,
    "q_text_vocab" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS token
        |  FROM documents
        |), ag AS (
        |  SELECT token, COUNT(*) AS term_freq,
        |    COUNT(DISTINCT doc_id) AS doc_freq
        |  FROM tok GROUP BY token
        |)
        |SELECT token, term_freq, doc_freq,
        |  ROW_NUMBER() OVER (ORDER BY term_freq DESC, token) AS vocab_rank
        |FROM ag
        |QUALIFY vocab_rank <= 100""".stripMargin,
    "q_text_langid" -> {
      val scores = graft.functions.TextFunctions.Stopwords.map { case (l, ws) =>
        s"len(list_filter(ws, t -> list_contains(${duckList(ws)}, t))) AS s_$l"
      }.mkString(",\n    ")
      s"""WITH t AS (
         |  SELECT doc_id, lang AS lang_label, text,
         |    string_split_regex(trim(text), '\\s+') AS ws
         |  FROM documents
         |), sc AS (
         |  SELECT doc_id, lang_label, text,
         |    $scores
         |  FROM t
         |)
         |SELECT doc_id, lang_label,
         |  CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
         |       WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
         |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
         |       WHEN s_de >= s_fr THEN 'de'
         |       ELSE 'fr' END AS lang_pred
         |FROM sc""".stripMargin
    },
    "q_text_quality" -> duckQualitySql,
    "q_text_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\+?[0-9]{1,3}[-. ]?\(?[0-9]{2,3}\)?[-. ]?[0-9]{3,4}[-. ]?[0-9]{4}', '[PHONE]', 'g'),
        |    '[0-9]{8,}', '[NUMBER]', 'g') AS clean_text
        |FROM documents""".stripMargin,
    "q_dedup_simhash" -> duckSimhashSql,
    "q_dedup_simhash_pairs" ->
      s"""WITH sims AS ($duckSimhashSql),
         |blk AS (
         |  SELECT sid, simhash, b, (simhash >> CAST(b * 15 AS INT)) & 32767 AS key
         |  FROM sims CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs
         |)
         |SELECT DISTINCT a.sid AS id_a, b.sid AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM blk a
         |JOIN blk b ON a.b = b.b AND a.key = b.key AND a.sid < b.sid
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,
    "q_dedup_exact_text" ->
      """SELECT sha256(text) AS text_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,
    "q_text_fingerprint" ->
      s"""$duckShingles, fp AS (
         |  SELECT sid, min(sha256(sh)) AS fp FROM sh GROUP BY sid
         |), j AS (
         |  SELECT d.doc_id AS sid, COALESCE(f.fp, sha256(d.text)) AS fingerprint
         |  FROM documents d LEFT JOIN fp f ON f.sid = d.doc_id
         |)
         |SELECT fingerprint, min(sid) AS keep_id, count(*) AS n_docs
         |FROM j GROUP BY fingerprint""".stripMargin,
    // T16: same 3-gram shingle CTE as the fingerprint oracle; df from
    // the distinct (doc, shingle) pairs, one division, round 6
    "q_text_novelty" ->
      s"""$duckShingles, dfc AS (
         |  SELECT sh AS shv, COUNT(*) AS df FROM sh GROUP BY sh
         |), per AS (
         |  SELECT sid, COUNT(*) AS n_sh,
         |    CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_nov
         |  FROM sh JOIN dfc ON sh.sh = dfc.shv GROUP BY sid
         |)
         |SELECT d.doc_id, COALESCE(n_sh, 0) AS n_shingles,
         |  COALESCE(n_nov, 0) AS n_novel,
         |  ROUND(CAST(n_nov AS DOUBLE) / CAST(n_sh AS DOUBLE), 6) AS novelty
         |FROM documents d LEFT JOIN per ON per.sid = d.doc_id""".stripMargin,
    // pmod-safe modulo mirror: DuckDB's % keeps the dividend's sign
    // while Spark's pmod is always non-negative — aligned here so the
    // parity holds even if ids ever go negative
    "q_zorder_key" -> {
      val a = "(((user_id % 65536) + 65536) % 65536)"
      val b = "(((event_id % 65536) + 65536) % 65536)"
      val terms = (0 until 16).map { i =>
        s"((($a >> $i) & 1) << ${2 * i}) | " +
          s"((($b >> $i) & 1) << ${2 * i + 1})"
      }
      s"""SELECT event_id,
         |  (${terms.mkString("(", ") | (", ")")}) AS z
         |FROM events""".stripMargin
    },
    // the gate checks the OUTCOME contract of the freshness-gated
    // write: first write happens, an immediately-repeated write is
    // skipped, a stale-aged write happens, and the landed table is
    // readable with every source row
    "q_freshness_gate" ->
      """SELECT true AS first_write, false AS second_skipped_is_false,
        |  true AS forced_rewrite,
        |  (SELECT count(*) FROM nation) AS rows_readable""".stripMargin,
    // outcome contracts + one real recount each
    "q_pipeline_run" ->
      """SELECT CAST(25 AS BIGINT) AS silver_nation_rows,
        |  true AS dim_keys_unique,
        |  (SELECT count(*) FROM lineitem) AS fact_rows""".stripMargin,
    // the incremental DAG's merged fact must equal the full-table
    // build — DuckDB recounts it from the raw lineitem
    "q_pipeline_incremental" ->
      """SELECT true AS untouched_months_reused,
        |  true AS batch_months_new, true AS schema_triple_advanced,
        |  (SELECT count(*) FROM lineitem) AS fact_rows""".stripMargin,
    "q_compact" ->
      """SELECT true AS scattered_24, true AS compacted_to_target,
        |  (SELECT count(*) FROM orders) AS rows_readable""".stripMargin,
    "q_hll_sketches" ->
      """SELECT true AS union_within_2pct_of_global,
        |  true AS estimate_within_5pct,
        |  (SELECT count(DISTINCT user_id) FROM events) AS n_users_exact""".stripMargin,
    "q_quantile_sketches" ->
      """SELECT true AS union_equals_global, true AS within_one_bin,
        |  (SELECT quantile_cont(o_totalprice, 0.5) FROM orders)
        |    AS exact_p50""".stripMargin,
    // tokenization parity with q_text_tokens (string_split_regex ==
    // Spark split on \s+, '' filtered both sides); strict integer
    // threshold count·500 > n
    "q_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM toks WHERE token <> '')
        |SELECT token, count(*) AS n_occurrences
        |FROM toks, tot WHERE token <> ''
        |GROUP BY token, n HAVING count(*) * 500 > n""".stripMargin,
    // same per-column casts as q_profile; n_null from COUNT(*) −
    // COUNT(col); the HLL tracking boolean is literal true
    "q_profile_incremental" -> Seq(
      ("o_orderkey", "CAST(MIN(o_orderkey) AS VARCHAR)",
        "CAST(MAX(o_orderkey) AS VARCHAR)", "o_orderkey"),
      ("o_custkey", "CAST(MIN(o_custkey) AS VARCHAR)",
        "CAST(MAX(o_custkey) AS VARCHAR)", "o_custkey"),
      ("o_orderstatus", "CAST(MIN(o_orderstatus) AS VARCHAR)",
        "CAST(MAX(o_orderstatus) AS VARCHAR)", "o_orderstatus"),
      ("o_totalprice",
        "CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)",
        "CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)",
        "o_totalprice"),
      ("o_orderdate", "CAST(MIN(o_orderdate) AS VARCHAR)",
        "CAST(MAX(o_orderdate) AS VARCHAR)", "o_orderdate"),
      ("o_orderpriority", "CAST(MIN(o_orderpriority) AS VARCHAR)",
        "CAST(MAX(o_orderpriority) AS VARCHAR)", "o_orderpriority"),
    ).map { case (name, mn, mx, c) =>
      s"""SELECT '$name' AS column_name, COUNT($c) AS n_nonnull,
         |  COUNT(*) - COUNT($c) AS n_null, $mn AS min_val,
         |  $mx AS max_val, true AS distinct_within_5pct
         |FROM orders""".stripMargin
    }.mkString("\nUNION ALL\n"),
    "q_freq_sketches" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM toks WHERE token <> '')
        |SELECT true AS union_contains_all_heavy,
        |  true AS counters_within_guarantee,
        |  (SELECT count(*) FROM (
        |    SELECT token FROM toks, tot WHERE token <> ''
        |    GROUP BY token, n HAVING count(*) * 500 > n))
        |    AS n_heavy_exact,
        |  (SELECT n FROM tot) AS n_tokens""".stripMargin,
    "q_pipeline_retries" ->
      """SELECT true AS retried_to_third_attempt,
        |  true AS exhaustion_rethrows_last,
        |  true AS failed_exactly_max_attempts,
        |  (SELECT count(*) FROM nation) AS nation_rows""".stripMargin,
    "q_write_audited" ->
      """SELECT (SELECT count(*) FROM orders) AS published_rows,
        |  true AS audit_all_passed,
        |  true AS failing_audit_refused,
        |  true AS failed_target_absent,
        |  true AS staging_left_for_inspection,
        |  true AS existing_target_refused""".stripMargin,
    // snapshot-table contract booleans + the real recount of the
    // currently served generation
    "q_snapshot_table" ->
      """SELECT true AS v1_timetravel_exact, true AS crash_never_gapped,
        |  true AS residue_refused, true AS compacted_to_target,
        |  (SELECT count(*) FROM nation) AS rows_current""".stripMargin,
    // manifest-table contract booleans + the real recount of the
    // served state (the final promotion restored region 2's original
    // rows, so the serving table is the full base table again)
    "q_snapshot_manifest" ->
      """SELECT true AS untouched_files_reused,
        |  true AS changed_partition_new, true AS v1_timetravel_exact,
        |  true AS retention_holds_deltas,
        |  true AS missing_file_unhealthy,
        |  (SELECT count(*) FROM nation) AS rows_current""".stripMargin,
    // every time-travel CDC status count is data-derived: added =
    // the re-keyed region-4 batch, changed = the one renamed
    // surviving key, removed = the dropped high regions, unchanged =
    // the rest of the survivors
    "q_snapshot_diff_gens" ->
      """SELECT * FROM (
        |  SELECT 'added' AS change,
        |    (SELECT count(*) FROM nation WHERE n_regionkey = 4) AS n
        |  UNION ALL SELECT 'changed', CAST(1 AS BIGINT)
        |  UNION ALL SELECT 'removed',
        |    (SELECT count(*) FROM nation WHERE n_regionkey >= 3)
        |  UNION ALL SELECT 'unchanged',
        |    (SELECT count(*) FROM nation WHERE n_regionkey < 3) - 1
        |) t""".stripMargin,
    // the pinned VERSION-AS-OF view is the full base table; the
    // serving view is the low-region promotion — both recomputed by
    // DuckDB from nation
    "q_snapshot_sql" ->
      """SELECT n_regionkey, count(*) AS n_v1,
        |  (SELECT count(*) FROM nation WHERE n_regionkey < 2)
        |    AS n_current
        |FROM nation GROUP BY n_regionkey""".stripMargin,
    // manifest-list contract booleans + the real recount (the final
    // promotion restored region 2, so the serving table is the full
    // base again — the q_snapshot_manifest shape)
    "q_manifest_list" ->
      """SELECT true AS group_refs_reused, true AS single_group_parse,
        |  true AS partition_read_exact, true AS v1_timetravel_exact,
        |  true AS fsck_healthy,
        |  (SELECT count(*) FROM nation) AS rows_current""".stripMargin,
    // every streamed change class is data-derived (the
    // q_snapshot_diff_gens counts, minus unchanged): bootstrap = the
    // full table as adds, then the promotion's adds/changes/removes
    "q_snapshot_cdc" ->
      """SELECT true AS full_sync_added, true AS restart_noop,
        |  true AS crash_redelivers_exact,
        |  (SELECT count(*) FROM nation) AS n_bootstrap,
        |  (SELECT count(*) FROM nation WHERE n_regionkey = 4)
        |    AS n_added,
        |  CAST(1 AS BIGINT) AS n_changed,
        |  (SELECT count(*) FROM nation WHERE n_regionkey >= 3)
        |    AS n_removed""".stripMargin,
    // the readStream form drains the same promotions: same
    // data-derived change-class counts, engine-checkpointed offsets
    "q_stream_cdf" ->
      """SELECT true AS full_sync_added, true AS restart_noop,
        |  true AS startgen_diffs_only,
        |  (SELECT count(*) FROM nation) AS n_bootstrap,
        |  (SELECT count(*) FROM nation WHERE n_regionkey = 4)
        |    AS n_added,
        |  CAST(1 AS BIGINT) AS n_changed,
        |  (SELECT count(*) FROM nation WHERE n_regionkey >= 3)
        |    AS n_removed""".stripMargin,
    // the instant between the two publishes resolves to gen 1 (the
    // full table), "now" to the serving low-region gen — both
    // recounted from nation; refusal/pinning laws ride as booleans
    "q_snapshot_ts" ->
      """SELECT true AS pre_publish_refused,
        |  true AS now_resolves_current, true AS manifest_ts_resolves,
        |  true AS sql_ts_pinned,
        |  (SELECT count(*) FROM nation) AS n_at_t1,
        |  (SELECT count(*) FROM nation WHERE n_regionkey < 2)
        |    AS n_current""".stripMargin,
    // the post-delete table recomputed from orders: 1996's F rows and
    // all of 2001 gone — the contract booleans ride along
    "q_manifest_delete" ->
      """SELECT true AS untouched_files_reused,
        |  true AS emptied_partition_dropped,
        |  true AS timetravel_intact, true AS fsck_healthy,
        |  (SELECT count(*) FROM orders
        |   WHERE NOT (year(o_orderdate) = 1996 AND o_orderstatus = 'F')
        |     AND year(o_orderdate) <> 2001) AS n_rows_current"""
        .stripMargin,
    // the post-DV-delete table recomputed from orders: the sparse
    // key takedown plus 1996's F rows gone — the merge-on-read
    // contract booleans ride along
    "q_manifest_dv" ->
      """SELECT true AS data_files_byte_identical,
        |  true AS dv_entries_added, true AS cdf_removed_exact,
        |  true AS timetravel_intact, true AS fsck_healthy_with_dv,
        |  true AS dv_folded_by_compaction,
        |  (SELECT count(*) FROM orders
        |   WHERE o_orderkey % 997 <> 0
        |     AND NOT (year(o_orderdate) = 1996
        |              AND o_orderstatus = 'F')) AS n_rows_current"""
        .stripMargin,
    // the renamed-then-updated table recomputed from orders: 1996
    // repriced ×0.90 in exact decimal under the renamed column —
    // the metadata-only contract booleans ride along
    "q_manifest_rename" ->
      """SELECT true AS data_files_byte_identical,
        |  true AS timetravel_old_schema, true AS fsck_healthy,
        |  count(*) AS n_rows,
        |  CAST(ROUND(SUM(CASE
        |    WHEN year(o_orderdate) = 1996
        |    THEN ROUND(CAST(o_totalprice AS DECIMAL(18,2)) *
        |      CAST(0.90 AS DECIMAL(3,2)), 2)
        |    ELSE CAST(o_totalprice AS DECIMAL(18,2)) END), 2)
        |    AS DOUBLE) AS revenue
        |FROM orders""".stripMargin,
    // the post-update table recomputed from orders with CASE WHEN:
    // 1996's URGENT rows repriced ×0.90 in exact decimal — the
    // contract booleans ride along
    "q_manifest_update" ->
      """SELECT true AS untouched_files_reused,
        |  true AS timetravel_intact, true AS fsck_healthy,
        |  count(*) AS n_rows_current,
        |  CAST(SUM(CASE
        |    WHEN year(o_orderdate) = 1996 AND o_orderpriority LIKE '1%'
        |    THEN ROUND(CAST(o_totalprice AS DECIMAL(18,2)) *
        |      CAST(0.90 AS DECIMAL(3,2)), 2)
        |    ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
        |    AS DOUBLE) AS revenue_after,
        |  COUNT(CASE
        |    WHEN year(o_orderdate) = 1996 AND o_orderpriority LIKE '1%'
        |    THEN 1 END) AS n_updated
        |FROM orders""".stripMargin,
    // the three-statement DML trajectory recomputed from orders:
    // delete 1996's F rows, reprice 1997's '2%'-priority rows ×0.95
    // in exact decimal, then the canonical upsert — matched rows
    // (o_orderkey % 997 = 0) re-land status-'M' at unchanged price,
    // key-shifted copies insert, so rows/revenue/status counts are
    // all derivable in closed form
    "q_sql_dml" ->
      """WITH upd AS (
        |  SELECT o_orderkey,
        |    CASE WHEN year(o_orderdate) = 1997
        |           AND o_orderpriority LIKE '2%'
        |      THEN ROUND(CAST(o_totalprice AS DECIMAL(18,2)) *
        |        CAST(0.95 AS DECIMAL(3,2)), 2)
        |      ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
        |  FROM orders
        |  WHERE NOT (year(o_orderdate) = 1996 AND o_orderstatus = 'F')
        |), src AS (SELECT * FROM upd WHERE o_orderkey % 997 = 0)
        |SELECT true AS untouched_files_reused, true AS sql_returns_gen,
        |  true AS fsck_healthy,
        |  (SELECT count(*) FROM upd) + (SELECT count(*) FROM src)
        |    AS n_rows,
        |  CAST(ROUND((SELECT SUM(price) FROM upd) +
        |    (SELECT COALESCE(SUM(price), 0) FROM src), 2) AS DOUBLE)
        |    AS revenue,
        |  2 * (SELECT count(*) FROM src) AS n_status_m""".stripMargin,
    // the general CDC apply recomputed from orders: 1996-1998
    // key-sampled F rows reprice ×2 (decimal) and stamp CDC, their
    // non-F siblings delete, even negated keys insert thin rows, and
    // 2000's unmatched %10 rows retire — rows/revenue/counts all in
    // closed form
    "q_sql_merge" ->
      """WITH src AS (
        |  SELECT o_orderkey,
        |    ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 2, 2)
        |      AS newprice
        |  FROM orders
        |  WHERE o_orderkey % 499 = 0 AND o_orderkey > 0
        |    AND year(o_orderdate) BETWEEN 1996 AND 1998
        |), kept AS (
        |  SELECT
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.newprice
        |      ELSE CAST(o.o_totalprice AS DECIMAL(18,2)) END AS price,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN 'CDC'
        |      ELSE o.o_orderpriority END AS prio
        |  FROM orders o LEFT JOIN src s
        |    ON o.o_orderkey = s.o_orderkey
        |  WHERE NOT (s.o_orderkey IS NOT NULL
        |      AND o.o_orderstatus <> 'F')
        |    AND NOT (s.o_orderkey IS NULL
        |      AND year(o.o_orderdate) = 2000 AND o.o_orderkey % 10 = 0)
        |), ins AS (SELECT newprice FROM src WHERE o_orderkey % 2 = 0)
        |SELECT true AS untouched_files_reused, true AS one_generation,
        |  true AS fsck_healthy,
        |  (SELECT count(*) FROM kept) + (SELECT count(*) FROM ins)
        |    AS n_rows,
        |  CAST(ROUND((SELECT SUM(price) FROM kept) +
        |    (SELECT COALESCE(SUM(newprice), 0) FROM ins), 2)
        |    AS DOUBLE) AS revenue,
        |  (SELECT count(*) FROM kept WHERE prio = 'CDC') AS n_cdc,
        |  (SELECT count(*) FROM ins) AS n_inserted""".stripMargin,
    // two appends recomputed from orders: 1996's rows re-land
    // key-negated at their original price with priority NEW, 1997's
    // land key-only (every other column NULL)
    "q_sql_insert" ->
      """SELECT true AS untouched_files_reused,
        |  true AS sql_returns_gen, true AS fsck_healthy,
        |  (SELECT count(*) FROM orders) +
        |  (SELECT count(*) FROM orders
        |     WHERE year(o_orderdate) IN (1996, 1997)
        |       AND o_orderkey > 0) AS n_rows,
        |  CAST(ROUND(
        |    (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |       FROM orders) +
        |    (SELECT COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))),
        |       0) FROM orders
        |       WHERE year(o_orderdate) = 1996 AND o_orderkey > 0),
        |    2) AS DOUBLE) AS revenue,
        |  (SELECT count(*) FROM orders
        |     WHERE year(o_orderdate) = 1996 AND o_orderkey > 0)
        |    AS n_new,
        |  (SELECT count(*) FROM orders
        |     WHERE year(o_orderdate) = 1997 AND o_orderkey > 0)
        |    AS n_nullfilled""".stripMargin,
    // the catalog trajectory recomputed from orders: everything
    // inserted, 1997's '2%'-priority rows repriced ×0.95 in exact
    // decimal, 1996's F rows deleted; VERSION AS OF 2 is the
    // pre-update (full) row count
    "q_sql_catalog" ->
      """SELECT true AS table_listed, true AS sql_returns_gen,
        |  true AS timestamp_as_of_serves, true AS fsck_healthy,
        |  true AS ctas_one_gen, true AS alter_metadata_only,
        |  true AS alter_backfills, true AS overwrite_carries,
        |  (SELECT count(*) FROM orders) AS n_version2,
        |  count(*) AS n_rows,
        |  CAST(ROUND(SUM(CASE
        |    WHEN year(o_orderdate) = 1997 AND o_orderpriority LIKE '2%'
        |    THEN ROUND(CAST(o_totalprice AS DECIMAL(18,2)) *
        |      CAST(0.95 AS DECIMAL(3,2)), 2)
        |    ELSE CAST(o_totalprice AS DECIMAL(18,2)) END), 2)
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n_ctas,
        |  (SELECT count(*) FROM orders WHERE year(o_orderdate) = 1997)
        |    AS n_overwritten_1997,
        |  count(*) + 1 AS n_after_append
        |FROM orders
        |WHERE NOT (year(o_orderdate) = 1996 AND o_orderstatus = 'F')
        |""".stripMargin,
    // the widened table holds every original row (the 1996 partition
    // re-published with the flag, every other era carried) — rows,
    // flagged count and revenue all recomputed from orders
    "q_manifest_evolution" ->
      """SELECT true AS untouched_files_reused,
        |  true AS old_era_null_backfilled,
        |  true AS timetravel_old_schema, true AS drop_refused,
        |  true AS retype_refused, true AS fsck_healthy,
        |  count(*) AS n_rows,
        |  (SELECT count(*) FROM orders WHERE year(o_orderdate) = 1996)
        |    AS n_flagged,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
        |    AS DOUBLE) AS revenue
        |FROM orders""".stripMargin,
    // the migrated-then-merged table recomputed from orders: the
    // (1996, 03) cell's %3 slice doubled its price after the spec
    // change, everything else rides unchanged
    "q_manifest_repartition" ->
      """SELECT true AS spec_migrated, true AS timetravel_old_spec,
        |  true AS untouched_cells_reused, true AS prefix_read_scoped,
        |  true AS fsck_healthy,
        |  count(*) AS n_rows,
        |  CAST(ROUND(SUM(CASE
        |    WHEN year(o_orderdate) = 1996 AND month(o_orderdate) = 3
        |      AND o_orderkey % 3 = 0
        |    THEN ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 2, 2)
        |    ELSE CAST(o_totalprice AS DECIMAL(18,2)) END), 2)
        |    AS DOUBLE) AS revenue
        |FROM orders""".stripMargin,
    // the merged hierarchical table recomputed from orders: the
    // (1996, 03) cell's key-sampled slice doubled its price, every
    // other cell rides unchanged; cell/prefix counts are plain
    // filters
    "q_manifest_multipart" ->
      """SELECT true AS cell_scoped_rewrite, true AS prefix_read_scoped,
        |  true AS fsck_healthy,
        |  (SELECT count(*) FROM orders WHERE year(o_orderdate) = 1996
        |     AND month(o_orderdate) = 3) AS n_cell,
        |  (SELECT count(*) FROM orders WHERE year(o_orderdate) = 1996)
        |    AS n_prefix,
        |  count(*) AS n_rows,
        |  CAST(ROUND(SUM(CASE
        |    WHEN year(o_orderdate) = 1996 AND month(o_orderdate) = 3
        |      AND o_orderkey % 3 = 0
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) * 2
        |    ELSE CAST(o_totalprice AS DECIMAL(18,2)) END), 2)
        |    AS DOUBLE) AS revenue
        |FROM orders""".stripMargin,
    // the restored table IS the original orders — the rollback
    // booleans ride along
    "q_manifest_restore" ->
      """SELECT true AS restore_metadata_only, true AS history_intact,
        |  true AS expire_reclaimed_branch, true AS fsck_healthy,
        |  count(*) AS n_rows_current,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
        |    AS DOUBLE) AS revenue
        |FROM orders""".stripMargin,
    // clustering changes which FILES are opened, never the rows: the
    // mirror is the plain range filter over the same table (the
    // q_manifest_skipping discipline, post-OPTIMIZE)
    "q_manifest_cluster" ->
      """SELECT true AS partitions_rewritten, true AS pruned_under_half,
        |  true AS rows_equal_unpruned, true AS fsck_healthy,
        |  count(*) AS n_rows,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
        |    AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_custkey BETWEEN 100 AND 199""".stripMargin,
    // the post-fast-forward table recomputed from orders: 1996 keeps
    // only its O-status rows, every other year rides unchanged — the
    // ref-protocol booleans ride along
    "q_table_refs" ->
      """SELECT true AS main_isolated, true AS untouched_files_reused,
        |  true AS promoted_from_branch, true AS tag_serves_original,
        |  true AS snapshot_tag_pinned, true AS snapshot_branch_ff,
        |  true AS fsck_healthy,
        |  count(*) AS n_rows_current,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
        |    AS DOUBLE) AS revenue
        |FROM orders
        |WHERE year(o_orderdate) <> 1996 OR o_orderstatus = 'O'"""
        .stripMargin,
    // skipping changes which FILES are opened, never the rows: the
    // mirror is the plain range filter over the same table (the
    // q_skipping_read discipline, on the manifest layer)
    "q_manifest_skipping" ->
      """SELECT true AS pruned_under_half, true AS opened_only_matching,
        |  true AS rows_equal_unpruned, count(*) AS n_rows,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
        |    AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderdate BETWEEN '1996-03-01' AND '1996-05-31'"""
        .stripMargin,
    // the snapshot fsck inventory is structure-driven: one serving
    // gen, one superseded gen audited as a crashed prune's leftover
    // (keep=1 against the keep=3 publish), one crashed-publish
    // residue (cur+1), one impossible future gen, the committed
    // pointer plus its planted interrupted-swap file
    "q_snapshot_audit" ->
      """SELECT * FROM (VALUES
        |  ('gen', 'orphan_future', false, CAST(1 AS BIGINT)),
        |  ('gen', 'over_retained', true, CAST(1 AS BIGINT)),
        |  ('gen', 'publish_residue', true, CAST(1 AS BIGINT)),
        |  ('gen', 'serving', true, CAST(1 AS BIGINT)),
        |  ('pointer', 'current_ok', true, CAST(1 AS BIGINT)),
        |  ('pointer', 'swap_residue', true, CAST(1 AS BIGINT))
        |) AS t(kind, status, healthy, n)""".stripMargin,
    // the daily grid anchored on the events date span is inclusive of
    // both endpoints, so its length is the real data-derived row
    "q_pipeline_schedule" ->
      """SELECT CAST(date_diff('day', min(CAST(ts AS DATE)),
        |    max(CAST(ts AS DATE))) + 1 AS BIGINT) AS n_daily_runs,
        |  true AS grid_spans_inclusive,
        |  true AS catchup_false_keeps_last,
        |  true AS resume_after_lastrun,
        |  true AS offgrid_lastrun_rounds_up
        |FROM events""".stripMargin,
    "q_namespace_init" ->
      """SELECT true AS database_created_once, true AS path_created_once,
        |  (SELECT count(*) FROM nation) AS rows_readable""".stripMargin,
    "q_corpus_increment" ->
      """SELECT true AS growth_exact, true AS planted_rejected,
        |  true AS silver_deduped, true AS replay_refused,
        |  (SELECT count(*) + 2 FROM documents) AS n_docs_processed""".stripMargin,
    "q_stream_corpus" ->
      """SELECT true AS stream_landed, true AS restart_noop,
        |  true AS redelivery_skipped, true AS silver_deduped,
        |  (SELECT count(*) FROM documents) AS n_docs_source""".stripMargin,
    "q_stream_vectors" ->
      """SELECT true AS stream_landed, true AS restart_noop,
        |  true AS redelivery_skipped, true AS serve_equals_inmemory,
        |  (SELECT count(*) FROM embeddings) AS n_vectors_source"""
        .stripMargin,
    "q_stream_snapshot" ->
      """SELECT true AS stream_landed, true AS restart_noop,
        |  true AS redelivery_skipped, true AS timetravel_per_batch,
        |  (SELECT count(*) FROM documents) AS n_docs_source"""
        .stripMargin,
    // n_docs_classified = the day-1 hash slice plus the two planted
    // duplicates, recounted from the raw table
    "q_corpus_classify" ->
      s"""SELECT true AS labels_partition_batch,
         |  true AS accepts_equal_landed,
         |  true AS planted_exact_labeled, true AS planted_near_labeled,
         |  (SELECT count(*) + 2 FROM documents
         |   WHERE ${duckHashBucket("doc_id", "cinc", 5)} = 0)
         |    AS n_docs_classified""".stripMargin,
    // the post-takedown silver = the canonical count (the
    // q_corpus_pipeline mirror) minus the two retracted docs; the
    // physical-scrub and audit laws ride as booleans
    "q_corpus_retract" ->
      """SELECT true AS silver_scrubbed, true AS gold_scrubbed,
        |  true AS bm25_scrubbed, true AS vector_scrubbed,
        |  true AS audits_healthy,
        |  (SELECT count(DISTINCT lower(regexp_replace(trim(
        |      trim(regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(text, '<[^>]*>', ' ', 'g'),
        |            'https?://[^\s]+', ' ', 'g'),
        |          '&#?[A-Za-z0-9]+;', ' ', 'g'),
        |        '\s+', ' ', 'g'))), '\s+', ' ', 'g'))) - 2
        |   FROM documents) AS n_silver_after""".stripMargin,
    // silver_docs = one canonical doc per distinct strip+normalized
    // text, recomputed from the raw table (same strip/normalize
    // mirrors as q_text_strip/q_text_normalize, unwrapped)
    "q_corpus_pipeline" ->
      """SELECT true AS gold_nonempty, true AS epoch_ranks_dense,
        |  (SELECT count(DISTINCT lower(regexp_replace(trim(
        |      trim(regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(text, '<[^>]*>', ' ', 'g'),
        |            'https?://[^\s]+', ' ', 'g'),
        |          '&#?[A-Za-z0-9]+;', ' ', 'g'),
        |        '\s+', ' ', 'g'))), '\s+', ' ', 'g')))
        |   FROM documents) AS silver_docs""".stripMargin,
    "q_dedup_minhash" ->
      s"""$duckShingles, mh AS (
         |  SELECT sid, $duckMh FROM sh GROUP BY sid
         |), bk AS (
         |  SELECT sid, b, CASE b $duckBandCase END AS bucket
         |  FROM mh CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bs
         |), cand AS (
         |  SELECT DISTINCT a.sid AS id_a, b.sid AS id_b
         |  FROM bk a JOIN bk b
         |    ON a.b = b.b AND a.bucket = b.bucket AND a.sid < b.sid
         |), ${duckJaccardTail(1, 2, restrictToCand = true)}""".stripMargin,
    // same MinHash+LSH+verify mirror as q_dedup_minhash, then the
    // transitive closure as a recursive CTE: group_id = min reachable
    // id (connected components are algorithm-independent, so the
    // iterative Spark propagation and the recursive SQL agree exactly)
    "q_dedup_groups" ->
      s"""WITH RECURSIVE $duckShinglesBody, mh AS (
         |  SELECT sid, $duckMh FROM sh GROUP BY sid
         |), bk AS (
         |  SELECT sid, b, CASE b $duckBandCase END AS bucket
         |  FROM mh CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bs
         |), cand AS (
         |  SELECT DISTINCT a.sid AS id_a, b.sid AS id_b
         |  FROM bk a JOIN bk b
         |    ON a.b = b.b AND a.bucket = b.bucket AND a.sid < b.sid
         |), inter AS (
         |  SELECT c.id_a, c.id_b, count(*) AS i
         |  FROM cand c
         |  JOIN sh x ON x.sid = c.id_a
         |  JOIN sh y ON y.sid = c.id_b AND y.sh = x.sh
         |  GROUP BY 1, 2
         |), sizes AS (SELECT sid, count(*) AS n FROM sh GROUP BY sid),
         |pairs AS (
         |  SELECT i.id_a, i.id_b FROM inter i
         |  JOIN sizes sa ON sa.sid = i.id_a
         |  JOIN sizes sb ON sb.sid = i.id_b
         |  WHERE i.i * 2 >= (sa.n + sb.n - i.i) * 1
         |), sym AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT reach.id, sym.b FROM reach JOIN sym ON sym.a = reach.r
         |)
         |SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id""".stripMargin,
    "q_corpus_sample" ->
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE ${duckHashBucket("doc_id", "s1", 10)} < 1""".stripMargin,
    // FLOOR(score*20) is identical IEEE double math on both engines
    // (score is already 6-dp rounded by the shared quality formula)
    "q_corpus_weighted" ->
      s"""WITH q AS ($duckQualitySql)
         |SELECT doc_id, quality_score FROM q
         |WHERE ${duckHashBucket("doc_id", "w1", 20)} <
         |  LEAST(CAST(FLOOR(quality_score * 20) AS BIGINT), 20)""".stripMargin,
    "q_corpus_split" ->
      s"""SELECT doc_id,
         |  CASE WHEN ${duckHashBucket("doc_id", "sp", 10)} < 8 THEN 'train'
         |       WHEN ${duckHashBucket("doc_id", "sp", 10)} < 9 THEN 'val'
         |       WHEN ${duckHashBucket("doc_id", "sp", 10)} < 10 THEN 'test'
         |  END AS split
         |FROM documents""".stripMargin,
    "q_corpus_decontam_split" ->
      s"""$duckShingles, bench AS (
         |  SELECT doc_id AS bid FROM documents
         |  WHERE ${duckHashBucket("doc_id", "bench", 20)} = 0
         |), bsh AS (
         |  SELECT bid, sh FROM sh JOIN bench ON sid = bid
         |), csh AS (
         |  SELECT sid, sh FROM sh
         |  WHERE sid NOT IN (SELECT bid FROM bench)
         |), flagged AS (
         |  SELECT c.sid FROM csh c JOIN bsh b USING (sh)
         |  GROUP BY c.sid, b.bid HAVING count(*) >= 8
         |)
         |SELECT doc_id,
         |  CASE WHEN ${duckHashBucket("doc_id", "sp", 10)} < 8 THEN 'train'
         |       WHEN ${duckHashBucket("doc_id", "sp", 10)} < 9 THEN 'val'
         |       WHEN ${duckHashBucket("doc_id", "sp", 10)} < 10 THEN 'test'
         |  END AS split
         |FROM documents
         |WHERE ${duckHashBucket("doc_id", "bench", 20)} <> 0
         |  AND doc_id NOT IN (SELECT sid FROM flagged)""".stripMargin,
    "q_corpus_cap" ->
      """SELECT doc_id, lang FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY doc_id) <= 50""".stripMargin,
    "q_corpus_mixture" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${duckHashBucket("doc_id", "mix", 10)} <
         |  CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 5
         |            WHEN 'fr' THEN 5 WHEN 'es' THEN 3 END""".stripMargin,
    // α=0.5: every arithmetic step (double divide, sqrt, multiply,
    // floor) is IEEE-correctly-rounded, so the integer rates agree
    // bit-for-bit with Corpus.temperatureRates
    "q_corpus_temperature" ->
      s"""WITH c AS (
         |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
         |), m AS (SELECT MIN(n) AS nmin FROM c),
         |r AS (
         |  SELECT lang, LEAST(1000, CAST(FLOOR(
         |    1000 * SQRT(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE))
         |  ) AS BIGINT)) AS rate
         |  FROM c CROSS JOIN m
         |)
         |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
         |WHERE ${duckHashBucket("d.doc_id", "temp", 1000)} < r.rate""".stripMargin,
    "q_corpus_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, n_chars,
         |    ${duckHashBucket("doc_id", "shard", 8)} AS shard
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, shard,
         |    COALESCE(SUM(n_chars) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM t
         |)
         |SELECT doc_id, shard, CAST(FLOOR(cum / 4000.0) AS BIGINT) AS bin_id
         |FROM c""".stripMargin,
    // same pack assignment, then one row per bin: docs concatenated
    // in id order (string_agg ORDER BY == array_sort on (id, text))
    "q_corpus_pack_text" ->
      s"""WITH t AS (
         |  SELECT doc_id, text, n_chars,
         |    ${duckHashBucket("doc_id", "shard", 8)} AS shard
         |  FROM documents
         |), c AS (
         |  SELECT doc_id,
         |    CAST(FLOOR(COALESCE(SUM(n_chars) OVER (PARTITION BY shard
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      / 4000.0) AS BIGINT) AS bin_id
         |  FROM t
         |)
         |SELECT shard, bin_id, COUNT(*) AS n_docs,
         |  string_agg(text, '<|eot|>' ORDER BY t.doc_id) AS packed_text
         |FROM t JOIN c USING (doc_id)
         |GROUP BY shard, bin_id""".stripMargin,
    // K6c: tokenize → cumulative span → one piece per intersected
    // 2000-token bin (range over integer-divided bounds) → 1-based
    // inclusive list slice → doc-ordered join per (shard, bin). Every
    // expression is integer arithmetic over the same token arrays the
    // Spark side slices, so boundaries match exactly
    "q_corpus_pack_exact" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    ${duckHashBucket("doc_id", "shard", 4)} AS shard,
         |    regexp_extract_all(text,
         |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS toks
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, shard, toks, CAST(len(toks) AS BIGINT) AS n,
         |    CAST(COALESCE(SUM(len(toks)) OVER (PARTITION BY shard
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS s
         |  FROM t WHERE len(toks) > 0
         |), p AS (
         |  SELECT doc_id, shard, toks, n, s,
         |    unnest(range(s // 2000, (s + n - 1) // 2000 + 1)) AS bin_id
         |  FROM c
         |), pc AS (
         |  SELECT shard, bin_id, doc_id, toks,
         |    greatest(0, bin_id * 2000 - s) AS lo,
         |    least(n, (bin_id + 1) * 2000 - s) AS hi
         |  FROM p
         |)
         |SELECT shard, bin_id, COUNT(*) AS n_pieces,
         |  CAST(SUM(hi - lo) AS BIGINT) AS n_tokens,
         |  string_agg(array_to_string(toks[(lo + 1):hi], ' '),
         |    '<|eot|>' ORDER BY doc_id) AS packed_text
         |FROM pc GROUP BY shard, bin_id""".stripMargin,
    // the epoch-salted hash is plain sha256 — any engine recomputes
    // the identical permutation
    "q_corpus_shuffle" ->
      s"""SELECT doc_id,
         |  ${duckHashBucket("doc_id", "shard", 8)} AS shard,
         |  CAST(row_number() OVER (
         |    PARTITION BY ${duckHashBucket("doc_id", "shard", 8)}
         |    ORDER BY sha256(doc_id || ':1'), doc_id) AS BIGINT)
         |    AS epoch_rank
         |FROM documents""".stripMargin,
    "q_text_truncate" ->
      """SELECT doc_id,
        |  array_to_string(string_split_regex(trim(text), '\s+')[1:50], ' ') AS trunc_text
        |FROM documents""".stripMargin,
    "q_text_bpe" -> duckBpeSql(6),
    "q_text_bpe_encode" -> duckBpeEncodeSql(6),
    "q_text_classifier" -> duckLogisticSql(4, 1.0),
    "q_text_perplexity" -> duckPerplexitySql(0.5, 3.39),
    "q_corpus_dsir" -> duckDsirSql(0.5, 0.0),
    "q_text_perplexity_interp" -> duckPerplexitySql(0.5, 3.387, 0.8),
    "q_text_perplexity_tri" ->
      duckTriPerplexitySql(0.5, 3.35, 0.5, 0.3, 0.2),
    "q_text_bm25" -> duckBm25Sql("fast vector hash join", 20, 1.2, 0.75),
    // the indexed probe is an execution strategy over identical
    // semantics — same mirror
    "q_text_bm25_indexed" ->
      duckBm25Sql("fast vector hash join", 20, 1.2, 0.75),
    // the STREAMED index serves the same one-shot ranking — the gate
    // asserts its streaming contracts loudly and hashes the ranking
    "q_stream_bm25" ->
      duckBm25Sql("fast vector hash join", 20, 1.2, 0.75),
    "q_text_rrf" -> duckRrfSql("fast vector hash join", 100, 20, 60),
    "q_text_hybrid" ->
      duckHybridSql("fast vector hash join", 0L, 100, 20, 60),
    // sliding 64-token windows at stride 48: the start grid is the
    // multiples of 48 up to the first start whose window reaches the
    // end (integer ceil-div — identical arithmetic in any engine)
    "q_text_chunk" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    regexp_extract_all(text,
         |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS toks
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
         |  FROM t WHERE len(toks) > 0
         |), s AS (
         |  SELECT doc_id, toks, n,
         |    unnest(range(0, CASE WHEN n <= 64 THEN 0
         |      ELSE ((n - 64 + 47) // 48) * 48 END + 1, 48)) AS cs
         |  FROM c
         |)
         |SELECT doc_id, cs // 48 AS chunk_id, cs AS chunk_start,
         |  least(n, cs + 64) - cs AS chunk_len,
         |  array_to_string(toks[(cs + 1):least(n, cs + 64)], ' ')
         |    AS chunk_text
         |FROM s""".stripMargin,
    "q_corpus_filter" ->
      s"""WITH q AS ($duckQualitySql),
         |t AS (
         |  SELECT doc_id,
         |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens
         |  FROM documents
         |)
         |SELECT q.doc_id, q.quality_score, t.n_bpe_tokens
         |FROM q JOIN t USING (doc_id)
         |WHERE q.quality_score >= 0.45 AND t.n_bpe_tokens BETWEEN 10 AND 100000""".stripMargin,
    // K12: the oracle states the selection rule directly — ONE global
    // running sum over (score desc, id) and the inclusive-cum cut; the
    // Spark side's two-phase bucket prefix must select the identical
    // rows (integer token counts, so the cut is exact)
    "q_corpus_budget" ->
      s"""WITH q AS (
         |  SELECT doc_id, quality_score FROM ($duckQualitySql)
         |), t AS (
         |  SELECT d.doc_id, q.quality_score,
         |    CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents d JOIN q ON q.doc_id = d.doc_id
         |), c AS (
         |  SELECT doc_id, quality_score, n_tokens,
         |    SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
         |                        ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t
         |)
         |SELECT doc_id, quality_score, n_tokens FROM c
         |WHERE cum <= 15000""".stripMargin,
    "q_text_normalize" ->
      """SELECT doc_id,
        |  lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm_text
        |FROM documents""".stripMargin,
    // same synthetic wrap + the same three strip patterns ('g' flag:
    // DuckDB replaces first-match-only by default, Spark replaces all)
    "q_text_strip" ->
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          '<div class="doc"><p>' || text ||
        |            '</p></div> source: https://example.com/doc?id=' ||
        |            doc_id || ' &amp; more&nbsp;it&#39;s &#x2019;quoted&#x2019;',
        |          '<[^>]*>', ' ', 'g'),
        |        'https?://[^\s]+', ' ', 'g'),
        |      '&#?[A-Za-z0-9]+;', ' ', 'g'),
        |    '\s+', ' ', 'g')) AS clean_text
        |FROM documents""".stripMargin,
    "q_text_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, ws,
        |    CASE WHEN len(ws) >= 3
        |         THEN list_transform(range(1, len(ws)-1),
        |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |         ELSE []::VARCHAR[] END AS sh
        |  FROM t
        |)
        |SELECT doc_id, len(ws) AS n_tokens,
        |  CASE WHEN len(ws) = 0 THEN 0.0
        |       ELSE ROUND(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6)
        |  END AS dup_token_frac,
        |  CASE WHEN len(sh) = 0 THEN 0.0
        |       ELSE ROUND(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 6)
        |  END AS dup_ngram_frac
        |FROM s""".stripMargin,
    "q_salted_agg" ->
      """SELECT event_type,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value,
        |  COUNT(*) AS n_rows
        |FROM events GROUP BY event_type""".stripMargin,
    "q_dedup_incremental" -> duckIncrementalDedupSql,
    // the persisted-index form computes THE SAME pairs (index build +
    // against-index check is an execution strategy, not a semantics
    // change), so it shares the recompute oracle verbatim
    "q_dedup_index" -> duckIncrementalDedupSql,
    // same normalized-text hash groups + quality winner; the QUALIFY
    // window mirrors keepCanonical's (score desc, id asc) exactly
    "q_dedup_canonical" ->
      s"""WITH qs AS ($duckQualitySql), g AS (
         |  SELECT d.doc_id,
         |    sha256(lower(regexp_replace(trim(d.text), '\\s+', ' ', 'g')))
         |      AS grp,
         |    qs.quality_score AS q
         |  FROM documents d JOIN qs USING (doc_id)
         |)
         |SELECT doc_id, grp, q FROM g
         |QUALIFY row_number() OVER (PARTITION BY grp
         |  ORDER BY q DESC, doc_id) = 1""".stripMargin,
    // the whole composed pipeline as one statement: the strip/
    // normalize mirrors from q_text_strip/q_text_normalize feed the
    // q_dedup_minhash band pipeline (over norm_text) plus exact-hash
    // pairs, the q_dedup_groups recursive closure, the
    // q_dedup_canonical window, the q_corpus_filter quality gate, the
    // q_corpus_mixture/split hash filters, and the q_corpus_pack_text
    // + q_corpus_shuffle tail — each body textually congruent with its
    // standalone-gate twin
    "q_llm_pipeline" -> {
      val allStop = duckList(
        graft.functions.TextFunctions.Stopwords.flatMap(_._2).distinct)
      val R = graft.operators.Corpus.TrainingRecipe.Default
      val mixCase = R.mixtureRates
        .map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
      s"""WITH RECURSIVE src AS (
         |  SELECT doc_id, lang,
         |    trim(regexp_replace(
         |      regexp_replace(
         |        regexp_replace(
         |          regexp_replace(
         |            '<div class="doc"><p>' || text ||
         |              '</p></div> source: https://example.com/doc?id=' ||
         |              doc_id || ' &amp; more&nbsp;it&#39;s &#x2019;quoted&#x2019;',
         |            '<[^>]*>', ' ', 'g'),
         |          'https?://[^\\s]+', ' ', 'g'),
         |        '&#?[A-Za-z0-9]+;', ' ', 'g'),
         |      '\\s+', ' ', 'g')) AS clean_text
         |  FROM documents
         |), nsrc AS (
         |  SELECT doc_id, lang, clean_text,
         |    lower(regexp_replace(trim(clean_text), '\\s+', ' ', 'g')) AS norm_text
         |  FROM src
         |), words AS (
         |  SELECT doc_id, string_split_regex(trim(norm_text), '\\s+') AS w
         |  FROM nsrc
         |), sh0 AS (
         |  SELECT DISTINCT doc_id AS sid,
         |    unnest(list_transform(range(1, len(w)-1),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
         |  FROM words WHERE len(w) >= 3
         |), sh AS (
         |  SELECT sid, sh FROM sh0
         |  QUALIFY COUNT(*) OVER (PARTITION BY sh) <= 100
         |), mh AS (
         |  SELECT sid, $duckMh FROM sh GROUP BY sid
         |), bk AS (
         |  SELECT sid, b, CASE b $duckBandCase END AS bucket
         |  FROM mh CROSS JOIN (SELECT unnest(range(0, 8)) AS b) bs
         |), cand AS (
         |  SELECT DISTINCT a.sid AS id_a, b.sid AS id_b
         |  FROM bk a JOIN bk b
         |    ON a.b = b.b AND a.bucket = b.bucket AND a.sid < b.sid
         |), inter AS (
         |  SELECT c.id_a, c.id_b, count(*) AS i
         |  FROM cand c
         |  JOIN sh x ON x.sid = c.id_a
         |  JOIN sh y ON y.sid = c.id_b AND y.sh = x.sh
         |  GROUP BY 1, 2
         |), sizes AS (SELECT sid, count(*) AS n FROM sh GROUP BY sid),
         |mhpairs AS (
         |  SELECT i.id_a, i.id_b FROM inter i
         |  JOIN sizes sa ON sa.sid = i.id_a
         |  JOIN sizes sb ON sb.sid = i.id_b
         |  WHERE i.i * 2 >= (sa.n + sb.n - i.i) * 1
         |), exacth AS (
         |  SELECT doc_id, sha256(norm_text) AS h FROM nsrc
         |), epairs AS (
         |  SELECT m.keep AS id_a, e.doc_id AS id_b
         |  FROM exacth e
         |  JOIN (SELECT h, min(doc_id) AS keep FROM exacth GROUP BY h) m
         |    ON e.h = m.h
         |  WHERE e.doc_id <> m.keep
         |), pairs AS (
         |  SELECT id_a, id_b FROM mhpairs
         |  UNION SELECT id_a, id_b FROM epairs
         |), sym AS (
         |  SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs
         |), reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT reach.id, sym.b FROM reach JOIN sym ON sym.a = reach.r
         |), grp AS (
         |  SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id
         |), qm AS (
         |  SELECT doc_id, clean_text,
         |    string_split_regex(trim(clean_text), '\\s+') AS ws
         |  FROM nsrc
         |), qual AS (
         |  SELECT doc_id,
         |    ROUND((CASE WHEN len(ws) = 0 THEN 0.0
         |        ELSE CAST(len(list_filter(ws, t -> list_contains($allStop, t))) AS DOUBLE) / len(ws) END * 0.4) +
         |      (CASE WHEN length(clean_text) = 0 THEN 0.0
         |        ELSE CAST(len(regexp_extract_all(clean_text, '[A-Za-z]')) AS DOUBLE) / length(clean_text) END * 0.3) +
         |      (LEAST((CASE WHEN len(ws) = 0 THEN 0.0
         |        ELSE CAST(list_sum(list_transform(ws, t -> length(t))) AS DOUBLE) / len(ws) END) / 10.0, 1.0) * 0.2) +
         |      ((1.0 - CASE WHEN length(clean_text) = 0 THEN 0.0
         |        ELSE CAST(len(regexp_extract_all(clean_text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(clean_text) END) * 0.1), 6)
         |      AS q
         |  FROM qm
         |), canon AS (
         |  SELECT g.doc_id FROM grp g JOIN qual ON qual.doc_id = g.doc_id
         |  QUALIFY row_number() OVER (PARTITION BY g.group_id
         |    ORDER BY qual.q DESC, g.doc_id) = 1
         |), kept AS (
         |  SELECT n.doc_id, n.lang, n.clean_text,
         |    len(regexp_extract_all(n.clean_text,
         |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe
         |  FROM nsrc n
         |  JOIN canon c ON c.doc_id = n.doc_id
         |  JOIN qual q ON q.doc_id = n.doc_id
         |  WHERE q.q >= ${R.minQuality}
         |    AND len(regexp_extract_all(n.clean_text,
         |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
         |      BETWEEN ${R.minTokens} AND ${R.maxTokens}
         |), train AS (
         |  SELECT doc_id, clean_text, n_bpe,
         |    ${duckHashBucket("doc_id", R.shardSalt, R.shards)} AS shard
         |  FROM kept
         |  WHERE ${duckHashBucket("doc_id", R.mixtureSalt, R.mixtureDen)} <
         |    CASE lang $mixCase END
         |    AND ${duckHashBucket("doc_id", R.splitSalt, R.splitDen)}
         |      BETWEEN ${R.trainBucketLo} AND ${R.trainBucketHi} - 1
         |), bins AS (
         |  SELECT doc_id, shard, clean_text,
         |    CAST(FLOOR(COALESCE(SUM(n_bpe) OVER (PARTITION BY shard
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      / ${R.packBudget}.0) AS BIGINT) AS bin_id
         |  FROM train
         |), packed AS (
         |  SELECT shard, bin_id, COUNT(*) AS n_docs,
         |    string_agg(clean_text, '<|eot|>' ORDER BY doc_id) AS packed_text
         |  FROM bins GROUP BY shard, bin_id
         |)
         |SELECT shard, bin_id, n_docs,
         |  CAST(row_number() OVER (PARTITION BY shard
         |    ORDER BY sha256(shard || '/' || bin_id || ':1'),
         |      shard || '/' || bin_id) AS BIGINT) AS epoch_rank,
         |  packed_text
         |FROM packed""".stripMargin
    },
    "q_contamination_semantic" ->
      s"""WITH bench AS (
         |  SELECT vec_id AS bench_id, embedding AS bv FROM embeddings
         |  WHERE ${duckHashBucket("vec_id", "bench", 20)} = 0
         |), corp AS (
         |  SELECT vec_id AS doc_id, embedding AS cv FROM embeddings
         |  WHERE ${duckHashBucket("vec_id", "bench", 20)} <> 0
         |)
         |SELECT doc_id, bench_id,
         |  ROUND(${duckCos("cv", "bv")}, 6) AS cos_sim
         |FROM corp CROSS JOIN bench
         |WHERE ROUND(${duckCos("cv", "bv")}, 6) >= 0.30""".stripMargin,
    "q_contamination" ->
      s"""$duckShingles, bench AS (
         |  SELECT doc_id AS bid FROM documents
         |  WHERE ${duckHashBucket("doc_id", "bench", 20)} = 0
         |), bsh AS (
         |  SELECT bid, sh FROM sh JOIN bench ON sid = bid
         |), csh AS (
         |  SELECT sid, sh FROM sh
         |  WHERE sid NOT IN (SELECT bid FROM bench)
         |)
         |SELECT c.sid AS doc_id, b.bid AS bench_id, count(*) AS n_shared
         |FROM csh c JOIN bsh b USING (sh)
         |GROUP BY 1, 2
         |HAVING count(*) >= 8""".stripMargin,
    "q_dedup_jaccard" ->
      s"""$duckShingles, shf AS (
         |  SELECT sid, sh FROM sh
         |  QUALIFY COUNT(*) OVER (PARTITION BY sh) <= 1000
         |), ${duckJaccardTail(3, 10, restrictToCand = false, shTable = "shf")}""".stripMargin,
    // D13: same shingle CTE, df-cap 20, containment over the SMALLER
    // set by integer cross-multiplied threshold
    "q_dedup_containment" ->
      s"""$duckShingles, shf AS (
         |  SELECT sid, sh FROM sh
         |  QUALIFY COUNT(*) OVER (PARTITION BY sh) <= 20
         |), sizes AS (
         |  SELECT sid, COUNT(*) AS n FROM shf GROUP BY sid
         |), co AS (
         |  SELECT x.sid AS id_a, y.sid AS id_b, COUNT(*) AS i
         |  FROM shf x JOIN shf y ON x.sh = y.sh AND x.sid < y.sid
         |  GROUP BY 1, 2
         |)
         |SELECT id_a, id_b, sa.n AS n_a, sb.n AS n_b, i AS n_shared,
         |  ROUND(CAST(i AS DOUBLE) / CAST(LEAST(sa.n, sb.n) AS DOUBLE), 6)
         |    AS containment
         |FROM co JOIN sizes sa ON sa.sid = id_a
         |        JOIN sizes sb ON sb.sid = id_b
         |WHERE i * 10 >= LEAST(sa.n, sb.n) * 3""".stripMargin,
    // the full 16-token window table recomputed: tokens, start grid,
    // sha256 of every window slice, corpus-wide duplicate mark
    "q_dedup_windows" ->
      s"""$duckWindowHashes, m AS (
         |  SELECT doc_id, COUNT(*) OVER (PARTITION BY wh) AS cnt FROM h
         |), d AS (
         |  SELECT doc_id, COUNT(*) AS n_windows,
         |    CAST(SUM(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_dup_windows
         |  FROM m GROUP BY doc_id
         |)
         |SELECT c.doc_id,
         |  COALESCE(d.n_windows, 0) AS n_windows,
         |  COALESCE(d.n_dup_windows, 0) AS n_dup_windows
         |FROM c LEFT JOIN d USING (doc_id)""".stripMargin,
    // duplicated windows merged gaps-and-islands into maximal token
    // spans per document
    "q_dedup_spans" ->
      s"""$duckWindowHashes, m AS (
         |  SELECT doc_id, s, COUNT(*) OVER (PARTITION BY wh) AS cnt FROM h
         |), d AS (
         |  SELECT doc_id, s, s + 16 AS e FROM m WHERE cnt >= 2
         |), g AS (
         |  SELECT doc_id, s, e,
         |    MAX(e) OVER (PARTITION BY doc_id ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |  FROM d
         |), i AS (
         |  SELECT doc_id, s, e,
         |    SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY s
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM g
         |)
         |SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end
         |FROM i GROUP BY doc_id, island""".stripMargin,
    // the whole retrieval-prep chain in ONE statement: window table →
    // duplicate mark → cut → quality blend on the trimmed text →
    // token floor → chunk grid + slices
    "q_corpus_retrieval" ->
      s"""$duckWindowHashes, m AS (
         |  SELECT doc_id, s, COUNT(*) OVER (PARTITION BY wh) AS cnt FROM h
         |), dp AS (
         |  SELECT DISTINCT doc_id, p FROM (
         |    SELECT doc_id, unnest(range(s, s + 16)) AS p
         |    FROM m WHERE cnt >= 2)
         |), pl AS (
         |  SELECT doc_id, list(p) AS pos FROM dp GROUP BY doc_id
         |), trimmed AS (
         |  SELECT c.doc_id,
         |    COALESCE(array_to_string(
         |      CASE WHEN pl.pos IS NULL THEN c.ws
         |      ELSE list_filter(c.ws, (x, i) ->
         |        NOT list_contains(pl.pos, CAST(i AS BIGINT) - 1)) END,
         |      ' '), '') AS text
         |  FROM c LEFT JOIN pl USING (doc_id)
         |), qual AS (${duckQualitySqlFrom("trimmed")}
         |), tok AS (
         |  SELECT doc_id,
         |    len(regexp_extract_all(text,
         |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe
         |  FROM trimmed
         |), surv AS (
         |  SELECT q.doc_id FROM qual q JOIN tok USING (doc_id)
         |  WHERE q.quality_score >= 0.45 AND tok.n_bpe >= 30
         |), ct AS (
         |  SELECT t.doc_id, regexp_extract_all(t.text,
         |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]') AS toks
         |  FROM trimmed t JOIN surv USING (doc_id)
         |), cc AS (
         |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
         |  FROM ct WHERE len(toks) > 0
         |), cs AS (
         |  SELECT doc_id, toks, n,
         |    unnest(range(0, CASE WHEN n <= 64 THEN 0
         |      ELSE ((n - 64 + 47) // 48) * 48 END + 1, 48)) AS cstart
         |  FROM cc
         |)
         |SELECT doc_id, cstart // 48 AS chunk_id, cstart AS chunk_start,
         |  least(n, cstart + 64) - cstart AS chunk_len,
         |  array_to_string(toks[(cstart + 1):least(n, cstart + 64)], ' ')
         |    AS chunk_text
         |FROM cs""".stripMargin,
    // duplicated-window positions dropped, survivors re-joined: the
    // position set equals the merged spans' coverage by construction
    "q_dedup_trim" ->
      s"""$duckWindowHashes, m AS (
         |  SELECT doc_id, s, COUNT(*) OVER (PARTITION BY wh) AS cnt FROM h
         |), dp AS (
         |  SELECT DISTINCT doc_id, p FROM (
         |    SELECT doc_id, unnest(range(s, s + 16)) AS p
         |    FROM m WHERE cnt >= 2)
         |), pl AS (
         |  SELECT doc_id, list(p) AS pos FROM dp GROUP BY doc_id
         |)
         |SELECT c.doc_id,
         |  COALESCE(array_to_string(
         |    CASE WHEN pl.pos IS NULL THEN c.ws
         |    ELSE list_filter(c.ws, (x, i) ->
         |      NOT list_contains(pl.pos, CAST(i AS BIGINT) - 1)) END,
         |    ' '), '') AS trimmed_text
         |FROM c LEFT JOIN pl USING (doc_id)""".stripMargin,
    "q_dedup_cosine" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ROUND(${duckCos("a.embedding", "b.embedding")}, 6) AS cos_sim
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ROUND(${duckCos("a.embedding", "b.embedding")}, 6) >= 0.35""".stripMargin,
    "q_dedup_cosine_lsh" -> {
      val flips = (0 until 12).map(i => s"xor(bucket, CAST(${1L << i} AS BIGINT))")
      s"""WITH b AS (
         |  SELECT vec_id AS id, embedding AS v,
         |    ${duckLshBucket("embedding")} AS bucket
         |  FROM embeddings
         |), probes AS (
         |  SELECT id AS id_a, v AS va,
         |    unnest([bucket, ${flips.mkString(", ")}]) AS bucket
         |  FROM b
         |), cand AS (
         |  SELECT p.id_a, p.va, b.id AS id_b, b.v AS vb
         |  FROM probes p JOIN b USING (bucket)
         |  WHERE p.id_a < b.id
         |)
         |SELECT id_a, id_b, ROUND(${duckCos("va", "vb")}, 6) AS cos_sim
         |FROM cand
         |WHERE ROUND(${duckCos("va", "vb")}, 6) >= 0.35""".stripMargin
    },
    // nearest-centroid assignment mirrored from q_ann_ivf's `assigned`
    // CTE, then pairwise cosine within each cell only
    "q_dedup_semantic" ->
      s"""WITH cent AS (
         |  SELECT vec_id AS cell, embedding AS centv FROM embeddings
         |  WHERE vec_id % 37 = 1
         |), assigned AS (
         |  SELECT cand_id, cv, cell FROM (
         |    SELECT e.vec_id AS cand_id, e.embedding AS cv, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckCos("e.embedding", "c.centv")} DESC, c.cell) AS r
         |    FROM embeddings e CROSS JOIN cent c) x
         |  WHERE r = 1
         |)
         |SELECT a.cand_id AS id_a, b.cand_id AS id_b, a.cell,
         |  ROUND(${duckCos("a.cv", "b.cv")}, 6) AS cos_sim
         |FROM assigned a JOIN assigned b
         |  ON a.cell = b.cell AND a.cand_id < b.cand_id
         |WHERE ROUND(${duckCos("a.cv", "b.cv")}, 6) >= 0.35""".stripMargin,
    // hex-domain mirror of the binary frame slices (byte i ↔ hex 2i);
    // 96/128 are stride·2 and frameBytes·2
    "q_multimodal_frames" ->
      """WITH h AS (
        |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS blen
        |  FROM documents
        |), n AS (
        |  SELECT media_id, hx,
        |    GREATEST(CAST(FLOOR((blen - 64) / 48.0) AS INT), 0) AS nmax
        |  FROM h
        |), f AS (
        |  SELECT media_id, hx, unnest(range(0, nmax + 1)) AS frame_idx
        |  FROM n
        |)
        |SELECT media_id, frame_idx,
        |  CAST(length(substr(hx, CAST(frame_idx * 96 + 1 AS INT), 128)) / 2 AS BIGINT) AS frame_len,
        |  substr(hx, CAST(frame_idx * 96 + 1 AS INT), 128) AS frame_hex
        |FROM f""".stripMargin,
    // byte-decimation mirror of resizeStub: k = max(1, srcArea/76800)
    // with srcArea = max(1, (n_chars%640)·(n_chars%480)), output =
    // every k-th byte — reassembled here as hex pairs
    "q_multimodal_transform" ->
      """WITH h AS (
        |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS blen,
        |    GREATEST(1, CAST(n_chars % 640 AS BIGINT) * CAST(n_chars % 480 AS BIGINT)) AS src_area
        |  FROM documents
        |), kk AS (
        |  SELECT media_id, hx, blen, GREATEST(1, src_area // 76800) AS k
        |  FROM h
        |), o AS (
        |  SELECT media_id, k, hx,
        |    CASE WHEN blen = 0 THEN 0 ELSE (blen + k - 1) // k END AS n_out
        |  FROM kk
        |)
        |SELECT media_id, 'text/plain' AS media_type,
        |  CAST(320 AS INT) AS width, CAST(240 AS INT) AS height,
        |  CAST(n_out AS BIGINT) AS out_len,
        |  array_to_string(list_transform(range(0, n_out),
        |    i -> substr(hx, CAST(2*i*k + 1 AS INT), 2)), '') AS out_hex
        |FROM o""".stripMargin,
    // integer-formula mirror of the synthetic PNG corpus: the Spark
    // side must round-trip real PNG bytes through javax.imageio to
    // land on these dimensions and this band-0 pixel mean
    "q_multimodal_imgdecode" ->
      """WITH g AS (
        |  SELECT doc_id AS media_id,
        |    CAST(8 + doc_id % 9 AS INT) AS width,
        |    CAST(8 + doc_id % 7 AS INT) AS height
        |  FROM documents
        |), px AS (
        |  SELECT media_id, width, height, unnest(range(0, width)) AS x
        |  FROM g
        |), pxy AS (
        |  SELECT media_id, width, height, x,
        |    unnest(range(0, height)) AS y
        |  FROM px
        |)
        |SELECT media_id, width, height, CAST(1 AS INT) AS channels,
        |  ROUND(CAST(SUM((media_id * 31 + x * 7 + y * 13) % 256)
        |      AS DOUBLE) / (width * height), 6) AS mean_gray
        |FROM pxy GROUP BY media_id, width, height""".stripMargin,
    // the same decimation, then the decodeStub feature math over the
    // DECIMATED byte list (q_multimodal_meta's checksum/mean mirror)
    "q_multimodal_decode" ->
      """WITH h AS (
        |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |    octet_length(encode(text)) AS blen,
        |    GREATEST(1, CAST(n_chars % 640 AS BIGINT) * CAST(n_chars % 480 AS BIGINT)) AS src_area
        |  FROM documents
        |), kk AS (
        |  SELECT media_id, hx, blen, GREATEST(1, src_area // 76800) AS k
        |  FROM h
        |), b AS (
        |  SELECT media_id,
        |    list_transform(
        |      range(0, CASE WHEN blen = 0 THEN 0 ELSE (blen + k - 1) // k END),
        |      i -> (strpos('0123456789ABCDEF', substr(hx, CAST(2*i*k + 1 AS INT), 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF', substr(hx, CAST(2*i*k + 2 AS INT), 1)) - 1)) AS bytes
        |  FROM kk
        |), c AS (
        |  SELECT media_id, len(bytes) AS byte_len, bytes,
        |    list_reduce(list_prepend(0, bytes),
        |      (acc, x) -> (acc * 31 + x) & 2147483647) AS checksum
        |  FROM b
        |)
        |SELECT media_id, CAST(byte_len AS BIGINT) AS byte_len, checksum,
        |  CAST(byte_len AS DOUBLE) AS f_len,
        |  CASE WHEN byte_len = 0 THEN 0.0
        |       ELSE CAST(CAST(list_sum(bytes) AS FLOAT) / CAST(byte_len AS FLOAT) AS DOUBLE)
        |  END AS f_mean,
        |  CAST(checksum % 256 AS DOUBLE) AS f_mod,
        |  CAST(COALESCE(bytes[1], 0) AS DOUBLE) AS f_first
        |FROM c""".stripMargin,
    "q_ann_lsh" -> {
      val flips = (0 until 12).map(i => s"xor(qbucket, CAST(${1L << i} AS BIGINT))")
      s"""WITH b AS (
         |  SELECT vec_id AS cand_id, embedding AS cv,
         |    ${duckLshBucket("embedding")} AS bucket
         |  FROM embeddings
         |), q AS (
         |  SELECT vec_id AS query_id, embedding AS qv,
         |    ${duckLshBucket("embedding")} AS qbucket
         |  FROM embeddings WHERE vec_id % 50 = 0
         |), probes AS (
         |  SELECT query_id, qv,
         |    unnest([qbucket, ${flips.mkString(", ")}]) AS bucket
         |  FROM q
         |), cand AS (
         |  SELECT p.query_id, p.qv, b.cand_id, b.cv
         |  FROM b JOIN probes p USING (bucket)
         |  WHERE p.query_id <> b.cand_id
         |)
         |SELECT query_id, cand_id, rank, ROUND(cos, 6) AS cos_sim FROM (
         |  SELECT query_id, cand_id,
         |    ${duckCos("qv", "cv")} AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY ${duckCos("qv", "cv")} DESC, cand_id) AS rank
         |  FROM cand) x
         |WHERE rank <= 10""".stripMargin
    },
    "q_ann_ivf" ->
      s"""WITH cent AS (
         |  SELECT vec_id AS cent_id, embedding AS centv FROM embeddings
         |  WHERE vec_id % 37 = 1
         |), assigned AS (
         |  SELECT cand_id, cv, cell FROM (
         |    SELECT e.vec_id AS cand_id, e.embedding AS cv,
         |      c.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckCos("e.embedding", "c.centv")} DESC, c.cent_id) AS r
         |    FROM embeddings e CROSS JOIN cent c) x
         |  WHERE r = 1
         |), probed AS (
         |  SELECT query_id, qv, cell FROM (
         |    SELECT e.vec_id AS query_id, e.embedding AS qv,
         |      c.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckCos("e.embedding", "c.centv")} DESC, c.cent_id) AS r
         |    FROM embeddings e CROSS JOIN cent c
         |    WHERE e.vec_id % 50 = 0) x
         |  WHERE r <= 2
         |)
         |SELECT query_id, cand_id, rank, ROUND(cos, 6) AS cos_sim FROM (
         |  SELECT p.query_id, a.cand_id,
         |    ${duckCos("p.qv", "a.cv")} AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY p.query_id
         |      ORDER BY ${duckCos("p.qv", "a.cv")} DESC, a.cand_id) AS rank
         |  FROM probed p
         |  JOIN assigned a ON a.cell = p.cell AND p.query_id <> a.cand_id) y
         |WHERE rank <= 10""".stripMargin,
    "q_embed_centroid" ->
      s"""WITH cent AS (
         |  SELECT vec_id AS cent_id, embedding AS centv FROM embeddings
         |  WHERE vec_id % 37 = 1
         |), assigned AS (
         |  SELECT cand_id, cv, cell FROM (
         |    SELECT e.vec_id AS cand_id, e.embedding AS cv,
         |      c.cent_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckCos("e.embedding", "c.centv")} DESC, c.cent_id) AS r
         |    FROM embeddings e CROSS JOIN cent c) x
         |  WHERE r = 1
         |), el AS (
         |  SELECT cell, p AS pos,
         |    CAST(ROUND(CAST(cv[p] AS DOUBLE), 6) AS DECIMAL(18,6)) AS v
         |  FROM assigned CROSS JOIN (SELECT unnest(range(1, 65)) AS p) ps
         |)
         |SELECT cell, pos, CAST(SUM(v) AS DOUBLE) AS sum_val,
         |  COUNT(*) AS n_vec
         |FROM el GROUP BY cell, pos""".stripMargin,
    // two unrolled assign→stats→means rounds, then the final
    // assignment — mirrors kmeansIterate(maxIter=2, tol=-1) step for
    // step: a1/s1 are exactly the q_embed_centroid pipeline, c1/c2
    // are RAW double quotients of the exact-decimal sums (IEEE
    // division is correctly rounded, so they agree bit-for-bit;
    // rounding them would not), list(... ORDER BY pos) rebuilds the
    // index-ordered centroid vectors
    // PQ contract booleans are checked in Spark (recall floors are
    // cross-run measurements, not row recomputations); the real row
    // is the corpus cardinality
    "q_ann_pq" ->
      """SELECT true AS adc_recall_floor, true AS rerank_recall_floor,
        |  true AS recon_cosine_floor, true AS codes_complete,
        |  (SELECT count(*) FROM embeddings) AS n_vectors""".stripMargin,
    // IVFPQ contract booleans are cross-run measurements checked in
    // Spark (the q_ann_pq pattern); the real row is the corpus count
    "q_ann_ivfpq" ->
      """SELECT true AS rerank_recall_floor, true AS cand_fraction_bound,
        |  (SELECT count(*) FROM embeddings) AS n_vectors""".stripMargin,
    // the indexed serve's contract (bit-equality with the in-memory
    // cell-routed serve) is checked in Spark; the real row is the
    // corpus count
    "q_ann_index" ->
      """SELECT true AS indexed_equals_inmemory,
        |  (SELECT count(*) FROM embeddings) AS n_vectors""".stripMargin,
    // the snapshot contract (as-of-gen serve bit-equals the serve
    // collected while that gen was live, on both indexes; missing gen
    // refuses typed) is checked in Spark; the real row is the corpus
    // count
    "q_ann_snapshot" ->
      """SELECT true AS vec_snapshot_exact, true AS bm25_snapshot_exact,
        |  true AS missing_gen_refused,
        |  (SELECT count(*) FROM embeddings) AS n_vectors""".stripMargin,
    // the audit report's per-status counts are structure-driven
    // (2 committed batches, one planted finding of each incident
    // class, current gen recorded) — the oracle states the expected
    // inventory literally, independent of sf
    "q_index_audit" ->
      """SELECT * FROM (VALUES
        |  ('batch', 'committed_ok', true, CAST(2 AS BIGINT)),
        |  ('dir', 'compaction_residue', true, CAST(1 AS BIGINT)),
        |  ('dir', 'orphan', false, CAST(1 AS BIGINT)),
        |  ('history', 'current_recorded', true, CAST(1 AS BIGINT)),
        |  ('marker', 'dangling', true, CAST(1 AS BIGINT))
        |) AS t(kind, status, healthy, n)""".stripMargin,
    // repair outcome: every planted incident remediated exactly once
    // (the orphan only SCHEDULED — it may be an in-flight publish, so
    // it gets the grace floor, never an instant delete), the index
    // healthy afterwards, the re-recorded snapshot record serving
    "q_index_repair" ->
      """SELECT CAST(1 AS BIGINT) AS stale_cleared,
        |  CAST(1 AS BIGINT) AS dangling_cleared,
        |  CAST(1 AS BIGINT) AS orphans_scheduled,
        |  CAST(1 AS BIGINT) AS residue_scheduled,
        |  CAST(1 AS BIGINT) AS history_rerecorded,
        |  CAST(1 AS BIGINT) AS dirs_reclaimed,
        |  true AS healthy_after, true AS snapshot_served""".stripMargin,
    // the dedup fsck inventory is structure-driven: the two batches
    // the compaction retired (directories reclaimed), the merged batch
    // with its planted half payload, the appended batch with its
    // planted crashed landing, one planted orphan directory, and the
    // current gen's snapshot record
    "q_dedup_index_audit" ->
      """SELECT * FROM (VALUES
        |  ('batch', 'mid_landing', false, CAST(1 AS BIGINT)),
        |  ('batch', 'partial_payload', false, CAST(1 AS BIGINT)),
        |  ('batch', 'retired_reclaimed', true, CAST(2 AS BIGINT)),
        |  ('dir', 'orphan', false, CAST(1 AS BIGINT)),
        |  ('history', 'current_recorded', true, CAST(1 AS BIGINT))
        |) AS t(kind, status, healthy, n)""".stripMargin,
    "q_embed_kmeans" ->
      s"""WITH c0 AS (
         |  SELECT vec_id AS cell, embedding AS centv FROM embeddings
         |  WHERE vec_id % 37 = 1
         |), a1 AS (
         |  SELECT cand_id, cv, cell FROM (
         |    SELECT e.vec_id AS cand_id, e.embedding AS cv, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckCos("e.embedding", "c.centv")} DESC, c.cell) AS r
         |    FROM embeddings e CROSS JOIN c0 c) x
         |  WHERE r = 1
         |), s1 AS (
         |  SELECT cell, p AS pos,
         |    CAST(SUM(CAST(ROUND(CAST(cv[p] AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_val,
         |    COUNT(*) AS n_vec
         |  FROM a1 CROSS JOIN (SELECT unnest(range(1, 65)) AS p) ps
         |  GROUP BY cell, p
         |), c1 AS (
         |  SELECT cell, list(sum_val / n_vec ORDER BY pos) AS centv
         |  FROM s1 GROUP BY cell
         |), a2 AS (
         |  SELECT cand_id, cv, cell FROM (
         |    SELECT e.vec_id AS cand_id, e.embedding AS cv, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckCos("e.embedding", "c.centv")} DESC, c.cell) AS r
         |    FROM embeddings e CROSS JOIN c1 c) x
         |  WHERE r = 1
         |), s2 AS (
         |  SELECT cell, p AS pos,
         |    CAST(SUM(CAST(ROUND(CAST(cv[p] AS DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_val,
         |    COUNT(*) AS n_vec
         |  FROM a2 CROSS JOIN (SELECT unnest(range(1, 65)) AS p) ps
         |  GROUP BY cell, p
         |), c2 AS (
         |  SELECT cell, list(sum_val / n_vec ORDER BY pos) AS centv
         |  FROM s2 GROUP BY cell
         |)
         |SELECT cand_id, cell FROM (
         |  SELECT e.vec_id AS cand_id, c.cell,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckCos("e.embedding", "c.centv")} DESC, c.cell) AS r
         |  FROM embeddings e CROSS JOIN c2 c) x
         |WHERE r = 1""".stripMargin,
    "q_embed_project" ->
      s"""WITH p AS (
         |  ${duckProjection}
         |), q AS (
         |  SELECT vec_id AS query_id, pv AS qv FROM p WHERE vec_id % 50 = 0
         |), s AS (
         |  SELECT query_id, c.vec_id AS cand_id,
         |    ${duckCos16("qv", "c.pv")} AS pcos
         |  FROM q JOIN p c ON query_id <> c.vec_id
         |), r AS (
         |  SELECT query_id, cand_id, pcos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY pcos DESC, cand_id) AS rank
         |  FROM s
         |)
         |SELECT query_id, cand_id, rank, ROUND(pcos, 6) AS proj_cos
         |FROM r WHERE rank <= 10""".stripMargin,
    "q_ann_bruteforce" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id % 50 = 0
         |), s AS (
         |  SELECT query_id, c.vec_id AS cand_id,
         |    ${duckCos("qv", "c.embedding")} AS cos
         |  FROM q JOIN embeddings c ON query_id <> c.vec_id
         |), r AS (
         |  SELECT query_id, cand_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |                       ORDER BY cos DESC, cand_id) AS rank
         |  FROM s
         |)
         |SELECT query_id, cand_id, rank, ROUND(cos, 6) AS cos_sim
         |FROM r WHERE rank <= 10""".stripMargin,
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * CAST(1 + l_tax AS DECIMAL(4,2))), 2) AS DOUBLE) AS sum_charge,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
        |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_top_orders" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q_region_volume" ->
      """SELECT n_name,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,
    "q_revenue_change" ->
      """SELECT
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q_range_join" ->
      """SELECT o_orderkey, COUNT(l.l_orderkey) AS n_shipped
        |FROM orders o LEFT JOIN lineitem l
        |  ON CAST(l.l_shipdate AS DATE)
        |     BETWEEN CAST(o.o_orderdate AS DATE)
        |         AND CAST(o.o_orderdate AS DATE) + INTERVAL 30 DAY
        |GROUP BY o_orderkey""".stripMargin,
    "q_top_per_group" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank
        |FROM orders
        |QUALIFY rank <= 3""".stripMargin,
    // the salt is invisible to results — the oracle is the PLAIN join
    "q_salted_join" ->
      """SELECT p_brand, COUNT(*) AS n_lines,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin,
    // hot/cold split + per-hot-key salting is equally invisible — the
    // same plain join is the oracle
    "q_salted_join_hot" ->
      """SELECT p_brand, COUNT(*) AS n_lines,
        |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin,
    // the bloom prefilter is invisible to results — the oracle is the
    // PLAIN join (false positives are removed by the exact join)
    "q_bloom_join" ->
      """SELECT l_returnflag, COUNT(*) AS n_lines,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |             CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
        |    AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin,
    // leaf aggregate first, ROLLUP over the tiny leaf table — same
    // two-level shape as the Spark side, decimal-exact at both levels
    "q_rollup" ->
      """WITH leaf AS (
        |  SELECT r_name, n_name,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |        CAST(1 - l_discount AS DECIMAL(4,2))) AS rev
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2
        |)
        |SELECT COALESCE(r_name, '(all)') AS region,
        |  COALESCE(n_name, '(all)') AS nation,
        |  CAST(ROUND(SUM(rev), 2) AS DOUBLE) AS revenue
        |FROM leaf GROUP BY ROLLUP(r_name, n_name)""".stripMargin,
    // GROUPING() bit order is the SQL-standard one (leftmost arg =
    // most significant bit) in both engines, so gid matches
    // grouping_id() directly; dims are non-null in the data, so the
    // (all) labels are unambiguous — gid carries the distinction
    // regardless
    "q_cube" ->
      """SELECT COALESCE(o_orderpriority, '(all)') AS priority,
        |  COALESCE(o_orderstatus, '(all)') AS status,
        |  CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
        |  COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY CUBE(o_orderpriority, o_orderstatus)""".stripMargin,
    // the two one-dimension rollups in one pass — the report shape
    // neither CUBE nor ROLLUP expresses
    "q_grouping_sets" ->
      """SELECT COALESCE(o_orderpriority, '(all)') AS priority,
        |  COALESCE(o_orderstatus, '(all)') AS status,
        |  CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
        |  COUNT(*) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))""".stripMargin,
    // LEAD over the full-precision timestamps, second-trunc only for
    // display — mirrors the Spark window's ordering exactly
    // the window ORDERS BY µs-truncated ts: Spark reads the ns parquet
    // column floored to µs, so a same-µs different-ns pair must fall
    // to the event_id tiebreak in BOTH engines
    "q_scd2" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value,
        |    date_trunc('microseconds', ts) AS ts
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT user_id, event_id, value,
        |  date_trunc('second', ts) AS effective_from,
        |  CAST(date_trunc('second',
        |    LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
        |    AS VARCHAR) AS effective_to,
        |  CAST(CASE WHEN LEAD(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END
        |    AS BIGINT) AS is_current
        |FROM e""".stripMargin,
    "q_snapshot_diff" ->
      """WITH a AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1995-06-30 00:00:00'
        |  GROUP BY 1
        |), b AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1995-12-31 00:00:00'
        |  GROUP BY 1
        |)
        |SELECT COALESCE(a.l_orderkey, b.l_orderkey) AS l_orderkey,
        |  CAST(a.qty AS DOUBLE) AS qty_before,
        |  CAST(b.qty AS DOUBLE) AS qty_after,
        |  CASE WHEN a.qty IS NULL THEN 'added'
        |       WHEN b.qty IS NULL THEN 'removed'
        |       WHEN a.qty <> b.qty THEN 'changed'
        |       ELSE 'unchanged' END AS change
        |FROM a FULL OUTER JOIN b ON a.l_orderkey = b.l_orderkey
        |WHERE a.qty IS NULL OR b.qty IS NULL OR a.qty <> b.qty""".stripMargin,
    // round BEFORE the lag-subtract: the Spark side deltas the rounded
    // monthly revenues, so the oracle must too
    "q_monthly_delta" ->
      """WITH m AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |    ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |              CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS rev
        |  FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1
        |)
        |SELECT ship_month, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(rev - LAG(rev) OVER (ORDER BY ship_month) AS DOUBLE) AS revenue_delta
        |FROM m""".stripMargin,
    "q_pivot" ->
      """SELECT year(o_orderdate) AS order_year,
        |  COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS "1-URGENT",
        |  COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS "2-HIGH",
        |  COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS "3-MEDIUM",
        |  COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS "4-NOT SPECIFIED",
        |  COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS "5-LOW"
        |FROM orders GROUP BY 1""".stripMargin,
    // integer SUM must be cast: DuckDB's SUM over ints is HUGEINT,
    // which pandas renders as float64 and the gate's schema/hash
    // compare would reject against Spark's int64
    "q_priority_lines" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag""".stripMargin,
    "q_retention" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), f AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id
        |)
        |SELECT CAST(f.cohort_day AS VARCHAR) AS cohort_day,
        |  CAST(ev.day - f.cohort_day AS BIGINT) AS day_offset,
        |  COUNT(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "q_unpivot" ->
      """SELECT year(o_orderdate) AS order_year,
        |  o_orderpriority AS priority, COUNT(*) AS n_orders
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "q_rolling_value" ->
      """WITH d AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_num,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS d_sum
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, day_num,
        |  CAST(ROUND(SUM(d_sum) OVER w, 4) AS DOUBLE) AS rolling_sum,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_days
        |FROM d
        |WINDOW w AS (PARTITION BY event_type ORDER BY day_num
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_corpus_curriculum" ->
      s"""WITH q AS ($duckQualitySql),
         |th AS (
         |  SELECT list_transform(quantile_cont(quality_score,
         |    [${(1 until 10).map(i => s"0.$i").mkString(",")}]),
         |    t -> CAST(CAST(t AS DECIMAL(18,6)) AS DOUBLE)) AS ths
         |  FROM q
         |)
         |SELECT q.doc_id, q.quality_score,
         |  CAST(len(list_filter(th.ths, t -> q.quality_score > t)) AS BIGINT) AS bucket
         |FROM q CROSS JOIN th""".stripMargin,
    "q_order_count_dist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey) t
        |GROUP BY c_count""".stripMargin,
    "q_clean_nulls" ->
      """SELECT * FROM customer
        |WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL
        |  AND c_nationkey IS NOT NULL
        |  AND c_acctbal IS NOT NULL AND NOT isnan(c_acctbal)
        |  AND c_mktsegment IS NOT NULL""".stripMargin,
    "q_clean_trim" ->
      """SELECT doc_id, TRIM(text) AS text, TRIM(lang) AS lang,
        |  TRIM(source) AS source, n_chars
        |FROM documents""".stripMargin,
    "q_dedup_exact_rows" ->
      "SELECT DISTINCT l_returnflag, l_linestatus, l_quantity FROM lineitem",
    "q_clean_columns" ->
      """SELECT p_partkey, p_name AS part_name, p_brand, p_type,
        |  p_retailprice
        |FROM part""".stripMargin,
    "q_multiformat_date" ->
      """SELECT o_orderkey,
        |  CAST(COALESCE(
        |    try_strptime(raw, '%Y-%m-%d'),
        |    try_strptime(raw, '%d/%m/%Y'),
        |    try_strptime(raw, '%m-%d-%Y')) AS DATE) :: VARCHAR AS parsed_date
        |FROM (
        |  SELECT o_orderkey,
        |    CASE CAST(o_orderkey % 3 AS INT)
        |      WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
        |      WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y')
        |      ELSE strftime(o_orderdate, '%m-%d-%Y') END AS raw
        |  FROM orders) t""".stripMargin,
    "q_silver_pipeline" ->
      """SELECT DISTINCT doc_id, TRIM(text) AS text, TRIM(lang) AS lang,
        |  TRIM(source) AS source, n_chars,
        |  '2026-08-12' AS _processing_date
        |FROM documents
        |WHERE doc_id IS NOT NULL AND text IS NOT NULL AND lang IS NOT NULL
        |  AND source IS NOT NULL AND n_chars IS NOT NULL""".stripMargin,
    // P11: one grouped-counts CTE per key column; top key by the same
    // (count desc, key desc) total order the Spark struct-max uses
    "q_profile_skew" -> Seq(
      ("user_id", "COALESCE(CAST(user_id AS VARCHAR), '(null)')"),
      ("event_type", "COALESCE(event_type, '(null)')"),
    ).map { case (name, kexpr) =>
      s"""SELECT '$name' AS key_col, CAST(SUM(c) AS BIGINT) AS n_rows,
         |  COUNT(*) AS n_distinct, MAX(c) AS max_freq,
         |  (SELECT k FROM (SELECT $kexpr AS k, COUNT(*) AS c FROM events GROUP BY 1) g2
         |   ORDER BY c DESC, k DESC LIMIT 1) AS top_key,
         |  ROUND(CAST(MAX(c) AS DOUBLE)
         |    / CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE), 6) AS top_fraction,
         |  ROUND(CAST(MAX(c) * COUNT(*) AS DOUBLE)
         |    / CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE), 6) AS skew_ratio
         |FROM (SELECT $kexpr AS k, COUNT(*) AS c FROM events GROUP BY 1) g""".stripMargin
    }.mkString("\nUNION ALL\n"),
    "q_profile" -> Seq(
      ("o_orderkey", "CAST(MIN(o_orderkey) AS VARCHAR)", "CAST(MAX(o_orderkey) AS VARCHAR)", "o_orderkey"),
      ("o_custkey", "CAST(MIN(o_custkey) AS VARCHAR)", "CAST(MAX(o_custkey) AS VARCHAR)", "o_custkey"),
      ("o_orderstatus", "CAST(MIN(o_orderstatus) AS VARCHAR)", "CAST(MAX(o_orderstatus) AS VARCHAR)", "o_orderstatus"),
      ("o_totalprice", "CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)", "CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)", "o_totalprice"),
      ("o_orderdate", "CAST(MIN(o_orderdate) AS VARCHAR)", "CAST(MAX(o_orderdate) AS VARCHAR)", "o_orderdate"),
      ("o_orderpriority", "CAST(MIN(o_orderpriority) AS VARCHAR)", "CAST(MAX(o_orderpriority) AS VARCHAR)", "o_orderpriority"),
    ).map { case (name, mn, mx, c) =>
      s"""SELECT '$name' AS column_name, COUNT($c) AS n_nonnull,
         |  COUNT(DISTINCT $c) AS n_distinct, $mn AS min_val, $mx AS max_val
         |FROM orders""".stripMargin
    }.mkString("\nUNION ALL\n"),
    // mirror of valueSample's per-column branches: distinct → string →
    // sort → first 10, rendered with the SAME casts as q_profile (so
    // doubles go through DECIMAL(18,2) on both engines)
    "q_profile_values" -> Seq(
      ("o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
      ("o_custkey", "CAST(o_custkey AS VARCHAR)"),
      ("o_orderstatus", "CAST(o_orderstatus AS VARCHAR)"),
      ("o_totalprice", "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)"),
      ("o_orderdate", "CAST(o_orderdate AS VARCHAR)"),
      ("o_orderpriority", "CAST(o_orderpriority AS VARCHAR)"),
    ).map { case (name, cast) =>
      s"""SELECT '$name' AS column_name, value FROM (
         |  SELECT DISTINCT $cast AS value FROM orders
         |  WHERE $cast IS NOT NULL ORDER BY value LIMIT 10)""".stripMargin
    }.mkString("\nUNION ALL\n"),
    "q_unique_counts" -> Seq(
      "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .map(c =>
        s"SELECT '$c' AS column_name, COUNT(DISTINCT $c) AS n_distinct FROM customer")
      .mkString("\nUNION ALL\n"),
    "q_profile_corr" ->
      duckCorrSql(Seq("l_quantity", "l_extendedprice", "l_discount"),
        "lineitem"),
    "q_consistency" ->
      """SELECT o_custkey, COUNT(DISTINCT o_orderkey) AS unique_ids
        |FROM orders GROUP BY o_custkey
        |HAVING COUNT(DISTINCT o_orderkey) <> 1""".stripMargin,
    "q_completeness" -> Seq(
      "event_id", "ts", "user_id", "event_type", "value", "props")
      .map(c =>
        s"""SELECT '$c' AS column_name, COUNT($c) AS n_nonnull,
           |  ROUND(CAST(COUNT($c) AS DOUBLE) / COUNT(*), 6) AS nonnull_ratio
           |FROM events""".stripMargin)
      .mkString("\nUNION ALL\n"),
    "q_dim_date" ->
      """SELECT CAST(data AS VARCHAR) AS data, sha256(CAST(data AS VARCHAR)) AS id_date
        |FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS data FROM orders) t""".stripMargin,
    "q_dim_part" ->
      """SELECT p_brand, p_type, sha256(p_brand) AS id_part_kind
        |FROM (SELECT DISTINCT p_brand, p_type FROM part) t""".stripMargin,
    "q_dim_customer" ->
      """SELECT c_custkey AS id_customer_nat, c_name AS nome,
        |  n_name AS nome_nacao, r_name AS nome_regiao,
        |  c_mktsegment AS segmento,
        |  sha256(concat_ws(':', CAST(c_custkey AS VARCHAR), n_name)) AS id_customer
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "q_fact_sales" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS quantidade,
        |  CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS preco,
        |  sha256(CAST(CAST(l_shipdate AS DATE) AS VARCHAR)) AS id_ship_date,
        |  sha256(p_brand) AS id_part_kind,
        |  sha256(concat_ws(':', CAST(l_orderkey AS VARCHAR), CAST(l_suppkey AS VARCHAR))) AS id_supply,
        |  'lineitem' AS _source,
        |  '2026-08-12' AS _modeling_date,
        |  sha256(concat_ws('_',
        |    sha256(CAST(CAST(l_shipdate AS DATE) AS VARCHAR)),
        |    sha256(p_brand),
        |    sha256(concat_ws(':', CAST(l_orderkey AS VARCHAR), CAST(l_suppkey AS VARCHAR))))) AS id_fact
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,
    "q_latest_partition" ->
      """SELECT event_id, user_id, event_type, value, props,
        |  date_trunc('second', ts) AS ts_sec, CAST(ts AS DATE) :: VARCHAR AS event_date
        |FROM events
        |WHERE CAST(ts AS DATE) = (SELECT MAX(CAST(ts AS DATE)) FROM events)""".stripMargin,
    "q_asof_partition" ->
      """SELECT event_id, user_id, event_type, value, props,
        |  date_trunc('second', ts) AS ts_sec, CAST(ts AS DATE) :: VARCHAR AS event_date
        |FROM events
        |WHERE CAST(ts AS DATE) = DATE '2024-01-15'""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,4)) / CAST(10000.0 AS DECIMAL(18,4))) AS BIGINT) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,4)) / CAST(10000.0 AS DECIMAL(18,4))) AS BIGINT) * CAST(10000.0 AS DECIMAL(18,4)) AS DOUBLE) AS bucket_low
        |FROM orders
        |GROUP BY 1""".stripMargin,
    "q_quantiles" ->
      """SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.9) AS p90
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    // interpolated-quantile parity (quantile_cont == percentile) is
    // already proven by q_quantiles; clamp is exact given equal bounds.
    // Null semantics are mirrored AND exercised (the gate injects
    // nulls into both columns): a null value stays null (DuckDB's
    // least/greatest would otherwise skip the null and clamp to lo),
    // C11: one UNION-ALL block per expectation, violation counts as
    // scalar subqueries, detail strings byte-identical to the Scala
    // case classes' renderings
    "q_clean_validate" -> Seq(
      ("o_custkey", "not_null", "",
        "(SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)"),
      ("o_orderkey", "unique", "",
        "(SELECT COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) FROM orders)"),
      ("o_custkey", "unique", "",
        "(SELECT COUNT(o_custkey) - COUNT(DISTINCT o_custkey) FROM orders)"),
      ("o_totalprice", "range", "[1000.0,300000.0]",
        "(SELECT COUNT(*) FROM orders WHERE o_totalprice IS NOT NULL AND (o_totalprice < 1000.0 OR o_totalprice > 300000.0))"),
      ("o_orderstatus", "in_set", "{O,F,P}",
        "(SELECT COUNT(*) FROM orders WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F','P'))"),
      ("o_orderpriority", "in_set", "{1-URGENT,2-HIGH,3-MEDIUM}",
        "(SELECT COUNT(*) FROM orders WHERE o_orderpriority IS NOT NULL AND o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM'))"),
      ("o_orderpriority", "matches", "^[0-9]-[A-Z ]+$",
        "(SELECT COUNT(*) FROM orders WHERE o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '^[0-9]-[A-Z ]+$'))"),
    ).map { case (c, r, dt, v) =>
      s"""SELECT '$c' AS column_name, '$r' AS rule, '$dt' AS detail,
         |  (SELECT COUNT(*) FROM orders) AS n_rows,
         |  $v AS n_violations, $v = 0 AS passed""".stripMargin
    }.mkString("\nUNION ALL\n"),
    // both engines' quantiles skip null values, and the group join is
    // null-safe (JOIN USING would drop the null-group rows the
    // operator keeps and clips against their own bounds)
    "q_clean_winsorize" ->
      """WITH src AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 89 <> 0 THEN o_orderpriority END
        |      AS o_orderpriority,
        |    CASE WHEN o_orderkey % 97 <> 0 THEN o_totalprice END
        |      AS o_totalprice
        |  FROM orders
        |), b AS (
        |  SELECT o_orderpriority AS g,
        |    quantile_cont(o_totalprice, 0.01) AS lo,
        |    quantile_cont(o_totalprice, 0.99) AS hi
        |  FROM src GROUP BY 1
        |)
        |SELECT o_orderkey, o_orderpriority,
        |  CASE WHEN o_totalprice IS NULL THEN NULL
        |       ELSE least(greatest(o_totalprice, lo), hi) END
        |    AS o_totalprice_clipped
        |FROM src JOIN b ON o_orderpriority IS NOT DISTINCT FROM b.g""".stripMargin,
    "q_events_funnel" ->
      """WITH per_user AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN date_trunc('second', ts) END) AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN date_trunc('second', ts) END) AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN date_trunc('second', ts) END) AS t_purchase
        |  FROM events GROUP BY user_id
        |)
        |SELECT count(t_view) AS n_view,
        |  count(CASE WHEN t_click > t_view THEN 1 END) AS n_view_then_click,
        |  count(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END) AS n_full_funnel
        |FROM per_user""".stripMargin,
    "q_latest_by_key" ->
      """SELECT * FROM orders
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate DESC, o_orderkey DESC) = 1""".stripMargin,
    // window forward-fill mirror of the union-tag as-of formulation
    // (right side sorts first on timestamp ties → ≤ semantics)
    "q_events_asof" ->
      """WITH u AS (
        |  SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts,
        |    1 AS side, NULL::TIMESTAMP AS pts
        |  FROM events
        |  UNION ALL
        |  SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts,
        |    0 AS side, date_trunc('second', ts) AS pts
        |  FROM events WHERE event_type = 'purchase'
        |), f AS (
        |  SELECT event_id, user_id, ts, side,
        |    LAST_VALUE(pts IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, side, event_id
        |      ROWS UNBOUNDED PRECEDING) AS last_purchase_ts
        |  FROM u
        |)
        |SELECT event_id, user_id, date_trunc('second', ts) AS ts_sec,
        |  CAST(last_purchase_ts AS VARCHAR) AS last_purchase_ts
        |FROM f WHERE side = 1""".stripMargin,
    "q_events_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // duplicate-delivery dedup: streamed survivors == the original set
    "q_stream_dedup" ->
      """SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts,
        |  event_type, value
        |FROM events""".stripMargin,
    // enrichment is a per-batch broadcast left join — the oracle is
    // the same left join over the full table
    "q_stream_enrich" ->
      """SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts,
        |  event_type, value, c_mktsegment
        |FROM events LEFT JOIN
        |  (SELECT c_custkey, c_mktsegment FROM customer
        |   WHERE c_custkey < 100) dim
        |  ON user_id = dim.c_custkey""".stripMargin,
    // the streamed inner interval join equals the batch one
    "q_stream_join" ->
      """SELECT v.user_id, v.event_id AS view_id,
        |  p.event_id AS purchase_id,
        |  date_trunc('microseconds', v.ts) AS view_ts,
        |  date_trunc('microseconds', p.ts) AS purchase_ts
        |FROM events v JOIN events p ON v.user_id = p.user_id
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR""".stripMargin,
    // idempotence under replay: the doubled-run read-back is exactly
    // the source set, once
    "q_stream_sink" ->
      """SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts,
        |  event_type, value
        |FROM events""".stripMargin,
    // streamed result == the batch rollup (no n_users: the streaming
    // twin deliberately omits COUNT(DISTINCT …), which is approximate
    // or state-heavy under incremental execution)
    "q_stream_rollup" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // gap compare on µs-truncated timestamps: Spark reads the ns
    // source floored to µs, so the oracle must compare the same values
    // (explicit even though read_parquet already maps TIMESTAMP(NANOS)
    // to µs TIMESTAMP in current DuckDB)
    "q_events_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    date_trunc('microseconds', ts) AS ts
        |  FROM events
        |), b AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM b
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  date_trunc('second', MIN(ts)) AS session_start,
        |  date_trunc('second', MAX(ts)) AS session_end,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    // the built-in session_window's contract: same strict-> break as
    // the window form (merge windows are end-inclusive), but
    // session_end = last ts + gap
    "q_events_sessions_native" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    date_trunc('microseconds', ts) AS ts
        |  FROM events
        |), b AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM b
        |)
        |SELECT user_id,
        |  date_trunc('second', MIN(ts)) AS session_start,
        |  date_trunc('second', MAX(ts) + INTERVAL 30 MINUTE)
        |    AS session_end,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin,
    // batch session definition + the stream's emission rule: non-last
    // sessions always emit (a successor event closed them); the last
    // session emits iff its timeout beat the final watermark —
    // last_event_ms + gap_ms < max_event_ms − delay_ms, with ms =
    // floor(µs/1000) exactly as Spark's event-time stats floor it
    // (strict <, matching the state-timeout check)
    "q_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    date_trunc('microseconds', ts) AS ts
        |  FROM events
        |), b AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM b
        |), g AS (
        |  SELECT user_id, session_id,
        |    date_trunc('second', MIN(ts)) AS session_start,
        |    date_trunc('second', MAX(ts)) AS session_end,
        |    COUNT(*) AS n_events,
        |    epoch_us(MAX(ts)) // 1000 AS last_ms
        |  FROM s GROUP BY user_id, session_id
        |), g2 AS (
        |  SELECT *, MAX(session_id) OVER (PARTITION BY user_id) AS last_sid
        |  FROM g
        |)
        |SELECT user_id, session_start, session_end, n_events
        |FROM g2
        |WHERE session_id < last_sid
        |   OR last_ms + 1800000 <
        |      (SELECT MAX(epoch_us(ts) // 1000) FROM e) - 3600000""".stripMargin,
  )
}
