package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-profiling operators.
  *
  * Reference behavior: src/etl/utils/data_profiling.py —
  * `check_unique_values` (:1) and `basic_data_profiling` (:10) which
  * run one Spark job *per column* and `show()` each to the driver, and
  * bronze_to_silver.py:127's key↔attribute consistency audit.
  *
  * Spark-first redesign: ALL per-column statistics are computed in ONE
  * aggregation pass (a single scan + single reduce), and the result is
  * returned as a tidy DataFrame (column_name × metrics) instead of
  * driver-side prints. At 100 TB the reference's approach is N full
  * scans; this is one.
  *
  * `exact=false` swaps `count(distinct)` for HyperLogLog
  * `approx_count_distinct` — at warehouse scale an exact distinct per
  * column forces a huge shuffle per column; the sketch is one pass,
  * mergeable, and within ~2% — the right default for 100 TB profiling.
  */
object Profiling {

  /** Render min/max as strings deterministically across engines:
    * doubles via decimal(18,2) (binary-double formatting differs
    * between engines; decimal formatting doesn't).
    */
  private def asStr(f: StructField): Column => Column = f.dataType match {
    case DoubleType | FloatType =>
      c => c.cast("decimal(18,2)").cast("string")
    case _ => c => c.cast("string")
  }

  /** Per-column profile: non-null count, distinct count, min, max —
    * one pass, returned as rows (column_name, n_nonnull, n_distinct,
    * min_val, max_val). Reference: data_profiling.py:10.
    */
  def profile(df: DataFrame, exact: Boolean = true): DataFrame = {
    // One single-column aggregation per field, unioned. Each branch
    // scans ONLY its column (parquet pruning) and runs a two-phase
    // distinct — vs a single wide agg with N count_distincts, which
    // Expand-multiplies every row N+1 times before the shuffle. At
    // warehouse width (dozens of columns) the union shape wins by the
    // expand factor; branches execute concurrently within one job.
    val fields = df.schema.fields.toSeq
    fields.map { f =>
      val c = col(f.name)
      val s = asStr(f)
      df.select(c).agg(
        count(c).as("n_nonnull"),
        (if (exact) count_distinct(c) else approx_count_distinct(c))
          .as("n_distinct"),
        s(min(c)).as("min_val"),
        s(max(c)).as("max_val"))
        .select(lit(f.name).as("column_name"), col("n_nonnull"),
          col("n_distinct"), col("min_val"), col("max_val"))
    }.reduce(_ unionAll _)
  }

  /** Unique-value count per column (reference: data_profiling.py:1,
    * minus the `show()` of every distinct value). One pass.
    */
  def uniqueCounts(df: DataFrame, exact: Boolean = true): DataFrame = {
    val fields = df.schema.fields.toSeq
    val aggs = fields.map { f =>
      (if (exact) count_distinct(col(f.name))
       else approx_count_distinct(col(f.name))).as(s"${f.name}__d")
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = fields.map { f =>
      struct(lit(f.name).as("column_name"),
             col(s"${f.name}__d").as("n_distinct"))
    }
    one.select(explode(array(entries: _*)).as("p")).select("p.*")
  }

  /** Bounded distinct-values sample: the first `n` distinct values of
    * every column in sort order, one row per (column_name, value),
    * values rendered as strings ([[asStr]] semantics, so doubles print
    * engine-independently). Reference behavior: data_profiling.py:8
    * `show()`s EVERY distinct value of a column to the driver — fine
    * on a weather table, unbounded at warehouse scale; this keeps the
    * "see what's actually in the column" report but caps it at `n`
    * values per column.
    *
    * One branch per column, like [[profile]]: each branch scans ONLY
    * its column (parquet pruning), distincts it (a shuffle of that
    * column's values, not the table), and takes the global top-n —
    * Spark plans orderBy+limit as TakeOrderedAndProject, so no full
    * sort ever materializes. Branches run concurrently within one job.
    */
  def valueSample(df: DataFrame, n: Int = 10): DataFrame = {
    val fields = df.schema.fields.toSeq
    fields.map { f =>
      val s = asStr(f)(col(f.name))
      df.select(s.as("value")).filter(col("value").isNotNull)
        .distinct()
        .orderBy(col("value"))
        .limit(n)
        .select(lit(f.name).as("column_name"), col("value"))
    }.reduce(_ unionAll _)
  }

  /** Key↔attribute consistency audit (reference:
    * bronze_to_silver.py:127): attribute values mapped to more than one
    * key. Map-side partial agg collapses before the shuffle.
    */
  def consistency(df: DataFrame, attr: String, key: String): DataFrame =
    df.groupBy(col(attr))
      .agg(count_distinct(col(key)).as("unique_ids"))
      .filter(col("unique_ids") =!= 1)

  /** Fixed-width value histogram of a numeric column: one group-by on
    * the bucket index. Bucket math runs in decimal(18,4) — exact on
    * the Spark side; note a DOUBLE-division engine (DuckDB evaluates
    * decimal division in double) stays boundary-consistent only while
    * `value/width` quotients can't land within 1 ulp of an integer,
    * which holds for coarse widths over limited-precision values
    * (e.g. 2-dp prices, width ≥ 0.01). Values outside decimal(18,4)
    * range are a loud error (ANSI), not a silent NULL bucket.
    */
  def histogram(df: DataFrame, c: String, bucketWidth: Double): DataFrame = {
    require(bucketWidth >= 0.01,
      s"bucketWidth $bucketWidth below decimal(18,4)-safe granularity")
    df.groupBy(
        floor(col(c).cast("decimal(18,4)") / lit(bucketWidth).cast("decimal(18,4)"))
          .cast("bigint").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bucket_low",
        (col("bucket") * lit(bucketWidth).cast("decimal(18,4)"))
          .cast("double"))
  }

  /** Exact interpolated quantiles of a numeric column per group —
    * `percentile` (continuous interpolation, the quantile_cont
    * definition). Exact quantiles shuffle the group's values; at
    * 100 TB swap in `approx_percentile` (t-digest sketch, mergeable,
    * one pass) — same call shape, bounded error.
    */
  def quantiles(df: DataFrame, groupCol: String, valueCol: String,
                qs: Seq[Double] = Seq(0.5, 0.9), exact: Boolean = true): DataFrame = {
    val aggs = qs.map { q =>
      val name = s"p${(q * 100).toInt}"
      (if (exact) percentile(col(valueCol), lit(q))
       else percentile_approx(col(valueCol), lit(q), lit(10000)))
        .as(name)
    }
    df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Completeness report: non-null ratio per column, one pass.
    * (The reference derives this implicitly in remove_null_values'
    * per-column counts; here it is a first-class report.)
    */
  def completeness(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.toSeq
    val aggs = fields.map(f => count(col(f.name)).as(s"${f.name}__n")) :+
      count(lit(1)).as("__total")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = fields.map { f =>
      struct(
        lit(f.name).as("column_name"),
        col(s"${f.name}__n").as("n_nonnull"),
        round(col(s"${f.name}__n").cast("double") / col("__total"), 6)
          .as("nonnull_ratio"))
    }
    one.select(explode(array(entries: _*)).as("p")).select("p.*")
  }

  /** P7 — MERGEABLE distinct sketches (Datasketches HLL via Spark's
    * `hll_sketch_agg`): one sketch per shard, estimates from sketch
    * UNIONS. This is the incremental-profiling shape at 100 TB: each
    * day's load aggregates its own shard sketch at batch-sized cost,
    * the sketches are stored (a few KB each), and any corpus-wide
    * distinct count — all time, last month, one source — is a union
    * over stored sketches with NO re-scan of history. While sketches
    * are in sparse/coupon mode (low per-shard cardinality) the union
    * estimates EXACTLY like one global sketch (spec-asserted); once
    * sketches go dense the union can differ from the one-shot sketch
    * by a fraction of the HLL error bound (measured 0.74% at 1.5k
    * distinct over 30 daily shards) — both stay within the sketch's
    * accuracy envelope of the true count, which is the guarantee that
    * matters. Shard granularity is effectively free.
    */
  def distinctSketches(df: DataFrame, shardCol: Column,
                       valueCol: Column): DataFrame =
    df.groupBy(shardCol.as("shard"))
      .agg(hll_sketch_agg(valueCol).as("sketch"))

  /** Distinct-count estimate from a union of [[distinctSketches]]
    * rows (optionally pre-filtered to a shard subset).
    */
  def unionEstimate(sketches: DataFrame): DataFrame =
    // empty sketch set (a pre-filter matched no shard) is 0 distinct,
    // not a null that NPEs the caller's getLong
    sketches.agg(
      coalesce(hll_sketch_estimate(hll_union_agg(col("sketch"))), lit(0L))
        .as("n_distinct"))

  /** P6b — MERGEABLE quantile sketches: the quantile analog of
    * [[distinctSketches]] for incremental profiling. Each shard
    * aggregates a fixed-grid histogram — bin = ⌊(v − lo) / w⌋ over an
    * EXPLICIT [lo, hi] domain with `nBins` bins, values clamped to the
    * edge bins — at batch-sized cost; a corpus-wide quantile is then a
    * bin-count SUM over stored shard rows with no re-scan of history.
    * Unlike HLL, the merge is LOSSLESS (counts add), so the union
    * equals the one-shot global histogram EXACTLY and the only error
    * is quantization: any quantile estimate is within one bin width w
    * of the NEAREST-RANK quantile (the `percentile_disc` value — that
    * element provably lives in the covering bin). An INTERPOLATED
    * quantile (`percentile`/`quantile_cont`) carries no such bound:
    * it is a weighted average of two ranked neighbors, and a value
    * gap wider than w around the quantile rank (two values {0,
    * 599999} at p=0.5 interpolate to ~300000 while both histogram
    * mass and the disc quantile sit at the edges) puts it many bins
    * from any histogram edge. The grid must be fixed up front (a
    * data-derived domain would change bin meaning between days and
    * break mergeability) — the standard contract for monitoring
    * histograms. Output long form: (shard, bin, n).
    */
  def quantileSketches(df: DataFrame, shardCol: Column, valueCol: Column,
                       lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins > 0 && hi > lo, s"bad grid [$lo, $hi) x $nBins")
    val w = (hi - lo) / nBins
    val bin = least(greatest(
      floor((valueCol.cast("double") - lo) / w), lit(0.0)),
      lit((nBins - 1).toDouble)).cast("bigint")
    df.filter(valueCol.isNotNull)
      .groupBy(shardCol.as("shard"), bin.as("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** Quantile estimate from a union of [[quantileSketches]] rows
    * (optionally pre-filtered to a shard subset): merge = bin-count
    * sum, estimate = upper edge of the first bin whose cumulative
    * count reaches p·total. The nearest-rank p-quantile lies inside
    * that covering bin, so the estimate is guaranteed within one bin
    * width ABOVE it; no analogous bound exists against interpolated
    * quantiles (see [[quantileSketches]]). Null on an empty sketch
    * set.
    */
  def unionQuantile(sketches: DataFrame, p: Double,
                    lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(p >= 0 && p <= 1, s"bad quantile $p")
    val w = (hi - lo) / nBins
    val W = org.apache.spark.sql.expressions.Window
    val merged = sketches.groupBy(col("bin"))
      .agg(sum(col("n")).as("n"))
    // the windows below run over the MERGED histogram — ≤ nBins rows,
    // sketch-sized, never data-sized — so the single-partition frame
    // is bounded by construction
    val cum = merged.select(col("bin"), col("n"),
      sum(col("n")).over(W.orderBy(col("bin"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)).as("cum"),
      sum(col("n")).over(W.partitionBy()).as("total"))
    cum.filter(col("cum") >= col("total") * p)
      .agg(min(col("bin")).as("qbin"))
      .select((lit(lo) + (col("qbin") + 1) * w).as("quantile_est"))
  }

  /** P9 — incremental profile maintenance, part 1: one stored row per
    * (shard, column) whose statistics are ALL mergeable — counts and
    * min/max merge losslessly, distinct merges as an HLL union within
    * the sketch's error envelope. A batch (day, source, load) profiles
    * itself once at landing cost; the corpus-wide profile is then an
    * aggregate over the stored rows ([[mergeProfiles]]) — history is
    * never re-profiled. This is the system-level payoff of the
    * mergeable-sketch family (P6b histograms, P7 HLL, P8 frequency):
    * at 100 TB "re-run the profiler" is a full-corpus scan per day,
    * while merging stored shard rows is sketch-sized work.
    *
    * Same union-of-single-column-branches shape as [[profile]] (each
    * branch scans only its column + the shard key; branches run
    * concurrently in one job). min/max are rendered with [[asStr]]
    * (doubles through decimal(18,2)) so rows are engine-portable;
    * the HLL sketch is built over the string rendering (the sketch
    * kernel accepts int/long/string/binary — the cast changes no
    * distinct counts).
    */
  def profileShards(df: DataFrame, shardCol: Column): DataFrame =
    df.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      val s = asStr(f)
      df.groupBy(shardCol.as("shard"))
        .agg(count(lit(1)).as("n_rows"), count(c).as("n_nonnull"),
          s(min(c)).as("min_val"), s(max(c)).as("max_val"),
          hll_sketch_agg(c.cast("string")).as("distinct_sketch"))
        .select(col("shard"), lit(f.name).as("column_name"),
          col("n_rows"), col("n_nonnull"), col("min_val"),
          col("max_val"), col("distinct_sketch"))
    }.reduce(_ unionAll _)

  /** P9 part 2: fold stored [[profileShards]] rows (optionally
    * pre-filtered to a shard subset) into one current profile.
    * `schema` is the profiled table's schema — min/max strings are
    * cast back to their column's real type before comparing, so a
    * numeric column's merged min is numeric (`"9" < "10"`), then
    * re-rendered with the same [[asStr]] contract. Counts merge by
    * sum (exact), distinct by HLL union (estimate).
    */
  def mergeProfiles(stored: DataFrame, schema: StructType): DataFrame =
    schema.fields.toSeq.map { f =>
      val s = asStr(f)
      val typed = (c: Column) => c.cast(f.dataType)
      stored.filter(col("column_name") === f.name)
        .agg(sum(col("n_rows")).as("n_rows"),
          sum(col("n_nonnull")).as("n_nonnull"),
          s(min(typed(col("min_val")))).as("min_val"),
          s(max(typed(col("max_val")))).as("max_val"),
          coalesce(hll_sketch_estimate(
            hll_union_agg(col("distinct_sketch"))), lit(0L))
            .as("n_distinct_est"))
        .select(lit(f.name).as("column_name"), col("n_rows"),
          col("n_nonnull"), col("min_val"), col("max_val"),
          col("n_distinct_est"))
    }.reduce(_ unionAll _)

  /** P8 — Misra–Gries frequency-sketch aggregate: one
    * `map<string,bigint>` of at most `k` counters summarizing a string
    * column in O(k) memory per task. Lower-bound counts; every item
    * with true frequency above n/(k+1) is guaranteed present (see
    * [[graft.plans.MisraGriesKernel]] for the contract and the merge
    * algebra). This is the heavy-hitter member of the mergeable-sketch
    * family beside the HLL distinct sketch ([[distinctSketches]]) and
    * the fixed-grid histogram ([[quantileSketches]]) — the three
    * profile statistics that must NOT be answered with a full groupBy
    * at 100 TB (a token stream's distinct count is itself huge; the
    * sketch never shuffles more than k counters per partition).
    */
  def freqSketchAgg(valueCol: Column, k: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.toColumn(
      graft.plans.FreqSketchAgg(
        org.apache.spark.sql.GraftSqlBridge.toExpression(valueCol), k)
        .toAggregateExpression())

  /** Misra–Gries union of STORED sketch maps (one per shard/batch):
    * same ≤ k-counter shape out, additive error in. The incremental
    * analog of [[unionEstimate]]/[[unionQuantile]] — corpus-wide
    * heavy-hitter candidates from tiny per-batch rows, history never
    * re-scanned.
    */
  def freqSketchMergeAgg(sketchCol: Column, k: Int): Column =
    org.apache.spark.sql.GraftSqlBridge.toColumn(
      graft.plans.FreqSketchMergeAgg(
        org.apache.spark.sql.GraftSqlBridge.toExpression(sketchCol), k)
        .toAggregateExpression())

  /** Per-shard frequency sketches: (shard, sketch map). */
  def freqSketches(df: DataFrame, shardCol: Column, valueCol: Column,
                   k: Int): DataFrame =
    df.groupBy(shardCol.as("shard"))
      .agg(freqSketchAgg(valueCol, k).as("sketch"))

  /** EXACT heavy hitters at bounded memory: every item occurring in
    * strictly more than 1/`support` of the non-null values, with its
    * exact count — the deterministic two-pass pattern: pass 1 builds
    * one Misra–Gries sketch of capacity `support` (+ the total count,
    * same scan), whose guarantee says the candidate set already
    * contains every qualifying item; pass 2 exact-counts ONLY the ≤
    * `support` candidates via a broadcast semi-join. Result is
    * identical to `GROUP BY item HAVING count(*)·support > n` but no
    * stage ever holds per-distinct-item state — the groupBy form
    * shuffles every distinct item (unbounded at 100 TB), this
    * shuffles at most `support` of them. Threshold compare is pure
    * integer math (count·support > n): no float crossing engines.
    */
  def heavyHitters(df: DataFrame, valueCol: Column,
                   support: Int): DataFrame = {
    require(support > 1, s"support denominator must be > 1, got $support")
    val vals = df.select(valueCol.as("item")).filter(col("item").isNotNull)
    val pass1 = vals.agg(freqSketchAgg(col("item"), support).as("sk"),
      count(lit(1)).as("n"))
    val cands = pass1.select(explode(map_keys(col("sk"))).as("item"),
      col("n"))
    vals.join(broadcast(cands), "item")
      .groupBy(col("item"), col("n"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") * support > col("n"))
      .select(col("item"), col("n_occurrences"))
  }

  /** P10 — pairwise Pearson correlation over numeric columns, computed
    * from EXACT sufficient statistics: for every column pair, the
    * pairwise-complete count and the five sums (Σx, Σy, Σx², Σy², Σxy)
    * accumulated in decimal — so the whole report is ONE map-side-
    * combinable aggregation over ONE scan, regardless of how many
    * pairs are requested, and the sums are order-independent (a double
    * sum would drift with partitioning; the decimal sums are exact, so
    * any engine reproduces them bit-for-bit). The correlation itself
    * is derived AFTER aggregation in a scalar projection from the
    * double-cast sums — every step correctly rounded IEEE arithmetic
    * on identical inputs, so the DuckDB oracle recomputing the same
    * formula lands on the identical double.
    *
    * Pairwise-complete semantics: a row contributes to a pair iff BOTH
    * columns are non-null (each pair may have its own n). Zero-variance
    * pairs yield NULL correlation, not a divide-by-zero.
    *
    * The sums stay DECIMAL in the output — they are exact sufficient
    * statistics, and keeping them exact is what makes the report
    * mergeable across partial runs and engine-portable (a double sum
    * at this magnitude cannot round-trip: its unscaled value exceeds
    * 2^53). pearson_r is derived from the correctly-rounded double
    * casts of those decimals.
    *
    * Scale: no shuffle beyond the global-aggregate combine; adding
    * pairs adds columns to the partial state, never passes over the
    * data. The input columns must fit decimal(18,6) — warehouse
    * measures do; renormalize first if not. Cost honesty: the wide
    * decimal sums run on BigDecimal, not a compact long — measured
    * ~4.7 s over 600k rows × 3 pairs, vs sub-second for a double
    * aggregation. That constant is the price of bit-stable, mergeable
    * statistics; the structure (single scan, map-side combine) is
    * already the 100 TB shape. When the constant matters and
    * bit-stability doesn't, `exact = false` swaps the kernel for raw
    * double sums on the identical plan — same row selection, same
    * output schema, pearson_r within 1e-9 of the exact form (spec-
    * pinned at gate scale) but not mergeable bit-stably.
    */
  def correlationReport(df: DataFrame, cols: Seq[String],
                        exact: Boolean = true): DataFrame = {
    require(cols.size >= 2, s"need at least 2 columns, got ${cols.size}")
    require(cols.distinct.size == cols.size, "columns must be distinct")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    def dec(c: String) = col(c).cast("decimal(18,6)")
    // exact=false is the PRODUCTION scale path (the P1/P2 pattern):
    // the same single scan and map-side-combinable shape, but sums in
    // raw IEEE doubles — ~5× cheaper per row than BigDecimal, at the
    // price of sum-order nondeterminism in the last ulps (the report
    // is no longer bit-stable or hash-gateable; pearson_r agrees with
    // the exact form to well under 1e-9 — pinned by spec). The row
    // predicate stays the POST-CAST one in both modes, so both forms
    // select identical rows and n stays in lock-step.
    // post-cast nullness: a value overflowing decimal(18,6) casts
    // to NULL in non-ANSI mode, so gating on the cast keeps n in
    // lock-step with the sums instead of silently skewing r.
    // EXACT PATH PLAN SHAPE: the gated casts are projected ONCE per
    // pair (a codegen'd Project over the scan), so the 6 aggregates
    // per pair consume bare column refs instead of each re-evaluating
    // the CASE WHEN + three decimal casts per row; the sums themselves
    // are the limb-sum kernels (graft.plans.Decimal128) — bit-
    // identical to sum(when(both, dec·dec)) by exact integer
    // arithmetic on the unscaled values, without the per-row
    // BigDecimal multiply+add the decimal(37,12) product sums
    // otherwise pay. Same rows, same values, one fewer plan quirk.
    val exactIn =
      if (!exact) df
      else df.select(pairs.zipWithIndex.flatMap { case ((x, y), k) =>
        val both = dec(x).isNotNull && dec(y).isNotNull
        import graft.plans.Decimal128Api.unscaled
        Seq(unscaled(when(both, dec(x))).as(s"__ux$k"),
          unscaled(when(both, dec(y))).as(s"__uy$k"))
      }: _*)
    val aggs = pairs.zipWithIndex.flatMap { case ((x, y), k) =>
      if (exact) {
        import graft.plans.Decimal128Api.{prodSum128Long, sum128Long}
        val ux = col(s"__ux$k")
        val uy = col(s"__uy$k")
        Seq(
          count(when(ux.isNotNull, 1)).as(s"__n$k"),
          sum128Long(ux, 18, 6).as(s"__sx$k"),
          sum128Long(uy, 18, 6).as(s"__sy$k"),
          prodSum128Long(ux, ux, 18, 6, 18, 6).as(s"__sxx$k"),
          prodSum128Long(uy, uy, 18, 6, 18, 6).as(s"__syy$k"),
          prodSum128Long(ux, uy, 18, 6, 18, 6).as(s"__sxy$k"))
      } else {
        val both = dec(x).isNotNull && dec(y).isNotNull
        def s(e: Column, name: String) =
          sum(when(both, e)).as(s"__${name}$k")
        def v(c: String) = col(c).cast("double")
        Seq(
          count(when(both, 1)).as(s"__n$k"),
          s(v(x), "sx"), s(v(y), "sy"),
          s(v(x) * v(x), "sxx"), s(v(y) * v(y), "syy"),
          s(v(x) * v(y), "sxy"))
      }
    }
    val row = exactIn.agg(aggs.head, aggs.tail: _*)
    val long = row.select(explode(array(pairs.zipWithIndex.map {
      case ((x, y), k) =>
        struct(lit(x).as("col_x"), lit(y).as("col_y"),
          col(s"__n$k").as("n_pairs"),
          col(s"__sx$k").cast("decimal(38,12)").as("sum_x"),
          col(s"__sy$k").cast("decimal(38,12)").as("sum_y"),
          col(s"__sxx$k").cast("decimal(38,12)").as("sum_xx"),
          col(s"__syy$k").cast("decimal(38,12)").as("sum_yy"),
          col(s"__sxy$k").cast("decimal(38,12)").as("sum_xy"))
    }: _*)).as("p")).select("p.*")
    val n = col("n_pairs").cast("double")
    def d(c: String) = col(c).cast("double")
    val varX = n * d("sum_xx") - d("sum_x") * d("sum_x")
    val varY = n * d("sum_yy") - d("sum_y") * d("sum_y")
    val cov = n * d("sum_xy") - d("sum_x") * d("sum_y")
    long.withColumn("pearson_r",
      when(col("n_pairs") > 0 && varX > 0 && varY > 0,
        round(cov / (sqrt(varX) * sqrt(varY)), 6)))
  }

  /** The per-key frequency histogram — THE single definition of key
    * heat, consumed by both the P11 diagnostic ([[keySkewProfile]])
    * and the §2.12 remedy ([[Skew.hotKeys]] → `saltedJoinHotKeys`),
    * so the profile that says "this key is hot" and the join that
    * salts it can never disagree on what the statistic is. One
    * map-side-combinable groupBy; output `(k, c)` with the caller
    * choosing the key normalization (the profile strings + buckets
    * nulls, the remedy keeps the raw join key).
    */
  def keyFrequencies(df: DataFrame, key: Column): DataFrame =
    df.groupBy(key.as("k")).agg(count(lit(1)).as("c"))

  /** P11 — per-key SKEW profile: the diagnostic that decides whether
    * a join/aggregation key needs the §2.12 remedies BEFORE the job
    * that discovers it the hard way. For each key column: row count,
    * distinct count, the hottest key and its frequency,
    * `top_fraction` = max_freq / n_rows, and
    * `skew_ratio` = max_freq / (n_rows / n_distinct) — the hottest
    * key's multiple of the uniform expectation (≈1 balanced; a
    * double-digit ratio is the X1/X2 salting trigger, the rule
    * Skew.scala's scaladoc states in prose).
    *
    * One combinable groupBy per key column collapsed to a single row
    * (the [[profile]] union-branch shape — each branch prunes to its
    * own column); the hottest key is picked deterministically
    * (largest count, then largest key string). Null keys group under
    * the literal "(null)" so the profile is total and engine-portable.
    * Integer products stay under 2⁵³ for any corpus whose max_freq ·
    * n_distinct does (≤ ~9·10¹⁵ — beyond that the ratio saturates
    * double precision anyway).
    */
  def keySkewProfile(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keySkewProfile needs at least one key column")
    keyCols.map { kc =>
      keyFrequencies(df,
          coalesce(col(kc).cast("string"), lit("(null)")))
        .agg(sum(col("c")).as("n_rows"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("max_freq"),
          max(struct(col("c").as("c"), col("k").as("k")))
            .getField("k").as("top_key"))
        .select(lit(kc).as("key_col"), col("n_rows"),
          col("n_distinct"), col("max_freq"), col("top_key"),
          round(col("max_freq").cast("double")
            / col("n_rows").cast("double"), 6).as("top_fraction"),
          round((col("max_freq") * col("n_distinct")).cast("double")
            / col("n_rows").cast("double"), 6).as("skew_ratio"))
    }.reduce(_ unionAll _)
  }
}
