package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus management for training-data pipelines (SURVEY.md §2.11):
  * deterministic sampling, train/val/test splitting, per-group caps,
  * and the composed "training-ready" filter.
  *
  * Everything here is HASH-deterministic, never `rand()`: a
  * reproducible corpus needs membership decisions that are stable
  * across runs, partitionings, engines and retries. The primitive is
  * a 32-bit integer from the sha256 of (key, salt) — uniform, seedable
  * by salt, and recomputable by any engine (the DuckDB oracle mirrors
  * it with the same digest prefix). Changing the salt draws an
  * independent sample; the same salt always reproduces the same set.
  *
  * Scale: all operators are single-projection filters or one
  * window/aggregation — no shuffles beyond what the semantics require
  * (the cap is one shuffle on the group key; sampling/splitting is
  * shuffle-free and fully pushdown-friendly).
  */
object Corpus {

  /** The separator between the documents of a packed training row (the
    * EOS-token analog a trainer splits on).
    */
  private val PackSep = "<|eot|>"

  /** The gold-stage training-set recipe — quality/token gates, the
    * language mixture, split weights, sharding and the pack budget —
    * shared by [[graft.Pipeline.corpusGold]] and the composed
    * `q_llm_pipeline` gate (whose SQL oracle interpolates the same
    * constants). Single source: tuning a value here retunes the DAG
    * product, the gated composition AND its oracle together, so they
    * cannot silently drift apart.
    *
    * A case class so a production caller can retune any knob —
    * `TrainingRecipe(shards = 1024)` for a real corpus — without
    * editing the library; [[TrainingRecipe.Default]] carries the gate
    * values. `shards` is pure LAYOUT: it may only change how the kept
    * set is sharded/packed, never WHAT is kept (membership depends on
    * the quality/mixture/split knobs alone — spec-asserted). Size it
    * ≈ corpus tokens / (packBudget · bins-per-task-budget) so each
    * shard's pack window stays one task-sized unit of work.
    */
  final case class TrainingRecipe(
      minQuality: Double = 0.45,
      minTokens: Int = 10,
      maxTokens: Int = 100000,
      mixtureSalt: String = "mix",
      mixtureDen: Int = 10,
      mixtureRates: Seq[(String, Int)] =
        Seq("en" -> 10, "de" -> 5, "fr" -> 5, "es" -> 3),
      splitSalt: String = "sp",
      splitWeights: Seq[(String, Int)] =
        Seq(("train", 8), ("val", 1), ("test", 1)),
      shardSalt: String = "shard",
      shards: Int = 4,
      packBudget: Int = 2000) {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    require(splitWeights.count(_._1 == "train") == 1,
      "splitWeights needs exactly one 'train' entry")
    /** Split-bucket denominator (Σ weights). */
    val splitDen: Int = splitWeights.map(_._2).sum
    /** The 'train' split's hash-bucket range [lo, hi) — DERIVED from
      * `splitWeights`'s cumulative bounds, so reordering the weights
      * or retuning the train share can never silently desynchronize an
      * oracle that mirrors `splitByHash` with a bucket-range compare.
      */
    val trainBucketLo: Int =
      splitWeights.takeWhile(_._1 != "train").map(_._2).sum
    val trainBucketHi: Int =
      trainBucketLo + splitWeights.find(_._1 == "train").get._2
  }

  object TrainingRecipe {
    /** The driver-gate recipe (the values every `q_*` oracle mirrors). */
    val Default: TrainingRecipe = TrainingRecipe()
  }

  /** Uniform bucket in [0, den) from sha256(key ':' salt) — the first
    * 8 hex chars as an integer. 32 bits of digest is plenty for bucket
    * assignment and keeps every engine in exact-integer range.
    */
  def hashBucket(key: Column, salt: String, den: Int): Column =
    conv(substring(sha2(concat_ws(":", key.cast("string"), lit(salt)), 256),
      1, 8), 16, 10).cast("bigint") % den

  /** Keep a deterministic num/den fraction of rows by key hash. */
  def sampleByHash(df: DataFrame, keyCol: String, num: Int, den: Int,
                   salt: String): DataFrame = {
    require(num >= 0 && num <= den, s"need 0 <= num <= den, got $num/$den")
    df.filter(hashBucket(col(keyCol), salt, den) < num)
  }

  /** K8 — per-document WEIGHTED (importance) sampling: keep each row
    * with probability `weightNum/den` where `weightNum` is the row's
    * OWN (integer column) weight — the quality-weighted downsampling
    * of corpus curation: high-quality documents kept at full rate,
    * low-quality at a trickle, with the rate a function of the row.
    * Same determinism contract as every sampler here: membership
    * depends only on (key, salt, weight) — reproducible across runs,
    * engines, and retries — and the threshold compare is
    * integer-exact (weights in den-ths, no float boundary).
    * Shuffle-free: one codegen'd filter on the scan.
    */
  def sampleWeighted(df: DataFrame, keyCol: String, salt: String,
                     weightNum: Column, den: Int): DataFrame = {
    require(den > 0, s"den must be positive, got $den")
    df.filter(hashBucket(col(keyCol), salt, den) <
      least(weightNum.cast("bigint"), lit(den.toLong)))
  }

  /** Disjoint, exhaustive train/val/test-style split: each row gets
    * the label whose cumulative weight range contains its hash bucket.
    * Deterministic in the key — a document can never leak across
    * splits between runs, the invariant that makes eval sets
    * trustworthy.
    */
  def splitByHash(df: DataFrame, keyCol: String, salt: String,
                  weights: Seq[(String, Int)]): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be positive")
    val den = weights.map(_._2).sum
    val bucket = hashBucket(col(keyCol), salt, den)
    val cum = weights.scanLeft(0)(_ + _._2).tail
    // CASE bucket < cum1 THEN w1 WHEN bucket < cum2 THEN w2 …
    val cases = weights.zip(cum).foldLeft(Option.empty[Column]) {
      case (None, ((name, _), hi)) => Some(when(bucket < hi, name))
      case (Some(c), ((name, _), hi)) => Some(c.when(bucket < hi, name))
    }.get
    df.withColumn("split", cases)
  }

  /** K2b — DECONTAMINATED train split: the two leakage guards
    * composed into the one split a training run should actually
    * consume. Benchmark rows are excluded outright, corpus documents
    * sharing ≥ `minShared` 3-grams with any benchmark document
    * ([[Dedup.contaminationCheck]]) are dropped BEFORE the
    * hash-deterministic [[splitByHash]] — so no assignment, train or
    * held-out, can carry eval contamination, and the split stays
    * reproducible under re-runs and late-arriving data (membership
    * depends only on each id's own hash and the benchmark content).
    * Inherits both components' scale arguments verbatim: the
    * benchmark side broadcasts, the corpus streams, the split is a
    * shuffle-free projection. Output: (idCol, split).
    */
  def decontaminatedSplit(docs: DataFrame, idCol: String,
                          textCol: String, isBenchmark: Column,
                          salt: String, weights: Seq[(String, Int)],
                          minShared: Int = 8): DataFrame = {
    val flagged = Dedup.contaminationCheck(docs, idCol, textCol,
        isBenchmark, minShared)
      .select(col("doc_id").as("__flagged_id")).distinct()
    splitByHash(
      docs.filter(!isBenchmark)
        .join(flagged, col(idCol) === col("__flagged_id"), "left_anti"),
      idCol, salt, weights)
      .select(col(idCol), col("split"))
  }

  /** Keep at most `n` rows per group, chosen by `orderCols`
    * (class-balancing / per-source caps). One shuffle on the group
    * key; the per-partition sort is the window's local sort.
    *
    * Determinism contract: `orderCols` must be unique within each
    * group (a key, or key-suffixed ordering) — `row_number` over tied
    * orderings keeps an arbitrary row per run, which would break the
    * reproducible-corpus guarantee this module exists for.
    */
  def capPerGroup(df: DataFrame, groupCols: Seq[String],
                  orderCols: Seq[String], n: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** K5 — domain-MIXTURE sampling: per-group keep rates, the
    * pretraining "data mixture" step that reshapes the source/language
    * distribution toward a target recipe. Deterministic like
    * everything here: a row stays iff its salted hash bucket falls
    * under `den`·rate(group). Groups absent from `rates` are dropped —
    * an explicit mixture is a whitelist, and silence should not mean
    * "keep everything".
    */
  def mixtureSample(df: DataFrame, keyCol: String, groupCol: String,
                    salt: String, den: Int,
                    rates: Map[String, Int]): DataFrame = {
    require(rates.values.forall(r => r >= 0 && r <= den),
      s"rates must be in [0,$den]")
    val spark = df.sparkSession
    import spark.implicits._
    mixtureSampleTable(df, keyCol, groupCol, salt, den,
      rates.toSeq.toDF(groupCol, "__rate"))
  }

  /** [[mixtureSample]] with the recipe as a DataFrame — the form for
    * real mixtures (thousands of web domains): a broadcast lookup join
    * instead of a CASE chain, O(1) per row and codegen-friendly at any
    * recipe size. The inner join IS the whitelist: unlisted groups
    * drop.
    */
  def mixtureSampleTable(df: DataFrame, keyCol: String, groupCol: String,
                         salt: String, den: Int,
                         rates: DataFrame): DataFrame =
    df.join(broadcast(rates), Seq(groupCol))
      .filter(hashBucket(col(keyCol), salt, den) < col("__rate"))
      .select(df.columns.map(col).toIndexedSeq: _*)

  /** K5b — TEMPERATURE mixture rates, derived from the corpus instead
    * of hand-written: keep-rate_g = min(1, (n_min/n_g)^(1-α)) as an
    * integer rate out of `den`. After sampling, group sizes scale
    * ∝ n_g^α — the standard LLM data-recipe flattening knob (α=1
    * keeps the natural distribution, α=0 equalizes every group to the
    * smallest, α≈0.5 is the usual compromise that upweights rare
    * domains/languages without letting them dominate). The smallest
    * group always keeps rate `den` (everything): temperature decides
    * how much of the HEAD to shed, never to discard the tail.
    *
    * Plan: one groupBy-count on the corpus (map-side partial agg), a
    * scalar min over the group-sized count table, rates computed on
    * that tiny table — the corpus is scanned once and never shuffled.
    *
    * Cross-engine exactness: α=0.5 routes through `sqrt`, which IEEE
    * 754 requires to be correctly rounded — `den * sqrt(nmin/n)` is
    * bit-identical on any engine, so the floor'd integer rate cannot
    * straddle engines. Other α go through `pow`, which carries no such
    * guarantee (fine in one engine, not gate-mirrorable) — which is
    * why the gate pins α=0.5.
    */
  def temperatureRates(df: DataFrame, groupCol: String, den: Int,
                       alpha: Double = 0.5): DataFrame = {
    require(alpha >= 0 && alpha <= 1, s"alpha must be in [0,1]: $alpha")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    val frac = col("__nmin").cast("double") / col("__n").cast("double")
    val scaled =
      if (alpha == 0.5) sqrt(frac) else pow(frac, lit(1.0 - alpha))
    counts
      .crossJoin(broadcast(counts.agg(min(col("__n")).as("__nmin"))))
      .withColumn("__rate",
        least(lit(den).cast("long"),
          floor(lit(den) * scaled).cast("long")))
      .select(col(groupCol), col("__rate"))
  }

  /** K5b — temperature-flattened domain sampling:
    * [[mixtureSampleTable]] fed by [[temperatureRates]]. Same
    * deterministic salted-hash keep/drop as every sampler here — a
    * re-run, a different partitioning, or another engine keeps exactly
    * the same documents.
    */
  def temperatureMixture(df: DataFrame, keyCol: String, groupCol: String,
                         salt: String, den: Int,
                         alpha: Double = 0.5): DataFrame =
    mixtureSampleTable(df, keyCol, groupCol, salt, den,
      temperatureRates(df, groupCol, den, alpha))

  /** K6 — greedy sequence PACKING: contiguous documents (in
    * `orderCols` order within a shard) fill token-budget-ALIGNED bins,
    * `bin_id` = ⌊preceding-cumulative-tokens / budget⌋ — the step that
    * turns a filtered corpus into training sequences. Packing is
    * inherently sequential, so the order is per-SHARD: each shard
    * packs independently in parallel and bins never span shards — the
    * standard distributed compromise (a global order would serialize
    * the corpus through one task).
    *
    * Semantics to know:
    *  - Bins are budget-ALIGNED, not budget-bounded: a document whose
    *    span crosses a boundary belongs wholly to the bin where it
    *    STARTS, so a bin can exceed `budget` by up to one document.
    *    Consumers either split the boundary document downstream (the
    *    usual sequence-packing move) or pre-truncate
    *    ([[graft.functions.TextFunctions.truncateTokens]]) so the
    *    overhang is bounded.
    *  - Same determinism contract as [[capPerGroup]]: `orderCols` must
    *    be unique within each shard, or the cumulative sum over tied
    *    orderings assigns bins arbitrarily per run.
    */
  def packGreedy(df: DataFrame, idCol: String, nTokensCol: String,
                 shardCol: String, orderCols: Seq[String],
                 budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.partitionBy(col(shardCol))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__cum",
        coalesce(sum(col(nTokensCol)).over(w), lit(0L)))
      .select(col(idCol), col(shardCol),
        floor(col("__cum") / budget.toDouble).cast("bigint").as("bin_id"))
  }

  /** K6c — budget-EXACT packing with document splitting: the packing
    * a trainer actually consumes. Every bin holds EXACTLY `budget`
    * tokens (only each shard's last bin may run short), and a
    * document whose token span crosses a bin boundary is SPLIT: its
    * head fills the current bin, the remainder spills into the next,
    * and the middle of a long document fills whole bins on its own.
    * This is [[packGreedy]]'s budget-ALIGNED assignment made exact —
    * the same per-shard cumulative window, but each document emits
    * one PIECE per bin its span [start, start+n) intersects, with
    * 0-based local token offsets, instead of assigning the whole
    * document to its starting bin.
    *
    * Shape at scale: one window (the shuffle [[packGreedy]] already
    * pays) + one per-row `sequence` explode — fan-out ⌈n/budget⌉+1
    * pieces max per document, no joins, no driver state. Zero-token
    * documents have an empty span and are dropped explicitly.
    *
    * Output: (id, shard, bin_id, piece_start, piece_len);
    * Σ piece_len over a (shard, bin) is exactly `budget` for every
    * bin but each shard's last (spec-asserted), and a document's
    * pieces ordered by bin reassemble its full token sequence.
    */
  def packPieces(df: DataFrame, idCol: String, nTokensCol: String,
                 shardCol: String, orderCols: Seq[String],
                 budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.partitionBy(col(shardCol))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val n = col(nTokensCol).cast("bigint")
    df.withColumn("__n", n)
      .filter(col("__n") > 0)
      .withColumn("__start",
        coalesce(sum(col("__n")).over(w), lit(0L)).cast("bigint"))
      // first/last bin the span touches — integer div keeps every
      // boundary exact (no float in sight)
      .withColumn("__b0", expr(s"__start div $budget"))
      .withColumn("__end1", col("__start") + col("__n") - 1)
      .withColumn("__b1", expr(s"__end1 div $budget"))
      .withColumn("bin_id", explode(sequence(col("__b0"), col("__b1"))))
      .select(col(idCol), col(shardCol), col("bin_id"),
        greatest(lit(0L), col("bin_id") * budget - col("__start"))
          .as("piece_start"),
        (least(col("__n"), (col("bin_id") + 1) * budget - col("__start")) -
          greatest(lit(0L), col("bin_id") * budget - col("__start")))
          .as("piece_len"))
  }

  /** K6c materialization — the end-to-end token-stream packer: BPE-ish
    * tokenize once, assign [[packPieces]], slice each piece out of its
    * document's token array, and emit ONE row per (shard, bin):
    * pieces joined in document order with `sep` at the junctions
    * (every bin-internal junction IS a document boundary — a split
    * document's pieces land in different bins by construction, so a
    * separator never lands mid-document). The packed row is a TOKEN
    * stream — tokens joined by single spaces, the normalized form a
    * trainer consumes — not raw text: slicing is defined on the token
    * sequence, so original inter-token whitespace intentionally does
    * not survive.
    *
    * One tokenize scan (persisted across the window and the slice
    * join), one window, one explode, one join back on the id, one
    * (shard, bin) aggregation. `n_tokens` comes back exactly `budget`
    * everywhere but each shard's tail bin.
    */
  def packTokenStream(docs: DataFrame, idCol: String, textCol: String,
                      shardCol: String, budget: Int,
                      sep: String = PackSep): DataFrame = {
    graft.Checkpoints.cached(graft.sources.Tables.fanOut(
        docs.select(col(idCol), col(shardCol),
          graft.functions.TextFunctions.bpeTokens(col(textCol))
            .as("__toks")))
      .withColumn("__nt", size(col("__toks")).cast("bigint"))) { toks =>
      val pieces = packPieces(toks.select(col(idCol), col(shardCol),
          col("__nt")), idCol, "__nt", shardCol, Seq(idCol), budget)
      graft.Checkpoints.truncate(
        pieces.join(toks.select(col(idCol), col("__toks")), Seq(idCol))
          .select(col(shardCol), col("bin_id"), col(idCol),
            col("piece_len"),
            array_join(slice(col("__toks"),
              (col("piece_start") + 1).cast("int"),
              col("piece_len").cast("int")), " ").as("__pt"))
          .groupBy(col(shardCol), col("bin_id"))
          .agg(
            array_sort(collect_list(struct(col(idCol), col("__pt"))))
              .as("__ds"),
            count(lit(1)).as("n_pieces"),
            sum(col("piece_len")).as("n_tokens"))
          .select(col(shardCol), col("bin_id"), col("n_pieces"),
            col("n_tokens"),
            array_join(transform(col("__ds"), d => d.getField("__pt")), sep)
              .as("packed_text")))
    }
  }

  /** T10 — sliding-window token CHUNKING: split each document into
    * fixed-size, overlapping token windows — the context-window prep
    * step for retrieval indexing and long-document training, where
    * [[packTokenStream]] concatenates whole documents, chunking
    * SLICES one document into many model-sized pieces.
    *
    * Chunk starts are the multiples of `stride` from 0 up to the
    * FIRST start whose window reaches the document's end — so every
    * token is covered, consecutive chunks overlap by
    * `chunkSize - stride` tokens, and no fully-redundant tail chunk
    * is emitted (a start is only generated if the previous window did
    * not already reach the end). Only each document's last chunk may
    * run short. All boundary arithmetic is integer (`div`), so any
    * engine recomputes identical chunk grids — the DuckDB gate
    * re-derives tokenization, the start grid, and every slice.
    *
    * Shape at scale: one tokenize projection + one per-row `sequence`
    * explode — fan-out ≈ n_tokens/stride rows per document, NO
    * shuffle, no join, no driver state; the scan stays
    * pushdown/pruning-friendly. Chunk ids are `start div stride`, so
    * (id, chunk_id) is a stable key for downstream embedding or
    * indexing joins.
    *
    * Output: (id, chunk_id, chunk_start, chunk_len, chunk_text) with
    * `chunk_text` the space-joined token slice (the normalized token
    * stream, as in [[packTokenStream]] — slicing is defined on the
    * token sequence, so original inter-token whitespace does not
    * survive). Zero-token documents emit nothing, short documents
    * exactly one chunk.
    */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    require(stride > 0 && stride <= chunkSize,
      s"stride must be in [1, chunkSize], got $stride")
    docs
      .select(col(idCol),
        graft.functions.TextFunctions.bpeTokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")).cast("bigint"))
      .filter(col("__n") > 0)
      // last start = the smallest multiple of stride with
      // start + chunkSize >= n  (integer ceil-div; 0 for short docs)
      .withColumn("__last",
        when(col("__n") <= chunkSize, lit(0L)).otherwise(
          expr(s"((__n - $chunkSize + $stride - 1) div $stride) * $stride")))
      .withColumn("chunk_start",
        explode(sequence(lit(0L), col("__last"), lit(stride.toLong))))
      .withColumn("chunk_len",
        least(col("__n"), col("chunk_start") + chunkSize) -
          col("chunk_start"))
      .select(col(idCol),
        expr(s"chunk_start div $stride").cast("bigint").as("chunk_id"),
        col("chunk_start"), col("chunk_len"),
        array_join(slice(col("__toks"),
          (col("chunk_start") + 1).cast("int"),
          col("chunk_len").cast("int")), " ").as("chunk_text"))
  }

  /** D12+T10 composition — RETRIEVAL-PREP pipeline: cut every
    * duplicated passage out of every document
    * ([[graft.operators.Dedup.duplicateSpans]] →
    * [[graft.operators.Dedup.trimSpans]]), re-score quality on the
    * TRIMMED text (scoring before the cut would let a long duplicated
    * boilerplate run carry a junk document over the bar — and
    * fully-duplicated documents trim to empty and drop at the token
    * floor), and chunk the survivors into overlapping token windows
    * ([[chunkTokens]]) ready for embedding/indexing.
    *
    * The trimmed projection is computed once (checkpointed) and feeds
    * both the score and the chunker; each stage keeps its own scale
    * argument (window table → single count-over-window; quality →
    * per-row expressions; chunking → shuffle-free explode).
    */
  def retrievalPrep(docs: DataFrame, idCol: String, textCol: String,
                    w: Int = 16, minQuality: Double = 0.45,
                    minTokens: Int = 30, chunkSize: Int = 64,
                    stride: Int = 48): DataFrame = {
    val trimmed = graft.Checkpoints.truncate(
      Dedup.trimSpans(docs, idCol, textCol,
          Dedup.duplicateSpans(docs, idCol, textCol, w))
        .withColumnRenamed("trimmed_text", "__text"))
    val survivors = graft.functions.TextFunctions
      .qualityReport(trimmed, idCol, "__text",
        extra = Seq("n_bpe_tokens" ->
          graft.functions.TextFunctions.bpeTokenCount(col("__text"))
            .cast("bigint")))
      .filter(col("quality_score") >= minQuality &&
        col("n_bpe_tokens") >= minTokens)
      .select(col(idCol))
    chunkTokens(trimmed.join(survivors, Seq(idCol)), idCol, "__text",
      chunkSize, stride)
  }

  /** K7 — CURRICULUM buckets: assign each document a difficulty tier
    * by quality score WITHOUT a global window (NTILE/percent_rank pull
    * the whole corpus through one task). Instead: k−1 exact quantile
    * thresholds from one tiny aggregate, then a shuffle-free
    * threshold-comparison scan — bucket = #thresholds strictly below
    * the score. At 100 TB swap the exact percentile for
    * `approx_percentile`; the assignment projection is unchanged.
    * Unlike NTILE, ties land in the same bucket (buckets are
    * value-ranges, not forced-equal-size), which is what a curriculum
    * actually wants.
    */
  def curriculumBuckets(df: DataFrame, idCol: String, scoreCol: String,
                        k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // snapshot the (id, score) input once: the threshold action and
    // the assignment projection would otherwise each re-run the whole
    // upstream scoring pipeline
    val snap = graft.Checkpoints.truncate(df.select(col(idCol), col(scoreCol)))
    val probs = (1 until k).map(_.toDouble / k)
    val rawThs = snap.agg(org.apache.spark.sql.functions.expr(
        s"percentile($scoreCol, array(${probs.mkString(",")}))"))
      .head().getSeq[Double](0)
    // percentile over zero rows is NULL — an empty corpus buckets to
    // an empty result, not an NPE. Thresholds are rounded to 6 dp
    // (the score column's own scale) so a score landing exactly on a
    // quantile boundary buckets the same across engines whose
    // interpolation differs in the last ulp. HALF_UP here = a DECIMAL
    // cast in the oracle (same half-away rounding for the
    // non-negative scores) — NOT fp-multiply ROUND, whose .5 cases
    // can land differently.
    val ths = Option(rawThs).getOrElse(Seq.empty[Double])
      .map(t => BigDecimal(t)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val bucket = ths.foldLeft(lit(0)) { (acc, th) =>
      acc + when(col(scoreCol) > th, 1).otherwise(0)
    }
    snap.select(col(idCol), col(scoreCol),
      bucket.cast("bigint").as("bucket"))
  }

  /** K6b — materialize packed training rows: after [[packGreedy]]
    * assigns `(shard, bin_id)`, each bin becomes ONE row — its
    * documents concatenated in id order with `sep` (the EOS-separator
    * analog a trainer splits on). `array_sort` over
    * `collect_list(struct(id, text))` makes the in-bin order
    * deterministic under any partitioning (structs sort by field
    * order, id first); a bin is budget-sized by construction, so the
    * collected list is bounded — this is never collect-the-corpus.
    * One shuffle on (shard, bin).
    */
  def materializePacked(df: DataFrame, idCol: String, textCol: String,
                        shardCol: String, binCol: String,
                        sep: String = PackSep): DataFrame =
    df.groupBy(col(shardCol), col(binCol))
      .agg(array_sort(
        collect_list(struct(col(idCol), col(textCol)))).as("__ds"))
      .select(col(shardCol), col(binCol),
        size(col("__ds")).cast("bigint").as("n_docs"),
        array_join(transform(col("__ds"), d => d.getField(textCol)), sep)
          .as("packed_text"))

  /** K9 — deterministic epoch ordering: the reproducible per-epoch
    * permutation a trainer streams documents in. Each document's sort
    * key is sha256(id ∥ ":" ∥ epoch) — engine-portable, uniform, and
    * stable across partitionings and reruns, where `rand(seed)` is
    * engine- and partitioning-specific. The rank is per SHARD
    * (row_number over the shard partition): one shuffle, no global
    * single-task window — shards are the unit a trainer actually
    * streams, and the shard assignment itself is already a
    * deterministic hash ([[hashBucket]]). A new epoch value yields an
    * independent permutation of the same corpus.
    */
  def epochOrder(df: DataFrame, idCol: String, shardCol: String,
                 epoch: Int): DataFrame = {
    val key = sha2(concat(col(idCol).cast("string"),
      lit(s":$epoch")), 256)
    val w = Window.partitionBy(col(shardCol))
      .orderBy(key, col(idCol)) // id tiebreak: total order even on
                                // the (practically impossible) hash tie
    df.select(col(idCol), col(shardCol),
      row_number().over(w).cast("bigint").as("epoch_rank"))
  }

  /** K6+K6b+K9 in ONE shuffle — the packed, epoch-ranked training rows
    * (shard, bin_id, n_docs, epoch_rank, packed_text) the corpus gold
    * publishes: [[packGreedy]] by `idCol` order, [[materializePacked]]
    * of the bins, and [[epochOrder]] over `pack_id = shard "/" bin_id`,
    * computed without their five exchanges (that chain is the
    * reference: PackParitySpec).
    *
    * `df` repartitions by shard and sorts by (shard, id) within each
    * partition. One pass then streams each shard's budget-aligned
    * greedy bins — a row's bin is floor(preceding tokens / `budget`),
    * null token counts adding nothing — and emits a bin's row when the
    * next bin starts: `n_docs` counts every member, the text joins the
    * non-null texts in id order. A second sort within the partition
    * orders the bins by (shard, sha2(pack_id ":" epoch), pack_id) and a
    * last pass numbers each shard's rows. Every pass is an iterator:
    * a task holds one bin's text, never a partition's rows.
    */
  def packEpochRanked(df: DataFrame, idCol: String, textCol: String,
                      nTokensCol: String, shardCol: String, budget: Int,
                      epoch: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def schema(fs: (String, DataType)*) =
      org.apache.spark.sql.Encoders.row(StructType(fs.map {
        case (n, t) => StructField(n, t) }))
    def binOf(cum: Long): Long = math.floor(cum / budget.toDouble).toLong
    val bins = df.select(col(shardCol).cast("bigint").as("shard"),
        col(idCol).as("__id"), col(nTokensCol).cast("bigint").as("__n"),
        col(textCol).cast("string").as("__t"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("__id"))
      .mapPartitions { rows =>
        val in = rows.buffered
        var shard: Any = null
        var cum = 0L
        new Iterator[Row] {
          def hasNext: Boolean = in.hasNext
          def next(): Row = {
            if (in.head.get(0) != shard) { shard = in.head.get(0); cum = 0L }
            val bin = binOf(cum)
            val text = new java.lang.StringBuilder
            var n, texts = 0L
            while (in.hasNext && in.head.get(0) == shard &&
                binOf(cum) == bin) {
              val r = in.next()
              n += 1
              if (!r.isNullAt(3)) {
                if (texts > 0) text.append(PackSep)
                text.append(r.getString(3)); texts += 1
              }
              if (!r.isNullAt(2)) cum += r.getLong(2)
            }
            Row(shard, bin, n, text.toString)
          }
        }
      }(schema("shard" -> LongType, "bin_id" -> LongType,
        "n_docs" -> LongType, "packed_text" -> StringType))
    val packId = concat_ws("/", col("shard"), col("bin_id"))
    bins.sortWithinPartitions(col("shard"),
        sha2(concat(packId, lit(s":$epoch")), 256), packId)
      .mapPartitions { rows =>
        var shard: Any = null
        var rank = 0L
        rows.map { r =>
          if (r.get(0) != shard) { shard = r.get(0); rank = 0L }
          rank += 1
          Row(shard, r.get(1), r.get(2), rank, r.get(3))
        }
      }(schema("shard" -> LongType, "bin_id" -> LongType,
        "n_docs" -> LongType, "epoch_rank" -> LongType,
        "packed_text" -> StringType))
  }

  /** Training-ready corpus filter: quality score ≥ `minQuality` and
    * BPE-ish token count within [minTokens, maxTokens] — the composed
    * end-of-pipeline gate a pretraining corpus runs after dedup.
    * Single pass: the token count rides the quality report's scan as
    * an `extra` column — no second scan, no join.
    */
  def trainingFilter(df: DataFrame, idCol: String, textCol: String,
                     minQuality: Double, minTokens: Int,
                     maxTokens: Int): DataFrame =
    graft.functions.TextFunctions.qualityReport(df, idCol, textCol,
      extra = Seq("n_bpe_tokens" ->
        graft.functions.TextFunctions.bpeTokenCount(col(textCol))
          .cast("bigint")))
      .filter(col("quality_score") >= minQuality &&
        col("n_bpe_tokens").between(minTokens, maxTokens))
      .select(col(idCol), col("quality_score"), col("n_bpe_tokens"))

  /** K12 — token-budget-constrained selection: the best documents by
    * score whose running token total fits a GLOBAL budget — "give me
    * the top-quality 50 B tokens", the data-selection step between
    * scoring (T2/T14/T14b) and mixing (K5). Selection rule: order by
    * (score desc, id asc); keep every document whose INCLUSIVE
    * running token sum ≤ `budget` (token counts are non-negative, so
    * the kept set is exactly the maximal affordable prefix).
    *
    * Plan shape at corpus scale — a naive global running sum is a
    * single-partition window (the one shape this repo bans), so the
    * prefix is computed in two phases: (1) one combinable
    * groupBy over score BUCKETS (`floor(score·buckets)` —
    * IEEE multiply-by-positive is monotone, so bucket order respects
    * score order) and a driver prefix over the ≤ `buckets`+1 bucket
    * totals (a bounded scalar collect, the K5b pattern); (2) buckets
    * strictly above the threshold bucket are selected OUTRIGHT by a
    * pushed-down range filter, and ONLY the threshold bucket — a
    * 1/`buckets` slice of the corpus — pays a windowed cumulative
    * sum, partitioned by its (constant) bucket key. Scores are
    * expected in [0, 1] (the T2 quality convention).
    *
    * Output: (id, score, nTokens) of the selected documents only.
    */
  def budgetSelect(df: DataFrame, idCol: String, scoreCol: String,
                   nTokensCol: String, budget: Long,
                   buckets: Int = 1000): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val out = Seq(col(idCol), col(scoreCol), col(nTokensCol))
    val base = df.select(out: _*)
      .withColumn("__bk",
        floor(col(scoreCol) * buckets).cast("bigint"))
    // non-finite scores do NOT floor to a null bucket — Spark casts
    // floor(NaN) to bucket 0 and floor(±Inf) to Long.Min/MaxValue —
    // so they must be counted explicitly or an Infinity row would
    // silently outrank every real document
    val sD = col(scoreCol).cast("double")
    val nonFinite = isnan(sD) || sD === Double.PositiveInfinity ||
      sD === Double.NegativeInfinity
    val totalRows = base.groupBy(col("__bk"))
      .agg(sum(col(nTokensCol).cast("bigint")).as("__bt"),
        count(lit(1)).as("__n"), count(col(nTokensCol)).as("__nt"),
        count(when(nonFinite, lit(1))).as("__nf"))
      .collect()
    // REFUSE null/NaN/Inf scores and null token counts before
    // touching any cell: a null score floors to a null bucket (an
    // opaque driver NullPointerException below), a non-finite one
    // lands in a wrong-but-real bucket (a silently wrong budget),
    // and a null token count undercounts its bucket's total — a
    // budget selection must not guess what a row costs or scores.
    // Row layout: (0) __bk, (1) __bt, (2) __n, (3) __nt, (4) __nf
    totalRows.foreach { r =>
      if (r.isNullAt(0) || r.getLong(4) > 0)
        throw new IllegalArgumentException(
          s"budgetSelect: $scoreCol is null, NaN, or infinite on " +
            s"${if (r.isNullAt(0)) r.getLong(2) else r.getLong(4)} " +
            "row(s) — a scoreless row cannot be ranked against the " +
            "budget; filter or impute upstream")
      if (r.getLong(3) != r.getLong(2))
        throw new IllegalArgumentException(
          s"budgetSelect: $nTokensCol is null on " +
            s"${r.getLong(2) - r.getLong(3)} row(s) in score bucket " +
            s"${r.getLong(0)} — a row without a token count cannot " +
            "be budgeted; filter or impute upstream")
    }
    val totals = totalRows
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(-_._1)
    var cum = 0L
    var boundary: Option[(Long, Long)] = None // (bucket, cum before it)
    totals.foreach { case (bk, bt) =>
      if (boundary.isEmpty) {
        if (cum + bt <= budget) cum += bt
        else boundary = Some((bk, cum))
      }
    }
    boundary match {
      case None => base.select(out: _*) // the whole corpus fits
      case Some((bk, cumBefore)) =>
        val full = base.filter(col("__bk") > bk)
        val w = Window.partitionBy(col("__bk"))
          .orderBy(col(scoreCol).desc, col(idCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val partial = base.filter(col("__bk") === bk)
          .withColumn("__cum", sum(col(nTokensCol).cast("bigint")).over(w))
          .filter(col("__cum") + cumBefore <= budget)
        full.select(out: _*).unionByName(partial.select(out: _*))
    }
  }
}
