package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.plans.MinRollingHash

/** Deduplication operators for training-data pipelines (SURVEY.md
  * §2.6) — exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design (the whole point of these formulations):
  *  - Exact dedup is a hash groupBy — one shuffle on a uniformly
  *    distributed 256-bit key, no skew.
  *  - MinHash+LSH never forms the O(n²) pair space: signatures are one
  *    explode + groupBy, candidate generation is an equi-join on
  *    (band, bucket), and the expensive Jaccard verify runs only on
  *    candidates. This is the standard web-scale near-dup pipeline
  *    (cf. the MinHashLSH design in Spark MLlib and the Jaccard/LSH
  *    literature).
  *  - The inverted-index Jaccard join (`ngramJaccardPairs`) is the
  *    exact verify; at 100 TB you run it per-LSH-bucket, never
  *    globally.
  *  - SimHash reduces each document to one 60-bit word; near-dups are
  *    bucket-joins on bit-blocks (Hamming ≤ k ⇒ some block equal —
  *    the pigeonhole trick from Manku et al., WWW 2007).
  * All formulations are pure `functions._` column expressions —
  * codegen'd, no UDFs.
  */
object Dedup {

  /** Shingles from an ALREADY-MATERIALIZED token-array column. The
    * token array must be a real column, not an inline `split(...)`
    * expression: Catalyst does no common-subexpression elimination
    * inside lambda bodies, so an inline split would re-tokenize the
    * whole text for every `element_at` — measured 8 s vs ~1 s on the
    * sf0.1 corpus.
    */
  def shinglesFromTokens(ws: Column, n: Int = 3): Column =
    graft.plans.TokenizeApi.shingles(ws, n)
  // Scanner kernel ([[graft.plans.Shingles]]): value-identical to the
  // previous `when(size < n, array()).otherwise(transform(sequence,
  // concat_ws(...)))` HOF chain, whose lambdas ran interpreted per
  // element — one fused loop per row instead.

  /** D1 — exact duplicate groups: one row per distinct text with the
    * surviving (minimum) id and copy count.
    */
  def exactTextDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(sha2(col(textCol), 256).as("text_hash"),
        col("keep_id"), col("n_copies"))

  /** Distinct (id, shingle) pairs — the inverted-index base for both
    * MinHash and exact Jaccard.
    */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3): DataFrame =
    shingleRows(graft.sources.Tables.fanOut(
      df.select(col(idCol).as("sid"),
        TextFunctions.tokens(col(textCol)).as("__ws"))), n)

  /** [[shingleIndex]] on the frame's own partitioning: (sid, __ws) in,
    * one (sid, sh) row per distinct shingle out. */
  private def shingleRows(ws: DataFrame, n: Int = 3): DataFrame =
    ws.select(col("sid"),
      explode(array_distinct(shinglesFromTokens(col("__ws"), n))).as("sh"))

  /** D2 step 1 — k-function MinHash signature per id. ONE sha256 per
    * (doc, shingle); the k "hash functions" are k overlapping 8-hex
    * windows of the digest (offsets 1+3i) — each a uniform 32-bit
    * slice, which is all MinHash banding needs. This is 1/k-th the
    * hashing cost of k independent digests, the dominant cost of
    * signature building at corpus scale.
    */
  def signatureFromIndex(sh: DataFrame, k: Int = 16): DataFrame =
    signature(sh, k, Nil)

  /** [[signatureFromIndex]] plus `extra` aggregates over each
    * document's (sid, sh) rows, kept under their names after the `mh`
    * columns.
    */
  private def signature(sh: DataFrame, k: Int,
                        extra: Seq[(String, Column)]): DataFrame = {
    // the last window starts at offset 1+3(k-1) and spans 8 hex chars,
    // so it must satisfy 3(k-1)+8 <= 64; beyond k=19 it would run off
    // the 64-char digest and silently degrade the signature
    require(k >= 1 && k <= 19, s"k must be in [1,19], got $k")
    // r19: the k windows compute as LONGS in one pass over the digest
    // bytes and aggregate through fixed-width `min(long)` buffers —
    // a HashAggregate where `min(substring(hex, ...))` forced a
    // SortAggregate (full sort of the shingle index per signature
    // build, on both sides of the partial/final split). Values are
    // IDENTICAL: fixed-width lowercase hex orders as its numeric
    // value, and format_string("%08x") re-renders the chosen minimum
    // to the exact same 8-char window string (see
    // [[graft.plans.MinhashSlices]]; pinned by MinhashParitySpec).
    val kept = if (extra.isEmpty) Seq(col("sid")) else Seq(col("sid"), col("sh"))
    sh.select(kept :+ graft.plans.MinhashSlicesApi.minhash_longs(col("sh"), k)
          .as("__xs"): _*)
      .groupBy(col("sid"))
      .agg(
        min(element_at(col("__xs"), 1)).as("m0"),
        (1 until k).map(i =>
          min(element_at(col("__xs"), i + 1)).as(s"m$i")) ++
          extra.map { case (n, c) => c.as(n) }: _*)
      .select((col("sid") +:
        (0 until k).map(i =>
          // when() keeps the column NULLABLE like min(substring) was
          // (min over a group is never null here — groups come from
          // existing rows — but the schema must not drift)
          when(col(s"m$i").isNotNull,
            format_string("%08x", col(s"m$i"))).as(s"mh$i"))) ++
        extra.map(e => col(e._1)): _*)
  }

  /** One (sid, band-bucket) row per band of each signature — the LSH
    * key space both the batch and incremental candidate joins use.
    */
  def bandBuckets(sig: DataFrame, k: Int = 16,
                  rowsPerBand: Int = 2): DataFrame =
    sig.select(col("sid"), explode(bandArray(k, rowsPerBand)).as("bk"))

  /** A signature row's band buckets: one (band, bucket) struct a band. */
  private def bandArray(k: Int, rowsPerBand: Int): Column =
    array((0 until k / rowsPerBand).map { b =>
      struct(lit(b).as("band"),
        concat((0 until rowsPerBand).map(r =>
          col(s"mh${b * rowsPerBand + r}")): _*).as("bucket"))
    }: _*)

  /** D2 step 2 — LSH banding: signatures → (band, bucket) keys →
    * equi-self-join → candidate pairs. bandsOf rows per band.
    */
  def lshCandidatePairs(sig: DataFrame, k: Int = 16,
                        rowsPerBand: Int = 2): DataFrame =
    candidatesFromBuckets(bandBuckets(sig, k, rowsPerBand))

  /** The band-bucket self-join of [[lshCandidatePairs]] over an
    * already-built bucket table — callers that can persist the
    * buckets (a tiny bands-per-doc table) pay the signature
    * aggregation ONCE instead of once per join side (the planner
    * does not reuse the aggregation subtree across the self-join's
    * aliases).
    */
  private[graft] def candidatesFromBuckets(buckets: DataFrame): DataFrame =
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.bk") === col("b.bk") && col("a.sid") < col("b.sid"))
      .select(col("a.sid").as("id_a"), col("b.sid").as("id_b"))
      .distinct()

  /** Shared-shingle co-occurrence counts per ordered doc pair — the
    * inverted-index self-join aggregated IN PLACE. Join fan-out is
    * Σ_shingle df·(df−1)/2 rows straight into a partial-aggregated
    * groupBy; materializing candidate pairs first and re-joining the
    * index twice costs ~6× more (pairs × avg-shingles rows).
    */
  def cooccurrence(sh: DataFrame): DataFrame =
    sh.as("x")
      .join(sh.as("y"),
        col("x.sh") === col("y.sh") && col("x.sid") < col("y.sid"))
      .groupBy(col("x.sid").as("id_a"), col("y.sid").as("id_b"))
      .agg(count(lit(1)).as("i"))

  /** Exact Jaccard from co-occurrence counts + set sizes, optionally
    * restricted to `candidates`. With a small candidate set the
    * intersection is counted by expanding ONLY candidate pairs against
    * the index (cand ⋈ sh ⋈ sh — |cand|·avg-shingles rows); without
    * one, the full co-occurrence aggregation is cheaper. Threshold
    * applied by integer cross-multiplication
    * (`den·i ≥ num·(|A|+|B|−i)`) — no float boundary ambiguity.
    * Emits (id_a, id_b, jaccard rounded to 6).
    */
  def jaccardVerify(sh: DataFrame, candidates: Option[DataFrame],
                    thresholdNum: Int, thresholdDen: Int): DataFrame = {
    val sizes = sh.groupBy(col("sid")).agg(count(lit(1)).as("n"))
    val inter = candidates match {
      case Some(cand) =>
        cand.join(sh.as("x"), col("x.sid") === col("id_a"))
          .join(sh.as("y"),
            col("y.sid") === col("id_b") && col("y.sh") === col("x.sh"))
          .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("i"))
      case None => cooccurrence(sh)
    }
    jaccardOf(inter
        .join(sizes.as("sa"), col("sa.sid") === col("id_a"))
        .join(sizes.as("sb"), col("sb.sid") === col("id_b")),
      col("sa.n"), col("sb.n"), thresholdNum, thresholdDen)
  }

  /** The threshold filter and rounded Jaccard of [[jaccardVerify]] over
    * (id_a, id_b, i) rows with set sizes `na` and `nb` — shared by
    * every verify form, so their outputs are bit-identical.
    */
  private def jaccardOf(pairs: DataFrame, na: Column, nb: Column,
                        thresholdNum: Int, thresholdDen: Int): DataFrame =
    pairs
      .filter(col("i") * thresholdDen >= (na + nb - col("i")) * thresholdNum)
      .select(col("id_a"), col("id_b"),
        round(col("i").cast("double") / (na + nb - col("i")), 6)
          .as("jaccard"))

  /** D2 — full MinHash+LSH near-dup pipeline: shingle → minhash →
    * band-bucket join → Jaccard-verified pairs at ≥ num/den.
    *
    * `maxDocFreq` is the BOILERPLATE guard, and on a real crawl corpus
    * it is not optional: a shingle shared by (nearly) every document —
    * site chrome, shared footers, license blurbs — wins some minhash
    * slice as the global minimum, which puts the ENTIRE corpus into
    * one band bucket: candidate pairs explode quadratically and the
    * verify stage eats the cost (measured on the composed-pipeline
    * gate's wrapped corpus: 1.4k → 539k candidates from a 6-word
    * shared suffix). Capping shingle document-frequency BEFORE the
    * signature drops exactly those shingles; they carry no
    * discriminative signal, so the Jaccard semantics shift to
    * "similarity over non-boilerplate content" — the measure a dedup
    * pass actually wants. Signature and verify see the SAME capped
    * index, so the reported Jaccard stays consistent with the
    * candidate generation.
    */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   thresholdNum: Int = 1, thresholdDen: Int = 2,
                   maxDocFreq: Option[Int] = None): DataFrame = {
    // The shingle index feeds the signature build AND the verify join
    // sides — cache it once instead of re-deriving it four times.
    // (Cheap: |docs|·avg-shingles rows of (long, short string).)
    val all = shingleIndex(df, idCol, textCol)
    graft.Checkpoints.cached(maxDocFreq.fold(all)(capDocFreq(all, _))) { sh =>
      // the band-bucket table (bands-per-doc rows — tiny next to the
      // index) is cached too, so the signature aggregation runs once,
      // not once per side of the candidate self-join
      graft.Checkpoints.cached(bandBuckets(signatureFromIndex(sh))) { buckets =>
        graft.Checkpoints.truncate(jaccardVerify(sh,
          Some(candidatesFromBuckets(buckets)), thresholdNum, thresholdDen))
      }
    }
  }

  /** Drop shingles whose document frequency exceeds `maxDocFreq`.
    * Shape (r18): a map-side-combinable df aggregate filtered to the
    * OVER-CAP shingles (the boilerplate set — a sliver of the
    * vocabulary by construction) and a left-anti join back. The
    * previous `count over Window.partitionBy(sh)` shuffled AND
    * per-partition-sorted the whole index; here the index itself is
    * never sorted, the aggregate ships per-partition distinct
    * shingles, and AQE broadcasts the (tiny) blocklist so the big
    * side is not shuffled at all — with a graceful fallback to a
    * plain shuffle anti-join if an adversarial corpus makes the
    * blocklist large. Same rows survive: df is counted over the same
    * index and the filter keeps df <= maxDocFreq exactly.
    */
  def capDocFreq(sh: DataFrame, maxDocFreq: Int): DataFrame =
    sh.join(
      sh.groupBy(col("sh")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxDocFreq)
        .select(col("sh")),
      Seq("sh"), "left_anti")
      // the join key moves to the front — restore the caller's column
      // order (same columns, same rows either way)
      .select(sh.columns.map(col): _*)

  /** D4 — exact n-gram Jaccard over all pairs sharing at least one
    * shingle, straight from the co-occurrence aggregation.
    *
    * `maxDocFreq` bounds the join at scale: a shingle shared by df
    * documents contributes df·(df−1)/2 join rows, so one stop-phrase
    * shingle at 100 TB is a join explosion on a single skewed key.
    * Capping df drops exactly those shingles — they carry almost no
    * Jaccard evidence (they're in everything) — trading a sliver of
    * recall for a Σ df² bound of corpus · maxDocFreq. The cap applies
    * to the whole index (intersections AND set sizes), the standard
    * df-capping semantics, so results stay internally consistent.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        thresholdNum: Int = 3,
                        thresholdDen: Int = 10,
                        maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val sh = shingleIndex(df, idCol, textCol)
    val index =
      if (maxDocFreq == Int.MaxValue) sh else capDocFreq(sh, maxDocFreq)
    // the verify join reads the index three times (x side, y side,
    // sizes) — one tokenize+shingle pass instead of three
    graft.Checkpoints.cached(index) { capped =>
      graft.Checkpoints.truncate(
        jaccardVerify(capped, None, thresholdNum, thresholdDen))
    }
  }

  /** D13 — shingle CONTAINMENT pairs: `|A∩B| / min(|A|, |B|)` over
    * distinct word n-grams — the asymmetric complement of D4's
    * Jaccard (Broder 1997 distinguishes resemblance from
    * containment). A short document quoted wholesale inside a long
    * one scores near-zero Jaccard (the union is the long doc) but
    * containment ≈ 1; this is the detector for quote/excerpt/
    * boilerplate-inclusion relations that whole-doc near-dup passes
    * miss by construction.
    *
    * Same machinery and scale bounds as D4: the [[cooccurrence]]
    * inverted-index self-join with [[capDocFreq]] bounding the join
    * fan-out at Σ df² ≤ corpus·maxDocFreq; the threshold is applied
    * by integer cross-multiplication (`i·den ≥ num·min(|A|,|B|)`) —
    * no float boundary ambiguity. Emits ordered pairs with both set
    * sizes, the shared count, and containment rounded to 6.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       thresholdNum: Int = 3, thresholdDen: Int = 10,
                       maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val sh = shingleIndex(df, idCol, textCol)
    val index =
      if (maxDocFreq == Int.MaxValue) sh else capDocFreq(sh, maxDocFreq)
    // read three times (pair self-join ×2 + sizes)
    graft.Checkpoints.cached(index) { capped =>
      val sizes = capped.groupBy(col("sid")).agg(count(lit(1)).as("n"))
      graft.Checkpoints.truncate(cooccurrence(capped)
        .join(sizes.as("sa"), col("sa.sid") === col("id_a"))
        .join(sizes.as("sb"), col("sb.sid") === col("id_b"))
        .filter(col("i") * thresholdDen >=
          least(col("sa.n"), col("sb.n")) * thresholdNum)
        .select(col("id_a"), col("id_b"),
          col("sa.n").as("n_a"), col("sb.n").as("n_b"),
          col("i").as("n_shared"),
          round(col("i").cast("double") /
            least(col("sa.n"), col("sb.n")).cast("double"), 6)
            .as("containment")))
    }
  }

  /** D3 — SimHash per document from sha256-derived token hashes, so
    * ANY engine can recompute it bit-for-bit: token hash = hex nibbles
    * of sha256(token); bit b lives at nibble b/4, position b%4;
    * per-bit majority vote over the document's tokens (with term
    * frequency). 60 bits so the word always fits signed 64-bit
    * arithmetic on engines without unsigned integers.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              nBits: Int = 60): DataFrame = {
    val tok = graft.sources.Tables
      .fanOut(df.select(col(idCol).as("sid"), col(textCol).as("__t")))
      .select(col("sid"), explode(TextFunctions.tokens(col("__t"))).as("t"))
      .withColumn("dg", sha2(col("t"), 256))
    val bitSums = (0 until nBits).map { b =>
      val nib = conv(substring(col("dg"), b / 4 + 1, 1), 16, 10).cast("int")
      sum(when(shiftright(nib, b % 4).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$b")
    }
    val agg = tok.groupBy(col("sid")).agg(bitSums.head, bitSums.tail: _*)
    val word = (0 until nBits).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    agg.select(col("sid"), word.cast("bigint").as("simhash"))
  }

  /** D3 — SimHash near-dup candidate pairs: Hamming distance ≤
    * maxHamming found by block-pigeonhole (split the [[simhash]] word
    * into maxHamming+1 equal blocks; equal somewhere ⇒ candidate),
    * then exact bit_count verify. No O(n²) anywhere, and every pair is
    * recomputable by any engine.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, nBits: Int = 60): DataFrame = {
    val sh = simhash(df, idCol, textCol, nBits)
    val nBlocks = maxHamming + 1
    require(nBits % nBlocks == 0, s"nBits=$nBits not divisible by $nBlocks")
    val width = nBits / nBlocks
    val blocks = (0 until nBlocks).map { b =>
      struct(lit(b).as("blk"),
        shiftright(col("simhash"), b * width)
          .bitwiseAND((1L << width) - 1).as("key"))
    }
    // the simhash aggregation (60 per-bit sums over every token) would
    // otherwise run once PER SIDE of the block self-join (the planner
    // does not reuse the subtree across aliases — the minhashDedup
    // finding); cache the tiny keyed table
    graft.Checkpoints.cached(sh.select(col("sid"), col("simhash"),
      explode(array(blocks: _*)).as("bk"))) { keyed =>
      graft.Checkpoints.truncate(keyed.as("a")
        .join(keyed.as("b"),
          col("a.bk") === col("b.bk") && col("a.sid") < col("b.sid"))
        .select(col("a.sid").as("id_a"), col("b.sid").as("id_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
            .cast("bigint").as("hamming"))
        .distinct()
        .filter(col("hamming") <= maxHamming))
    }
  }

  /** D8 — INCREMENTAL MinHash dedup: check only a NEW batch of
    * documents against the corpus (and against itself), never
    * re-pairing existing×existing — the production shape of corpus
    * dedup, where each day's crawl lands against an index that already
    * exists. Candidate generation joins the new docs' band-buckets
    * against everyone's; the verify runs on those candidates only. In
    * a deployed pipeline the full-corpus signature/band index is the
    * PERSISTED table this recomputes (store `signatureFromIndex`'s
    * output partitioned by band and this operator becomes
    * new-batch-sized, independent of corpus size).
    *
    * Pairs are emitted least-id-first so a pair of two new documents
    * appears once.
    */
  def minhashDedupIncremental(df: DataFrame, idCol: String,
                              textCol: String, isNew: Column,
                              thresholdNum: Int = 1,
                              thresholdDen: Int = 2): DataFrame = {
    graft.Checkpoints.cached(shingleIndex(df, idCol, textCol)) { sh =>
      // the band table is released before the verify runs
      val cand = graft.Checkpoints.cached(
        bandBuckets(signatureFromIndex(sh))) { buckets =>
        val newIds = df.filter(isNew).select(col(idCol).as("nid"))
        val newBuckets = buckets.join(broadcast(newIds),
          col("sid") === col("nid")).select(col("sid"), col("bk"))
        graft.Checkpoints.truncate(newBuckets.as("a")
          .join(buckets.as("b"),
            col("a.bk") === col("b.bk") && col("a.sid") =!= col("b.sid"))
          .select(least(col("a.sid"), col("b.sid")).as("id_a"),
            greatest(col("a.sid"), col("b.sid")).as("id_b"))
          .distinct())
      }
      graft.Checkpoints.truncate(
        jaccardVerify(sh, Some(cand), thresholdNum, thresholdDen))
    }
  }

  /** Content-derived batch id: a 16-hex digest of the batch's DISTINCT
    * id set — order-independent exact-decimal sums of two sha256
    * slices per id, plus the count, re-hashed. The same id set always
    * produces the same batch id under any partitioning; two different
    * sets collide with negligible (~2⁻¹¹²) probability. One O(batch)
    * aggregate to compute, one O(1) directory probe to compare — the
    * whole cost of the replay guard.
    */
  def batchId(df: DataFrame, idCol: String): String =
    batchIdAndRows(df, idCol)._1

  /** [[batchId]] and `df`'s row count from the same aggregate — the
    * count sizes the batch for [[withBatchSketch]] at no extra job.
    */
  private[graft] def batchIdAndRows(df: DataFrame,
                                    idCol: String): (String, Long) = {
    val r = df.groupBy(sha2(col(idCol).cast("string"), 256).as("d"))
      .agg(count(lit(1)).as("c"))
      .agg(
        sum(conv(substring(col("d"), 1, 14), 16, 10)
          .cast("decimal(38,0)")).as("s1"),
        sum(conv(substring(col("d"), 33, 14), 16, 10)
          .cast("decimal(38,0)")).as("s2"),
        count(lit(1)).as("n"), sum(col("c")).as("rows"))
      .head()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val id = md.digest(s"${r.getDecimal(0)}:${r.getDecimal(1)}:${r.getLong(2)}"
        .getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    (id, if (r.isNullAt(3)) 0L else r.getLong(3))
  }

  /** The committed state of a [[writeDedupIndex]] index: the signature
    * scheme every append and every query must run with — `k` minhash
    * slices, `rowsPerBand` rows per LSH band and the boilerplate df-cap
    * `maxDocFreq` (-1: no cap); a mismatch between writer and reader
    * silently shifts candidate generation and Jaccard counts, so it is
    * refused — and the shared batch lists ([[IndexProtocol.Listed]]).
    */
  private[graft] final case class DedupMeta(k: Int, rowsPerBand: Int,
                                            maxDocFreq: Int,
                                            batches: Seq[String] = Nil,
                                            retired: Seq[String] = Nil,
                                            gen: Long = 0L)
      extends IndexProtocol.Listed

  /** The dedup index on the shared batch-list protocol: head `k,
    * rowsPerBand, maxDocFreq`. A committed batch `batches/<bid>/`
    * holds `bands/` and `shingles/`, plus the side tables its writer
    * staged (`hashes/`, `accepted/`) and, once its landing finished,
    * the `_landed` marker.
    */
  private object Layout extends IndexProtocol.BatchList[DedupMeta](
      "dedup index", "writeDedupIndex",
      "double its (sid, sh) rows and shift every Jaccard verify count") {
    protected def head(m: DedupMeta) = Seq("k" -> m.k,
      "rowsPerBand" -> m.rowsPerBand, "maxDocFreq" -> m.maxDocFreq)
    protected def fromKv(kv: Map[String, String], batches: Seq[String],
                         retired: Seq[String], gen: Long) =
      DedupMeta(kv("k").toInt, kv("rowsPerBand").toInt,
        kv("maxDocFreq").toInt, batches, retired, gen)
    protected def withLists(m: DedupMeta, batches: Seq[String],
                            retired: Seq[String], gen: Long) =
      m.copy(batches = batches, retired = retired, gen = gen)
  }

  private def fsFor(spark: org.apache.spark.sql.SparkSession,
                    path: String): org.apache.hadoop.fs.FileSystem =
    graft.sources.Tables.fsFor(spark, path)

  /** The committed meta of the index at `path` (one `_meta` read). */
  private[graft] def readMeta(fs: org.apache.hadoop.fs.FileSystem,
                              path: String): DedupMeta =
    Layout.read(fs, path)._1

  /** `table` of each of `batches`: a committed batch always carries
    * `bands/` and `shingles/`, so the committed list names them without
    * a listing.
    */
  private def tablePaths(path: String, batches: Seq[String],
                         table: String): Seq[String] =
    batches.map(b => s"$path/batches/$b/$table")

  /** The `hashes/` side tables of `batches` that exist — the one
    * optional table (a bare [[writeDedupIndex]] batch has none), so
    * the one probed per batch.
    */
  private def hashPaths(fs: org.apache.hadoop.fs.FileSystem, path: String,
                        batches: Seq[String]): Seq[String] =
    tablePaths(path, batches, "hashes")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))

  /** The exact-dup evidence (`norm_hash`) of every committed batch that
    * carries a `hashes/` side table, as one scan relation — `None` when
    * none does. See [[readHashTables]] for the layouts read.
    */
  private[graft] def readBatchHashes(spark: org.apache.spark.sql.SparkSession,
                                     path: String): Option[DataFrame] = {
    val fs = fsFor(spark, path)
    val paths = hashPaths(fs, path, readMeta(fs, path).batches)
    if (paths.isEmpty) None else Some(readHashTables(spark, paths))
  }

  /** `hashes/` side tables read with their one-column schema fixed:
    * no footer read to infer it, and batch directories published in
    * the earlier prefix-partitioned layout (extra `hp` column under
    * `hp_p=XX/` directories) read as the same `norm_hash` column.
    */
  private def readHashTables(spark: org.apache.spark.sql.SparkSession,
                             paths: Seq[String]): DataFrame =
    spark.read.schema("norm_hash STRING")
      .option("recursiveFileLookup", "true").parquet(paths: _*)

  /** One scan relation over any number of batch directories. Every
    * batch table is self-contained (no partition-encoded columns — see
    * the band_p note in [[writeDedupIndex]]), so a recursive file
    * lookup unions them without partition discovery, which would
    * otherwise reject the heterogeneous `batches/<id>/...` roots.
    */
  private def readBatchTables(spark: org.apache.spark.sql.SparkSession,
                              paths: Seq[String]): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(paths: _*)

  /** D8 (production shape) — persist the corpus's MinHash/LSH dedup
    * index so daily batches never recompute it. Layout: ONE directory
    * per ingested batch, `batches/<batch-id>/` holding `bands/`
    * (sid, band, bucket — partitioned by band so each band's buckets
    * cluster into their own files) and `shingles/` (sid, sh — what the
    * exact-Jaccard verify needs for intersection counts and set
    * sizes), with `<batch-id>` derived from the batch's id set
    * ([[batchId]]) — the bootstrap batch's too. The index is
    * append-only state, the shape the reference keeps in its
    * warehouse-native append loads (bigquery.py:141): `mode = "append"`
    * adds one batch directory and never touches existing files.
    *
    * Commit protocol: the shared batch list ([[IndexProtocol.BatchList]]).
    * Both tables (plus any `sideTables` commit records) are staged
    * under `_staging/<batch-id>/` and moved into `batches/`, and the
    * batch becomes visible only when the `_meta` compare-and-set swap
    * lists it — a crash anywhere before the swap leaves the served
    * index untouched, and the retry re-stages over the residue. The
    * swap is the only commit, so the index needs no atomic directory
    * rename (an object store's rename is a copy). `overwrite` wipes the
    * root and commits the batch as the gen-0 meta.
    *
    * Replay guard, O(1): a batch id on the meta's committed or retired
    * list is refused LOUDLY ([[graft.ReplayRefused]]) — a silently
    * re-appended batch would double (sid, sh) rows and shift every
    * downstream Jaccard verify count. The guard's cost never grows
    * with the corpus (the r6 design scanned the stored sid column per
    * append — O(corpus) every day). `auditOverlap = true` additionally
    * runs that full column-pruned sid-overlap scan over the committed
    * batches, refusing PARTIAL overlaps (a malformed batch that reuses
    * some already-indexed ids without being an exact replay) — the
    * maintenance-audit form, not the daily path. Repair tooling:
    * [[dropBatchFromIndex]] delists a batch (the executable form of
    * "drop the batch's band/shingle rows"). As defense in depth
    * [[minhashDedupAgainstIndex]] also dedupes the candidate-restricted
    * stored shingles it reads.
    *
    * `maxDocFreq` is the boilerplate df-cap ([[minhashDedup]]'s
    * rationale), applied to this batch's shingles BEFORE the signature
    * and persisted to `_meta` at build time; appends and queries
    * inherit it from the meta so the stored index and every batch side
    * are capped consistently (an inconsistent cap would make Jaccard
    * counts disagree with candidate generation). Per-ingest-unit
    * semantics: df is counted within each written batch — boilerplate
    * repeats within any real crawl batch, which is exactly where the
    * band-bucket flood comes from.
    *
    * `knownId` is `df`'s [[batchId]] when the caller has already
    * computed it (saves the aggregate). Returns the published batch id.
    *
    * The batch's shingles and band buckets are sketched in the
    * exchange form ([[withBatchSketch]]) and written by
    * [[publishBatch]]. A caller that has already matched the batch
    * against the index (the corpus increment) publishes that same
    * sketch through [[publishBatch]] instead of re-deriving it; both
    * write the same rows (spec-asserted: AgainstIndexParitySpec).
    */
  def writeDedupIndex(df: DataFrame, idCol: String, textCol: String,
                      path: String, k: Int = 16,
                      rowsPerBand: Int = 2,
                      mode: String = "overwrite",
                      maxDocFreq: Option[Int] = None,
                      auditOverlap: Boolean = false,
                      sideTables: Seq[(String, DataFrame)] = Nil,
                      knownId: Option[String] = None): String = {
    require(mode == "overwrite" || mode == "append",
      s"mode must be overwrite|append, got $mode")
    val cap =
      if (mode == "overwrite") maxDocFreq.getOrElse(-1)
      else indexCap(fsFor(df.sparkSession, path), path, k, rowsPerBand,
        maxDocFreq, "append")
    withBatchSketch(df, idCol, textCol, k, rowsPerBand, cap,
        local = false) { sk =>
      publishBatch(sk, df, idCol, path, mode, auditOverlap, sideTables,
        knownId)
    }
  }

  /** The df-cap a batch must be sketched with to join or extend the
    * index at `path`: the one its `_meta` records (a k/band/cap
    * mismatch is refused).
    */
  private def indexCap(fs: org.apache.hadoop.fs.FileSystem, path: String,
                       k: Int, rowsPerBand: Int,
                       maxDocFreq: Option[Int], what: String): Int = {
    val m = readMeta(fs, path)
    require(m.k == k && m.rowsPerBand == rowsPerBand,
      s"index at $path was built with k=${m.k}/rowsPerBand=" +
        s"${m.rowsPerBand}, $what called with $k/$rowsPerBand")
    maxDocFreq.foreach(c => require(c == m.maxDocFreq,
      s"index at $path was built with maxDocFreq=${m.maxDocFreq}, " +
        s"$what called with $c"))
    m.maxDocFreq
  }

  /** [[writeDedupIndex]] from an already-built sketch of `df`: the
    * staged write of the sketch's bands and shingles plus `sideTables`,
    * committed as the bootstrap (`overwrite`) or appended behind the
    * replay guard (`append`). Returns the batch id.
    */
  private[graft] def publishBatch(sk: BatchSketch, df: DataFrame,
                                  idCol: String, path: String,
                                  mode: String,
                                  auditOverlap: Boolean = false,
                                  sideTables: Seq[(String, DataFrame)] = Nil,
                                  knownId: Option[String] = None): String = {
    // all probes through the Hadoop FS API, NOT java.io.File: the
    // production index lives on hdfs:// paths where File.exists is
    // always false
    val spark = df.sparkSession
    val fs = fsFor(spark, path)
    val bid = knownId.getOrElse(batchId(df, idCol))
    val scheme = DedupMeta(sk.k, sk.rowsPerBand, sk.cap)
    def stage(staging: org.apache.hadoop.fs.Path): Unit = {
      // band rides BOTH as a data column and as the partition directory
      // (band_p): the directory clusters each band's buckets into their
      // own files, while the data column keeps every batch directory a
      // uniform self-contained table — which is what lets the reader
      // union any number of batch dirs in ONE scan relation
      // (recursiveFileLookup) instead of per-batch plans or a
      // partition-discovery walk over heterogeneous roots
      sk.bands.withColumn("band_p", col("band"))
        .write.mode("overwrite").partitionBy("band_p")
        .parquet(s"$staging/bands")
      sk.sh.write.mode("overwrite").parquet(s"$staging/shingles")
      // side tables (commit records, exact-dup evidence) ride the same
      // publish, each written with its own partitioning — the caller
      // coalesces a batch-sized record, corpus-sized evidence keeps its
      // parallelism
      sideTables.foreach { case (name, t) =>
        t.write.mode("overwrite").parquet(s"$staging/$name")
      }
    }
    if (mode == "overwrite") {
      Layout.wipe(fs, path,
        Seq("_meta", "_meta_history", "_pending_delete", "_staging",
          "batches"))
      Layout.bootstrap(fs, path, bid) { staging => stage(staging); scheme }
      bid
    } else Layout.append(fs, path) { m =>
      require(m.copy(batches = Nil, retired = Nil, gen = 0L) == scheme,
        s"index at $path was built with $m, the batch is sketched with " +
          s"$scheme")
      if (auditOverlap && m.batches.nonEmpty) {
        val stored = readBatchTables(spark,
          tablePaths(path, m.batches, "bands")).select(col("sid"))
        val batchIds = df.select(col(idCol).as("sid")).distinct()
        val overlap = stored.join(broadcast(batchIds), Seq("sid"),
          "left_semi").distinct().count()
        if (overlap > 0L) throw new graft.ReplayRefused(
          s"writeDedupIndex append refused: $overlap batch id(s) are " +
            s"already in the index at $path — a duplicated/retried " +
            "append would corrupt Jaccard verify counts")
      }
      bid
    } { (m, staging) => stage(staging); m }
  }

  /** One batch's side of the incremental dedup index, derived once and
    * read by the candidate probe, the Jaccard verify and the publish:
    * the batch's df-capped shingles `sh` (sid, sh) and its band buckets
    * `bands` (sid, band, bucket) derived from them, under the index's
    * signature scheme (`k`, `rowsPerBand`, `cap` — the `_meta` values).
    *
    * A `local` sketch sits on ONE partition (see [[LocalBatchRows]]):
    * its df-cap and signature aggregate run without an exchange, both
    * frames read one persisted row a document (its shingles and its
    * band buckets), and [[LocalSketch]] holds what its one job brought
    * to the driver. Otherwise it is the exchange form
    * ([[shingleIndex]]'s fan-out, [[capDocFreq]]) with the shingles
    * cached, and a reader that scans the bands more than once caches
    * them.
    */
  private[graft] final case class BatchSketch(sh: DataFrame,
                                              bands: DataFrame, k: Int,
                                              rowsPerBand: Int, cap: Int,
                                              local: Option[LocalSketch])

  /** What a batch-local sketch's one job measured and brought to the
    * driver: `shRows`, the batch's shingle rows (the verify budget's
    * batch term); `buckets`, the batch ids under each (band, bucket)
    * key; `carried`, the requested columns of every batch row.
    */
  private[graft] final case class LocalSketch(
      shRows: Long, buckets: Map[(Int, String), Array[Long]],
      carried: Array[org.apache.spark.sql.Row])

  /** The largest batch, in rows, that is sketched on one partition and
    * may be verified in one task. It bounds the serial work, not the
    * memory: the one-partition sketch's window and aggregate spill like
    * any Spark operator, and the verify task's resident maps are gated
    * by [[LocalVerifyBytes]] on measured row counts. What it does bound
    * is the per-document state — the batch's band buckets (k/rowsPerBand
    * entries a document, held on the driver and broadcast) and one
    * document's within-batch neighbour set (≤ this many ids). Larger
    * batches run the exchange form, which spreads over the cluster.
    */
  private[graft] val LocalBatchRows: Long = 4096L

  /** The batch-local verify task's memory budget: half of a 4-core
    * local executor's ~250 MB unified-memory share per task at a 2 GB
    * heap. The task holds every batch shingle and every stored shingle
    * of the batch's candidates in Java hash maps, plus the stored
    * candidate pairs in a hash set; [[verifyTaskBytes]] prices them
    * from measured counts: the sketch's shingle rows and the stored
    * band probe's distinct pairs, both counted before the task runs,
    * and the stored shingle rows the task has received so far — a
    * running count inside the task, which stops reading and decides
    * nothing once it is over. Over budget — long documents, or a
    * crowded bucket pulling many stored copies of a template — the
    * exchange verify runs instead.
    */
  private[graft] val LocalVerifyBytes: Long = 128L << 20

  /** Resident bytes of the one-task verify: ~150 B a batch shingle
    * (string, map node, table slot), ~200 B a stored shingle (the same
    * plus its dedup-set node) and ~100 B a stored candidate pair
    * (boxed tuple, set node). Within-batch pairs are never held: the
    * task forms them one document at a time.
    */
  private def verifyTaskBytes(batchShingles: Long, storedShingles: Long,
                              storedPairs: Long): Long =
    150L * batchShingles + 200L * storedShingles + 100L * storedPairs

  /** Build `batch`'s [[BatchSketch]], run `body` on it, and release
    * it on every exit (one scope, so an increment's match and publish
    * read the same sketch). A `local` sketch is built, persisted and
    * measured by ONE job, which also collects the `carry` columns of
    * every batch row to the driver.
    */
  private[graft] def withBatchSketch[T](batch: DataFrame, idCol: String,
                                        textCol: String, k: Int,
                                        rowsPerBand: Int, cap: Int,
                                        local: Boolean,
                                        carry: Seq[String] = Nil)
                                       (body: BatchSketch => T): T =
    if (local) {
      // one partition, no fan-out; the df-cap is a window over that
      // partition (no exchange), keeping exactly capDocFreq's rows
      val one = shingleRows(batch.coalesce(1).select(
        col(idCol).as("sid"), TextFunctions.tokens(col(textCol)).as("__ws")))
      val sh =
        if (cap < 0) one
        else one.withColumn("__df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
          .filter(col("__df") <= cap).drop("__df")
      // one row a document — its shingles and its band buckets — from
      // the one signature aggregate, so no reader derives the bands
      // again (the publish writes these)
      val perDoc = signature(sh, k, Seq("shs" -> collect_list(col("sh"))))
        .select(col("sid"), col("shs"), bandArray(k, rowsPerBand).as("bks"))
      graft.Checkpoints.cachedRows(perDoc) { docs =>
        val summary = docs.select(lit(true).as("doc"), col("sid"),
          size(col("shs")).cast("long").as("n"), col("bks"))
        val rows =
          if (carry.isEmpty) summary.collect()
          else {
            val carried = struct(carry.map(col): _*)
            summary.select(col("*"), lit(null).cast(
                batch.select(carried).schema.head.dataType).as("c"))
              .union(batch.select(lit(false), lit(null).cast("long"),
                lit(null).cast("long"),
                lit(null).cast(summary.schema("bks").dataType), carried))
              .collect()
          }
        val (docRows, carriedRows) = rows.partition(_.getBoolean(0))
        val buckets = scala.collection.mutable.HashMap
          .empty[(Int, String), scala.collection.mutable.ArrayBuffer[Long]]
        // a null id pairs with nothing, as in the exchange form's joins
        docRows.filterNot(_.isNullAt(1)).foreach { r =>
          r.getSeq[org.apache.spark.sql.Row](3).foreach { b =>
            buckets.getOrElseUpdate((b.getInt(0), b.getString(1)),
              scala.collection.mutable.ArrayBuffer.empty[Long]) += r.getLong(1)
          }
        }
        body(BatchSketch(docs.select(col("sid"), explode(col("shs")).as("sh")),
          docs.select(col("sid"), explode(col("bks")).as("bk"))
            .select(col("sid"), col("bk.band").as("band"),
              col("bk.bucket").as("bucket")),
          k, rowsPerBand, cap,
          Some(LocalSketch(docRows.map(_.getLong(2)).sum,
            buckets.map { case (key, ids) => key -> ids.toArray }.toMap,
            carriedRows.map(_.getStruct(4))))))
      }
    } else {
      val all = shingleIndex(batch, idCol, textCol)
      graft.Checkpoints.cached(if (cap < 0) all else capDocFreq(all, cap)) { s =>
        body(BatchSketch(s, bandBuckets(signatureFromIndex(s, k), k,
            rowsPerBand).select(col("sid"), col("bk.band").as("band"),
            col("bk.bucket").as("bucket")), k, rowsPerBand, cap, None))
      }
    }

  /** Remove one committed batch from a [[writeDedupIndex]] index — the
    * executable repair for an indexed-but-never-landed batch (see
    * [[graft.Pipeline.corpusIncrement]]'s commit protocol, which
    * normally recovers WITHOUT this: the helper exists for operator
    * intervention, e.g. re-ingesting a batch that was published with
    * bad data, or dropping a batch whose payload the audit reports
    * damaged). The batch leaves the committed list in one `_meta` swap
    * ([[IndexProtocol.BatchList.delist]]) and is not retired, so the
    * same content may be appended again; its directory is deleted
    * after the swap, and a crash in between leaves an unlisted
    * directory no probe reads. Returns true if the batch was committed.
    */
  def dropBatchFromIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, batchId: String): Boolean = {
    val fs = fsFor(spark, path)
    val (meta, raw) = Layout.read(fs, path)
    meta.batches.contains(batchId) && {
      Layout.delist(fs, path,
        meta.copy(batches = meta.batches.filterNot(_ == batchId)), raw,
        Seq(batchId), 0L)
      true
    }
  }

  /** Refuse a maintenance pass over `meta`'s committed batches while
    * one of them is damaged or mid-landing ([[payloadStatus]]): a
    * mid-landing batch's `accepted/` record is the recovery state
    * [[graft.Pipeline.corpusIncrement]] still needs (retiring the batch
    * would also make its resume refuse as landed), and merging or
    * rewriting around a half payload would silently shrink candidate
    * generation and destroy the evidence, while before the pass the
    * incident is recoverable (restore the directory, or
    * [[dropBatchFromIndex]] + re-ingest).
    */
  private def refuseUnsettled(fs: org.apache.hadoop.fs.FileSystem,
                              path: String, meta: DedupMeta,
                              what: String): Unit = {
    val status = meta.batches.flatMap(b => payloadStatus(fs, path, b)
      .map(b -> _))
    def named(s: String) = status.collect { case (b, `s`) => b }
    require(named("mid_landing").isEmpty,
      s"refusing to $what $path: ${named("mid_landing").length} " +
        "batch(es) are mid-landing (commit record without _landed) — " +
        s"resume or drop them first: ${named("mid_landing").mkString(", ")}")
    if (named("partial_payload").nonEmpty) throw new graft.IndexUnhealthy(
      s"refusing to $what $path: batch(es) " +
        s"${named("partial_payload").mkString(", ")} have a partial " +
        "payload (bands or shingles missing) — merging around it would " +
        "silently shrink candidate generation and retire the evidence; " +
        "restore the directory or dropBatchFromIndex + re-ingest " +
        "(IndexAudit.audit for the full report)")
  }

  /** What the shared audit cannot see in a committed dedup batch whose
    * directory exists: `mid_landing` — a commit record (`accepted/`)
    * without its `_landed` marker, a crashed
    * [[graft.Pipeline.corpusIncrement]] that re-running the same batch
    * resumes — or `partial_payload`, bands or shingles missing, which
    * the staged publish cannot produce (filesystem damage). None for a
    * whole batch.
    */
  private[graft] def payloadStatus(fs: org.apache.hadoop.fs.FileSystem,
                                   path: String,
                                   bid: String): Option[String] = {
    def has(t: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$path/batches/$bid/$t"))
    if (has("accepted") && !has("_landed")) Some("mid_landing")
    else if (!has("bands") || !has("shingles")) Some("partial_payload")
    else None
  }

  /** [[payloadStatus]] for the index at `path` when it is a dedup
    * index (its meta carries the dedup head), else no finding — what
    * [[IndexAudit]] adds to the shared audit.
    */
  private[graft] def payloadCheck(fs: org.apache.hadoop.fs.FileSystem,
                                  path: String): String => Option[String] =
    if (IndexProtocol.metaKv(fs, path).contains("rowsPerBand"))
      payloadStatus(fs, path, _)
    else _ => None

  /** DOC-LEVEL RETRACTION (the takedown/opt-out path, R1 — the
    * [[Bm25.retractFromBm25Index]] discipline): physically remove
    * `sids`' band/shingle rows — and `normHashes`' exact-dup evidence —
    * from every committed batch. Per affected batch the remainder
    * republishes as an `r…` batch and ONE `_meta` swap replaces the
    * affected ids with their rewrites and RETIRES the originals
    * ([[IndexProtocol.BatchList.retract]]): a replay of an original
    * batch is still refused, and [[graft.Pipeline.corpusIncrement]]
    * refuses it as landed. The originals' directories — `accepted/`
    * included, which carries the retracted docs' TEXT — are deleted
    * after the swap. Refuses while a batch is mid-landing or damaged
    * ([[refuseUnsettled]]). Crash honesty: staged rewrites are unlisted
    * until the swap, so a crash before it changes nothing a probe
    * sees; re-run the retraction to finish. Returns the number of
    * distinct retracted sids found across batches.
    */
  def retractFromDedupIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String, sids: Seq[String],
                            normHashes: Seq[String] = Nil): Long = {
    require(sids.nonEmpty || normHashes.nonEmpty,
      "retractFromDedupIndex needs sids or normHashes")
    val fs = fsFor(spark, path)
    val (meta, raw) = Layout.read(fs, path)
    refuseUnsettled(fs, path, meta, "retract from")
    import spark.implicits._
    val sidDf = sids.toDF("sid").distinct()
    val hashDf = normHashes.toDF("norm_hash").distinct()
    def sub(b: String, t: String) = s"$path/batches/$b/$t"
    def has(b: String, t: String) =
      fs.exists(new org.apache.hadoop.fs.Path(sub(b, t)))
    def readSub(b: String, t: String) = spark.read
      .option("recursiveFileLookup", "true").parquet(sub(b, t))
    // the stored sid column keeps the ingest's type (bigint ids are
    // common); cast the request to it so the join is typed, never
    // coercion-dependent
    def sidsOf(t: DataFrame) = broadcast(sidDf.select(
      col("sid").cast(t.schema("sid").dataType).as("sid")))
    def hashes(b: String) = readHashTables(spark, Seq(sub(b, "hashes")))
    Layout.retract(fs, path, meta, raw, sids ++ normHashes, 0L) { b =>
      val sidHits =
        if (sids.isEmpty) 0L
        else {
          val b0 = readSub(b, "bands")
          b0.select(col("sid")).join(sidsOf(b0), Seq("sid"), "left_semi")
            .distinct().count()
        }
      val hashHits =
        if (normHashes.isEmpty || !has(b, "hashes")) 0L
        else hashes(b).join(broadcast(hashDf), Seq("norm_hash"), "left_semi")
          .distinct().count()
      if (sidHits > 0L || hashHits > 0L) Some((sidHits, b)) else None
    } { (b, staging) =>
      // bands and shingles always republish, as every batch carries
      // them; the rewrite publishes at all only if some row remains
      val bands = readSub(b, "bands")
      val bandRem = bands.join(sidsOf(bands), Seq("sid"), "left_anti")
      bandRem.withColumn("band_p", col("band")).repartition(col("band_p"))
        .write.mode("overwrite").partitionBy("band_p")
        .parquet(s"$staging/bands")
      val shingles = readSub(b, "shingles")
      val shRem = shingles.join(sidsOf(shingles), Seq("sid"), "left_anti")
      shRem.write.mode("overwrite").parquet(s"$staging/shingles")
      val hashRem =
        if (!has(b, "hashes")) None
        else Some(hashes(b)
          .join(broadcast(hashDf), Seq("norm_hash"), "left_anti"))
      hashRem.foreach(_.write.mode("overwrite").parquet(s"$staging/hashes"))
      !bandRem.isEmpty || !shRem.isEmpty || hashRem.exists(!_.isEmpty)
    }(_ => meta).sum
  }

  /** Index MAINTENANCE: merge every committed batch's bands, shingles
    * and exact-dup evidence into ONE batch — the compaction a
    * years-lived daily index eventually needs (file and directory
    * counts grow one batch per day; see docs/SCALE.md). Correctness-
    * preserving by construction: queries read the same (sid, band,
    * bucket) and (sid, sh) row sets afterwards (spec-asserted identical
    * results). The shared compaction
    * ([[IndexProtocol.BatchList.compact]]) publishes the merged batch,
    * swaps the meta to list exactly it and deletes the superseded
    * directories.
    *
    * The REPLAY CONTRACT survives compaction: the superseded ids move
    * to the meta's retired list, kept in full (no cap — a tombstone was
    * never reclaimed either), so [[writeDedupIndex]] refuses their
    * re-submission and [[graft.Pipeline.corpusIncrement]] refuses it
    * as landed. Refuses while a batch is mid-landing or damaged
    * ([[refuseUnsettled]]); that guard is what makes "retired ⇒
    * landed" sound.
    *
    * SINGLE MAINTAINER contract (all three indexes): compact/drop and
    * the append/streaming ingest are one logical writer; the
    * compare-and-set swap fails a compaction loudly when a batch was
    * committed in between, leaving the appended batch intact.
    *
    * Returns the merged batch's id (a single committed batch is already
    * compact and returns its own id).
    */
  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String): String = {
    val fs = fsFor(spark, path)
    refuseUnsettled(fs, path, readMeta(fs, path), "compact")
    Layout.compact(fs, path, 0L, Int.MaxValue, () => (),
        () => ()) { (m, staging) =>
      // DEFRAGMENT, not just merge (the compactBm25Index rationale):
      // cluster rows by their partition value before each partitioned
      // write so every partition dir lands as ~one file instead of
      // one per (task × value) — file count is what compaction cuts
      readBatchTables(spark, tablePaths(path, m.batches, "bands"))
        .distinct().withColumn("band_p", col("band"))
        .repartition(col("band_p"))
        .write.mode("overwrite").partitionBy("band_p")
        .parquet(s"$staging/bands")
      readBatchTables(spark, tablePaths(path, m.batches, "shingles"))
        .distinct().write.mode("overwrite").parquet(s"$staging/shingles")
      // the exact-dup evidence (corpus pipelines only) compacts with
      // everything else: every batch's `hashes/` — either layout —
      // folds into one unpartitioned table the probe reads as one
      val hashes = hashPaths(fs, path, m.batches)
      if (hashes.nonEmpty) readHashTables(spark, hashes).distinct()
        .write.mode("overwrite").parquet(s"$staging/hashes")
    }
  }

  /** D8 (production shape) — incremental MinHash dedup of `newBatch`
    * against a [[writeDedupIndex]] index: per-day cost is NEW-BATCH-
    * sized, independent of corpus size. Only the new batch is
    * shingled/hashed; candidates come from joining the new batch's
    * band-buckets against the stored band table (plus the batch's
    * self-join, so a pair of two new documents is found once); the
    * Jaccard verify touches stored shingles once, map-side-restricted
    * to candidate ids before the size aggregate, so no corpus-wide
    * shuffle ever runs. Result is identical to recomputing
    * [[minhashDedupIncremental]] over (indexed corpus ∪ newBatch)
    * (spec-asserted).
    *
    * A batch of at most [[LocalBatchRows]] rows with a long id column
    * (a one-job row probe that stops past the bound decides) runs
    * batch-local: its sketch sits on one partition and, while the
    * measured verify state fits [[LocalVerifyBytes]], its pairs come
    * out of the batch-local kernel ([[batchLocal]]) in three jobs.
    * Larger batches, and state over the budget, run the exchange form.
    * Both return the same pairs (spec-asserted: AgainstIndexParitySpec).
    *
    * `newBatch` ids must be disjoint from the indexed corpus (the
    * landing-zone invariant incremental dedup exists to maintain).
    */
  def minhashDedupAgainstIndex(newBatch: DataFrame, idCol: String,
                               textCol: String, path: String,
                               thresholdNum: Int = 1,
                               thresholdDen: Int = 2, k: Int = 16,
                               rowsPerBand: Int = 2): DataFrame =
    withIndexSketch(newBatch, idCol, textCol, path,
        rowsUpTo(newBatch.select(col(idCol)), LocalBatchRows), k,
        rowsPerBand)(matchSketch(_, path, thresholdNum, thresholdDen))

  /** `df`'s rows, counted by ONE job with no exchange (`Dataset.count`
    * aggregates through one, and under AQE builds a cached input in a
    * job of its own); each partition stops past `upTo` rows, so a
    * result above `upTo` only says "more than `upTo`". It runs as one
    * SQL execution, so its jobs (a broadcast in `df`'s plan included)
    * show up in the SQL tab and in [[graft.tools.Profile]] under it.
    */
  private def rowsUpTo(df: DataFrame, upTo: Long): Long = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
        Some("count")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        while (n <= upTo && it.hasNext) { it.next(); n += 1 }
        Iterator(n)
      }.fold(0L)(_ + _)
    }
  }

  /** [[withBatchSketch]] for a batch of `rows` rows that is matched
    * against, and then appended to, the published index at `path`:
    * sketched batch-local when its id column is long and `rows` (only
    * evaluated then) is at most `localRows` (negative: never; specs
    * force either form with it). A local sketch collects the batch's
    * `carry` columns.
    */
  private[graft] def withIndexSketch[T](batch: DataFrame, idCol: String,
                                        textCol: String, path: String,
                                        rows: => Long, k: Int = 16,
                                        rowsPerBand: Int = 2,
                                        localRows: Long = LocalBatchRows,
                                        carry: Seq[String] = Nil)
                                       (body: BatchSketch => T): T = {
    // the batch side MUST run the same signature scheme and df-cap the
    // stored index was built with (see writeDedupIndex's meta
    // rationale) — inherit the cap, refuse a k/band mismatch
    val cap = indexCap(fsFor(batch.sparkSession, path), path, k,
      rowsPerBand, None,
      "query")
    withBatchSketch(batch, idCol, textCol, k, rowsPerBand, cap,
      sketchesLocal(batch, idCol, rows, localRows), carry)(body)
  }

  /** Is a batch of `rows` rows sketched batch-local under the bound
    * `localRows` (negative: never)? Only with a long id column (the
    * one-task verify keys its maps by long id); `rows` is only
    * evaluated then.
    */
  private[graft] def sketchesLocal(batch: DataFrame, idCol: String,
                                   rows: => Long, localRows: Long): Boolean =
    localRows >= 0 && batch.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType && rows <= localRows

  /** The stored band and shingle tables of the index at `path`: one
    * path each per committed batch, from one `_meta` read. None for no
    * index (a bootstrap decides against nothing stored), and none for
    * an index with no committed batch left.
    */
  private def committedTables(spark: org.apache.spark.sql.SparkSession,
                              path: Option[String])
      : (Seq[String], Seq[String]) =
    path.fold((Seq.empty[String], Seq.empty[String])) { p =>
      val batches = readMeta(fsFor(spark, p), p).batches
      (tablePaths(p, batches, "bands"), tablePaths(p, batches, "shingles"))
    }

  /** The stored tables at `paths` as one scan with `as`'s schema (the
    * batch's own sketch table: the same columns and id type), so no
    * footer-reading schema inference job runs and a batch whose table
    * holds no file reads as empty. None when there are no paths.
    */
  private def readStored(spark: org.apache.spark.sql.SparkSession,
                         paths: Seq[String], as: DataFrame): Option[DataFrame] =
    if (paths.isEmpty) None
    else Some(spark.read.schema(as.schema)
      .option("recursiveFileLookup", "true").parquet(paths: _*))

  /** The band-bucket self-join of a batch's (sid, band, bucket) rows:
    * each pair of its ids sharing a bucket, id_a < id_b, once a band.
    */
  private def selfPairs(bk: DataFrame): DataFrame =
    bk.as("a")
      .join(bk.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.sid") < col("b.sid"))
      .select(col("a.sid").as("id_a"), col("b.sid").as("id_b"))

  /** The verified (id_a, id_b, jaccard) pairs among the sketched
    * batch's documents whose ids `among` (column `sid`) lists, with
    * nothing stored to match — the exchange form of a bootstrap: the
    * band-bucket self-join of those documents' buckets, then
    * [[jaccardVerify]] over the sketch's shingles, materialized.
    */
  private[graft] def batchPairs(sk: BatchSketch, among: DataFrame,
                                thresholdNum: Int = 1,
                                thresholdDen: Int = 2): DataFrame =
    graft.Checkpoints.cached(sk.bands.join(among, Seq("sid"), "left_semi")) { bk =>
      graft.Checkpoints.truncate(jaccardVerify(sk.sh,
        Some(selfPairs(bk).distinct()), thresholdNum, thresholdDen))
    }

  /** The verified (id_a, id_b, jaccard) pairs of a sketched batch
    * against the index at `path` and against itself, materialized (the
    * result outlives the sketch's scope). A local sketch runs
    * [[batchLocal]] under the `verifyBytes` budget (specs shrink it);
    * any other sketch, or one over budget, runs [[exchangeMatch]].
    */
  private[graft] def matchSketch(sk: BatchSketch, path: String,
                                 thresholdNum: Int = 1,
                                 thresholdDen: Int = 2,
                                 verifyBytes: Long = LocalVerifyBytes)
      : DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq("id_a", "id_b", "i", "n_a", "n_b")
      .map(StructField(_, LongType, nullable = false)))
    sk.local.flatMap(_ => batchLocal(sk, Some(path), thresholdNum, thresholdDen,
        verifyBytes, None, schema, (_, _, withStored, within) =>
          (withStored ++ within).map(p =>
            org.apache.spark.sql.Row(p(0), p(1), p(2), p(3), p(4)))) { rows =>
        graft.Checkpoints.truncate(jaccardOf(rows, col("n_a"), col("n_b"),
          thresholdNum, thresholdDen))
      })
      .getOrElse(exchangeMatch(sk, path, thresholdNum, thresholdDen))
  }

  /** The exchange form of [[matchSketch]]: a band-bucket join against
    * the stored bands plus the batch's self-join, then [[jaccardVerify]]
    * over the batch shingles and the candidate-restricted stored
    * shingles, materialized.
    */
  private[graft] def exchangeMatch(sk: BatchSketch, path: String,
                                   thresholdNum: Int = 1,
                                   thresholdDen: Int = 2): DataFrame = {
    val spark = sk.sh.sparkSession
    val (bandPaths, shinglePaths) = committedTables(spark, Some(path))
    // the batch's band table feeds the index join AND the batch
    // self-join; it is released before the verify runs
    val cand = graft.Checkpoints.cached(sk.bands) { newBk =>
      val vsIndex = readStored(spark, bandPaths, sk.bands).map(idxBk =>
        newBk.as("a")
          .join(idxBk.as("b"),
            col("a.band") === col("b.band") &&
              col("a.bucket") === col("b.bucket") &&
              col("a.sid") =!= col("b.sid"))
          .select(least(col("a.sid"), col("b.sid")).as("id_a"),
            greatest(col("a.sid"), col("b.sid")).as("id_b")))
      val vsSelf = selfPairs(newBk)
      graft.Checkpoints.truncate(
        vsIndex.fold(vsSelf)(_.unionByName(vsSelf)).distinct())
    }
    // verify needs shingles for candidate ids only: semi-join the
    // (corpus-sized) stored shingle table down to candidates BEFORE
    // the size aggregate, so the only aggregation that runs is
    // candidate-sized. No broadcast hint: `cand` is checkpointed, so
    // AQE sees its true size and broadcasts when it fits (the normal
    // case — a map-side probe per partition) but degrades to a shuffle
    // join instead of failing if one day's candidates are huge.
    val candIds = cand.select(col("id_a").as("cid"))
      .unionByName(cand.select(col("id_b").as("cid"))).distinct()
    // .distinct() AFTER the semi-join (candidate-sized, so cheap):
    // shingle rows are unique per (sid, sh) by construction, but a
    // duplicated index append that slipped past writeDedupIndex's
    // guard would double them — and doubled rows shift every verify
    // count. Dedupe on read so verify stays exact regardless.
    val storedSh = readStored(spark, shinglePaths, sk.sh).map(
      _.join(candIds, col("sid") === col("cid"), "left_semi").distinct())
    graft.Checkpoints.truncate(jaccardVerify(
      storedSh.fold(sk.sh)(sk.sh.unionByName(_)), Some(cand), thresholdNum,
      thresholdDen))
  }

  /** The consumer of [[batchLocal]]'s verified pairs, run inside its
    * one task. It gets the sketch's carried rows, the evidence values
    * the task received, and the pairs (id_a, id_b, i, n_a, n_b), id_a
    * < id_b, that pass the threshold: first every pair with a stored
    * document, then the within-batch pairs. It returns the task's
    * output rows.
    */
  private[graft] type Consume = (Array[org.apache.spark.sql.Row],
    java.util.Set[String], Iterator[Array[Long]], Iterator[Array[Long]]) =>
    Iterator[org.apache.spark.sql.Row]

  /** What [[batchLocal]]'s task reads besides its rows: the stored
    * candidate pairs (batch id, stored id), the ids whose stored
    * shingles it receives, the batch's carried rows, the evidence
    * values it keeps, and how many stored shingle rows fit the budget.
    */
  private final case class KernelSide(pairs: Array[(Long, Long)],
                                       ids: Set[Long],
                                       carried: Array[org.apache.spark.sql.Row],
                                       keep: Set[String], storedFit: Long)

  /** THE batch-local kernel: a local sketch matched against the index at
    * `path` and decided in one executor task, or None when the task's
    * measured state would exceed `verifyBytes` ([[verifyTaskBytes]]).
    * Two jobs after the sketch's own (the first, and `finish`'s one
    * job running steps 2 and 3); with nothing stored (no `path`, the
    * bootstrap, or no committed batch) step 1 and the stored shingle
    * scan are skipped, so only `finish`'s job runs:
    *
    *  1. The stored band scan, at its own parallelism, looks each row
    *     up in the batch's buckets (a driver broadcast) and collects
    *     the distinct stored candidate pairs; each task stops once its
    *     pairs exceed what the budget leaves, and the driver gates on
    *     the measured count.
    *  2. The stored candidate ids, plus the batch ids (a batch id that
    *     is also stored, a landing-zone violation, gets its stored rows
    *     as in the exchange form's candidate-id semi-join), and the
    *     `evidence` values to keep go to the stored shingle scan and to
    *     the evidence scan as a second broadcast. Their kept rows and
    *     the batch's shingles reach ONE task through one shuffle (the
    *     [[resolveGroups]] union-find precedent). The task counts the
    *     stored rows as they arrive and decides nothing once they are
    *     over the budget; otherwise it counts each candidate pair's
    *     shared shingles and set sizes exactly as [[jaccardVerify]]'s
    *     joins do (stored rows deduped, batch rows as they are), forms
    *     the within-batch pairs one document at a time from the band
    *     buckets, and hands the pairs that pass the threshold (the
    *     integer test of [[jaccardOf]]) to `consume`.
    *  3. `finish` materializes the task's rows (of `schema`) while the
    *     broadcasts live; both are destroyed on every exit.
    *
    * Its pairs equal the exchange form's (spec-pinned:
    * AgainstIndexParitySpec).
    */
  private[graft] def batchLocal[T](sk: BatchSketch, path: Option[String],
                                   thresholdNum: Int, thresholdDen: Int,
                                   verifyBytes: Long,
                                   evidence: Option[(DataFrame, Set[String])],
                                   schema: org.apache.spark.sql.types.StructType,
                                   consume: Consume)
                                  (finish: DataFrame => T): Option[T] = {
    val ls = sk.local.getOrElse(throw new IllegalArgumentException(
      "batchLocal needs a batch-local sketch"))
    val spark = sk.sh.sparkSession
    val (bandPaths, shinglePaths) = committedTables(spark, path)
    val pairsFit = (verifyBytes - verifyTaskBytes(ls.shRows, 0L, 0L)) / 100L
    if (pairsFit < 0L) None
    else graft.Checkpoints.broadcast(spark, ls.buckets) { buckets =>
      val found = readStored(spark, bandPaths, sk.bands).fold(
          Array.empty[(Long, Long)]) { idxBk =>
        idxBk.queryExecution.toRdd.mapPartitions { rows =>
          val got = new java.util.HashSet[(Long, Long)]()
          while (got.size <= pairsFit && rows.hasNext) {
            val r = rows.next()
            if (!r.isNullAt(0) && !r.isNullAt(2)) {
              val sid = r.getLong(0)
              buckets.value.get((r.getInt(1), r.getUTF8String(2).toString))
                .foreach(_.foreach(n => if (n != sid) got.add((n, sid))))
            }
          }
          Iterator(got.toArray(Array.empty[(Long, Long)]))
        }.collect().flatten.distinct
      }
      if (verifyTaskBytes(ls.shRows, 0L, found.length) > verifyBytes) None
      else graft.Checkpoints.broadcast(spark, KernelSide(found,
          found.iterator.map(_._2).toSet ++ ls.buckets.valuesIterator.flatten,
          ls.carried, evidence.fold(Set.empty[String])(_._2),
          (verifyBytes - verifyTaskBytes(ls.shRows, 0L, found.length)) /
            200L)) { side =>
        // one row shape for the task's inputs, told apart by `t`: 1
        // evidence value, 2 batch shingle, 3 stored shingle
        def tagged(t: Int, a: Column, s: Column) =
          Seq(lit(t).as("t"), a.cast("long").as("a"), s.cast("string").as("s"))
        val isCandidate = udf((sid: Long) => side.value.ids.contains(sid))
        val kept = udf((v: String) => v != null && side.value.keep.contains(v))
        val batchSh = sk.sh.select(tagged(2, col("sid"), col("sh")): _*)
        val shingles = readStored(spark, shinglePaths, sk.sh).fold(batchSh)(
          st => batchSh.union(st.filter(isCandidate(col("sid")))
            .select(tagged(3, col("sid"), col("sh")): _*)))
        val rows = evidence.fold(shingles) { case (ev, _) =>
          val v = col(ev.columns.head)
          shingles.union(ev.filter(kept(v)).select(tagged(1, lit(null), v): _*))
        }
        val over = spark.sparkContext.longAccumulator("batchLocal over budget")
        val (num, den) = (thresholdNum, thresholdDen)
        val out = rows.queryExecution.toRdd.map(_.copy()).repartition(1)
          .mapPartitions { it =>
            val res = verifyTask(it, side.value, buckets.value, num, den,
              consume)
            if (res.isEmpty) over.add(1L)
            res.getOrElse(Iterator.empty)
          }
        val result = finish(spark.createDataFrame(out, schema))
        if (over.value > 0L) None else Some(result)
      }
    }
  }

  /** [[batchLocal]]'s task over its tagged rows: None once the stored
    * shingle rows exceed `side.storedFit`, else `consume`'s rows.
    */
  private def verifyTask(it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
                         side: KernelSide,
                         buckets: Map[(Int, String), Array[Long]],
                         thresholdNum: Int, thresholdDen: Int,
                         consume: Consume)
      : Option[Iterator[org.apache.spark.sql.Row]] = {
    import scala.jdk.CollectionConverters._
    type Counts = java.util.HashMap[String, java.lang.Integer]
    val counts = new java.util.HashMap[java.lang.Long, Counts]()
    val storedSeen =
      new java.util.HashMap[java.lang.Long, java.util.HashSet[String]]()
    val evidence = new java.util.HashSet[String]()
    def addShingle(sid: Long, sh: String): Unit = {
      val m = counts.computeIfAbsent(sid, _ => new Counts())
      m.merge(sh, Integer.valueOf(1),
        (x, y) => Integer.valueOf(x.intValue + y.intValue)); ()
    }
    var storedRows = 0L
    while (storedRows <= side.storedFit && it.hasNext) {
      val r = it.next()
      r.getInt(0) match {
        case 1 => evidence.add(r.getUTF8String(2).toString)
        case 2 => addShingle(r.getLong(1), r.getUTF8String(2).toString)
        case _ =>
          storedRows += 1
          val (a, sh) = (r.getLong(1), r.getUTF8String(2).toString)
          if (storedSeen.computeIfAbsent(a,
              _ => new java.util.HashSet[String]()).add(sh))
            addShingle(a, sh)
      }
    }
    if (storedRows > side.storedFit) None
    else {
      storedSeen.clear()
      val sizes = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      counts.forEach { (sid, m) =>
        var n = 0L; m.values().forEach(c => n += c.longValue)
        sizes.put(sid, n); ()
      }
      def verified(p: (Long, Long)): Option[Array[Long]] = {
        val (a, b) = p
        val (ma, mb) = (counts.get(a), counts.get(b))
        if (ma == null || mb == null) None
        else {
          val (small, big) = if (ma.size <= mb.size) (ma, mb) else (mb, ma)
          var i = 0L
          small.forEach((sh, c) => {
            val o = big.get(sh)
            if (o != null) i += c.longValue * o.longValue
          })
          val (na, nb) = (sizes.get(a).longValue, sizes.get(b).longValue)
          if (i > 0 && i * thresholdDen >= (na + nb - i) * thresholdNum)
            Some(Array(a, b, i, na, nb))
          else None
        }
      }
      // the batch ids under their (band, bucket) keys, and each batch
      // id's keys
      val keys = new java.util.HashMap[java.lang.Long,
        scala.collection.mutable.ArrayBuffer[(Int, String)]]()
      buckets.foreach { case (key, ids) => ids.foreach(id =>
        keys.computeIfAbsent(id,
          _ => scala.collection.mutable.ArrayBuffer.empty) += key) }
      val storedPairs = new java.util.HashSet[(Long, Long)]()
      side.pairs.foreach { case (a, b) =>
        storedPairs.add((math.min(a, b), math.max(a, b))) }
      val (within, withStored) = storedPairs.asScala.toSeq
        .partition { case (a, b) => keys.containsKey(a) && keys.containsKey(b) }
      // within-batch pairs (a, c), a < c, one document's neighbour set
      // at a time — never the whole pair set; a pair the stored probe
      // also found is left to `storedPairs`
      val batchPairs = keys.asScala.iterator.flatMap { case (a, ks) =>
        val near = new java.util.HashSet[Long]()
        ks.foreach(buckets(_).foreach(c => if (c > a) near.add(c)))
        near.asScala.iterator.map(c => (a.longValue, c))
          .filterNot(p => storedPairs.contains(p))
      }
      Some(consume(side.carried, evidence, withStored.iterator.flatMap(verified),
        (within.iterator ++ batchPairs).flatMap(verified)))
    }
  }

  /** D9 — benchmark CONTAMINATION check (decontamination pass): flag
    * corpus documents sharing at least `minShared` distinct word
    * 3-grams with any document of a benchmark/eval set. The join is
    * the inverted shingle index of the corpus against the (small)
    * benchmark index — at 100 TB the benchmark side broadcasts and the
    * corpus side streams through map-side hash lookups; no all-pairs
    * anything.
    */
  def contaminationCheck(df: DataFrame, idCol: String, textCol: String,
                         isBenchmark: Column,
                         minShared: Int = 8): DataFrame = {
    graft.Checkpoints.cached(shingleIndex(df, idCol, textCol)) { sh =>
      val benchIds = df.filter(isBenchmark).select(col(idCol).as("bid"))
      val benchSh = sh.join(broadcast(benchIds), col("sid") === col("bid"))
        .select(col("bid"), col("sh"))
      val corpusSh = sh.join(broadcast(benchIds),
        col("sid") === col("bid"), "left_anti")
      graft.Checkpoints.truncate(corpusSh.join(benchSh, Seq("sh"))
        .groupBy(col("sid").as("doc_id"), col("bid").as("bench_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared))
    }
  }

  /** D7 — near-duplicate GROUP resolution: the step that turns
    * pairwise near-dup evidence (from [[minhashDedup]],
    * [[simhashPairs]], [[graft.operators.Similarity.cosineNearDupPairsLsh]]…)
    * into "keep one document per cluster": every id gets
    * `group_id` = the minimum id reachable through the pair graph
    * (connected components), ids with no pairs keep themselves.
    *
    * Iterative min-label propagation WITH pointer jumping: each round
    * a node takes the min of its own and its neighbors' labels, then
    * follows its label's label one hop ("label-of-label"), doubling
    * the propagation distance — O(log diameter) rounds instead of
    * O(diameter), the same asymptotics as large-star/small-star
    * (Kiveris et al., SoCC 2014) with a simpler join shape. Per-round
    * lineage truncation via [[graft.Checkpoints.truncate]]; the driver
    * sees only one convergence count per round, never row data.
    *
    * `ids` must expose column `id`; `pairs` columns `id_a`,`id_b`.
    */
  def resolveGroups(ids: DataFrame, pairs: DataFrame,
                    maxRounds: Int = 25,
                    tinyThreshold: Long = 2000000L): DataFrame = {
    // both edge directions from ONE pass over `pairs` (a union of two
    // projections would execute the upstream pair pipeline — e.g. the
    // whole MinHash verify chain — once per branch)
    graft.Checkpoints.cached(pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))) { sym =>
      // One count materializes the edge cache AND decides the join
      // strategy: the iteration state (nodes-with-edges, ≤ 2·edges rows)
      // is usually a sliver of the corpus, and below the threshold every
      // per-round join can run broadcast — single-stage rounds with no
      // shuffle. Above it (real-scale runs) everything stays a shuffle
      // join; the algorithm is identical either way.
      val edgeRows = sym.count()
      val tiny = edgeRows <= tinyThreshold
      // Below the threshold AND with long ids (every corpus id in this
      // engine), the components are computed by ONE EXECUTOR TASK: the
      // symmetric edge list coalesces to a single partition and a
      // union–find (path-halving, min-label per root) labels every
      // edge-touching node in O(E α(E)) — the same result the iterative
      // min-label propagation converges to (components are unique;
      // both paths label a node with the MINIMUM id reachable through
      // the pair graph — spec-pinned equal on real minhash pairs and
      // random graphs). What the driver sees is unchanged (no collect —
      // the fold runs on an executor, like a broadcast build side);
      // what disappears is ~log(diameter) rounds × (checkpoint +
      // convergence-sum + broadcast) Spark jobs, which dominated the
      // gate's wall clock at ~1.4k pairs (measured 2.6 s → 0.3 s).
      // Above the threshold (real scale) the shuffle-join iteration
      // below runs exactly as before.
      val idIsLong = ids.schema("id").dataType ==
        org.apache.spark.sql.types.LongType
      if (edgeRows == 0L) // clean corpus: every id is its own group
        ids.select(col("id"), col("id").as("group_id"))
      else if (tiny && idIsLong) {
        import org.apache.spark.sql.Row
        val labelled = sym.select(col("src").cast("long"),
            col("dst").cast("long"))
          .coalesce(1)
          .mapPartitions { it =>
            val parent = new java.util.HashMap[Long, Long]()
            def find(x: Long): Long = {
              var r = x
              while (parent.get(r) != r) {
                val p = parent.get(r)
                parent.put(r, parent.get(p)) // path halving
                r = parent.get(p)
              }
              r
            }
            it.foreach { row =>
              val a = row.getLong(0); val b = row.getLong(1)
              if (!parent.containsKey(a)) parent.put(a, a)
              if (!parent.containsKey(b)) parent.put(b, b)
              val ra = find(a); val rb = find(b)
              if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
            }
            val minOf = new java.util.HashMap[Long, Long]()
            val nodes = parent.keySet().iterator()
            while (nodes.hasNext) {
              val n = nodes.next(); val r = find(n)
              val cur = minOf.getOrDefault(r, Long.MaxValue)
              if (n < cur) minOf.put(r, n)
            }
            val out = scala.collection.mutable.ArrayBuffer.empty[Row]
            val it2 = parent.keySet().iterator()
            while (it2.hasNext) {
              val n = it2.next()
              out += Row(n, minOf.get(find(n)))
            }
            out.iterator
          }(org.apache.spark.sql.Encoders.row(
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("id",
                org.apache.spark.sql.types.LongType, nullable = false),
              org.apache.spark.sql.types.StructField("__g",
                org.apache.spark.sql.types.LongType, nullable = false)))))
        // the edge-touching labels materialize inside the edge scope;
        // the full-corpus join back stays lazy exactly like the
        // iterative path's return
        val labCp = graft.Checkpoints.truncate(labelled.toDF())
        ids.join(broadcast(labCp), Seq("id"), "left")
          .select(col("id"),
            coalesce(col("__g"), col("id")).as("group_id"))
      } else {
        def small(df: DataFrame): DataFrame = if (tiny) broadcast(df) else df
        // below the threshold the whole iteration state fits one task:
        // coalesced checkpoints make each round a handful of tasks instead
        // of 32-partition waves (at real scale this branch never fires)
        def compact(df: DataFrame): DataFrame = if (tiny) df.coalesce(1) else df
        // iterate ONLY over nodes that appear in a pair: every other id is
        // trivially its own component and joins back at the end. On a real
        // corpus near-dup clusters touch a small fraction of documents, so
        // this shrinks the per-round state by orders of magnitude.
        var labels = graft.Checkpoints.truncate(
          compact(sym.select(col("src").as("id")).distinct()
            .withColumn("group_id", col("id"))))
        // labels only ever decrease, so Σ group_id strictly decreases iff
        // anything changed — a one-stage partial-aggregated sum per round
        // replaces a join-based change detector. Exact decimal: a 64-bit
        // sum would overflow on billions of 64-bit ids.
        def labelSum(df: DataFrame): java.math.BigDecimal =
          df.agg(sum(col("group_id").cast("decimal(38,0)"))).head()
            .getDecimal(0)
        def jump(df: DataFrame): DataFrame =
          df.as("a")
            .join(small(df.select(col("id").as("jid"),
              col("group_id").as("jg")).as("b")),
              col("a.group_id") === col("b.jid"), "left")
            .select(col("a.id").as("id"),
              least(col("a.group_id"),
                coalesce(col("b.jg"), col("a.group_id"))).as("group_id"))
        var prevSum = labelSum(labels)
        var round = 0
        var changed = true
        while (changed && round < maxRounds) {
          val nmin = sym.join(small(labels), sym("dst") === labels("id"))
            .groupBy(col("src")).agg(min(col("group_id")).as("nmin"))
          val stepped = labels.as("l")
            .join(small(nmin.as("n")), col("l.id") === col("n.src"), "left")
            .select(col("l.id").as("id"),
              least(col("l.group_id"),
                coalesce(col("n.nmin"), col("l.group_id"))).as("group_id"))
          // two pointer jumps (labels are themselves ids: replace my label
          // with my label's label): each quadruples the distance a min has
          // travelled, so rounds stay ~log₄(diameter) with no extra action
          val next = graft.Checkpoints.truncate(compact(jump(jump(stepped))))
          val curSum = labelSum(next)
          changed = curSum.compareTo(prevSum) != 0
          prevSum = curSum
          labels = next
          round += 1
        }
        // loud non-convergence contract: exiting while labels were still
        // moving would return PARTIALLY propagated groups with no signal
        // to the caller. Unreachable in practice (×4 pointer jumping needs
        // a graph of diameter ~4^maxRounds), but if it ever fires the
        // caller must know the labels are not components.
        if (changed) throw new IllegalStateException(
          s"resolveGroups did not converge within $maxRounds rounds — " +
            "labels were still propagating; raise maxRounds")
        ids.join(small(labels.withColumnRenamed("group_id", "__g")),
            Seq("id"), "left")
          .select(col("id"), coalesce(col("__g"), col("id")).as("group_id"))
      }
    }
  }

  /** D10 — canonical-document selection: the final step of every dedup
    * pass. Given rows already labeled with a duplicate-group key (an
    * exact-text hash, a fingerprint, or [[resolveGroups]]' group_id),
    * keep exactly ONE row per group — the highest-scoring, ties broken
    * by lowest id so the choice is deterministic under any
    * partitioning. Formulated as a map-side-combinable
    * `min(struct(-score, id, row))` aggregate, not a window: both pay
    * one shuffle on the group key, but the combiner reduces each
    * group to ONE candidate row per input partition before the
    * shuffle, where a window would shuffle-sort every member — and a
    * crawl-scale dup group can hold millions. IEEE negation is
    * exact, and `id` is unique per row, so the struct order equals
    * (score desc, id asc) and the payload never influences the
    * comparison. (The groupBy-max + self-join alternative shuffles
    * twice and breaks ties nondeterministically.)
    */
  def keepCanonical(df: DataFrame, idCol: String, groupCol: String,
                    scoreCol: String): DataFrame = {
    val payload = struct(df.columns.map(col): _*)
    df.groupBy(col(groupCol).as("__g"))
      .agg(min(struct(negate(col(scoreCol)).as("__ns"),
        col(idCol).as("__id"), payload.as("__row"))).as("__w"))
      .select(df.columns.map(c => col(s"__w.__row.$c")): _*)
  }

  /** T4 — winnowing fingerprint dedup: documents sharing a min-rolling
    * hash of any k-byte window. Native codegen'd expression
    * ([[graft.plans.MinRollingHash]]).
    */
  def fingerprintGroups(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 16): DataFrame =
    df.select(col(idCol),
        MinRollingHash.min_rolling_hash(col(textCol), k).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** T4 (portable form) — the same min-over-windows fingerprint shape
    * computed from sha256 of word 3-shingles, so ANY engine recomputes
    * it bit-for-bit (the byte-level Rabin–Karp in [[fingerprintGroups]]
    * is Spark-native codegen and has no cross-engine twin). Documents
    * too short to shingle fall back to sha256 of the whole text, so
    * every document lands in exactly one group. The native variant is
    * the production-fast path; this one feeds cross-engine
    * verification gates.
    */
  def fingerprintGroupsPortable(df: DataFrame, idCol: String,
                                textCol: String): DataFrame = {
    val mins = shingleIndex(df, idCol, textCol)
      .groupBy(col("sid"))
      .agg(min(sha2(col("sh"), 256)).as("fp"))
    df.select(col(idCol).as("sid"), sha2(col(textCol), 256).as("fb"))
      .join(mins, Seq("sid"), "left")
      .select(col("sid"), coalesce(col("fp"), col("fb")).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col("sid")).as("keep_id"), count(lit(1)).as("n_docs"))
  }

  /** T16 — cross-document n-gram NOVELTY: for each document, the
    * fraction of its distinct word n-grams that appear in NO other
    * document. The inter-document complement of T7's intra-document
    * repetition signals — a low-novelty doc is assembled from text
    * the corpus already has (boilerplate, templates, near-dups that
    * slipped past whole-doc dedup), and novelty is the standard
    * cheap proxy for marginal training value when ranking what to
    * keep from a fresh crawl slice.
    *
    * `novelty = n_novel / n_shingles` over the doc's DISTINCT
    * shingles (df is corpus-wide: a shingle with df = 1 exists only
    * in this doc). Documents too short to shingle report 0 counts
    * and a NULL novelty — no signal, not "perfectly novel".
    *
    * Plan shape at corpus scale: the [[shingleIndex]] distinct pairs
    * (exchange carries per-doc distinct shingles), ONE combinable
    * groupBy(sh) for df, an equi-join back on the shingle key, one
    * combinable groupBy(doc) — all shuffles on bounded keys, no pair
    * table anywhere (the D4 discipline).
    */
  def noveltyReport(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 3): DataFrame = {
    // r19: the old shape joined the corpus-sized index against its
    // own df aggregate (index shuffled by sh, the join re-grouped by
    // sid) and derived the index twice. A df-1 shingle lives in
    // EXACTLY ONE document — its min(sid) — so the novel counts come
    // from the df aggregate alone: two aggregations over one
    // persisted index, doc-sized join at the end, no index-sized
    // join. Identical rows (oracle-pinned).
    graft.Checkpoints.cached(shingleIndex(df, idCol, textCol, n)) { idx =>
      val per = idx.groupBy(col("sid")).agg(count(lit(1)).as("__nsh"))
      val nov = idx.groupBy(col("sh"))
        .agg(count(lit(1)).as("__df"), min(col("sid")).as("__owner"))
        .filter(col("__df") === 1)
        .groupBy(col("__owner")).agg(count(lit(1)).as("__nnov"))
        .withColumnRenamed("__owner", "sid")
      graft.Checkpoints.truncate(df.select(col(idCol).as("sid"))
        .join(per, Seq("sid"), "left")
        .join(nov, Seq("sid"), "left")
        .select(col("sid").as(idCol),
          coalesce(col("__nsh"), lit(0L)).as("n_shingles"),
          // a doc absent from `nov` has zero novel shingles; a doc
          // absent from `per` divides 0 by null -> null novelty,
          // exactly the old single-join rendering
          coalesce(col("__nnov"), lit(0L)).as("n_novel"),
          round(coalesce(col("__nnov"), lit(0L)).cast("double")
            / col("__nsh").cast("double"), 6).as("novelty")))
    }
  }

  /** D12 — duplicated token-WINDOW hashes: every w-token window of
    * every document, keyed by the sha256 of its space-joined tokens —
    * the distributed restatement of exact-SUBSTRING dedup (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models
    * Better": near-identical 50-token passages pervade crawl corpora
    * and survive whole-document dedup). Where a suffix array finds
    * repeated substrings in one machine's memory, the window table is
    * its shuffle-native analog: one row per (doc, window start) — the
    * same O(corpus tokens) footprint a suffix array pays, but
    * partition-parallel. `stride` subsamples start positions when the
    * full table is too expensive (stride > 1 trades span-boundary
    * precision for a 1/stride cost cut; matches are still found as
    * long as a shared run covers one stride-aligned window).
    *
    * One tokenize projection + one `sequence` explode — no shuffle
    * here; consumers aggregate or window over `whash`.
    */
  def windowHashes(df: DataFrame, idCol: String, textCol: String,
                   w: Int, stride: Int = 1): DataFrame = {
    require(w > 0, s"w must be positive, got $w")
    require(stride > 0, s"stride must be positive, got $stride")
    graft.sources.Tables.fanOut(
        df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__ws")))
      .withColumn("__n", size(col("__ws")).cast("bigint"))
      .filter(col("__n") >= w)
      .withColumn("win_start", explode(sequence(lit(0L),
        expr(s"((__n - $w) div $stride) * $stride"), lit(stride.toLong))))
      .select(col(idCol), col("win_start"),
        sha2(array_join(slice(col("__ws"),
          (col("win_start") + 1).cast("int"), lit(w)), " "), 256).as("whash"))
  }

  /** The whash values occurring >= 2 times in the window table — the
    * duplicate mark shared by the report and span gates. A plain
    * aggregate, NOT `count over Window.partitionBy(whash)`: WindowExec
    * would shuffle AND sort every window row by whash when the count
    * needs no order at all. The aggregate combines map-side (each
    * partition ships distinct hashes, not rows) and its output — the
    * duplicated hashes only, typically a small fraction of the corpus
    * — becomes the build side of the join back, which AQE can
    * broadcast. Same single shuffle class for the big table, zero
    * per-partition sorts.
    */
  private def duplicatedHashes(wins: DataFrame): DataFrame =
    wins.groupBy(col("whash"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2)
      .select(col("whash"))

  /** D12 — per-document duplicated-window report: how many of each
    * document's w-token windows also occur elsewhere in the corpus
    * (any doc, any position — within-document repeats count: a
    * boilerplate run repeated inside one page is as much a training
    * hazard as one shared across pages). The per-corpus duplicate
    * marking is one map-side-combinable aggregate to the duplicated
    * hashes plus one join back (no self-join, no pair table, no
    * sort — see [[duplicatedHashes]]), then one groupBy on the id;
    * documents shorter than w windows report zeros.
    *
    * Output: (id, n_windows, n_dup_windows) — the downstream filter
    * drops or trims documents whose duplicated fraction crosses
    * policy.
    */
  def duplicateWindowReport(df: DataFrame, idCol: String, textCol: String,
                            w: Int, stride: Int = 1): DataFrame = {
    val wins = windowHashes(df, idCol, textCol, w, stride)
    val dup = duplicatedHashes(wins).withColumn("__dup", lit(1L))
    val perDoc = wins
      .join(dup, Seq("whash"), "left") // whash unique in dup: no fan-out
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("__dup"), lit(0L))).as("n_dup_windows"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
  }

  /** D12 — duplicated SPANS: the duplicated windows of
    * [[duplicateWindowReport]] merged into maximal per-document token
    * intervals [span_start, span_end) — the actual cut list an
    * exact-substring trimmer consumes (drop the span, keep the rest of
    * the document; Lee et al.'s ExactSubstr removes the repeated
    * passage, not the page). Classic gaps-and-islands over each
    * document's duplicated window starts: a window opens a new span
    * iff it starts past every earlier window's end; one running-max
    * window + one groupBy, both partitioned by document — shuffles on
    * the id only, never a pair table.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     w: Int, stride: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = windowHashes(df, idCol, textCol, w, stride)
    // semi-join against the duplicated-hash set (unique keys) instead
    // of a count-over-window: the only sorted shuffle left is the
    // per-document gaps-and-islands below, whose window is as small
    // as a single document
    val dups = wins
      .join(duplicatedHashes(wins), Seq("whash"), "left_semi")
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("win_start"))
    dups
      .withColumn("__end", col("win_start") + w)
      .withColumn("__prevMax",
        max(col("__end")).over(
          byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__prevMax").isNull ||
          col("win_start") > col("__prevMax"), 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new")).over(byDoc))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("win_start")).as("span_start"),
        max(col("__end")).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** D12 — apply the cut list: drop every token inside a document's
    * duplicated spans ([[duplicateSpans]] output), keep the rest —
    * trimming the repeated passage instead of the page, which is the
    * whole point of exact-substring dedup. The trimmed text is the
    * space-joined surviving token stream (trimming is defined on the
    * token sequence, like packing and chunking — original inter-token
    * whitespace does not survive).
    *
    * Shape: spans explode to their covered positions (bounded by each
    * document's token count — spans are disjoint by construction),
    * one groupBy to a per-document position list, one join back on
    * the id, one index-aware `filter` projection. Documents without
    * spans pass through whole.
    */
  def trimSpans(df: DataFrame, idCol: String, textCol: String,
                spans: DataFrame): DataFrame = {
    val pos = spans
      .select(col(idCol),
        explode(sequence(col("span_start"), col("span_end") - 1))
          .as("__p"))
      .groupBy(col(idCol))
      .agg(collect_list(col("__p")).as("__pos"))
    df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__ws"))
      .join(pos, Seq(idCol), "left")
      .select(col(idCol),
        array_join(
          when(col("__pos").isNull, col("__ws")).otherwise(
            // scanner kernel (graft.plans.DropIndexed): same kept
            // tokens as the interpreted
            // `filter(ws, (x, i) => !array_contains(pos, i))` HOF,
            // one hash probe per token instead of a position-list
            // scan per token
            graft.plans.DropIndexed.drop_indexed(col("__ws"),
              col("__pos"))),
          " ").as("trimmed_text"))
  }
}
