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

  /** Word n-gram shingles of a text column (empty array below n
    * words). Convenience form for single-expression use; pipelines
    * should materialize tokens once and use [[shinglesFromTokens]]
    * (see [[shingleIndex]]).
    */
  def wordShingles(c: Column, n: Int = 3): Column =
    shinglesFromTokens(TextFunctions.tokens(c), n)

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
  def signatureFromIndex(sh: DataFrame, k: Int = 16): DataFrame = {
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
    sh.select(col("sid"),
        graft.plans.MinhashSlicesApi.minhash_longs(col("sh"), k)
          .as("__xs"))
      .groupBy(col("sid"))
      .agg(
        min(element_at(col("__xs"), 1)).as("m0"),
        (1 until k).map(i =>
          min(element_at(col("__xs"), i + 1)).as(s"m$i")): _*)
      .select(col("sid") +:
        (0 until k).map(i =>
          // when() keeps the column NULLABLE like min(substring) was
          // (min over a group is never null here — groups come from
          // existing rows — but the schema must not drift)
          when(col(s"m$i").isNotNull,
            format_string("%08x", col(s"m$i"))).as(s"mh$i")): _*)
  }

  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 16): DataFrame =
    signatureFromIndex(shingleIndex(df, idCol, textCol), k)

  /** One (sid, band-bucket) row per band of each signature — the LSH
    * key space both the batch and incremental candidate joins use.
    */
  def bandBuckets(sig: DataFrame, k: Int = 16,
                  rowsPerBand: Int = 2): DataFrame = {
    val nBands = k / rowsPerBand
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        concat((0 until rowsPerBand).map(r =>
          col(s"mh${b * rowsPerBand + r}")): _*).as("bucket"))
    }
    sig.select(col("sid"), explode(array(bandCols: _*)).as("bk"))
  }

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

  /** The index's structural parameters, persisted at `_meta` in the
    * index root so every append and every query runs with the SAME
    * signature scheme and document-frequency cap the index was built
    * with — a k/band/cap mismatch between writer and reader silently
    * shifts candidate generation and Jaccard counts, so it is checked
    * loudly instead. `maxDocFreq = -1` encodes "no cap".
    */
  private[graft] final case class IndexMeta(k: Int, rowsPerBand: Int,
                                            maxDocFreq: Int)

  // one shared resolver ([[graft.sources.Tables.fsFor]]) so "the same
  // FS primitive as every publish path" is structural, not copy-paste
  private def fsFor(df: DataFrame,
                    path: String): org.apache.hadoop.fs.FileSystem =
    graft.sources.Tables.fsFor(df.sparkSession, path)

  private def metaPath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_meta")

  private[graft] def readIndexMeta(fs: org.apache.hadoop.fs.FileSystem,
                                   path: String): Option[IndexMeta] = {
    val p = metaPath(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val kv = scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().map(_.split("=", 2)).collect {
            case Array(a, b) => a -> b.toInt
          }.toMap
        Some(IndexMeta(kv("k"), kv("rowsPerBand"), kv("maxDocFreq")))
      } finally in.close()
    }
  }

  private def writeIndexMeta(fs: org.apache.hadoop.fs.FileSystem,
                             path: String, m: IndexMeta): Unit = {
    val out = fs.create(metaPath(path), true)
    try out.write(
      s"k=${m.k}\nrowsPerBand=${m.rowsPerBand}\nmaxDocFreq=${m.maxDocFreq}\n"
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** Every published batch directory under the index root (markers and
    * staging excluded by construction — staging lives at `_staging/`,
    * never under `batches/`).
    */
  private def batchSubPaths(fs: org.apache.hadoop.fs.FileSystem,
                            path: String, sub: String): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(s"$path/batches")
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).filter(_.isDirectory)
      .map(st => new org.apache.hadoop.fs.Path(st.getPath, sub))
      .filter(fs.exists).map(_.toString).toSeq
  }

  /** The exact-dup evidence (`norm_hash`) of every published batch
    * that carries a `hashes/` side table, as one scan relation — `None`
    * when no batch does. See [[readHashTables]] for the layouts read.
    */
  private[graft] def readBatchHashes(spark: org.apache.spark.sql.SparkSession,
                                     path: String): Option[DataFrame] = {
    val paths = batchSubPaths(new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), path, "hashes")
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
    * ([[batchId]]). The index is append-only state, the shape the
    * reference keeps in its warehouse-native append loads
    * (bigquery.py:141): `mode = "append"` adds one batch directory and
    * never touches existing files.
    *
    * Commit protocol: both tables (plus any `sideTables` commit
    * records) are first written under `_staging/<batch-id>/`, then
    * PUBLISHED with one atomic directory rename — so the
    * two-table-write crash window of a naive append does not exist: a
    * crash mid-stage leaves the live index untouched and the retry
    * re-stages over the residue. (On stores without atomic rename —
    * raw S3 — use a real table format's commit; this is the same
    * caveat as [[graft.sources.Tables.compact]].)
    *
    * Replay guard, O(1): a batch id that already has a published
    * directory is refused LOUDLY — a silently re-appended batch would
    * double (sid, sh) rows and shift every downstream Jaccard verify
    * count. The guard's cost never grows with the corpus (the r6
    * design scanned the stored sid column per append — O(corpus) every
    * day). `auditOverlap = true` additionally runs that full
    * column-pruned sid-overlap scan, refusing PARTIAL overlaps (a
    * malformed batch that reuses some already-indexed ids without
    * being an exact replay) — the maintenance-audit form, not the
    * daily path. Repair tooling: [[dropBatchFromIndex]] removes a
    * batch directory (the executable form of "drop the batch's
    * band/shingle rows"). As defense in depth
    * [[minhashDedupAgainstIndex]] also dedupes the
    * candidate-restricted stored shingles it reads.
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
      else indexCap(fsFor(df, path), path, k, rowsPerBand, maxDocFreq,
        "append")
    withBatchSketch(df, idCol, textCol, k, rowsPerBand, cap,
        local = false) { sk =>
      publishBatch(sk, df, idCol, path, mode, auditOverlap, sideTables,
        knownId)
    }
  }

  /** The df-cap a batch must be sketched with to join or extend the
    * index at `path`: the one its `_meta` records (a k/band/cap
    * mismatch is refused), else `maxDocFreq` (-1: no cap).
    */
  private def indexCap(fs: org.apache.hadoop.fs.FileSystem, path: String,
                       k: Int, rowsPerBand: Int,
                       maxDocFreq: Option[Int], what: String): Int =
    readIndexMeta(fs, path) match {
      case Some(m) =>
        require(m.k == k && m.rowsPerBand == rowsPerBand,
          s"index at $path was built with k=${m.k}/rowsPerBand=" +
            s"${m.rowsPerBand}, $what called with $k/$rowsPerBand")
        maxDocFreq.foreach(c => require(c == m.maxDocFreq,
          s"index at $path was built with maxDocFreq=${m.maxDocFreq}, " +
            s"$what called with $c"))
        m.maxDocFreq
      case None => maxDocFreq.getOrElse(-1)
    }

  /** [[writeDedupIndex]] from an already-built sketch of `df`: the
    * replay guard, the staged write of the sketch's bands and shingles
    * plus `sideTables`, and the atomic publish. Returns the batch id.
    */
  private[graft] def publishBatch(sk: BatchSketch, df: DataFrame,
                                  idCol: String, path: String,
                                  mode: String,
                                  auditOverlap: Boolean = false,
                                  sideTables: Seq[(String, DataFrame)] = Nil,
                                  knownId: Option[String] = None): String = {
    // all probes through the Hadoop FS API, NOT java.io.File: the
    // production index lives on hdfs:// paths where File.exists is
    // always false and a local-only probe would silently skip the
    // guard — the exact silent corruption it exists to prevent
    val fs = fsFor(df, path)
    val spark = df.sparkSession
    val bid = knownId.getOrElse(batchId(df, idCol))
    val batchDir = new org.apache.hadoop.fs.Path(s"$path/batches/$bid")
    val meta = IndexMeta(sk.k, sk.rowsPerBand, sk.cap)
    val stored = if (mode == "overwrite") None else readIndexMeta(fs, path)
    if (mode == "overwrite") {
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      ()
    } else {
      stored.foreach(m => require(m == meta,
        s"index at $path was built with $m, the batch is sketched with " +
          s"$meta"))
      if (fs.exists(batchDir)) throw new graft.ReplayRefused(
        s"writeDedupIndex append refused: batch $bid is already " +
          s"published in the index at $path — a duplicated/retried " +
          "append would corrupt Jaccard verify counts " +
          "(recover with dropBatchFromIndex if this batch must be " +
          "re-ingested)")
      if (auditOverlap) {
        val bandPaths = batchSubPaths(fs, path, "bands")
        if (bandPaths.nonEmpty) {
          val stored = readBatchTables(spark, bandPaths).select(col("sid"))
          val batchIds = df.select(col(idCol).as("sid")).distinct()
          val overlap = stored.join(broadcast(batchIds), Seq("sid"),
            "left_semi").distinct().count()
          if (overlap > 0L) throw new graft.ReplayRefused(
            s"writeDedupIndex append refused: $overlap batch id(s) are " +
              s"already in the index at $path — a duplicated/retried " +
              "append would corrupt Jaccard verify counts")
        }
      }
    }
    val staging = new org.apache.hadoop.fs.Path(s"$path/_staging/$bid")
    // VERIFIED wipe: the writes below refresh only CHILDREN of the
    // rename source, so a silently surviving sibling from a crashed
    // earlier stage would be committed by the publish rename
    if (fs.exists(staging) && !fs.delete(staging, true))
      throw new IllegalStateException(
        s"cannot wipe stale staging at $staging before publishing " +
          s"batch $bid")
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
    // atomic publish, each written with its own partitioning — the
    // caller coalesces a batch-sized record, corpus-sized evidence
    // keeps its parallelism
    sideTables.foreach { case (name, t) =>
      t.write.mode("overwrite").parquet(s"$staging/$name")
    }
    if (stored.isEmpty) writeIndexMeta(fs, path, meta)
    fs.mkdirs(batchDir.getParent)
    if (!fs.rename(staging, batchDir)) throw new IllegalStateException(
      s"cannot publish staged batch $staging to $batchDir")
    bid
  }

  /** One batch's side of the incremental dedup index, derived once and
    * read by the candidate probe, the Jaccard verify and the publish:
    * the batch's df-capped shingles `sh` (sid, sh), cached, and its
    * band buckets `bands` (sid, band, bucket) derived from them, under
    * the index's signature scheme (`k`, `rowsPerBand`, `cap` — the
    * `_meta` values).
    *
    * A `local` sketch sits on ONE partition (see [[LocalBatchRows]]):
    * its df-cap and signature aggregate run without an exchange, so
    * each reader re-derives the bands in-task, and `shRows` is its
    * measured shingle-row count (-1 for any other sketch). Otherwise it
    * is the exchange form ([[shingleIndex]]'s fan-out, [[capDocFreq]]),
    * and a reader that scans the bands more than once caches them.
    */
  private[graft] final case class BatchSketch(sh: DataFrame,
                                              bands: DataFrame, k: Int,
                                              rowsPerBand: Int, cap: Int,
                                              local: Boolean,
                                              shRows: Long)

  /** The largest batch, in rows, that is sketched on one partition and
    * may be verified in one task. It bounds the serial work, not the
    * memory: the one-partition sketch's window, aggregate and cache
    * spill like any Spark operator, and the verify task's resident
    * maps are gated by [[LocalVerifyBytes]] on measured row counts.
    * What it does bound in that task is the per-document state — the
    * batch's band buckets (k/rowsPerBand entries a document) and one
    * document's within-batch neighbour set (≤ this many ids). Larger
    * batches run the exchange form, which spreads over the cluster.
    */
  private[graft] val LocalBatchRows: Long = 4096L

  /** The batch-local verify task's memory budget: half of a 4-core
    * local executor's ~250 MB unified-memory share per task at a 2 GB
    * heap. The task holds every batch shingle and every stored shingle
    * of the batch's candidates in Java hash maps, plus the stored
    * candidate pairs in a hash set; [[verifyTaskBytes]] prices them
    * from the counts the path measures before the task runs (the
    * sketch's shingle rows, the stored-band probe's rows, the
    * semi-joined stored shingle rows). Over budget — long documents, or
    * a crowded bucket pulling many stored copies of a template — the
    * exchange verify runs instead.
    */
  private[graft] val LocalVerifyBytes: Long = 128L << 20

  /** Resident bytes of the one-task verify: ~150 B a batch shingle
    * (string, map node, table slot), ~200 B a stored shingle (the same
    * plus its dedup-set node) and ~100 B a stored candidate pair row
    * (boxed tuple, set node). Within-batch pairs are never held: the
    * task forms them one document at a time.
    */
  private def verifyTaskBytes(batchShingles: Long, storedShingles: Long,
                              storedPairs: Long): Long =
    150L * batchShingles + 200L * storedShingles + 100L * storedPairs

  /** Build `batch`'s [[BatchSketch]], run `body` on it, and release
    * its cached shingles on every exit (one scope, so an increment's
    * probe, verify and publish all read the same sketch).
    */
  private[graft] def withBatchSketch[T](batch: DataFrame, idCol: String,
                                        textCol: String, k: Int,
                                        rowsPerBand: Int, cap: Int,
                                        local: Boolean)
                                       (body: BatchSketch => T): T = {
    val sh =
      if (local) {
        // one partition, no fan-out; the df-cap is a window over that
        // partition (no exchange), keeping exactly capDocFreq's rows
        val one = shingleRows(batch.coalesce(1).select(
          col(idCol).as("sid"), TextFunctions.tokens(col(textCol)).as("__ws")))
        if (cap < 0) one
        else one.withColumn("__df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
          .filter(col("__df") <= cap).drop("__df")
      } else {
        val all = shingleIndex(batch, idCol, textCol)
        if (cap < 0) all else capDocFreq(all, cap)
      }
    graft.Checkpoints.cached(sh) { s =>
      // under AQE every not-yet-built cached scan in a plan is its own
      // cache-building job, and the batch-local verify's plan scans the
      // shingles several times: build them here, once — the count is
      // the verify budget's batch term
      val shRows = if (local) rowsUpTo(s) else -1L
      body(BatchSketch(s, bandBuckets(signatureFromIndex(s, k), k,
          rowsPerBand).select(col("sid"), col("bk.band").as("band"),
          col("bk.bucket").as("bucket")), k, rowsPerBand, cap, local,
        shRows))
    }
  }

  /** Remove one published batch from a [[writeDedupIndex]] index — the
    * executable repair for an indexed-but-never-landed batch (see
    * [[graft.Pipeline.corpusIncrement]]'s commit protocol, which
    * normally recovers WITHOUT this: the helper exists for operator
    * intervention, e.g. re-ingesting a batch that was published with
    * bad data). Returns true if the batch existed.
    *
    * Crash honesty: the batch leaves visibility with one ATOMIC
    * rename into `_dropping/` (readers list only `batches/`), and
    * only then does the recursive delete run — a crash mid-delete
    * leaves invisible residue, never a PARTIAL batch whose surviving
    * band files would silently shrink candidate generation. Residue
    * under `_dropping/` is reclaimed by the next drop of the same id.
    */
  def dropBatchFromIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, batchId: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/batches/$batchId")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/_staging/$batchId"),
      true)
    val dropping =
      new org.apache.hadoop.fs.Path(s"$path/_dropping/$batchId")
    fs.delete(dropping, true)
    if (!fs.exists(p)) false
    else {
      fs.mkdirs(dropping.getParent)
      require(fs.rename(p, dropping),
        s"cannot move batch $batchId out of visibility ($p → $dropping)")
      fs.delete(dropping, true)
      true
    }
  }

  /** DOC-LEVEL RETRACTION (the takedown/opt-out path, R1 — the
    * [[Bm25.retractFromBm25Index]] discipline on the directory-
    * visibility index): physically remove `sids`' band/shingle rows —
    * and `normHashes`' exact-dup evidence — from every published
    * batch. Per affected batch the remainder republishes as a fresh
    * `r…` batch directory (atomic rename), and the superseded batch
    * is TOMBSTONED the compaction way: payload tables delete, the
    * directory and its `_landed`/`accepted` markers stay — so the
    * replay guard still refuses the original batch (a replay would
    * resurrect the retracted doc) and [[graft.Pipeline]]'s landed
    * probes are unchanged. Crash honesty matches [[compactDedupIndex]]:
    * a crash between the republish and the tombstoning leaves
    * duplicate rows that reads already tolerate AND the retracted
    * rows still visible — re-run the retraction to finish. Returns
    * the number of distinct retracted sids found across batches.
    */
  def retractFromDedupIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String, sids: Seq[String],
                            normHashes: Seq[String] = Nil): Long = {
    require(sids.nonEmpty || normHashes.nonEmpty,
      "retractFromDedupIndex needs sids or normHashes")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    val sidDf = sids.toDF("sid").distinct()
    val hashDf = normHashes.toDF("norm_hash").distinct()
    val base = new org.apache.hadoop.fs.Path(s"$path/batches")
    if (!fs.exists(base)) return 0L
    // the compactDedupIndex entry guard: a mid-landing batch's
    // `accepted/` record is live recovery state — tombstoning it
    // would destroy the resume path; finish or drop the landing first
    val midLanding = fs.listStatus(base).filter(_.isDirectory)
      .map(_.getPath).filter(b =>
        fs.exists(new org.apache.hadoop.fs.Path(b, "accepted")) &&
          !fs.exists(new org.apache.hadoop.fs.Path(b, "_landed")))
    require(midLanding.isEmpty,
      s"refusing to retract from $path: ${midLanding.length} " +
        "batch(es) are mid-landing (commit record without _landed) — " +
        "resume or drop them first: " +
        midLanding.map(_.getName).mkString(", "))
    var found = 0L
    fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .sortBy(_.getName).foreach { bdir =>
        val b = bdir.getName
        def sub(t: String) = new org.apache.hadoop.fs.Path(bdir, t)
        def readSub(t: String) = spark.read
          .option("recursiveFileLookup", "true")
          .parquet(sub(t).toString)
        val hasBands = fs.exists(sub("bands"))
        val hasShingles = fs.exists(sub("shingles"))
        val hasHashes = fs.exists(sub("hashes"))
        // the stored sid column keeps the ingest's type (bigint ids
        // are common); cast the request to it so the join is typed,
        // never coercion-dependent
        def sidAs(t: org.apache.spark.sql.types.DataType) =
          sidDf.select(col("sid").cast(t).as("sid"))
        val sidHits =
          if (sids.isEmpty || !hasBands) 0L
          else {
            val b0 = readSub("bands")
            b0.select(col("sid"))
              .join(broadcast(sidAs(b0.schema("sid").dataType)),
                Seq("sid"), "left_semi")
              .distinct().count()
          }
        def hashes = readHashTables(spark, Seq(sub("hashes").toString))
        val hashHits =
          if (normHashes.isEmpty || !hasHashes) 0L
          else hashes
            .join(broadcast(hashDf), Seq("norm_hash"), "left_semi")
            .distinct().count()
        if (sidHits > 0L || hashHits > 0L) {
          found += sidHits
          // the remainder republishes under the shared rewrite id; a
          // batch whose every table emptied publishes nothing
          IndexProtocol.publishStaged(fs, path,
            IndexProtocol.rewriteId(b, sids ++ normHashes)) { staging =>
            var wroteAny = false
            if (hasBands) {
              val b0 = readSub("bands")
              val rem = b0.join(
                broadcast(sidAs(b0.schema("sid").dataType)),
                Seq("sid"), "left_anti")
              if (!rem.isEmpty) {
                rem.withColumn("band_p", col("band"))
                  .repartition(col("band_p"))
                  .write.mode("overwrite").partitionBy("band_p")
                  .parquet(s"$staging/bands")
                wroteAny = true
              }
            }
            if (hasShingles) {
              val s0 = readSub("shingles")
              val rem = s0.join(
                broadcast(sidAs(s0.schema("sid").dataType)),
                Seq("sid"), "left_anti")
              if (!rem.isEmpty) {
                rem.write.mode("overwrite").parquet(s"$staging/shingles")
                wroteAny = true
              }
            }
            if (hasHashes) {
              val rem = hashes
                .join(broadcast(hashDf), Seq("norm_hash"), "left_anti")
              if (!rem.isEmpty) {
                rem.write.mode("overwrite").parquet(s"$staging/hashes")
                wroteAny = true
              }
            }
            if (wroteAny) Some(()) else None
          }
          // tombstone the superseded batch: payloads go — `accepted`
          // included, since it carries the retracted docs' TEXT and
          // is dead state once `_landed` exists (the compaction
          // precedent) — while the directory + markers stay (replay
          // refusal and landed probes unchanged)
          Seq("bands", "shingles", "hashes", "accepted").foreach(t =>
            fs.delete(sub(t), true))
        }
      }
    found
  }

  /** Index MAINTENANCE: merge every published batch's bands/shingles
    * into ONE batch directory — the compaction a years-lived daily
    * index eventually needs (file and directory counts grow one batch
    * per day; see docs/SCALE.md). Correctness-preserving by
    * construction: queries read the same (sid, band, bucket) and
    * (sid, sh) row sets afterwards (spec-asserted identical results).
    *
    * The REPLAY CONTRACT survives compaction: old batch directories
    * are kept as payload-free tombstones (their `_landed` markers
    * intact), so both [[writeDedupIndex]]'s exact-replay guard and
    * [[graft.Pipeline.corpusIncrement]]'s landed-marker probe refuse
    * re-submissions exactly as before — [[batchSubPaths]] already
    * skips directories without the requested table, so tombstones
    * cost nothing at read time.
    *
    * Crash honesty: the merged batch publishes first (atomic rename),
    * then old payloads are deleted. A crash between the two leaves
    * duplicate rows visible — which the read path already tolerates
    * (candidates are `distinct`ed and stored shingles are deduped on
    * read), so the residue degrades performance, never counts; re-run
    * the compaction to finish the cleanup. Batches that are
    * mid-landing (a commit record without its `_landed` marker) make
    * the compaction refuse: their `accepted/` record is the recovery
    * state [[graft.Pipeline.corpusIncrement]] still needs.
    *
    * SINGLE MAINTAINER contract (all three indexes): compact/drop and
    * the append/streaming ingest are one logical writer — run
    * maintenance in the same scheduler slot as ingest, never
    * concurrently (a batch published mid-compaction could lose its
    * payload to the tombstoning pass).
    *
    * Returns the merged batch's id.
    */
  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String): String = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bandPaths = batchSubPaths(fs, path, "bands")
    require(bandPaths.nonEmpty,
      s"no published batches to compact at $path")
    val batchDirs = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$path/batches"))
      .filter(_.isDirectory).map(_.getPath)
    val midLanding = batchDirs.filter(b =>
      fs.exists(new org.apache.hadoop.fs.Path(b, "accepted")) &&
        !fs.exists(new org.apache.hadoop.fs.Path(b, "_landed")))
    require(midLanding.isEmpty,
      s"refusing to compact $path: ${midLanding.length} batch(es) are " +
        "mid-landing (commit record without _landed) — resume or drop " +
        s"them first: ${midLanding.map(_.getName).mkString(", ")}")
    // diagnose BEFORE destroying (the A6f audit at maintenance entry,
    // the meta-protocol indexes' preflightCompaction twin): a batch
    // with HALF a payload (exactly one of bands/shingles — impossible
    // under the atomic publish, so filesystem damage) must refuse —
    // merging the surviving half and tombstoning the directory would
    // silently shrink candidate generation and destroy the evidence,
    // while before compaction the incident is recoverable (restore
    // the directory, or dropBatchFromIndex + re-ingest)
    val partial = IndexAudit.auditDedup(spark, path)
      .collect { case IndexProtocol.AuditFinding(
        "batch", b, "partial_payload", _) => b }
    if (partial.nonEmpty) throw new graft.IndexUnhealthy(
      s"refusing to compact $path: batch(es) " +
        s"${partial.mkString(", ")} have a partial payload (exactly " +
        "one of bands/shingles survives) — compacting would merge the " +
        "surviving half and tombstone the evidence, silently shrinking " +
        "candidate generation; restore the directory or " +
        "dropBatchFromIndex + re-ingest (IndexAudit.auditDedup for the " +
        "full report)")
    val bands = readBatchTables(spark, bandPaths).distinct()
    val shingles =
      readBatchTables(spark, batchSubPaths(fs, path, "shingles"))
        .distinct()
    val cid = batchId(bands, "sid")
    val merged = new org.apache.hadoop.fs.Path(s"$path/batches/$cid")
    if (!fs.exists(merged)) {
      val staging = new org.apache.hadoop.fs.Path(s"$path/_staging/$cid")
      // verified wipe — the writes below refresh only children of
      // the rename source (the append path's rationale)
      if (fs.exists(staging) && !fs.delete(staging, true))
        throw new IllegalStateException(
          s"cannot wipe stale compaction staging at $staging")
      // DEFRAGMENT, not just merge (the compactBm25Index rationale):
      // cluster rows by their partition value before each partitioned
      // write so every partition dir lands as ~one file instead of
      // one per (task × value) — file count is what compaction cuts
      bands.withColumn("band_p", col("band"))
        .repartition(col("band_p"))
        .write.mode("overwrite").partitionBy("band_p")
        .parquet(s"$staging/bands")
      shingles.write.mode("overwrite").parquet(s"$staging/shingles")
      // the exact-dup evidence (corpus pipelines only) compacts with
      // everything else: every batch's `hashes/` — either layout —
      // folds into one unpartitioned table the probe reads as one
      readBatchHashes(spark, path).foreach(
        _.distinct().write.mode("overwrite").parquet(s"$staging/hashes"))
      if (!fs.rename(staging, merged)) throw new IllegalStateException(
        s"cannot publish compacted batch $staging to $merged")
    }
    // tombstone the superseded batches: drop payloads, keep the
    // directory + marker so replay refusal is unchanged
    batchDirs.filter(_.getName != cid).foreach { b =>
      Seq("bands", "shingles", "accepted", "hashes").foreach(t =>
        fs.delete(new org.apache.hadoop.fs.Path(b, t), true))
    }
    cid
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
    * measured verify state fits [[LocalVerifyBytes]], the candidate
    * grouping and verify run in one executor task ([[localMatch]]),
    * so the batch side costs a handful of Spark jobs instead of one
    * per exchange. Larger batches, and state over the budget, run the
    * exchange form. Both return the same pairs (spec-asserted:
    * AgainstIndexParitySpec).
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
  private def rowsUpTo(df: DataFrame, upTo: Long = Long.MaxValue): Long = {
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
    * force either form with it).
    */
  private[graft] def withIndexSketch[T](batch: DataFrame, idCol: String,
                                        textCol: String, path: String,
                                        rows: => Long, k: Int = 16,
                                        rowsPerBand: Int = 2,
                                        localRows: Long = LocalBatchRows)
                                       (body: BatchSketch => T): T = {
    // the batch side MUST run the same signature scheme and df-cap the
    // stored index was built with (see writeDedupIndex's meta
    // rationale) — inherit the cap, refuse a k/band mismatch
    val cap = indexCap(fsFor(batch, path), path, k, rowsPerBand, None,
      "query")
    // long ids only: the one-task verify keys its maps by long id
    val local = localRows >= 0 && batch.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType && rows <= localRows
    withBatchSketch(batch, idCol, textCol, k, rowsPerBand, cap, local)(body)
  }

  /** The verified (id_a, id_b, jaccard) pairs of a sketched batch
    * against the index at `path` and against itself, materialized (the
    * result outlives the sketch's scope). A local sketch runs
    * [[localMatch]] under the `verifyBytes` budget (specs shrink it);
    * any other sketch, or one over budget, runs the exchange form: a
    * band-bucket join against the stored bands plus the batch's
    * self-join, then [[jaccardVerify]] over the batch shingles and the
    * candidate-restricted stored shingles.
    */
  private[graft] def matchSketch(sk: BatchSketch, path: String,
                                 thresholdNum: Int = 1,
                                 thresholdDen: Int = 2,
                                 verifyBytes: Long = LocalVerifyBytes)
      : DataFrame = {
    val spark = sk.sh.sparkSession
    val fs = fsFor(sk.sh, path)
    val bandPaths = batchSubPaths(fs, path, "bands")
    require(bandPaths.nonEmpty,
      s"no dedup index published at $path — build one with " +
        "writeDedupIndex before querying against it")
    val shinglePaths = batchSubPaths(fs, path, "shingles")
    // the stored tables share the batch's schema (same id column), so
    // no footer-reading schema inference job runs
    def stored(paths: Seq[String], as: DataFrame) =
      spark.read.schema(as.schema).option("recursiveFileLookup", "true")
        .parquet(paths: _*)
    val local =
      if (!sk.local) None
      else localMatch(sk, stored(bandPaths, sk.bands),
        stored(shinglePaths, sk.sh), thresholdNum, thresholdDen, verifyBytes)
    local.getOrElse {
      val idxBk = readBatchTables(spark, bandPaths)
      val idxSh = readBatchTables(spark, shinglePaths)
      // the batch's band table feeds the index join AND the batch
      // self-join; it is released before the verify runs
      val cand = graft.Checkpoints.cached(sk.bands) { newBk =>
        val vsIndex = newBk.as("a")
          .join(idxBk.as("b"),
            col("a.band") === col("b.band") &&
              col("a.bucket") === col("b.bucket") &&
              col("a.sid") =!= col("b.sid"))
          .select(least(col("a.sid"), col("b.sid")).as("id_a"),
            greatest(col("a.sid"), col("b.sid")).as("id_b"))
        val vsSelf = newBk.as("a")
          .join(newBk.as("b"),
            col("a.band") === col("b.band") &&
              col("a.bucket") === col("b.bucket") &&
              col("a.sid") < col("b.sid"))
          .select(col("a.sid").as("id_a"), col("b.sid").as("id_b"))
        graft.Checkpoints.truncate(vsIndex.unionByName(vsSelf).distinct())
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
      val storedSh = idxSh
        .join(candIds, col("sid") === col("cid"), "left_semi")
        .distinct()
      graft.Checkpoints.truncate(jaccardVerify(sk.sh.unionByName(storedSh),
        Some(cand), thresholdNum, thresholdDen))
    }
  }

  /** The batch-local form of [[matchSketch]] (`idxBk`, `idxSh`: the
    * stored bands and shingles), or None when the verify task's
    * measured state would exceed `verifyBytes` ([[verifyTaskBytes]]).
    * Only the stored scans run in parallel: the batch's buckets
    * broadcast into the stored band scan, and the batch ids plus the
    * stored candidate ids broadcast into the stored shingle scan; each
    * result is cached and counted in one job ([[rowsUpTo]]), read once
    * by the gate and once by the task. Everything else is ONE executor
    * task (the [[resolveGroups]] union-find precedent): it receives the
    * stored candidate pairs, the batch's bands and shingles and the
    * semi-joined stored shingles as tagged rows, forms the within-batch
    * pairs one document at a time from the (band, bucket) groups, and
    * counts each candidate pair's shared shingles and set sizes exactly
    * as [[jaccardVerify]]'s joins do (stored rows deduped, batch rows
    * as they are). [[jaccardOf]] then applies the same threshold and
    * rounding, so the output equals the exchange form's (spec-pinned:
    * AgainstIndexParitySpec).
    */
  private def localMatch(sk: BatchSketch, idxBk: DataFrame,
                         idxSh: DataFrame, thresholdNum: Int,
                         thresholdDen: Int,
                         verifyBytes: Long): Option[DataFrame] = {
    // one row shape for the task's four inputs, told apart by `t`:
    // 0 stored candidate pair (a batch sid, b stored sid), 1 batch band
    // (a sid, b band, s bucket), 2 batch shingle and 3 stored shingle
    // (a sid, s shingle)
    def tagged(t: Int, a: Column, b: Column, s: Column) =
      Seq(lit(t).as("t"), a.cast("long").as("a"), b.cast("long").as("b"),
        s.cast("string").as("s"))
    val probe = idxBk.join(broadcast(sk.bands.select(col("sid").as("__n"),
          col("band").as("__b"), col("bucket").as("__k"))),
        col("band") === col("__b") && col("bucket") === col("__k") &&
          col("sid") =!= col("__n"))
      .select(tagged(0, col("__n"), col("sid"), lit(null)): _*)
    graft.Checkpoints.cached(probe) { pairRows =>
      val nPairs = rowsUpTo(pairRows)
      if (verifyTaskBytes(sk.shRows, 0L, nPairs) > verifyBytes) None
      else {
        // the batch's ids ride along: a batch id that is also stored (a
        // landing-zone violation) gets its stored rows, as in the
        // exchange form's candidate-id semi-join
        val ids = pairRows.select(col("b").as("__id"))
          .unionByName(sk.bands.select(col("sid").as("__id")))
        val storedSh = idxSh.join(broadcast(ids), col("sid") === col("__id"),
            "left_semi")
          .select(tagged(3, col("sid"), lit(null), col("sh")): _*)
        graft.Checkpoints.cached(storedSh) { shRows =>
          if (verifyTaskBytes(sk.shRows, rowsUpTo(shRows), nPairs) >
              verifyBytes) None
          else Some(verifyInOneTask(pairRows
            .unionByName(sk.bands.select(
              tagged(1, col("sid"), col("band"), col("bucket")): _*))
            .unionByName(sk.sh.select(
              tagged(2, col("sid"), lit(null), col("sh")): _*))
            .unionByName(shRows), thresholdNum, thresholdDen))
        }
      }
    }
  }

  /** [[localMatch]]'s task over its tagged rows, materialized. */
  private def verifyInOneTask(rows: DataFrame, thresholdNum: Int,
                              thresholdDen: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.collection.mutable.ArrayBuffer
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq("id_a", "id_b", "i", "n_a", "n_b")
      .map(StructField(_, LongType, nullable = false)))
    val verified = rows.repartition(1).mapPartitions { it =>
      type Counts = java.util.HashMap[String, java.lang.Integer]
      type Key = (Long, String)
      val counts = new java.util.HashMap[java.lang.Long, Counts]()
      val storedSeen =
        new java.util.HashMap[java.lang.Long, java.util.HashSet[String]]()
      // (band, bucket) -> batch sids, and sid -> its (band, bucket)s
      val members = new java.util.HashMap[Key, ArrayBuffer[Long]]()
      val keys = new java.util.HashMap[java.lang.Long, ArrayBuffer[Key]]()
      val storedPairs = new java.util.HashSet[(Long, Long)]()
      def addShingle(sid: Long, sh: String): Unit = {
        val m = counts.computeIfAbsent(sid, _ => new Counts())
        m.merge(sh, Integer.valueOf(1),
          (x, y) => Integer.valueOf(x.intValue + y.intValue)); ()
      }
      it.foreach { r =>
        val a = r.getLong(1)
        r.getInt(0) match {
          case 0 =>
            val b = r.getLong(2)
            storedPairs.add((math.min(a, b), math.max(a, b)))
          case 1 =>
            val key = (r.getLong(2), r.getString(3))
            members.computeIfAbsent(key, _ => ArrayBuffer.empty[Long]) += a
            keys.computeIfAbsent(a, _ => ArrayBuffer.empty[Key]) += key
          case 2 => addShingle(a, r.getString(3))
          case _ =>
            if (storedSeen.computeIfAbsent(a,
                _ => new java.util.HashSet[String]()).add(r.getString(3)))
              addShingle(a, r.getString(3))
        }
        ()
      }
      storedSeen.clear()
      val sizes = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      counts.forEach { (sid, m) =>
        var n = 0L; m.values().forEach(c => n += c.longValue)
        sizes.put(sid, n); ()
      }
      // within-batch pairs (a, c), a < c, one document's neighbour set
      // at a time — never the whole pair set; a pair the stored probe
      // also found is left to `storedPairs`
      val batchPairs = keys.asScala.iterator.flatMap { case (a, ks) =>
        val near = new java.util.HashSet[Long]()
        ks.foreach(members.get(_).foreach(c => if (c > a) near.add(c)))
        near.asScala.iterator.map(c => (a.longValue, c))
          .filterNot(p => storedPairs.contains(p))
      }
      (batchPairs ++ storedPairs.asScala.iterator).flatMap { case (a, b) =>
        val (ma, mb) = (counts.get(a), counts.get(b))
        if (ma == null || mb == null) None
        else {
          val (small, big) = if (ma.size <= mb.size) (ma, mb) else (mb, ma)
          var i = 0L
          small.forEach((sh, c) => {
            val o = big.get(sh)
            if (o != null) i += c.longValue * o.longValue
          })
          if (i > 0) Some(Row(a, b, i, sizes.get(a), sizes.get(b)))
          else None
        }
      }
    }(org.apache.spark.sql.Encoders.row(schema))
    graft.Checkpoints.truncate(jaccardOf(verified.toDF(), col("n_a"),
      col("n_b"), thresholdNum, thresholdDen))
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
