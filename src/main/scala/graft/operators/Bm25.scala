package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** T13 — BM25 lexical retrieval (SURVEY.md §2.8): the sparse/keyword
  * complement to the dense ANN family (A1–A5) — together they are
  * hybrid retrieval. Okapi BM25 with the Lucene-style always-positive
  * idf: score(d, q) = Σ_t ln(1 + (N − df + 0.5)/(df + 0.5)) ·
  * tf/(tf + k1·(1 − b + b·len/avgdl)).
  *
  * Scale shape — the inverted-index probe, not a corpus scorer:
  * postings are filtered to the QUERY's terms at the scan (a handful
  * of terms → the tf table carries only matching (doc, term) rows),
  * df for those terms is a tiny aggregate broadcast back, and the
  * final per-document sum is over ≤|query| rows per doc. A real
  * deployment materializes the postings table once
  * (doc, term, tf, len — one explode + groupBy) and serves many
  * queries from it; `bm25TopK` inlines that build for a single query.
  *
  * Cross-engine gating discipline: every input to the score is an
  * exact integer (tf, df, N, doc len, Σ len); the only transcendental
  * is the idf ln, whose possible last-ulp libm difference dies in the
  * 9-dp per-term rounding; per-term scores sum in EXACT DECIMAL
  * (order-free), and the final score rounds to 6 dp before the
  * (score desc, id) ranking — so ranks cannot be reordered by
  * float noise. The DuckDB mirror recomputes everything.
  */
object Bm25 {

  /** Query-side tokenization — MUST match the document side
    * ([[graft.functions.TextFunctions.BpePattern]] over lowercased
    * text), or a query term can never hit its postings.
    */
  def queryTerms(query: String): Seq[String] =
    graft.functions.TextFunctions.BpePattern.r
      .findAllIn(query.toLowerCase(java.util.Locale.ROOT)).toSeq.distinct

  /** Top-k documents for one query. Output: (id, score, rank), rank
    * dense 1..k by (score desc, id) — a total order. Documents
    * containing no query term score zero and are absent.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               query: String, k: Int, k1: Double = 1.2,
               b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val terms = queryTerms(query)
    require(terms.nonEmpty, s"query has no tokens: '$query'")
    // one tokenize scan, cached across the corpus-scalar pull and
    // the postings build
    graft.Checkpoints.cached(graft.sources.Tables.fanOut(
        docs.select(col(idCol),
          graft.functions.TextFunctions.bpeTokens(lower(col(textCol)))
            .as("__t")))
      .withColumn("__len", size(col("__t")).cast("bigint"))) { base =>
      // two bounded corpus scalars (N, Σlen) — exact integers
      val s = base.agg(count(lit(1)).as("n"), sum(col("__len")).as("sl"))
        .head()
      val n = s.getLong(0)
      val sl = s.getLong(1)
      val tf = base
        .select(col(idCol), col("__len"), explode(col("__t")).as("term"))
        .filter(col("term").isin(terms: _*))
        .groupBy(col(idCol), col("__len"), col("term"))
        .agg(count(lit(1)).as("tf"))
      graft.Checkpoints.truncate(
        scorePostings(tf, idCol, n, sl, k, k1, b)) // ≤k rows
    }
  }

  /** Shared scoring tail of the inline and indexed forms: a
    * query-term-restricted postings table `(idCol, __len, term, tf)`
    * plus the two corpus scalars → (id, score, rank). Both callers
    * feed EXACT integers (tf, df, N, len, Σlen), so the two forms are
    * bit-identical by construction — the index only changes where the
    * postings come from, never the arithmetic.
    */
  private def scorePostings(tf: DataFrame, idCol: String, n: Long,
                            sumLen: Long, k: Int, k1: Double,
                            b: Double): DataFrame = {
    val avgdl = sumLen.toDouble / n.toDouble
    val dfT = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df")) // one row per (doc, term) upstream
    val idf = log(lit(1.0) +
      (lit(n.toDouble) - col("df").cast("double") + 0.5) /
        (col("df").cast("double") + 0.5))
    val tfNorm = col("tf").cast("double") /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("__len").cast("double") /
          avgdl))
    // plain decimal sum, DELIBERATELY (r19): a document's score sums
    // ≤|query| per-term values, so the (28,9) accumulator stays on
    // Decimal's compact-long fast path; the r18 limb wiring (unscaled
    // projection + sum128Long) was re-measured isolated and lost
    // ~10-30% here — reverted by the same empirical rule as the
    // warehouse sums (guide §1.1).
    val perTerm = tf.join(broadcast(dfT), Seq("term"))
      .select(col(idCol),
        round(idf * tfNorm, 9).cast("decimal(18,9)").as("__s"))
    val scored = perTerm.groupBy(col(idCol))
      .agg(round(sum(col("__s")).cast("double"), 6).as("score"))
    // ranking runs on the ROUNDED score (id tie-break), so float
    // noise cannot reorder ranks across engines; the top-k itself is
    // the combinable bounded aggregate — k rows ship per partition,
    // never a global sort of every matching document
    scored
      .agg(Similarity.topKByAgg(col("score"), col(idCol), k).as("__tk"))
      .select(posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(col("__e.id").as(idCol), col("__e.score").as("score"),
        (col("__pos") + 1).cast("bigint").as("rank"))
  }

  // ---- T13 (serve shape) — the persisted postings index ----------

  /** 2-hex-char sha256 prefix of a term — the postings partition key.
    * Hash-derived (not the raw term) because terms are arbitrary
    * strings and a partition VALUE must be path-safe; 256 partitions
    * balance any vocabulary skew (a head term's postings spread over
    * the files WITHIN its partition, which stays one prefix dir).
    * Driver side of the same function: [[termPrefix]].
    */
  private def termPrefixCol(term: Column): Column =
    substring(sha2(term, 256), 1, 2)

  private[graft] def termPrefix(term: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(term.getBytes("UTF-8"))
      .take(1).map("%02x".format(_)).mkString

  // one shared resolver ([[graft.sources.Tables.fsFor]]) so "the same
  // FS primitive as every publish path" is structural, not copy-paste
  private def fsFor(spark: org.apache.spark.sql.SparkSession,
                    path: String): org.apache.hadoop.fs.FileSystem =
    graft.sources.Tables.fsFor(spark, path)

  /** The `term_p=<prefix>` partition directories matching the query's
    * terms, across every batch LISTED IN THE META — EXPLICIT paths
    * (one driver listStatus per listed batch, no data read), so the
    * probe's scanned input is proportional to the query's term count
    * and the ingest-batch count, never the corpus vocabulary. Only
    * meta-listed batches are visible: a batch directory whose meta
    * swap hasn't committed yet (a crashed [[appendBm25Index]]) is
    * simply invisible, keeping N/Σlen and the visible postings in
    * lock-step. Exposed package-private so the spec can assert the
    * pruning contract on the literal path set.
    *
    * Takes the CALLER's meta snapshot rather than re-reading it: a
    * probe reads `_meta` exactly once and threads it everywhere, so a
    * concurrent append/drop landing mid-probe can never pair one
    * snapshot's N/Σlen scalars with another's visibility list — the
    * probe serves a single committed view, torn-free. Caveat on
    * PHYSICAL deletion: a drop/compact that deletes a directory
    * while an in-flight probe's job still holds its resolved paths
    * fails that probe LOUDLY (missing files — never wrong results);
    * the retry reads the post-maintenance view. Deployments that
    * cannot retry probes should delay physical deletion by a grace
    * period after the meta swap.
    */
  private[graft] def prunedPostingPaths(
      spark: org.apache.spark.sql.SparkSession, path: String,
      meta: Bm25Meta, terms: Seq[String]): Seq[String] = {
    val fs = fsFor(spark, path)
    val wanted = terms.map(t => s"term_p=${termPrefix(t)}").toSet
    meta.batches.flatMap(termDirs(fs, path, _))
      .filter(d => wanted(new org.apache.hadoop.fs.Path(d).getName))
  }

  /** Convenience form for callers without a snapshot in hand (specs,
    * one-off tooling): reads the meta itself, then delegates.
    */
  private[graft] def prunedPostingPaths(
      spark: org.apache.spark.sql.SparkSession, path: String,
      terms: Seq[String]): Seq[String] =
    prunedPostingPaths(spark, path, readBm25Meta(spark, path), terms)

  /** The committed state of the index: the corpus scalars (N, Σlen),
    * the id column's name and type, and the shared batch lists
    * ([[IndexProtocol.Listed]]: `gen` is the swap fence).
    */
  private[graft] final case class Bm25Meta(n: Long, sumLen: Long,
                                           idCol: String, idType: String,
                                           batches: Seq[String],
                                           retired: Seq[String] = Nil,
                                           gen: Long = 0L)
      extends IndexProtocol.Listed

  /** The postings layout on the shared batch-list protocol: head
    * `n, sum_len, id_col, id_type`.
    */
  private object Layout extends IndexProtocol.BatchList[Bm25Meta](
      "BM25 index", "writeBm25Index", "double every tf/df it carries") {
    protected def head(m: Bm25Meta) = Seq("n" -> m.n,
      "sum_len" -> m.sumLen, "id_col" -> m.idCol, "id_type" -> m.idType)
    protected def fromKv(kv: Map[String, String], batches: Seq[String],
                         retired: Seq[String], gen: Long) =
      Bm25Meta(kv("n").toLong, kv("sum_len").toLong, kv("id_col"),
        kv.getOrElse("id_type", "bigint"), batches, retired, gen)
    protected def withLists(m: Bm25Meta, batches: Seq[String],
                            retired: Seq[String], gen: Long) =
      m.copy(batches = batches, retired = retired, gen = gen)
  }

  /** The committed meta ALONG WITH its raw bytes (the CAS expectation
    * of a maintenance swap).
    */
  private[graft] def readBm25MetaRaw(
      spark: org.apache.spark.sql.SparkSession,
      path: String): (Bm25Meta, Array[Byte]) =
    Layout.read(fsFor(spark, path), path)

  private[graft] def readBm25Meta(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Bm25Meta = readBm25MetaRaw(spark, path)._1

  /** A batch's `term_p=*` postings partition directories — and ONLY
    * those: a stats or sidecar file a future layout drops into the
    * batch dir must never leak into a scan. Empty when the batch
    * directory is gone.
    */
  private def termDirs(fs: org.apache.hadoop.fs.FileSystem, path: String,
                       bid: String): Seq[String] = {
    val d = new org.apache.hadoop.fs.Path(s"$path/batches/$bid")
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("term_p="))
      .map(_.getPath.toString).toSeq
  }

  /** Write postings rows (id, len, term, tf) under `staging`,
    * partitioned by term prefix — the one layout every publish path
    * (append, retraction rewrite, compaction) writes. `cluster`
    * groups rows by prefix first, so each `term_p` dir lands as ~one
    * file instead of one per (task × prefix).
    */
  private def writePostings(rows: DataFrame,
                            staging: org.apache.hadoop.fs.Path,
                            cluster: Boolean = false): Unit = {
    val p = rows.withColumn("term_p", termPrefixCol(col("term")))
    (if (cluster) p.repartition(col("term_p")) else p)
      .write.mode("overwrite").partitionBy("term_p")
      .parquet(staging.toString)
  }

  /** Tokenize `docs` once and stage their postings under `staging`,
    * returning the batch's (n, Σlen) contribution. The scalars come
    * BEFORE any write: an empty batch refuses loudly here (all empty
    * sets share one content id — an empty append would permanently
    * block future empty-able ids), and the streams' skip-empty guard
    * is not a contract direct API callers inherit.
    */
  private def stagePostings(docs: DataFrame, idCol: String,
                            textCol: String,
                            staging: org.apache.hadoop.fs.Path)
      : (Long, Long) =
    graft.Checkpoints.cached(graft.sources.Tables.fanOut(
        docs.select(col(idCol),
          graft.functions.TextFunctions.bpeTokens(lower(col(textCol)))
            .as("__t")))
      .withColumn("len", size(col("__t")).cast("bigint"))) { base =>
      val s = base.agg(count(lit(1)).as("n"), sum(col("len")).as("sl"))
        .head()
      require(s.getLong(0) > 0L,
        s"refusing to publish empty batch ${staging.getName}: the batch " +
          "has no documents (all empty sets share one content id — an " +
          "empty append would permanently block future empty-able ids)")
      writePostings(
        base.select(col(idCol), col("len"), explode(col("__t")).as("term"))
          .groupBy(col(idCol), col("len"), col("term"))
          .agg(count(lit(1)).as("tf")),
        staging)
      (s.getLong(0), s.getLong(1))
    }

  /** T13 (production shape) — materialize the inverted index ONCE so
    * queries stop re-tokenizing the corpus: one directory per ingest
    * batch, `batches/<bid>/term_p=xx/`, holding one row per
    * (doc, term) — (id, term, tf, len) — partitioned by the term's
    * 2-hex sha256 prefix; `_meta` pins the corpus scalars (N, Σlen),
    * the id column name AND type, and the COMMITTED batch list. This
    * is the D8b discipline applied to lexical retrieval: build once,
    * probe many; the inline [[bm25TopK]] is the single-query form,
    * the index is what a serving tier keeps. df is NOT stored — the
    * pruned postings recompute it exactly for the probed terms (one
    * row per (doc, term) upstream across batches), so there is no
    * second table to keep consistent — and that is also what makes
    * the index APPEND-ABLE: postings rows, N and Σlen are all
    * additive, so daily docs land as one atomic batch directory plus
    * one meta swap ([[appendBm25Index]]) with no reconciliation.
    *
    * Commit protocol: postings first, `_meta` LAST — the meta is the
    * commit marker AND the visibility list, so a crash anywhere
    * leaves either a loudly-refused index (no meta) or a consistent
    * older view (batch dir present but unlisted = invisible). A
    * rebuild deletes the marker first; for zero-downtime republish,
    * build under a fresh path and swap.
    *
    * Reference anchor: the build-side analog of the reference's
    * warehouse truncate-and-reload materializations (bigquery.py:105)
    * — expensive derivation persisted once, served many times — with
    * appends as its `mode="append"` loads (bigquery.py:141).
    */
  def writeBm25Index(docs: DataFrame, idCol: String, textCol: String,
                     path: String): Unit = {
    val spark = docs.sparkSession
    val fs = fsFor(spark, path)
    // the marker first; stale snapshot records / grace markers from a
    // predecessor index at this path must not resolve against the new
    // one's batches
    Layout.wipe(fs, path, Seq("_meta", "_meta_history", "_pending_delete"))
    // id column NAME and TYPE both pin to the meta: the probe's
    // empty-result branch must produce the exact schema a non-empty
    // probe would, or downstream unions/comparisons break on the
    // no-match case
    Layout.bootstrap(fs, path, "bootstrap") { staging =>
      val (n, sl) = stagePostings(docs, idCol, textCol, staging)
      Bm25Meta(n, sl, idCol, docs.schema(idCol).dataType.sql, Nil)
    }
  }

  /** Daily lexical ingest: publish `docs` as one atomic postings
    * batch, then commit it with a meta swap that adds the batch to
    * the visibility list and the batch's (n, Σlen) to the corpus
    * scalars. Never touches existing batches; replayed batches refuse
    * loudly off the meta's committed list. The swap replaces `_meta`
    * atomically, so a crash leaves the old or the new meta. Returns
    * the batch id.
    */
  def appendBm25Index(docs: DataFrame, textCol: String, path: String,
                      batchId: Option[String] = None): String =
    Layout.append(fsFor(docs.sparkSession, path), path)(meta =>
      batchId.getOrElse(Dedup.batchId(docs, meta.idCol))) {
      (meta, staging) =>
        val (dn, dsl) = stagePostings(docs, meta.idCol, textCol, staging)
        meta.copy(n = meta.n + dn, sumLen = meta.sumLen + dsl)
    }

  /** Remove one COMMITTED batch — the executable repair for a batch
    * ingested with bad documents (re-ingest it after). The batch's
    * (n, Σlen) contribution is recomputed from its own postings
    * (distinct doc rows — batch-sized, never the corpus), subtracted
    * from the meta scalars, and the batch leaves the visibility list
    * in the same atomic meta swap as [[appendBm25Index]]; the
    * directory is deleted after the swap commits (an orphan dir left
    * by a crash between the two is invisible and reclaimed by the
    * next append of the same content). An IN-FLIGHT probe that
    * resolved the batch's paths under the pre-drop snapshot fails
    * loudly when the delete races its read — fail-closed, never a
    * silently wrong score; retry, or set `retainMs > 0`: the
    * delisted directory then stays in place (invisible — probes are
    * meta-driven) for at least that grace window, recorded under
    * `_pending_delete/` and reclaimed by a later maintenance call's
    * sweep (the [[IndexProtocol]] grace contract). If the batch's
    * payload directory is LOST (the audit's committed_missing_payload
    * — the incident [[IndexProtocol.preflightCompaction]] refuses on
    * and points at this drop as the remedy), the drop still works:
    * the scalars are rebuilt from the remaining committed batches'
    * postings (per-batch recounts summed, preserving double-ingest
    * counting) — the one data-sized pass in the protocol, reserved
    * for this remedial case. That rebuild refuses TYPED
    * ([[graft.IndexUnhealthy]]) when a SURVIVOR's payload is also
    * lost — it cannot contribute to the recount — naming the batch
    * and pointing at [[dropBm25Batches]], which delists any lost SET
    * in one swap (dropping the batches one at a time would refuse in
    * a circle: each rebuild needs the other survivor's postings).
    * Returns false if the batch was not committed.
    */
  def dropBm25Batch(spark: org.apache.spark.sql.SparkSession,
                    path: String, batchId: String,
                    retainMs: Long = 0L): Boolean =
    dropBm25Batches(spark, path, Seq(batchId), retainMs)

  /** [[dropBm25Batch]] for a SET of committed batches in ONE meta
    * swap — the remedy for the multi-loss incident the one-at-a-time
    * form cannot close: with two committed batches' payloads both
    * lost, each single drop's scalar rebuild refuses on the other
    * (it needs every survivor's postings), so the lost set must
    * delist TOGETHER — one swap, one rebuild over the true
    * survivors. Ids absent from the committed list are ignored
    * (idempotent retry); returns false when none was committed.
    */
  def dropBm25Batches(spark: org.apache.spark.sql.SparkSession,
                      path: String, batchIds: Seq[String],
                      retainMs: Long = 0L): Boolean = {
    require(batchIds.nonEmpty, "dropBm25Batches needs at least one id")
    val fs = fsFor(spark, path)
    val (meta, raw) = readBm25MetaRaw(spark, path)
    val dropSet = batchIds.toSet
    val drops = meta.batches.filter(dropSet)
    if (drops.isEmpty) false
    else {
      def scalars(dirs: Seq[String]): (Long, Long) =
        if (dirs.isEmpty) (0L, 0L)
        else {
          val s = spark.read.parquet(dirs: _*)
            .select(col(meta.idCol), col("len")).distinct()
            .agg(count(lit(1)).as("n"), sum(col("len")).as("sl"))
            .head()
          (s.getLong(0), if (s.isNullAt(1)) 0L else s.getLong(1))
        }
      def sumPairs(xs: Seq[(Long, Long)]): (Long, Long) =
        xs.foldLeft((0L, 0L)) { case ((an, asl), (bn, bsl)) =>
          (an + bn, asl + bsl)
        }
      def payloadPresent(b: String) = fs.exists(
        new org.apache.hadoop.fs.Path(s"$path/batches/$b"))
      val survivors = meta.batches.filterNot(dropSet)
      val (newN, newSl) =
        if (drops.forall(payloadPresent)) {
          // the normal remedial drop: subtract the dropped batches'
          // recounted contributions — drop-sized, never the corpus
          val (dn, dsl) =
            sumPairs(drops.map(b => scalars(termDirs(fs, path, b))))
          (meta.n - dn, meta.sumLen - dsl)
        } else {
          // the committed_missing_payload remedy (the incident the
          // audit preflight points here): a lost batch's contribution
          // cannot be recounted from its own lost rows, so REBUILD
          // the scalars from the remaining committed batches —
          // per-batch recounts summed, never one cross-batch distinct
          // (a doc double-ingested under two batch ids counts twice
          // in the scalars, exactly as the two appends counted it),
          // so the serve over the survivors is bit-identical to an
          // index that never saw the lost batches. A full-postings
          // pass, acceptable for an explicitly remedial operation. A
          // lost payload AMONG THE SURVIVORS is refused TYPED before
          // any listing — it cannot feed the recount, and letting
          // listStatus throw a raw FileNotFoundException mid-rebuild
          // would crash the documented repair path on the very damage
          // class it exists to remedy; the remedy is to include that
          // batch in the drop set.
          survivors.find(b => !payloadPresent(b))
            .foreach(lost => throw new graft.IndexUnhealthy(
              s"dropBm25Batches(${drops.mkString(",")}): committed " +
                s"batch $lost has also lost its payload directory at " +
                s"$path/batches/$lost — the scalar rebuild needs " +
                "every surviving batch's postings; include it in the " +
                s"drop set (dropBm25Batches(Seq(..., \"$lost\")))"))
          sumPairs(survivors.map(b => scalars(termDirs(fs, path, b))))
        }
      Layout.delist(fs, path,
        meta.copy(n = newN, sumLen = newSl, batches = survivors), raw,
        drops, retainMs)
      true
    }
  }

  /** DOC-LEVEL RETRACTION (the takedown/opt-out path, R1): remove
    * `ids`' postings from the index PHYSICALLY — after this returns,
    * no probe can surface a retracted document and no bytes of its
    * postings remain in any listed batch. Per affected batch the
    * remainder postings republish as a fresh batch directory (atomic
    * rename, invisible until the swap) and ONE compare-and-set meta
    * swap then: subtracts the retracted documents' per-batch (n, Σlen)
    * contributions from the corpus scalars, replaces the affected
    * batch ids with their rewritten twins, and RETIRES the old ids —
    * so a checkpointed stream redelivering an original batch is still
    * refused (a replay would resurrect the retracted docs). Old
    * directories delete after the swap (or linger invisibly for
    * `retainMs`, the [[dropBm25Batch]] grace contract). A batch whose
    * documents are ALL retracted delists without a replacement.
    *
    * Cost: one column-pruned scan per committed batch to find hits
    * (compaction keeps the batch count bounded) plus a rewrite of
    * only the AFFECTED batches. Crash honesty: staged rewrites are
    * unlisted residue until the single swap; a crash before it
    * changes nothing a probe sees, and the re-run re-stages over the
    * residue. Returns the number of distinct retracted documents
    * found (0 = nothing to do, meta untouched).
    */
  def retractFromBm25Index(spark: org.apache.spark.sql.SparkSession,
                           path: String, ids: Seq[Any],
                           retainMs: Long = 0L): Long = {
    require(ids.nonEmpty, "retractFromBm25Index needs at least one id")
    val fs = fsFor(spark, path)
    val (meta, raw) = readBm25MetaRaw(spark, path)
    import spark.implicits._
    val idsDf = ids.map(_.toString).toDF("__rid")
      .select(col("__rid").cast(meta.idType).as(meta.idCol)).distinct()
    val found = Layout.retract(fs, path, meta, raw, ids.map(_.toString),
      retainMs) { b =>
      val dirs = termDirs(fs, path, b)
      if (dirs.isEmpty) None
      else {
        val rows = spark.read.parquet(dirs: _*)
        val vs = rows.join(broadcast(idsDf), Seq(meta.idCol), "left_semi")
          .select(col(meta.idCol), col("len")).distinct()
          .agg(count(lit(1)).as("n"), sum(col("len")).as("sl")).head()
        if (vs.getLong(0) == 0L) None
        else Some(((vs.getLong(0), if (vs.isNullAt(1)) 0L else vs.getLong(1)),
          rows.join(broadcast(idsDf), Seq(meta.idCol), "left_anti")))
      }
    } { (remainder, staging) =>
      !remainder.isEmpty && { writePostings(remainder, staging); true }
    } { hits =>
      meta.copy(n = meta.n - hits.map(_._1).sum,
        sumLen = meta.sumLen - hits.map(_._2).sum)
    }
    found.map(_._1).sum
  }

  /** Index MAINTENANCE: merge every committed batch's postings into
    * ONE batch directory — the same compaction the dedup and vector
    * indexes carry, closing the daily-append loop (file and directory
    * counts otherwise grow one batch per day forever). Correctness-
    * preserving by construction: the merged batch holds the same
    * (id, term, tf, len) row set, re-partitioned by the SAME term
    * prefix scheme, and the corpus scalars ride the meta unchanged —
    * a probe reads identical integers afterwards.
    *
    * The REPLAY CONTRACT survives compaction: superseded batch ids
    * move to the meta's `retired` list (the [[VectorIndex.compact]]
    * protocol), so [[appendBm25Index]] refuses their re-submission,
    * and the superseded directories delete outright (or after the
    * `retainMs` grace window — see [[dropBm25Batch]]). The retired
    * list is CAPPED at `maxRetired` ids, newest kept: an uncapped
    * list grows one id per append forever on the O(1) replay-guard
    * path (unbounded meta growth at daily batches over years). The
    * trade-off is explicit: a batch retired more than `maxRetired`
    * retirements ago could be re-appended without refusal — with the
    * default 512 that is over a year of daily ingest between a
    * batch's retirement and its guard aging out, and a checkpointed
    * stream never redelivers that far back; size the knob to the
    * redelivery horizon, not the corpus.
    *
    * The merged postings are the EXACT ROW MULTISET of the committed
    * batches — no row dedup. BM25 postings are additive state: if the
    * same document was (deliberately or erroneously) ingested twice
    * under two batch ids, the meta scalars count it twice and its
    * doubled rows are what the pre-compaction serve scored, so
    * collapsing them here would silently change every idf while N
    * kept the double count. Compaction preserves the state it found,
    * bit for bit; repairing a double-ingest is [[dropBm25Batch]]'s
    * job. For the same reason the merged batch id derives from the
    * COMMITTED BATCH LIST, not the doc-id set — a content-derived id
    * could collide with a committed batch that happens to carry the
    * full id set, and the collision would skip the merge while the
    * sweep deleted the other batches' rows.
    *
    * A single committed batch is already compact — the call is a
    * no-op returning that batch's id, which also makes re-running
    * compaction idempotent.
    *
    * Crash honesty, stage by stage: the merged batch publishes first
    * (atomic rename, invisible — unlisted); the meta swap flips
    * visibility to exactly [cid] atomically; only then do superseded
    * dirs delete (a crash leaves invisible orphans, swept by any
    * later compaction). At no point can a probe see duplicate
    * postings. SINGLE MAINTAINER contract (all three indexes):
    * compact/drop and the append/streaming ingest are one logical
    * writer — run maintenance in the same scheduler slot as ingest,
    * never concurrently; and since r10 that contract is ENFORCED, not
    * just documented: the meta swap is compare-and-set against the
    * bytes this compaction read, so a batch committed between the
    * read and the swap fails the compaction loudly (the typed CAS
    * failure of [[IndexProtocol.BatchList]]) with the appended batch
    * intact — the merged directory is unlisted residue, reclaimed by
    * the re-run. Entry runs the A6d audit as a PRE-FLIGHT
    * ([[IndexProtocol.preflightCompaction]]): a committed batch with
    * lost payload refuses the compaction (typed
    * [[graft.IndexUnhealthy]] — merging would bake the loss in
    * permanently) and a lost current-gen snapshot record is
    * re-recorded while the meta bytes still exist. Returns the merged
    * batch's id.
    */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       path: String, retainMs: Long = 0L,
                       maxRetired: Int = 512): String =
    compactBm25Impl(spark, path, retainMs, maxRetired, () => ())

  /** [[compactBm25Index]] with two test seams: `beforeSwap` runs
    * between the merged batch's publish and the meta swap — the
    * window the CAS exists to defend — so the interleaved-append spec
    * can prove the compaction fails loudly instead of delisting the
    * newcomer; and `beforeSweep` runs between the committed swap and
    * the retire sweep, so the sweep-rail spec can prove a batch
    * committed in THAT window survives with its directory intact.
    */
  private[graft] def compactBm25Impl(
      spark: org.apache.spark.sql.SparkSession,
      path: String, retainMs: Long, maxRetired: Int,
      beforeSwap: () => Unit,
      beforeSweep: () => Unit = () => ()): String = {
    val fs = fsFor(spark, path)
    Layout.compact(fs, path, retainMs, maxRetired, beforeSwap,
      beforeSweep) { (meta, staging) =>
      // postings read from the committed batches' term_p dirs only;
      // the partition value is recomputed from the term with the
      // write-side function, so no partition-discovery walk runs over
      // heterogeneous batch roots. The merged rows are the EXACT ROW
      // MULTISET (see compactBm25Index)
      val dirs = meta.batches.flatMap(termDirs(fs, path, _))
      require(dirs.nonEmpty, s"no postings to compact at $path")
      writePostings(spark.read.parquet(dirs: _*), staging, cluster = true)
    }
  }

  /** The probe against a [[writeBm25Index]] index: per-query cost is
    * QUERY-sized, never corpus-sized — the driver resolves the
    * query terms' ≤|terms| partition directories by explicit path
    * (no full-vocabulary listing, no tokenize scan), df/idf are
    * recomputed from those pruned postings alone, and the scoring
    * tail is [[scorePostings]] — the same arithmetic as the inline
    * form on the same exact integers, so the two forms are
    * bit-identical. Output: (id, score, rank), id column named as
    * the index was built.
    */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession,
                      path: String, query: String, k: Int,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    // ONE meta read per probe: the same snapshot supplies the
    // visibility list and the N/Σlen scalars
    probeWithMeta(spark, path, readBm25Meta(spark, path), query, k,
      k1, b)

  /** The live index's current committed generation — what a reader
    * records alongside derived artifacts so [[bm25TopKIndexedAt]] can
    * later reproduce exactly the view those artifacts were computed
    * from ([[VectorIndex.currentGen]]'s lexical twin).
    */
  def currentGen(spark: org.apache.spark.sql.SparkSession,
                 path: String): Long = readBm25Meta(spark, path).gen

  /** AS-OF-GENERATION probe — [[VectorIndex.topKAt]]'s contract on
    * the lexical index: serve the query against the committed view at
    * `gen` from its `_meta_history` record (scalars N/Σlen AND the
    * visibility list both come from the snapshot, so the scores are
    * exactly what a probe at that moment computed). Bounded by the
    * history cap and by batch-dir retention (`retainMs`); missing
    * record or reclaimed batch dir refuses with the typed
    * [[graft.SnapshotUnavailable]].
    */
  def bm25TopKIndexedAt(spark: org.apache.spark.sql.SparkSession,
                        path: String, gen: Long, query: String, k: Int,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val meta = Layout.readAt(fsFor(spark, path), path, gen)
    probeWithMeta(spark, path, meta, query, k, k1, b)
  }

  private def probeWithMeta(spark: org.apache.spark.sql.SparkSession,
                            path: String, meta: Bm25Meta,
                            query: String, k: Int,
                            k1: Double, b: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val terms = queryTerms(query)
    require(terms.nonEmpty, s"query has no tokens: '$query'")
    val paths = prunedPostingPaths(spark, path, meta, terms)
    if (paths.isEmpty) {
      // no stored partition matches any query term → empty result,
      // same schema (names AND types, from the meta) as a scored probe
      val empty = spark.emptyDataFrame
        .withColumn(meta.idCol, lit(null).cast(meta.idType))
        .withColumn("score", lit(null).cast("double"))
        .withColumn("rank", lit(null).cast("bigint"))
      empty.filter(lit(false))
    } else {
      val tf = spark.read.parquet(paths: _*)
        // prefix pruning is files; the term equality is still exact
        .filter(col("term").isin(terms: _*))
        .withColumnRenamed("len", "__len")
      scorePostings(tf, meta.idCol, meta.n, meta.sumLen, k, k1, b)
    }
  }

  /** Rank any scored table: top-k by (score desc, id asc) through the
    * combinable bounded aggregate — the generic form of the ANN/BM25
    * final stage. Output: (id, score, rank).
    */
  def rankBy(df: DataFrame, idCol: String, scoreCol: String,
             k: Int): DataFrame =
    df.agg(Similarity.topKByAgg(col(scoreCol), col(idCol), k).as("__tk"))
      .select(posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(col("__e.id").as(idCol), col("__e.score").as(scoreCol),
        (col("__pos") + 1).cast("bigint").as("rank"))

  /** T13b — reciprocal-rank fusion (Cormack et al. 2009): combine any
    * ranked lists — lexical BM25, dense ANN, a quality prior — by
    * rrf = Σ_lists 1/(k0 + rank), the standard hybrid-retrieval
    * merge: rank-based, so lists with incomparable score scales fuse
    * without calibration, and an id missing from a list simply
    * contributes nothing. Deterministic cross-engine: each
    * contribution is one exact-input division, contributions add in
    * fixed list order, the fused score rounds to 6 dp, and the final
    * ranking is the same bounded (score desc, id) top-k as
    * everywhere else.
    *
    * Inputs are (id, …, rank) tables — BOUNDED lists (each a prior
    * top-k), so the fusion joins k-row tables: cost is independent of
    * the corpus.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int,
              k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val contribs = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(idCol),
        (lit(1.0) / (lit(k0.toDouble) + col("rank").cast("double")))
          .as(s"__c$i"))
    }
    val joined = contribs.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val fused = joined.select(col(idCol),
      round(contribs.indices.map(i => coalesce(col(s"__c$i"), lit(0.0)))
        .reduce(_ + _), 6).as("rrf_score"))
    rankBy(fused, idCol, "rrf_score", k)
  }
}
