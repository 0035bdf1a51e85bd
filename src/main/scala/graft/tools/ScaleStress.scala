package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: the sf1 SERVE-LOOP stress (VERDICT r8 task 5). Every
  * gate runs at sf0.01/sf0.1; this drives the three persisted-index
  * serve paths — dedup (D8b), BM25 (T13c), vectors (A6b) — once at
  * sf1 (10× the largest gate scale: 50k documents / 20k embeddings,
  * synthesized by deterministic 10× replication of the sf0.1 tables)
  * and MEASURES the claims the scale story rests on:
  *
  *   - build / append / probe wall times (does the ingest loop hold);
  *   - probe SCAN PRUNING: the file count each probe actually opens
  *     vs the file count the index stores — the "probe cost is
  *     batch/query-sized, never corpus-sized" assertion, checked on
  *     the literal path sets, not inferred from timing.
  *
  * Prints one JSON line; numbers land in docs/SCALE.md. Not part of
  * the shipped library (same status as [[Profile]]).
  *
  * `sbt 'runMain graft.tools.ScaleStress /root/testdata/sf0.1 /tmp/graft-sf1'`
  */
object ScaleStress {

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Parquet data files under a directory tree (skips _meta etc.). */
  private def dataFiles(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
  }

  def main(args: Array[String]): Unit = {
    val srcSf = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val work = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    val spark = graft.GraftSession.local()
    graft.Checkpoints.rmTree(new java.io.File(work))
    new java.io.File(work).mkdirs()

    // ---- synthesize sf1 by deterministic 10× replication ----------
    // ids shift per copy; document text gets a copy-distinct suffix
    // token (so dedup/BM25 see real new content, not 10 exact clones
    // that exact-dedup would collapse); embeddings perturb one
    // deterministic epsilon per copy (so k-means cells stay spread)
    val copies = 10
    val (_, tGen) = time {
      val docs = graft.sources.Tables.table(spark, srcSf, "documents")
      (0 until copies).map { c =>
        docs.select(
          (col("doc_id") + lit(c.toLong * 100000000L)).as("doc_id"),
          concat(col("text"), lit(s" copytag$c "),
            col("doc_id").cast("string")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$work/sf1/documents.parquet")
      val emb = graft.sources.Tables.table(spark, srcSf, "embeddings")
      (0 until copies).map { c =>
        emb.select(
          (col("vec_id") + lit(c.toLong * 100000000L)).as("vec_id"),
          transform(col("embedding"),
            x => x + lit(c * 1e-3f)).as("embedding"),
          col("label"))
      }.reduce(_.unionByName(_))
        .write.mode("overwrite")
        .parquet(s"$work/sf1/embeddings.parquet")
    }
    val sf1 = s"$work/sf1"
    val docs = graft.Checkpoints.truncate(
      spark.read.parquet(s"$sf1/documents.parquet"))
    val emb = graft.Checkpoints.truncate(
      spark.read.parquet(s"$sf1/embeddings.parquet"))
    val nDocs = docs.count()
    val nVecs = emb.count()
    // the daily slice: ~20% lands after bootstrap, and the PROBE is a
    // single further day's batch (~4%) — the serve-loop unit of work
    val isNew = graft.operators.Corpus.hashBucket(col("doc_id"),
      "sf1", 5) === 0
    val probeSlice = graft.operators.Corpus.hashBucket(col("doc_id"),
      "sf1probe", 25) === 0

    // ---- D8b dedup index ------------------------------------------
    val dedupPath = s"$work/dedup_index"
    val (_, tDedupBuild) = time {
      graft.operators.Dedup.writeDedupIndex(docs.filter(!isNew),
        "doc_id", "text", dedupPath, maxDocFreq = Some(1000))
    }
    val (_, tDedupAppend) = time {
      graft.operators.Dedup.writeDedupIndex(docs.filter(isNew),
        "doc_id", "text", dedupPath, mode = "append")
    }
    // probe ids must clear EVERY replica's id range (copies shift by
    // c·1e8, c ≤ 9 — a +9e8 offset would collide copy-0 probe ids
    // with copy-9 index ids and skew the dup counts)
    val dedupProbeBatch = docs.filter(probeSlice)
      .select((col("doc_id") + 10000000000L).as("doc_id"), col("text"))
    val (dedupDup, tDedupProbe) = time {
      graft.operators.Dedup.minhashDedupAgainstIndex(dedupProbeBatch,
        "doc_id", "text", dedupPath).count()
    }
    val dedupStored = dataFiles(spark, s"$dedupPath")

    // ---- T13c BM25 index ------------------------------------------
    val bm25Path = s"$work/bm25_index"
    val (_, tBmBuild) = time {
      graft.operators.Bm25.writeBm25Index(docs.filter(!isNew),
        "doc_id", "text", bm25Path)
    }
    val (_, tBmAppend) = time {
      graft.operators.Bm25.appendBm25Index(docs.filter(isNew), "text",
        bm25Path)
    }
    // real corpus vocabulary (the synthetic documents' token space),
    // so the probe exercises scoring, not just the absent-term branch
    val query = "spark shuffle broadcast join"
    def bmServe() = graft.operators.Bm25.bm25TopKIndexed(spark,
      bm25Path, query, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    // the timed block is the SERVE alone; the pruning diagnostics
    // (path resolution + recursive file counting) run outside it so
    // probe_s in the published JSON is not inflated by measurement
    val (bmRows, tBmProbe) = time { bmServe().size.toLong }
    val bmOpened = {
      val meta = graft.operators.Bm25.readBm25Meta(spark, bm25Path)
      graft.operators.Bm25.prunedPostingPaths(spark, bm25Path, meta,
        graft.operators.Bm25.queryTerms(query))
        .map(p => dataFiles(spark, p)).sum
    }
    val bmStored = dataFiles(spark, s"$bm25Path/batches")
    // maintenance at scale: compaction must preserve the serve
    val bmPre = bmServe()
    val (_, tBmCompact) = time {
      graft.operators.Bm25.compactBm25Index(spark, bm25Path)
    }
    require(bmServe() == bmPre, "BM25 compaction changed the serve")
    val bmStoredPost = dataFiles(spark, s"$bm25Path/batches")

    // ---- A6b vector index -----------------------------------------
    val vecPath = s"$work/vec_index"
    val isNewV = graft.operators.Corpus.hashBucket(col("vec_id"),
      "sf1v", 5) === 0
    val qp = col("vec_id") % 6659 === 0 // ~3 queries at 20k vectors
    val (m, dim) = (8, 64)
    val cents = graft.Checkpoints.truncate(emb.filter(col("vec_id") % 371 === 1)
      .select(col("vec_id").as("cell"), col("embedding").as("centv")))
    // FIXED-size codebook init (~120 codes — a model constant), not
    // the gate's corpus-proportional modulo: a production codebook's
    // k does not grow with the corpus, and training cost is
    // k-bounded per round
    val (cb, tVecTrain) = time {
      val t = graft.Checkpoints.truncate(graft.operators.Similarity.pqTrain(
        emb, "vec_id", "embedding", m, dim,
        initPred = col("vec_id") % 171 === 5, rounds = 2))
      t.count(); t
    }
    val (_, tVecBuild) = time {
      graft.operators.VectorIndex.write(emb.filter(!isNewV), "vec_id",
        "embedding", cents, cb, m, dim, vecPath)
    }
    val (_, tVecAppend) = time {
      graft.operators.VectorIndex.append(emb.filter(isNewV), "vec_id",
        "embedding", vecPath)
    }
    // same separation as the BM25 probe: time the serve, then count
    val (vecRows, tVecProbe) = time {
      graft.operators.VectorIndex.topK(spark, vecPath, emb,
        "vec_id", "embedding", qp, k = 10, nprobe = 4, rerank = 50)
        .count()
    }
    val vecOpened = {
      val meta = graft.operators.VectorIndex.readMeta(spark, vecPath)
      val cells = graft.operators.VectorIndex.probedCells(
        emb.filter(qp), "vec_id", "embedding", cents, nprobe = 4)
      graft.operators.VectorIndex.prunedCellPaths(spark, vecPath, meta,
        cells).map(p => dataFiles(spark, p)).sum
    }
    val vecStored = dataFiles(spark, s"$vecPath/batches")

    // ---- S20 manifest table ---------------------------------------
    // the r14 file-reuse claims measured at sf1: a partition-scoped
    // promotion's WRITE cost is the batch's partitions (one file
    // here), not the table; untouched partitions' files are carried
    // byte-for-byte; a partition read opens only its own files
    val maniPath = s"$work/manifest_table"
    val M = graft.sources.ManifestStore
    val maniDocs = docs.withColumn("pk", pmod(col("doc_id"), lit(50L)))
    val (_, tManiBoot) = time {
      M.publish(spark, maniDocs, maniPath, "pk")
    }
    val tableFiles = M.manifestAt(spark, maniPath, 1L).entries.size
    val delta = maniDocs.filter(col("pk") === 7L)
      .withColumn("text", concat(col("text"), lit(" day2")))
    val (_, tManiPromote) = time {
      M.publish(spark, delta, maniPath, "pk")
    }
    val m2 = M.manifestAt(spark, maniPath, 2L)
    val promotedFiles = m2.entries
      .count(_.relPath.startsWith("_writes/2/"))
    val reusedFiles = m2.entries.size - promotedFiles
    val reusedIdentical = {
      val m1 = M.manifestAt(spark, maniPath, 1L).entries
        .map(e => e.partition -> e.relPath).toMap
      m2.entries.filter(_.partition != "7")
        .forall(e => m1.get(e.partition).contains(e.relPath) ||
          m1.values.toSet.contains(e.relPath))
    }
    val (partReadRows, tManiRead) = time {
      M.readPartitions(spark, maniPath, Seq("7")).count()
    }
    val partReadFiles = m2.entries.count(_.partition == "7")

    // the scale assertions, on literal file sets: each probe opened a
    // strict minority of the stored files, and the manifest
    // promotion wrote a strict minority of the table's files
    require(bmOpened < bmStored,
      s"BM25 probe opened $bmOpened of $bmStored stored files")
    require(vecOpened < vecStored,
      s"vector probe opened $vecOpened of $vecStored stored files")
    require(promotedFiles < tableFiles && reusedIdentical,
      s"manifest promotion wrote $promotedFiles of $tableFiles and " +
        s"reuse=$reusedIdentical")
    require(partReadFiles < m2.entries.size,
      s"partition read should open $partReadFiles << ${m2.entries.size}")
    require(partReadRows == delta.count())

    spark.stop()
    def f(d: Double) = f"$d%.1f"
    println(
      s"""{"sf1_docs":$nDocs,"sf1_vecs":$nVecs,"gen_s":${f(tGen)},""" +
      s""""dedup":{"build_s":${f(tDedupBuild)},"append_s":${
        f(tDedupAppend)},"probe_s":${f(tDedupProbe)},"probe_dups":$dedupDup,"stored_files":$dedupStored},""" +
      s""""bm25":{"build_s":${f(tBmBuild)},"append_s":${f(tBmAppend)},"probe_s":${
        f(tBmProbe)},"probe_rows":$bmRows,"opened_files":$bmOpened,"stored_files":$bmStored,"compact_s":${
        f(tBmCompact)},"stored_files_post_compact":$bmStoredPost},""" +
      s""""vector":{"train_s":${f(tVecTrain)},"build_s":${f(tVecBuild)},"append_s":${
        f(tVecAppend)},"probe_s":${f(tVecProbe)},"probe_rows":$vecRows,"opened_files":$vecOpened,"stored_files":$vecStored},""" +
      s""""manifest":{"bootstrap_s":${f(tManiBoot)},"promote_s":${
        f(tManiPromote)},"promoted_files":$promotedFiles,"reused_files":$reusedFiles,"table_files":${
        m2.entries.size},"partition_read_s":${f(tManiRead)},"partition_read_files":$partReadFiles}}""")
  }
}
