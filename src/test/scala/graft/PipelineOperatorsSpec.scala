package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.plans.MinRollingHash
import graft.sources.Tables

/** Specs for SURVEY.md §2.6–§2.9 (dedup, similarity, text, multimodal)
  * and §2.5 E3–E4 (streaming).
  */
class PipelineOperatorsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("MinRollingHash matches a straightforward reference implementation") {
    def reference(s: String, k: Int): Long = {
      val bytes = s.getBytes("UTF-8")
      val w = math.min(bytes.length, k)
      if (bytes.isEmpty) 0L
      else (0 to bytes.length - w).map { i =>
        bytes.slice(i, i + w).foldLeft(0L)((h, b) => h * 257L + (b & 0xffL))
      }.min
    }
    val samples = Seq("hello world this is a doc", "short", "",
      "aaaaaaaaaaaaaaaaaaaaaaaa", "x")
    import spark.implicits._
    val got = samples.toDF("t")
      .select(MinRollingHash.min_rolling_hash(col("t"), 16)).collect()
      .map(_.getLong(0))
    assert(got.toSeq == samples.map(reference(_, 16)))
  }

  test("MinRollingHash codegen and interpreted paths agree on real docs") {
    val doc = Tables.table(spark, sf, "documents")
    val a = doc.select(col("doc_id"),
      MinRollingHash.min_rolling_hash(col("text"), 16).as("f"))
    // force the interpreted path through the same expression
    val rows = doc.select("doc_id", "text").collect()
    val interp = rows.map { r =>
      r.getLong(0) -> MinRollingHash.minHash(
        r.getString(1).getBytes("UTF-8"), 16)
    }.toMap
    a.collect().foreach(r => assert(r.getLong(1) == interp(r.getLong(0))))
  }

  test("sharing a 16-byte window implies equal fingerprint possible (dup doc)") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
                 (2L, "the quick brown fox jumps over the lazy dog"),
                 (3L, "completely different content here entirely")).toDF("id", "t")
    val groups = Dedup.fingerprintGroups(df, "id", "t").collect()
    val dupGroup = groups.filter(_.getLong(2) == 2)
    assert(dupGroup.length == 1 && dupGroup.head.getLong(1) == 1L)
  }

  test("exact dedup groups identical texts") {
    import spark.implicits._
    val df = Seq((1L, "same"), (2L, "same"), (3L, "diff")).toDF("doc_id", "text")
    val out = Dedup.exactTextDedup(df, "doc_id", "text").collect()
    assert(out.length == 2)
    assert(out.find(_.getLong(2) == 2).get.getLong(1) == 1L)
  }

  test("minhash LSH finds the planted near-duplicate") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 30).map(i => if (i == 7) "CHANGED" else s"word$i")
      .mkString(" ")
    val other = (100 to 130).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.minhashDedup(df, "doc_id", "text").collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    assert(!pairs.exists(r => r.getLong(1) == 3L))
  }

  test("minhash candidates are a superset of high-jaccard pairs (on testdata)") {
    val doc = Tables.table(spark, sf, "documents")
    val viaMinhash = Dedup.minhashDedup(doc, "doc_id", "text", 1, 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.ngramJaccardPairs(doc, "doc_id", "text", 1, 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH at b=8,r=2 has ~97% hit rate at J=0.5; on this corpus demand ≥80%
    if (exact.nonEmpty) {
      val recall = exact.count(viaMinhash.contains).toDouble / exact.size
      assert(recall >= 0.8, s"LSH recall $recall over ${exact.size} pairs")
    }
  }

  test("simhash: identical docs collide, near-identical docs are close") {
    import spark.implicits._
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val b = (1 to 40).map(i => if (i == 3) "X" else s"w$i").mkString(" ")
    val df = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val sh = Dedup.simhash(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) <= 16)
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getAs[Number]("hamming").longValue == 0L))
  }

  test("brute-force ANN: self-consistent ranks and valid cosine range") {
    val out = Similarity.bruteForceTopK(
      Tables.table(spark, sf, "embeddings"), "vec_id", "embedding",
      col("vec_id") % 100 === 0, k = 5).collect()
    val byQ = out.groupBy(_.getLong(0))
    byQ.foreach { case (_, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq == (1L to rows.length))
      // ranks ordered by decreasing cosine
      val sorted = rows.sortBy(_.getLong(2)).map(_.getDouble(3))
      assert(sorted.zip(sorted.tail).forall { case (x, y) => x >= y })
      assert(rows.forall(r => r.getDouble(3) >= -1.0001 && r.getDouble(3) <= 1.0001))
    }
  }

  test("LSH ANN results are a subset of brute-force candidates' quality") {
    val bf = Similarity.bruteForceTopK(
      Tables.table(spark, sf, "embeddings"), "vec_id", "embedding",
      col("vec_id") % 100 === 0, k = 10).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val lsh = Similarity.lshTopK(
      Tables.table(spark, sf, "embeddings"), "vec_id", "embedding",
      col("vec_id") % 100 === 0, k = 10).collect()
    // every LSH hit's cosine can't exceed the brute-force best
    assert(lsh.forall(_.getDouble(3) <= 1.0001))
    // and LSH returns at most k per query with valid ranks
    lsh.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= 10)
    }
    assert(bf.nonEmpty)
  }

  test("IVF ANN returns ranked results from probed cells") {
    val out = Similarity.ivfTopK(
      Tables.table(spark, sf, "embeddings"), "vec_id", "embedding",
      queryPred = col("vec_id") % 100 === 0,
      centroidPred = col("vec_id") % 37 === 1,
      k = 5, nprobe = 2).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(2)).distinct.length == rs.length)
    }
  }

  test("ANN recall@10: bucketed paths recover most of the exact top-k") {
    // Regression guard the oracle mirrors can't provide: A2/A3 are
    // hash-green against their OWN mirrors, so a plane/probe bug that
    // degrades retrieval quality would still pass the driver gate.
    // This pins recall@10 against the exact baseline.
    //
    // Bucket count must match corpus size (the production tuning rule:
    // ~n/2^planes vectors per bucket): the driver gates' 12 planes are
    // sized for a real corpus, but over these 500 test vectors 4096
    // buckets leave every probe set near-empty and recall near zero BY
    // CONSTRUCTION — no bug to detect there. The spec therefore probes
    // with 4 planes (16 buckets, ~31% of the corpus per 1-bit
    // multiprobe set), where retrieval quality is measurable and a
    // real regression (wrong plane constants, dropped probe, bad cell
    // assignment) craters the value.
    val emb = Tables.table(spark, sf, "embeddings")
    val qp = col("vec_id") % 50 === 0
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qp)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    assert(exact.nonEmpty)
    def recallAt10(rows: Array[org.apache.spark.sql.Row]): Double = {
      val by = rows.groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val per = exact.map { case (q, want) =>
        by.getOrElse(q, Set.empty[Long]).intersect(want).size.toDouble /
          want.size
      }
      per.sum / per.size
    }
    val lshR = recallAt10(Similarity.lshTopK(
      emb, "vec_id", "embedding", qp, nPlanes = 4).collect())
    val ivfR = recallAt10(Similarity.ivfTopK(
      emb, "vec_id", "embedding", qp,
      centroidPred = col("vec_id") % 37 === 1).collect())
    info(f"recall@10: lsh=$lshR%.3f ivf=$ivfR%.3f")
    // measured (deterministic: seeded planes, fixed data): lsh=0.460
    // probing ~31% of the corpus, ivf=0.290 probing ~15% (nprobe=2 of
    // ~13 cells) — both well above the probed fraction itself, i.e.
    // the buckets genuinely concentrate neighbors; floors sit just
    // below the measured values
    assert(lshR >= 0.40, f"LSH recall@10 $lshR%.3f below 0.40 floor")
    assert(ivfR >= 0.25, f"IVF recall@10 $ivfR%.3f below 0.25 floor")
    // the production recall knobs, pinned at their tuned settings:
    // probeBits=2 widens the probe set to Hamming radius 2 (11 of 16
    // buckets here — measured 0.770, well above the 0.69 probed
    // fraction) and a radius regression craters it
    val lsh2R = recallAt10(Similarity.lshTopK(
      emb, "vec_id", "embedding", qp, nPlanes = 4, probeBits = 2)
      .collect())
    info(f"recall@10: lsh probeBits=2 $lsh2R%.3f")
    assert(lsh2R >= 0.70,
      f"LSH probeBits=2 recall@10 $lsh2R%.3f below 0.70 floor")
    // the full train→serve loop: k-means-trained centroids fed to the
    // indexed IVF probe. Training relocates centroids toward cluster
    // mass, so recall must not degrade vs the raw seed index (measured:
    // 0.290 seed → 0.410 trained at 5 Lloyd rounds, nprobe=2)
    val (_, trained, _) = Similarity.kmeansIterate(
      emb, "vec_id", "embedding", col("vec_id") % 37 === 1, maxIter = 5)
    val trainedR = recallAt10(Similarity.ivfTopKIndexed(
      emb, "vec_id", "embedding", qp, trained).collect())
    info(f"recall@10: ivf-trained=$trainedR%.3f")
    assert(trainedR >= ivfR - 0.02,
      f"training degraded IVF recall: seed $ivfR%.3f -> $trainedR%.3f")
    // …and at the tuned serve setting (nprobe=4 of ~13 cells, ~31%
    // probed) the trained index clears the production floor: measured
    // 0.600 trained vs 0.520 for the untrained seed at the same
    // nprobe — training itself buys +0.08 at equal probe cost
    val trained4R = recallAt10(Similarity.ivfTopKIndexed(
      emb, "vec_id", "embedding", qp, trained, nprobe = 4).collect())
    info(f"recall@10: ivf-trained nprobe=4 $trained4R%.3f")
    assert(trained4R >= 0.58,
      f"trained IVF nprobe=4 recall@10 $trained4R%.3f below 0.58 floor")
  }

  test("A7 random projection: bit-exact fold, shape guard, JL recall floor vs 64-dim exact") {
    val emb = Tables.table(spark, sf, "embeddings")
    // bit-exactness: one vector projected by the same left fold in
    // plain Scala must equal the codegen'd VectorDot path exactly
    val one = emb.filter(col("vec_id") === 0)
    val v = one.select("embedding").collect().head
      .getSeq[Float](0).toArray
    val signs = Similarity.projectionSigns(64, 16, 43L)
    val got = Similarity.randomProject(one, "vec_id", "embedding")
      .select("proj").collect().head.getSeq[Double](0)
    assert(got.length == 16)
    signs.zip(got).foreach { case (s, g) =>
      var acc = 0.0
      var i = 0
      while (i < 64) { acc += v(i).toDouble * s(i); i += 1 }
      assert(acc / 4.0 == g, "projection must match the sequential fold bit-for-bit")
    }
    // the √outDim scale must be exact in binary or values drift
    // across engines — non-square outDim refuses loudly
    intercept[IllegalArgumentException] {
      Similarity.randomProject(emb, "vec_id", "embedding", outDim = 8)
    }
    // JL quality, the A2/A3 argument: these 500 test vectors are
    // near-random (pairwise cosines cluster tightly), so NO 16-dim
    // sketch can hold fine top-10 ranks — the contract is
    // ENRICHMENT: the projected space must concentrate true
    // neighbors far above the probed fraction, and the production
    // serve is the two-stage reduce-then-rerank
    // (projectedTopKReranked), whose recall a sign/fold/rerank
    // regression craters.
    val qp = col("vec_id") % 50 === 0
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qp)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def recallAt10(rows: Array[org.apache.spark.sql.Row]): Double = {
      val by = rows.groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val per = exact.map { case (q, want) =>
        by.getOrElse(q, Set.empty[Long]).intersect(want).size.toDouble /
          want.size
      }
      per.sum / per.size
    }
    // pure projected-space top-10: measured 0.120 vs the 0.020
    // random-draw baseline (10 of 499) — 6× enrichment
    val pureR = recallAt10(Similarity.projectedTopK(
      emb, "vec_id", "embedding", qp).collect())
    info(f"recall@10 pure 16-dim projected space: $pureR%.3f")
    assert(pureR >= 0.08,
      f"projected recall@10 $pureR%.3f below 0.08 (4x random) floor")
    // two-stage serve: 50-candidate projected shortlist (10% of the
    // corpus) + exact 64-dim re-rank — measured 0.370, a 3.7×
    // enrichment over the shortlist fraction itself
    val rr = recallAt10(Similarity.projectedTopKReranked(
      emb, "vec_id", "embedding", qp).collect())
    info(f"recall@10 projected-shortlist rerank: $rr%.3f")
    assert(rr >= 0.30,
      f"reranked recall@10 $rr%.3f below 0.30 floor")
    assert(rr >= 2 * 50.0 / 499,
      f"reranked recall@10 $rr%.3f does not beat 2x the probed fraction")
  }

  test("A5 PQ: codes complete, decode well-formed, ADC and rerank " +
      "recall floors, rerank widens monotonically") {
    val emb = Tables.table(spark, sf, "embeddings")
    val qp = col("vec_id") % 50 === 0
    val (m, dim) = (8, 64)
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m, dim,
      initPred = col("vec_id") % 17 === 5, rounds = 3).localCheckpoint()
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding",
      cb, m, dim).localCheckpoint()
    val n = emb.count()
    // every vector carries exactly one code per subspace
    assert(codes.count() == n * m)
    assert(codes.groupBy("id").count()
      .filter(col("count") =!= m).count() == 0)
    // decode reconstructs a dim-length vector whose mean cosine to the
    // original clears the quantization floor (measured 0.737)
    val dec = Similarity.pqDecode(codes, cb)
    assert(dec.filter(size(col("decoded")) =!= dim).count() == 0)
    val recon = dec.join(emb, col("id") === col("vec_id"))
      .agg(avg(Similarity.cosine(col("decoded"), col("embedding"))))
      .head().getDouble(0)
    info(f"pq reconstruction cosine: $recon%.3f")
    assert(recon >= 0.70, f"reconstruction cosine $recon%.3f below 0.70")
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qp)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def recallAt10(rows: Array[org.apache.spark.sql.Row]): Double = {
      val by = rows.groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      exact.map { case (q, want) =>
        by.getOrElse(q, Set.empty[Long]).intersect(want).size.toDouble /
          want.size }.sum / exact.size
    }
    // measured at this scale: adc=0.390; rerank 30/50/100 =
    // 0.660/0.770/0.910 — floors just below, and widening the
    // shortlist must not lose recall (supersets re-ranked exactly)
    val adcR = recallAt10(Similarity.pqTopK(emb.filter(qp), "vec_id",
      "embedding", codes, cb, m, dim).collect())
    val r50 = recallAt10(Similarity.pqTopKReranked(emb, "vec_id",
      "embedding", qp, codes, cb, m, dim, rerank = 50).collect())
    val r100 = recallAt10(Similarity.pqTopKReranked(emb, "vec_id",
      "embedding", qp, codes, cb, m, dim, rerank = 100).collect())
    info(f"pq recall@10: adc=$adcR%.3f rerank50=$r50%.3f rerank100=$r100%.3f")
    assert(adcR >= 0.30, f"ADC recall $adcR%.3f below 0.30")
    assert(r50 >= 0.70, f"rerank=50 recall $r50%.3f below 0.70")
    assert(r100 >= 0.85, f"rerank=100 recall $r100%.3f below 0.85")
    assert(r100 >= r50 - 1e-9, "wider shortlist lost recall")
  }

  test("kmeansIterate: movement non-increasing, converges, covers every vector") {
    val emb = Tables.table(spark, sf, "embeddings")
    val seeds = col("vec_id") % 37 === 1
    val k = emb.filter(seeds).count()
    val (assign, _, moves) = Similarity.kmeansIterate(
      emb, "vec_id", "embedding", seeds, maxIter = 8, tol = 0.0)
    info(s"movement per round: ${moves.map(m => f"$m%.4f").mkString(", ")}")
    assert(moves.nonEmpty && moves.length <= 8)
    // deterministic data + seeds → this is a fixed sequence; Lloyd
    // rounds settle monotonically here and end at an exact fixpoint
    // when the loop converges before the budget
    assert(moves.zip(moves.tail).forall { case (a, b) => b <= a },
      s"movement increased between rounds: $moves")
    if (moves.length < 8) assert(moves.last == 0.0)
    // every vector assigned exactly once, only to surviving seed cells
    assert(assign.count() == emb.count())
    assert(assign.select("cand_id").distinct().count() == emb.count())
    val cells = assign.select("cell").distinct()
    assert(cells.count() <= k)
    assert(cells.join(emb.filter(seeds),
      cells("cell") === emb("vec_id"), "left_anti").count() == 0)
    // a negative tol disables early stop: exactly maxIter rounds run
    val (_, _, fixed) = Similarity.kmeansIterate(
      emb, "vec_id", "embedding", seeds, maxIter = 3, tol = -1.0)
    assert(fixed.length == 3)
  }

  test("minhash df-cap: boilerplate-only overlap never pairs, true near-dups survive") {
    import spark.implicits._
    import graft.operators.Dedup
    // every doc carries the same site-chrome suffix (df = corpus size,
    // capped away); only 100/101 share real content
    val boiler = " terms of service apply all rights reserved contact " +
      "us via the site footer for more information"
    val content = "the quick brown fox jumps over the lazy dog while " +
      "seventeen sleepy cats watch from the warm windowsill"
    val docs = (1L to 30L).map(i =>
      (i, s"unique body number $i covering topic t$i in its own words w$i" +
        boiler)) ++
      Seq((100L, content + " today" + boiler),
        (101L, content + " tonight" + boiler))
    val df = docs.toDF("doc_id", "text")
    val pairs = Dedup
      .minhashDedup(df, "doc_id", "text", maxDocFreq = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 101L)), "planted near-dup lost to the cap")
    assert(pairs.forall { case (a, b) => a >= 100L && b >= 100L },
      s"boilerplate-only docs paired: $pairs")
  }

  test("persisted-index incremental dedup equals the recompute form") {
    import graft.operators.{Corpus, Dedup}
    val doc = Tables.table(spark, sf, "documents")
    val isNew = Corpus.hashBucket(col("doc_id"), "inc", 5) === 0
    val dir = java.nio.file.Files
      .createTempDirectory("graft-idx-spec").toString
    try {
      val bid = Dedup.writeDedupIndex(doc.filter(!isNew), "doc_id",
        "text", dir)
      // the batch landed as one published directory, its bands
      // partitioned by band — the clustered layout the candidate join
      // processes band-by-band — with no staging residue left behind
      val bandDirs = Option(
        new java.io.File(s"$dir/batches/$bid/bands").listFiles())
        .get.filter(_.getName.startsWith("band_p="))
      assert(bandDirs.length == 8)
      assert(!new java.io.File(s"$dir/_staging").exists() ||
        new java.io.File(s"$dir/_staging").listFiles().isEmpty)
      val got = Dedup.minhashDedupAgainstIndex(doc.filter(isNew),
        "doc_id", "text", dir)
      val exp = Dedup.minhashDedupIncremental(doc, "doc_id", "text", isNew)
      assert(got.count() == exp.count())
      assert(got.except(exp).count() == 0 && exp.except(got).count() == 0)
    } finally rmTree(new java.io.File(dir))
  }

  test("dedup index grows by append: day-2 batch sees day-1 accepted docs") {
    import graft.operators.{Corpus, Dedup}
    val doc = Tables.table(spark, sf, "documents")
    // three disjoint deterministic slices: base corpus, day-1, day-2
    val bucket = Corpus.hashBucket(col("doc_id"), "inc", 5)
    val base = doc.filter(bucket >= 2)
    val day1 = doc.filter(bucket === 0)
    val day2 = doc.filter(bucket === 1)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-idx-append").toString
    try {
      Dedup.writeDedupIndex(base, "doc_id", "text", dir)
      Dedup.minhashDedupAgainstIndex(day1, "doc_id", "text", dir)
      // day-1 accepted → append it; day-2 must now pair against base
      // AND day-1 without either being re-shingled
      Dedup.writeDedupIndex(day1, "doc_id", "text", dir, mode = "append")
      val got = Dedup.minhashDedupAgainstIndex(day2, "doc_id", "text", dir)
      val exp = Dedup.minhashDedupIncremental(
        doc, "doc_id", "text", bucket === 1)
      assert(got.count() == exp.count())
      assert(got.except(exp).count() == 0 && exp.except(got).count() == 0)
      // a retried/duplicated append of an already-indexed batch must
      // refuse loudly — a silent double-append would double (sid, sh)
      // rows and shift every downstream Jaccard verify count
      val e = intercept[graft.ReplayRefused] {
        Dedup.writeDedupIndex(day1, "doc_id", "text", dir, mode = "append")
      }
      assert(e.getMessage.contains("append refused"))
      // an INDEX-level refusal is NOT the landed subtype: the corpus
      // stream must never treat "published but not landed" as done
      assert(!e.isInstanceOf[graft.BatchAlreadyLanded])
    } finally rmTree(new java.io.File(dir))
  }

  test("index replay guard is O(1): refuses without reading stored data") {
    import graft.operators.{Corpus, Dedup}
    val doc = Tables.table(spark, sf, "documents")
    val bucket = Corpus.hashBucket(col("doc_id"), "inc", 5)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-idx-guard").toString
    try {
      Dedup.writeDedupIndex(doc.filter(bucket >= 2), "doc_id", "text", dir)
      val bid = Dedup.writeDedupIndex(doc.filter(bucket === 0), "doc_id",
        "text", dir, mode = "append")
      // hide every batch's parquet payload: any guard that scanned
      // stored sids (the r6 O(corpus) design) would now fail on the
      // missing tables instead of refusing the replay
      val batches = new java.io.File(s"$dir/batches").listFiles()
      batches.foreach { b =>
        assert(new java.io.File(b, "bands")
          .renameTo(new java.io.File(b, "bands_hidden")))
        assert(new java.io.File(b, "shingles")
          .renameTo(new java.io.File(b, "shingles_hidden")))
      }
      val e = intercept[graft.ReplayRefused] {
        Dedup.writeDedupIndex(doc.filter(bucket === 0), "doc_id", "text",
          dir, mode = "append")
      }
      assert(e.getMessage.contains("append refused"))
      // restore, then prove the OPT-IN audit still catches a PARTIAL
      // overlap (a malformed batch reusing some indexed ids) that the
      // O(1) guard by design does not
      batches.foreach { b =>
        assert(new java.io.File(b, "bands_hidden")
          .renameTo(new java.io.File(b, "bands")))
        assert(new java.io.File(b, "shingles_hidden")
          .renameTo(new java.io.File(b, "shingles")))
      }
      val partial = doc.filter(bucket === 0).limit(3)
        .unionByName(doc.filter(bucket === 1).limit(2))
      val audited = intercept[graft.ReplayRefused] {
        Dedup.writeDedupIndex(partial, "doc_id", "text", dir,
          mode = "append", auditOverlap = true)
      }
      assert(audited.getMessage.contains("append refused"))
      assert(bid.nonEmpty)
    } finally rmTree(new java.io.File(dir))
  }

  test("dropBatchFromIndex is the executable repair: re-append succeeds") {
    import graft.operators.{Corpus, Dedup}
    val doc = Tables.table(spark, sf, "documents")
    val bucket = Corpus.hashBucket(col("doc_id"), "inc", 5)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-idx-drop").toString
    try {
      Dedup.writeDedupIndex(doc.filter(bucket >= 2), "doc_id", "text", dir)
      val day1 = doc.filter(bucket === 0)
      val bid = Dedup.writeDedupIndex(day1, "doc_id", "text", dir,
        mode = "append")
      intercept[IllegalStateException] {
        Dedup.writeDedupIndex(day1, "doc_id", "text", dir, mode = "append")
      }
      assert(Dedup.dropBatchFromIndex(spark, dir, bid))
      val bid2 = Dedup.writeDedupIndex(day1, "doc_id", "text", dir,
        mode = "append")
      assert(bid2 == bid, "content-derived id must be reproducible")
      assert(!Dedup.dropBatchFromIndex(spark, dir, "no-such-batch"))
      // crash window: a drop whose meta swap committed but which died
      // before deleting the directory leaves the batch UNLISTED — no
      // probe reads it (probes read the meta's committed list) — and
      // the re-append of the same content reclaims the residue
      val held = new java.io.File(dir + "-held")
      assert(new java.io.File(dir, s"batches/$bid").renameTo(held))
      assert(Dedup.dropBatchFromIndex(spark, dir, bid))
      assert(held.renameTo(new java.io.File(dir, s"batches/$bid")))
      val day1Ids = day1.select("doc_id").collect()
        .map(_.getLong(0)).toSet
      val probePairs = Dedup.minhashDedupAgainstIndex(
        day1.select((col("doc_id") + 500000L).as("doc_id"), col("text")),
        "doc_id", "text", dir)
        .select("id_a", "id_b").collect()
        .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
      assert(probePairs.intersect(day1Ids).isEmpty,
        "a dropped batch leaked into candidate generation")
      assert(!Dedup.dropBatchFromIndex(spark, dir, bid),
        "an already-delisted batch must report false")
      assert(graft.operators.IndexAudit.audit(spark, dir)
        .filter(col("status") === "orphan").count() == 1L)
      assert(Dedup.writeDedupIndex(day1, "doc_id", "text", dir,
        mode = "append") == bid)
      assert(graft.operators.IndexAudit.isHealthy(spark, dir))
    } finally rmTree(new java.io.File(dir))
  }

  test("compactDedupIndex merges batches, preserves results and replay refusal") {
    import graft.operators.{Corpus, Dedup}
    val doc = Tables.table(spark, sf, "documents")
    val bucket = Corpus.hashBucket(col("doc_id"), "inc", 5)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-idx-compact").toString
    try {
      Dedup.writeDedupIndex(doc.filter(bucket >= 3), "doc_id", "text", dir)
      Dedup.writeDedupIndex(doc.filter(bucket === 2), "doc_id", "text",
        dir, mode = "append")
      val day1 = doc.filter(bucket === 0)
      Dedup.writeDedupIndex(day1, "doc_id", "text", dir, mode = "append")
      val day2 = doc.filter(bucket === 1)
      def pairs(): Set[(Long, Long, Double)] =
        Dedup.minhashDedupAgainstIndex(day2, "doc_id", "text", dir)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val before = pairs()
      val cid = Dedup.compactDedupIndex(spark, dir)
      // exactly one batch directory remains: the superseded ones are
      // retired on the meta and their directories deleted
      assert(new java.io.File(s"$dir/batches").listFiles()
        .map(_.getName).toSeq == Seq(cid))
      // identical query results through the merged layout
      assert(pairs() == before)
      // the replay contract survives: a superseded batch still refuses
      val e = intercept[IllegalStateException] {
        Dedup.writeDedupIndex(day1, "doc_id", "text", dir, mode = "append")
      }
      assert(e.getMessage.contains("append refused"))
      // re-compacting a compact index is a stable no-op
      assert(Dedup.compactDedupIndex(spark, dir) == cid)
    } finally rmTree(new java.io.File(dir))
  }

  test("index _meta pins k/bands/cap: mismatched appends and queries refuse") {
    import graft.operators.{Corpus, Dedup}
    val doc = Tables.table(spark, sf, "documents")
    val bucket = Corpus.hashBucket(col("doc_id"), "inc", 5)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-idx-meta").toString
    try {
      Dedup.writeDedupIndex(doc.filter(bucket >= 2), "doc_id", "text",
        dir, maxDocFreq = Some(200))
      // query with a different signature scheme → loud refusal
      intercept[IllegalArgumentException] {
        Dedup.minhashDedupAgainstIndex(doc.filter(bucket === 0),
          "doc_id", "text", dir, k = 8).count()
      }
      // append with a conflicting cap → loud refusal
      intercept[IllegalArgumentException] {
        Dedup.writeDedupIndex(doc.filter(bucket === 0), "doc_id", "text",
          dir, mode = "append", maxDocFreq = Some(5))
      }
      // append with NO cap argument inherits the meta cap silently —
      // the path corpusIncrement takes
      Dedup.writeDedupIndex(doc.filter(bucket === 0), "doc_id", "text",
        dir, mode = "append")
    } finally rmTree(new java.io.File(dir))
  }

  test("capped index finds cross-batch near-dups through boilerplate") {
    import spark.implicits._
    import graft.operators.Dedup
    val boiler = (1 to 40).map(i => s"boiler$i").mkString(" ", " ", "")
    val shared = "the planted shared content sentence appears in this" +
      " exact form right here"
    val base = (1L to 30L).map(i =>
      (i, s"base document number $i with its own words" + boiler)) :+
      (100L, s"$shared today" + boiler)
    val batch = (201L to 220L).map(i =>
      (i, s"batch document number $i differing entirely" + boiler)) :+
      (300L, s"$shared tonight" + boiler)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-idx-cap").toString
    try {
      // cap at 10: the 31-doc-shared boilerplate shingles drop from
      // the stored index, and (via _meta) from the batch side too
      Dedup.writeDedupIndex(base.toDF("doc_id", "text"), "doc_id", "text",
        dir, maxDocFreq = Some(10))
      val pairs = Dedup.minhashDedupAgainstIndex(
          batch.toDF("doc_id", "text"), "doc_id", "text", dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((100L, 300L)),
        "planted cross-batch near-dup lost to the cap")
      assert(pairs.forall { case (a, b) => a >= 100L && b >= 100L },
        s"boilerplate-only docs paired: $pairs")
    } finally rmTree(new java.io.File(dir))
  }

  test("reliable-checkpoint strategy converges identically to local") {
    import graft.operators.{Dedup, Similarity}
    val emb = Tables.table(spark, sf, "embeddings")
    val doc = Tables.table(spark, sf, "documents")
    val pairs = Dedup.minhashDedup(doc, "doc_id", "text")
      .select(col("id_a"), col("id_b")).localCheckpoint()
    val ids = doc.select(col("doc_id").as("id"))
    def groupsNow(): Set[(Long, Long)] = Dedup.resolveGroups(ids, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def kmeansNow(): (Set[(Long, Long)], Seq[Double]) = {
      val (assign, _, moves) = Similarity.kmeansIterate(emb, "vec_id",
        "embedding", col("vec_id") % 37 === 1, maxIter = 2, tol = -1.0)
      (assign.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        moves)
    }
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty,
      "test expects the shared session to have no checkpoint dir")
    val localG = groupsNow()
    val (localA, localM) = kmeansNow()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    try {
      sc.setCheckpointDir(dir.toString)
      // same inputs, reliable-checkpoint strategy: bit-identical
      // groups, assignments, and per-round movement scalars
      assert(groupsNow() == localG)
      val (relA, relM) = kmeansNow()
      assert(relA == localA && relM == localM)
    } finally {
      sc.setCheckpointDir(null) // restore the local strategy for the
      rmTree(dir.toFile)        // rest of the suite
    }
  }

  test("keepCanonical keeps the best-scoring row per group, ties to min id") {
    import spark.implicits._
    import graft.operators.Dedup
    val df = Seq(
      (1L, "g1", 0.5), (2L, "g1", 0.9), (3L, "g1", 0.9), // tie at 0.9
      (4L, "g2", 0.1),
      (5L, "g3", 0.0), (6L, "g3", 0.0))                  // all-zero group
      .toDF("id", "grp", "score")
    val got = Dedup.keepCanonical(df, "id", "grp", "score")
      .collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    assert(got == Map("g1" -> 2L, "g2" -> 4L, "g3" -> 5L))
    // exactly one survivor per group, schema unchanged
    assert(Dedup.keepCanonical(df, "id", "grp", "score").columns.toSeq ==
      Seq("id", "grp", "score"))
  }

  test("centroidUpdate computes per-cell means of assigned vectors") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), // centroid cell 1
      (2L, Array(0.0f, 1.0f)), // centroid cell 2
      (3L, Array(0.9f, 0.1f)), // assigns to cell 1
      (4L, Array(0.1f, 0.9f))  // assigns to cell 2
    ).toDF("vec_id", "embedding")
    val stats = Similarity.centroidUpdate(df, "vec_id", "embedding",
      col("vec_id") <= 2)
    val sums = stats.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getLong(3)))).toMap
    assert(sums((1L, 1L)) == ((1.9, 2L)) && sums((1L, 2L)) == ((0.1, 2L)))
    assert(sums((2L, 1L)) == ((0.1, 2L)) && sums((2L, 2L)) == ((1.9, 2L)))
    val m = Similarity.centroidMeans(stats).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m((1L, 1L)) == 0.95 && m((2L, 2L)) == 0.95)
  }

  test("redactPII scrubs emails, phones, and long digit runs") {
    import spark.implicits._
    val df = Seq(
      "contact alice.smith+x@example.co.uk now",
      "call +1 (415) 555-0199 today",
      "ssn-ish 123456789 stays hidden",
      "clean text stays untouched").toDF("t")
    val out = df.select(
      graft.functions.TextFunctions.redactPII(col("t"))).collect()
      .map(_.getString(0))
    assert(out(0) == "contact [EMAIL] now")
    assert(out(1) == "call [PHONE] today")
    assert(out(2) == "ssn-ish [NUMBER] stays hidden")
    assert(out(3) == "clean text stays untouched")
  }

  test("multimodal: payload bytes survive the plumbing; stub features deterministic") {
    val media = Multimodal.mediaTable(spark, sf)
    val feats = Multimodal.extractFeatures(media).collect()
    val chars = Tables.table(spark, sf, "documents")
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ASCII corpus: utf-8 byte length == char count
    feats.foreach { f => assert(f.byte_len == chars(f.media_id)) }
    assert(feats.forall(_.features.length == Multimodal.FeatureDim))
    val again = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f.checksum).toMap
    feats.foreach(f => assert(again(f.media_id) == f.checksum))
  }

  test("multimodal: transformMedia rewrites payloads and metadata, schema-stable") {
    val media = Multimodal.mediaTable(spark, sf)
    val out = Multimodal.transformMedia(media, 320, 240)
    assert(out.schema == media.schema ||
      out.columns.toSeq == media.columns.toSeq,
      "media transforms must keep the media schema so they compose")
    val rows = out.collect()
    assert(rows.forall(r => r.width == 320 && r.height == 240))
    val src = media.collect().map(r =>
      r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    rows.foreach { r =>
      assert(r.payload.length <= src(r.media_id).length &&
        r.payload.length > 0)
    }
    // composes: re-extract features from the transformed media
    assert(Multimodal.extractFeatures(out.toDF()).count() == rows.length)
  }

  test("multimodal: real PNG codec round-trips pixels; non-images become poison rows") {
    import spark.implicits._
    // a known 2x2 RGB PNG through the real encoder: decode must see
    // 3 bands and band-0 (red) mean (10+20+30+40)/4
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, new java.awt.Color(10, 0, 0).getRGB)
    img.setRGB(1, 0, new java.awt.Color(20, 0, 0).getRGB)
    img.setRGB(0, 1, new java.awt.Color(30, 0, 0).getRGB)
    img.setRGB(1, 1, new java.awt.Color(40, 0, 0).getRGB)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val media = Seq(
      (1L, out.toByteArray),
      (2L, "definitely not an image".getBytes("UTF-8")),
      (3L, Array.empty[Byte])).toDF("media_id", "payload")
    val got = Multimodal.decodeImages(media).collect()
      .map(m => m.media_id -> m).toMap
    assert(got(1L).width == 2 && got(1L).height == 2)
    assert(got(1L).channels == 3)
    assert(got(1L).mean_gray == 25.0)
    // undecodable payloads are explicit poison rows, never dropped
    Seq(2L, 3L).foreach { id =>
      assert(got(id).width == -1 && got(id).channels == -1,
        s"payload $id should decode to a poison row")
    }
    // the synthetic corpus generator and the decoder agree end-to-end
    val rt = Multimodal.decodeImages(
      Multimodal.syntheticPngTable(spark, sf)).collect()
    assert(rt.nonEmpty && rt.forall(m =>
      m.width == (8 + m.media_id % 9) && m.height == (8 + m.media_id % 7)
        && m.channels == 1))
  }

  test("multimodal: frame sampling reconstructs the payload windows") {
    import spark.implicits._
    val text = ("ab" * 100).take(150) // 150 bytes ASCII
    val media = Seq((7L, text)).toDF("media_id", "text")
      .select(col("media_id"), encode(col("text"), "UTF-8").as("payload"))
    val frames = Multimodal.sampleFrames(media, frameBytes = 64, stride = 48)
      .collect().sortBy(_.getLong(1))
    // nMax = floor((150-64)/48) = 1 → frames 0 and 1
    assert(frames.length == 2)
    assert(frames(0).getLong(2) == 64 &&
      frames(0).getString(3) == text.take(64).getBytes("UTF-8")
        .map("%02X".format(_)).mkString)
    assert(frames(1).getLong(2) == 64 &&
      frames(1).getString(3) == text.slice(48, 112).getBytes("UTF-8")
        .map("%02X".format(_)).mkString)
    // short payload still yields one partial frame
    val shortM = Seq((8L, "tiny")).toDF("media_id", "text")
      .select(col("media_id"), encode(col("text"), "UTF-8").as("payload"))
    val sf2 = Multimodal.sampleFrames(shortM).collect()
    assert(sf2.length == 1 && sf2.head.getLong(2) == 4)
  }

  test("multimodal: metadata-only query plan prunes the payload column") {
    val plan = Multimodal.metadataSummary(Multimodal.mediaTable(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("payload"), "payload column not pruned:\n" + plan)
  }

  test("jaccard df cap drops a stop-phrase shingle (bounded join at scale)") {
    import spark.implicits._
    // 4 docs share ONE hot 3-gram ("alpha beta gamma", df=4) and are
    // otherwise disjoint — the shape of a stop-phrase join explosion
    val df = (1 to 4).map(i =>
      (i.toLong, s"alpha beta gamma u${i}a u${i}b u${i}c"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(df, "doc_id", "text", 1, 10)
    assert(uncapped.count() == 6, "all pairs share the hot shingle")
    val capped = Dedup.ngramJaccardPairs(df, "doc_id", "text", 1, 10,
      maxDocFreq = 3)
    assert(capped.count() == 0, "capped index must drop the df=4 shingle")
    val idx = Dedup.capDocFreq(
      Dedup.shingleIndex(df, "doc_id", "text"), 3)
    assert(!idx.collect().map(_.getString(1)).contains("alpha beta gamma"))
    // a cap above every df is a no-op
    assert(Dedup.ngramJaccardPairs(df, "doc_id", "text", 1, 10,
      maxDocFreq = 4).count() == 6)
  }

  test("D13 containment: quoted excerpt scores 1.0 where symmetric jaccard misses it") {
    import spark.implicits._
    val long = (1 to 40).map(i => s"w$i").mkString(" ")
    val excerpt = (5 to 14).map(i => s"w$i").mkString(" ") // inside `long`
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val df = Seq((1L, long), (2L, excerpt), (3L, other))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(df, "doc_id", "text", 8, 10).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    // 10-word excerpt → 8 shingles, every one inside doc 1's 38
    assert(r.getLong(2) == 38 && r.getLong(3) == 8 && r.getLong(4) == 8)
    assert(r.getDouble(5) == 1.0)
    // the same pair under symmetric jaccard: 8/38 ≈ 0.21 — below a
    // 3/10 bar, exactly the relation containment exists to catch
    val jac = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 10)
      .collect()
    assert(!jac.exists(x => x.getLong(0) == 1L && x.getLong(1) == 2L))
  }

  test("D13 containment on the corpus: threshold holds, shared bounded by min, dups at 1.0") {
    val doc = Tables.table(spark, sf, "documents")
    val out = Dedup.containmentPairs(doc, "doc_id", "text",
      maxDocFreq = 20).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(4) <= math.min(r.getLong(2), r.getLong(3)))
      assert(r.getDouble(5) >= 0.3 - 1e-9 && r.getDouble(5) <= 1.0)
    }
    assert(out.exists(_.getDouble(5) == 1.0),
      "the corpus's exact-dup fixtures are full-containment pairs")
  }

  test("minhash signature rejects k beyond the digest window bound") {
    import spark.implicits._
    val sh = Dedup.shingleIndex(
      Seq((1L, "a b c d e")).toDF("doc_id", "text"), "doc_id", "text")
    // k=20's last window would start at hex offset 58 and cover only
    // 7 of its 8 chars — the silent degradation the bound exists for
    intercept[IllegalArgumentException] {
      Dedup.signatureFromIndex(sh, 20)
    }
    assert(Dedup.signatureFromIndex(sh, 19).columns.length == 20)
  }

  test("LSH near-dup pairs: subset of pairwise result, identical scores, no dups") {
    val emb = Tables.table(spark, sf, "embeddings")
    val full = Similarity
      .cosineNearDupPairs(emb, "vec_id", "embedding", 0.35).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity
      .cosineNearDupPairsLsh(emb, "vec_id", "embedding", 0.35).collect()
    assert(lsh.nonEmpty, "bucketed variant found no pairs at all")
    val keys = lsh.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length,
      "multiprobe emitted a pair more than once")
    lsh.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(full.contains(k), s"phantom pair $k")
      assert(full(k) == r.getDouble(2), s"score drift on $k")
    }
    // Recall floor vs the exact pairwise result — the regression the
    // self-mirror driver gate can't catch (same rationale as the ANN
    // recall spec above, including the plane-count rule: the 12-plane
    // gate setting is sized for a real corpus, so the measurable spec
    // probes at 4 planes / 16 buckets over these 500 vectors).
    val lsh4 = Similarity
      .cosineNearDupPairsLsh(emb, "vec_id", "embedding", 0.35,
        nPlanes = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = full.keySet.count(lsh4).toDouble / full.size
    info(f"pair recall at 4 planes: $recall%.3f (${full.size} exact pairs)")
    // measured (deterministic: seeded planes, fixed data): 0.463 over
    // 257 exact pairs, with ~31% of the corpus sharing a probe set —
    // the buckets genuinely concentrate near-dup pairs; the floor
    // sits just below the measured value and craters on a real
    // bucketing regression (wrong planes, dropped probe, bad join)
    assert(recall >= 0.40, f"LSH pair recall $recall%.3f below 0.40")
  }

  test("ivfpq: shortlist stays inside probed cells, rerank scores are exact cosines") {
    val emb = Tables.table(spark, sf, "embeddings").localCheckpoint()
    val (m, dim) = (4, 64)
    val qp = col("vec_id") % 50 === 0
    val cents = emb.filter(col("vec_id") % 37 === 1)
      .select(col("vec_id").as("cell"), col("embedding").as("centv"))
      .localCheckpoint()
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m, dim,
      col("vec_id") % 17 === 5, rounds = 2).localCheckpoint()
    val cellCodes = Similarity.pqEncodeCells(emb, "vec_id", "embedding",
      cents, cb, m, dim).localCheckpoint()
    // index completeness: every vector carries one code per subspace
    // and exactly one cell
    val n = emb.count()
    assert(cellCodes.count() == n * m)
    assert(cellCodes.select("id", "cell").distinct().count() == n)
    // nprobe=1 makes the cell restriction real (2 cells at this sf):
    // every shortlisted candidate must live in its query's ONE
    // probed (nearest) cell
    val cellOf = cellCodes.filter(col("subspace") === 0)
      .select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nearestCell = Similarity.assignToCentroids(
        emb.filter(qp), "vec_id", "embedding", cents)
      .select("cand_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sl = Similarity.ivfpqShortlist(emb.filter(qp), "vec_id",
      "embedding", cents, cellCodes, cb, m, dim, k = 20, nprobe = 1)
      .collect()
    assert(sl.nonEmpty)
    sl.foreach { r =>
      val (q, c) = (r.getLong(0), r.getLong(1))
      assert(cellOf(c) == nearestCell(q),
        s"candidate $c (cell ${cellOf(c)}) outside query $q's probed " +
          s"cell ${nearestCell(q)}")
      assert(c != q, "self-match in shortlist")
    }
    // the exact rerank inherits bruteForce's scores: any (q, cand)
    // present in both must carry the identical rounded cosine
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        qp, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val rr = Similarity.ivfpqTopKReranked(emb, "vec_id", "embedding",
      qp, cents, cellCodes, cb, m, dim, k = 10, nprobe = 1,
      rerank = 20).collect()
    val shared = rr.flatMap { r =>
      exact.get((r.getLong(0), r.getLong(1)))
        .map(e => e == r.getDouble(3))
    }
    assert(shared.nonEmpty, "rerank found none of the exact top-10")
    assert(shared.forall(identity), "rerank score drift vs bruteForce")
  }

  test("ADC sums are order-free: indexed serve == in-memory serve " +
      "even when the shortlist cut lands inside an exact-tie zone") {
    // the sf1 finding: a DOUBLE sum over the m per-subspace ADC terms
    // is order-sensitive, and codes read back from an index's cell
    // partitions aggregate in a different row order than freshly
    // encoded ones — on a near-duplicate corpus the rank-`rerank` cut
    // sits among EXACTLY tied candidates, so a last-ulp difference
    // flips which tied candidate survives. The decimal partial sums
    // make the ADC score order-free; this corpus makes the tie zone
    // certain: 12 identical copies of each base vector, rerank=10.
    val emb = Tables.table(spark, sf, "embeddings")
    val bases = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("b"), col("embedding"))
      .localCheckpoint()
    val rep = (0 until 12).map(c =>
        bases.select((col("b") * 1000 + c).as("vec_id"),
          col("embedding")))
      .reduce(_.unionByName(_)).localCheckpoint()
    val (m, dim) = (4, 64)
    val qp = col("vec_id") === 0 // base 0's first copy
    val cents = bases.select(col("b").as("cell"),
      col("embedding").as("centv")).localCheckpoint()
    val cb = Similarity.pqTrain(rep, "vec_id", "embedding", m, dim,
      col("vec_id") % 5 === 2, rounds = 1).localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-adc-ties").toFile
    try {
      val path = dir.toString
      val isNew = col("vec_id") % 3 === 0
      graft.operators.VectorIndex.write(rep.filter(!isNew), "vec_id",
        "embedding", cents, cb, m, dim, path)
      graft.operators.VectorIndex.append(rep.filter(isNew), "vec_id",
        "embedding", path)
      val served = graft.operators.VectorIndex.topK(spark, path, rep,
        "vec_id", "embedding", qp, k = 5, nprobe = 2, rerank = 10)
        .collect()
      val mem = Similarity.ivfpqTopKReranked(rep, "vec_id",
        "embedding", qp, cents,
        Similarity.pqEncodeCells(rep, "vec_id", "embedding", cents,
          cb, m, dim), cb, m, dim, k = 5, nprobe = 2, rerank = 10)
        .collect()
      assert(served.toSet == mem.toSet && served.nonEmpty)
      // the survivors of the tie zone are the id-ascending prefix of
      // base 0's sibling copies (score desc, id asc — the declared
      // total order), not an arbitrary subset
      val sibs = served.filter(_.getDouble(3) == 1.0)
        .map(r => (r.getLong(2), r.getLong(1))).sortBy(_._1)
      assert(sibs.nonEmpty)
      assert(sibs.map(_._2).toSeq == sibs.map(_._2).sorted.toSeq,
        s"tied candidates must rank id-ascending: ${sibs.toSeq}")
      assert(sibs.map(_._2).forall(_ <= sibs.map(_._2).max))
    } finally rmTree(dir)
  }

  test("vector index: append is atomic and replay-refused, serve prunes to probed cells across batches") {
    val emb = Tables.table(spark, sf, "embeddings").localCheckpoint()
    val (m, dim) = (4, 64)
    val qp = col("vec_id") % 50 === 0
    val isNew = col("vec_id") >= 40
    val cents = emb.filter(col("vec_id") % 37 === 1)
      .select(col("vec_id").as("cell"), col("embedding").as("centv"))
      .localCheckpoint()
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m, dim,
      col("vec_id") % 17 === 5, rounds = 2).localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vecidx-spec").toFile
    try {
      val path = dir.toString
      graft.operators.VectorIndex.write(emb.filter(!isNew), "vec_id",
        "embedding", cents, cb, m, dim, path)
      val bid = graft.operators.VectorIndex.append(emb.filter(isNew),
        "vec_id", "embedding", path)
      // replay guard: the same batch id is refused loudly, and the
      // refused attempt leaves the published batch set unchanged
      val e0 = intercept[graft.ReplayRefused] {
        graft.operators.VectorIndex.append(emb.filter(isNew),
          "vec_id", "embedding", path)
      }
      assert(e0.getMessage.contains(bid))
      assert(new java.io.File(path, "batches").listFiles()
        .map(_.getName).toSet == Set("bootstrap", bid))
      // indexed serve over bootstrap+append == in-memory serve over
      // the full corpus, bit for bit
      val mem = Similarity.ivfpqTopKReranked(emb, "vec_id", "embedding",
        qp, cents, Similarity.pqEncodeCells(emb, "vec_id", "embedding",
          cents, cb, m, dim), cb, m, dim,
        k = 5, nprobe = 1, rerank = 10).collect().toSet
      val served = graft.operators.VectorIndex.topK(spark, path, emb,
        "vec_id", "embedding", qp, k = 5, nprobe = 1, rerank = 10)
        .collect().toSet
      assert(served == mem && served.nonEmpty)
      // pruning contract: nprobe=1 probes a strict subset of the
      // stored cell partitions (2 cells at this sf, 1 query); the
      // resolved paths all match probed cells and span BOTH batches
      val stored = new java.io.File(path, "batches").listFiles()
        .flatMap(b => new java.io.File(b, "cellCodes").listFiles())
        .filter(_.isDirectory).map(_.getName).toSet
      val cells = graft.operators.VectorIndex.probedCells(
        emb.filter(qp), "vec_id", "embedding", cents, nprobe = 1)
      val prunedPaths = graft.operators.VectorIndex.prunedCellPaths(
        spark, path, cells)
      val pruned = prunedPaths
        .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
      assert(pruned == cells.map(c => s"cell=$c").toSet)
      assert(pruned.subsetOf(stored) && pruned.size < stored.size,
        s"probe should open fewer partitions than stored: " +
          s"$pruned vs $stored")
      // the literal COUNT bound, not just the subset: a probe may
      // open at most |probed cells| × |committed batches| partition
      // directories — a pruning regression (extra batches, unprobed
      // cells) fails here every round, not just in ScaleStress
      assert(prunedPaths.size <= cells.size * 2,
        s"probe opened ${prunedPaths.size} cell dirs; bound is " +
          s"|cells|=${cells.size} × 2 batches")
      assert(prunedPaths.map(_.split('/').takeRight(3).head).toSet ==
        Set("bootstrap", bid),
        "probed cell partitions should come from every published batch")
      // commit marker: a crash mid-rebuild leaves no _meta → loud
      // refusal, never a half-built serve
      assert(new java.io.File(path, "_meta").delete())
      val e = intercept[IllegalArgumentException] {
        graft.operators.VectorIndex.topK(spark, path, emb,
          "vec_id", "embedding", qp, k = 5, nprobe = 1, rerank = 10)
      }
      assert(e.getMessage.contains("_meta"))
    } finally SparkTestSession.rmTree(dir)
  }

  test("vector index: compaction preserves serve and replay refusal; duplicate payloads don't skew ADC") {
    val emb = Tables.table(spark, sf, "embeddings").localCheckpoint()
    val (m, dim) = (4, 64)
    val qp = col("vec_id") % 50 === 0
    val isNew = col("vec_id") >= 40
    val cents = emb.filter(col("vec_id") % 37 === 1)
      .select(col("vec_id").as("cell"), col("embedding").as("centv"))
      .localCheckpoint()
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m, dim,
      col("vec_id") % 17 === 5, rounds = 2).localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-veccompact-spec").toFile
    try {
      val path = dir.toString
      import graft.operators.VectorIndex
      VectorIndex.write(emb.filter(!isNew), "vec_id", "embedding",
        cents, cb, m, dim, path)
      val bid = VectorIndex.append(emb.filter(isNew), "vec_id",
        "embedding", path)
      def serve() = VectorIndex.topK(spark, path, emb, "vec_id",
        "embedding", qp, k = 5, nprobe = 1, rerank = 10)
        .collect().toSet
      val before = serve()
      assert(before.nonEmpty)
      // an exact-duplicate payload under a DIFFERENT batch id (an
      // intentional re-ingest shape) must not skew ADC sums
      VectorIndex.append(emb.filter(isNew), "vec_id", "embedding",
        path, batchId = Some("dup-copy"))
      assert(serve() == before,
        "duplicate code rows changed the served ranking")
      // a CORRECTED subset re-ingested under a new id (same vec_ids,
      // different embeddings → different codes) serves alongside the
      // original rows; compaction must preserve exactly that state —
      // the regression the content-derived merged id allowed (its
      // collision with a full-id-set batch skipped the merge while
      // the sweep deleted these rows)
      VectorIndex.append(
        emb.filter(isNew).withColumn("embedding",
          transform(col("embedding"), x => x * lit(1.5f))),
        "vec_id", "embedding", path, batchId = Some("fix-1"))
      val withFix = serve()
      // compaction: one merged batch, superseded dirs DELETED (their
      // ids move to the meta's retired list), serve identical
      val cid = VectorIndex.compact(spark, path)
      // merged ids derive from the SORTED COMMITTED LIST in the
      // reserved shape (disjoint from content/user append ids)
      assert(cid.matches("m[0-9a-f]{16}"),
        s"merged id $cid is not in the reserved m+16hex space")
      val batchDirs = new java.io.File(path, "batches").listFiles()
        .filter(_.isDirectory)
      assert(batchDirs.map(_.getName).toSet == Set(cid),
        "superseded batch dirs should be swept, not tombstoned")
      assert(serve() == withFix,
        "compaction changed the served ranking (corrected re-ingest " +
          "rows lost)")
      // the reserved shape is refused at append time, so a user id
      // can never collide with a future compaction's derived id —
      // typed apart from the path-safety refusal, so a caller knows
      // "pick another id" without message matching
      val eShape = intercept[graft.ReservedIdRefused] {
        VectorIndex.append(emb.filter(col("vec_id") < 3), "vec_id",
          "embedding", path, batchId = Some("m0123456789abcdef"))
      }
      assert(eShape.getMessage.contains("RESERVED"))
      // the refused append left the compacted state untouched
      assert(serve() == withFix)
      // the replay contract survives compaction: the original batch
      // id still refuses re-submission off the meta's retired list
      val e = intercept[graft.ReplayRefused] {
        VectorIndex.append(emb.filter(isNew), "vec_id", "embedding",
          path)
      }
      assert(e.getMessage.contains(bid) &&
        e.getMessage.contains("compacted away"))
      // an unlisted batch dir is INVISIBLE: plant an orphan copy of
      // the corpus codes next to the committed batch — the serve must
      // not change (meta-driven visibility, not directory listing)
      val orphanSrc = new java.io.File(path, s"batches/$cid")
      val orphan = new java.io.File(path, "batches/orphan-dir")
      def copyTree(src: java.io.File, dst: java.io.File): Unit = {
        if (src.isDirectory) {
          dst.mkdirs()
          src.listFiles().foreach(f =>
            copyTree(f, new java.io.File(dst, f.getName)))
        } else java.nio.file.Files.copy(src.toPath, dst.toPath)
      }
      copyTree(orphanSrc, orphan)
      assert(serve() == withFix,
        "an uncommitted orphan batch dir leaked into the serve")
      SparkTestSession.rmTree(orphan)
      // repair tooling: dropping the merged batch empties the index
      // and the serve refuses loudly instead of returning nothing
      assert(VectorIndex.dropBatch(spark, path, cid))
      val e2 = intercept[IllegalArgumentException] { serve() }
      assert(e2.getMessage.contains("no committed batches"))
    } finally SparkTestSession.rmTree(dir)
  }

  test("vector index pointer: repoint swaps the served index, crashed swap self-heals, dangling target refused") {
    val emb = Tables.table(spark, sf, "embeddings").localCheckpoint()
    val (m, dim) = (4, 64)
    val qp = col("vec_id") % 50 === 0
    val cents = emb.filter(col("vec_id") % 37 === 1)
      .select(col("vec_id").as("cell"), col("embedding").as("centv"))
      .localCheckpoint()
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m, dim,
      col("vec_id") % 17 === 5, rounds = 2).localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vecptr-spec").toFile
    try {
      import graft.operators.VectorIndex
      val root = dir.toString
      // v1 indexes only the first 30 vectors, v2 the whole corpus —
      // the two roots serve DIFFERENT results
      VectorIndex.write(emb.filter(col("vec_id") < 30), "vec_id",
        "embedding", cents, cb, m, dim, s"$root/v1")
      VectorIndex.write(emb, "vec_id", "embedding", cents, cb, m, dim,
        s"$root/v2")
      def serveVia() = VectorIndex.topKVia(spark, s"$root/current",
        emb, "vec_id", "embedding", qp, k = 5, nprobe = 1,
        rerank = 10).collect().toSet
      def serveAt(p: String) = VectorIndex.topK(spark, p, emb,
        "vec_id", "embedding", qp, k = 5, nprobe = 1, rerank = 10)
        .collect().toSet
      // pointing at a root with no committed index refuses loudly
      intercept[IllegalArgumentException] {
        VectorIndex.writePointer(spark, s"$root/current", s"$root/v9")
      }
      VectorIndex.writePointer(spark, s"$root/current", s"$root/v1")
      val v1 = serveAt(s"$root/v1")
      val v2 = serveAt(s"$root/v2")
      assert(v1 != v2, "the two roots must serve different results")
      assert(serveVia() == v1)
      // the zero-downtime republish: repoint, the serve follows
      VectorIndex.writePointer(spark, s"$root/current", s"$root/v2")
      assert(serveVia() == v2)
      // a repoint that crashed before its rename leaves its stage
      // file (naming v1) beside the intact pointer: the serve ignores
      // it, and the next repoint commits over it
      val pointer = new org.apache.hadoop.fs.Path(s"$root/current")
      val stage = graft.sources.MetaSwap.stagePath(pointer)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(stage.toUri.getPath),
        s"$root/v1\n".getBytes("UTF-8"))
      assert(serveVia() == v2)
      VectorIndex.writePointer(spark, s"$root/current", s"$root/v1")
      assert(serveVia() == v1)
    } finally SparkTestSession.rmTree(dir)
  }

  test("vector index: write refuses a committed root, rebuilds crash residue; memberless probe serves empty") {
    val emb = Tables.table(spark, sf, "embeddings").localCheckpoint()
    val (m, dim) = (4, 64)
    val qp = col("vec_id") % 50 === 0
    val cents = emb.filter(col("vec_id") % 37 === 1)
      .select(col("vec_id").as("cell"), col("embedding").as("centv"))
      .localCheckpoint()
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding", m, dim,
      col("vec_id") % 17 === 5, rounds = 2).localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-vecwrite-spec").toFile
    try {
      import graft.operators.VectorIndex
      val path = s"$dir/idx"
      VectorIndex.write(emb, "vec_id", "embedding", cents, cb, m, dim,
        path)
      def serve() = VectorIndex.topK(spark, path, emb, "vec_id",
        "embedding", qp, k = 5, nprobe = 1, rerank = 10)
      val before = serve().collect().toSet
      assert(before.nonEmpty)
      // a COMMITTED index refuses an in-place rebuild — and the
      // refused attempt must leave the serving index fully intact
      val e = intercept[IllegalArgumentException] {
        VectorIndex.write(emb, "vec_id", "embedding", cents, cb, m,
          dim, path)
      }
      assert(e.getMessage.contains("COMMITTED"))
      assert(serve().collect().toSet == before,
        "a refused rebuild damaged the serving index")
      // a meta swap that crashed before its rename leaves its stage
      // file beside the intact _meta: the serve never reads it
      val stage = graft.sources.MetaSwap.stagePath(
        new org.apache.hadoop.fs.Path(s"$path/_meta"))
      val stageFile = new java.io.File(stage.toUri.getPath)
      java.nio.file.Files.write(stageFile.toPath,
        "m=4\ndim=64\nbatches=\nretired=\ngen=9\n".getBytes("UTF-8"))
      assert(serve().collect().toSet == before)
      // a crashed bootstrap (artifacts present, _meta never written)
      // is residue: re-running write wipes it, the stage included,
      // and rebuilds cleanly
      assert(new java.io.File(path, "_meta").delete())
      VectorIndex.write(emb, "vec_id", "embedding", cents, cb, m, dim,
        path)
      assert(serve().collect().toSet == before)
      assert(!stageFile.exists, "the rebuild left the stage residue")
      // memberless probed cells (partitionBy writes no directory for
      // a cell with no members): the serve returns the EMPTY result
      // in the exact scored schema — never a throw on a healthy
      // sparse index
      val cells = VectorIndex.probedCells(emb.filter(qp), "vec_id",
        "embedding", cents, nprobe = 1)
      val cellPaths = VectorIndex.prunedCellPaths(spark, path, cells)
      assert(cellPaths.nonEmpty)
      cellPaths.foreach { p =>
        SparkTestSession.rmTree(new java.io.File(
          new org.apache.hadoop.fs.Path(p).toUri.getPath))
      }
      val sparse = serve()
      assert(sparse.columns.toSeq ==
        Seq("query_id", "cand_id", "rank", "cos_sim"))
      assert(sparse.schema.map(_.dataType.sql.toLowerCase).toSeq ==
        Seq("bigint", "bigint", "bigint", "double"))
      assert(sparse.count() == 0)
    } finally SparkTestSession.rmTree(dir)
  }

  test("semantic contamination: planted paraphrase flagged, benchmark excluded from corpus side") {
    import spark.implicits._
    val base = Array.fill(8)(0.0)
    def v(xs: (Int, Double)*) = {
      val a = base.clone(); xs.foreach { case (i, x) => a(i) = x }; a
    }
    // 100 = benchmark item; 1 = near-copy (cos ~0.98); 2 = unrelated
    // (orthogonal); 101 = another benchmark item near 100 — must NOT
    // appear on the corpus side
    val emb = Seq(
      (100L, v(0 -> 1.0, 1 -> 0.1)),
      (101L, v(0 -> 0.9, 1 -> 0.2)),
      (1L, v(0 -> 1.0, 1 -> 0.15)),
      (2L, v(5 -> 1.0))).toDF("vec_id", "embedding")
    val got = Similarity.semanticContamination(emb, "vec_id",
      "embedding", col("vec_id") >= 100L, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the near-copy is flagged against BOTH benchmark neighbors
    assert(got.map(t => (t._1, t._2)).toSet ==
      Set((1L, 100L), (1L, 101L)))
    assert(got.forall(_._3 >= 0.8))
    // corpus side excludes benchmark rows (100 vs 101 not reported),
    // orthogonal doc untouched
    assert(!got.exists(t => t._1 >= 100L || t._1 == 2L))
  }

  test("semantic near-dup: subset of pairwise, cell-local, trained quantizer adds recall") {
    val emb = Tables.table(spark, sf, "embeddings")
    val full = Similarity
      .cosineNearDupPairs(emb, "vec_id", "embedding", 0.35).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val seedPred = col("vec_id") % 37 === 1
    val sem = Similarity.semanticNearDupPairsSeeded(
      emb, "vec_id", "embedding", seedPred, 0.35).collect()
    assert(sem.nonEmpty, "semantic variant found no pairs at all")
    val keys = sem.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.distinct.length == keys.length,
      "a pair was emitted from more than one cell")
    sem.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(full.contains(k), s"phantom pair $k")
      assert(full(k) == r.getDouble(3), s"score drift on $k")
    }
    val seedRecall = keys.count(full.keySet).toDouble / full.size
    // the SemDeDup claim — a LEARNED partition concentrates near-dup
    // pairs better than the same partition before training: train the
    // quantizer with 5 Lloyd rounds from the same seeds and re-prune
    val (_, trained, _) = Similarity.kmeansIterate(
      emb, "vec_id", "embedding", seedPred, maxIter = 5)
    val trainedKeys = Similarity.semanticNearDupPairs(
      emb, "vec_id", "embedding", trained, 0.35).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val trainedRecall = full.keySet.count(trainedKeys).toDouble / full.size
    info(f"pair recall: seed cells $seedRecall%.3f" +
      f" -> trained cells $trainedRecall%.3f (${full.size} exact pairs)")
    assert(trainedKeys.subsetOf(full.keySet), "phantom pair from trained cells")
    // measured (deterministic: fixed seeds, fixed data, unrolled
    // Lloyd): seed 0.202 -> trained 0.319 over 257 exact pairs at 14
    // cells (~7% of the corpus per cell) — training buys +0.12 recall
    // at identical pair budget. Floors just below; training must
    // never DEGRADE the partition it started from
    assert(trainedRecall >= seedRecall - 0.02,
      f"training degraded pair recall: $seedRecall%.3f -> $trainedRecall%.3f")
    assert(seedRecall >= 0.18,
      f"seed-cell pair recall $seedRecall%.3f below 0.18 floor")
    assert(trainedRecall >= 0.28,
      f"trained-cell pair recall $trainedRecall%.3f below 0.28 floor")
  }

  test("portable fingerprint: every doc in exactly one group, dups collide") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), // identical → one group
      (3L, "zz"),                           // too short to shingle
      (4L, "totally different words here")
    ).toDF("doc_id", "text")
    val g = Dedup.fingerprintGroupsPortable(df, "doc_id", "text").collect()
    assert(g.map(_.getLong(2)).sum == 4, "every doc lands in one group")
    assert(g.exists(r => r.getLong(2) == 2 && r.getLong(1) == 1L),
      "identical docs share a fingerprint, min id survives")
    assert(g.length == 3)
  }
}
