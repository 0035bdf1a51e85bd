package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Corpus, Dedup}
import graft.sources.Tables

/** SURVEY.md §2.11 corpus management + §2.6 D7 group resolution +
  * §2.8 T6 normalization.
  */
class CorpusSpec extends AnyFunSuite {
  import SparkTestSession._

  test("resolveGroups: min-reachable label over chains, singletons keep themselves") {
    import spark.implicits._
    val ids = (1L to 8L).toDF("id")
    // chain 1-2-3-4-5 (diameter forces multiple propagation rounds),
    // pair 6-7, singleton 8
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 7L))
      .toDF("id_a", "id_b")
    val got = Dedup.resolveGroups(ids, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      6L -> 6L, 7L -> 6L, 8L -> 8L))
    // clean corpus (zero pairs): every id is its own group, no NPE
    val clean = Dedup.resolveGroups(ids,
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clean == (1L to 8L).map(i => i -> i).toMap)
  }

  test("resolveGroups: hitting maxRounds unconverged throws, never returns partial labels") {
    import spark.implicits._
    // a 40-node path graph: one neighbor-min + two ×2 pointer jumps
    // cannot carry label 1 to the far end in a single round, so
    // maxRounds = 1 exits while labels are still moving
    val n = 40L
    val ids = (1L to n).toDF("id")
    val path = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // force the ITERATIVE path (tinyThreshold = -1): the r18
    // single-task union-find branch converges regardless of
    // maxRounds, so the non-convergence contract belongs to the
    // iterative propagation alone
    val e = intercept[IllegalStateException] {
      Dedup.resolveGroups(ids, path, maxRounds = 1,
        tinyThreshold = -1L).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // the same graph converges with the default budget
    val got = Dedup.resolveGroups(ids, path).collect()
      .map(r => r.getLong(1)).distinct
    assert(got.toSeq == Seq(1L))
  }

  test("sampleByHash: deterministic, disjoint across salts, exhaustive at num=den") {
    val doc = Tables.table(spark, sf, "documents").select("doc_id")
    val n = doc.count()
    val a = Corpus.sampleByHash(doc, "doc_id", 1, 10, "s1")
    assert(a.count() == Corpus.sampleByHash(doc, "doc_id", 1, 10, "s1").count())
    // roughly a tenth (loose: 2%–25% on a 500-doc corpus)
    assert(a.count() >= n / 50 && a.count() <= n / 4)
    assert(Corpus.sampleByHash(doc, "doc_id", 10, 10, "x").count() == n)
    // different salt draws a different set
    val b = Corpus.sampleByHash(doc, "doc_id", 1, 10, "s2")
      .collect().map(_.getLong(0)).toSet
    val aset = a.collect().map(_.getLong(0)).toSet
    assert(aset != b)
  }

  test("splitByHash: disjoint, exhaustive, stable per key") {
    val doc = Tables.table(spark, sf, "documents").select("doc_id")
    val split = Corpus.splitByHash(doc, "doc_id", "sp",
      Seq(("train", 8), ("val", 1), ("test", 1)))
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet.subsetOf(Set("train", "val", "test")))
    assert(counts.values.sum == doc.count(), "every row gets exactly one split")
    assert(counts("train") > counts.getOrElse("val", 0L))
    // stability: re-running assigns identical labels
    val again = Corpus.splitByHash(doc, "doc_id", "sp",
      Seq(("train", 8), ("val", 1), ("test", 1)))
    assert(split.except(again).count() == 0)
  }

  test("capPerGroup keeps at most n rows per group, lowest order first") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"))
      .toDF("doc_id", "lang")
    val capped = Corpus.capPerGroup(df, Seq("lang"), Seq("doc_id"), 2).collect()
    assert(capped.length == 3)
    assert(capped.count(_.getString(1) == "a") == 2)
    assert(!capped.exists(_.getLong(0) == 3L), "highest-order row dropped")
  }

  test("trainingFilter rows satisfy both gates and form a subset") {
    val doc = Tables.table(spark, sf, "documents")
    val out = Corpus.trainingFilter(doc, "doc_id", "text", 0.45, 10, 100000)
      .collect()
    assert(out.nonEmpty && out.length < doc.count())
    out.foreach { r =>
      assert(r.getDouble(1) >= 0.45)
      assert(r.getLong(2) >= 10 && r.getLong(2) <= 100000)
    }
  }

  test("normalizeText collapses whitespace and lowercases") {
    import spark.implicits._
    val got = Seq("  Foo\t\tBAR  baz \n qux ").toDF("t")
      .select(graft.functions.TextFunctions.normalizeText(col("t")))
      .head().getString(0)
    assert(got == "foo bar baz qux")
  }

  test("mixtureSample applies per-group rates, drops unlisted groups") {
    val doc = Tables.table(spark, sf, "documents").select("doc_id", "lang")
    val mixed = Corpus.mixtureSample(doc, "doc_id", "lang", "mix", 10,
      Map("en" -> 10, "zh" -> 0))
    val counts = mixed.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = doc.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("en"), "rate-10 kept, rate-0 and unlisted dropped")
    assert(counts("en") == full("en"), "rate den/den keeps every row")
    // deterministic
    assert(mixed.except(Corpus.mixtureSample(doc, "doc_id", "lang", "mix",
      10, Map("en" -> 10, "zh" -> 0))).count() == 0)
  }

  test("temperatureMixture flattens the head, keeps the smallest group whole") {
    val doc = Tables.table(spark, sf, "documents").select("doc_id", "lang")
    val full = doc.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rates = Corpus.temperatureRates(doc, "lang", 1000, alpha = 0.5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val smallest = full.minBy(_._2)._1
    assert(rates(smallest) == 1000L, "smallest group must keep everything")
    // rates monotone non-increasing as group size grows
    val bySize = full.toSeq.sortBy(_._2).map { case (g, _) => rates(g) }
    assert(bySize.zip(bySize.tail).forall { case (a, b) => a >= b },
      s"rates not monotone in group size: $bySize")
    // α=1 is the identity temperature: natural distribution kept whole
    assert(Corpus.temperatureRates(doc, "lang", 1000, alpha = 1.0)
      .collect().forall(_.getLong(1) == 1000L))
    val sampled = Corpus
      .temperatureMixture(doc, "doc_id", "lang", "temp", 1000, alpha = 0.5)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sampled.keySet == full.keySet, "temperature dropped a group")
    assert(sampled.forall { case (g, n) => n <= full(g) })
    // the point of the knob: the head/tail imbalance strictly shrinks
    val before = full.values.max.toDouble / full.values.min
    val after = sampled.values.max.toDouble / sampled.values.min
    assert(after < before, s"not flattened: $after vs $before")
  }

  test("vocabulary: top-k by term frequency, deterministic tie-break, tf >= df") {
    import spark.implicits._
    val tiny = Seq((1L, "a b a"), (2L, "a c"), (3L, "b b!"))
      .toDF("doc_id", "text")
    val v = graft.functions.TextFunctions
      .vocabulary(tiny, "doc_id", "text", 3).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // tf: a=3 b=3 c=1 !=1; ties by token asc — 'a' before 'b', '!'
    // (0x21) before 'c' at the k=3 cut
    assert(v == Map("a" -> ((3L, 2L, 1L)), "b" -> ((3L, 2L, 2L)),
      "!" -> ((1L, 1L, 3L))))
    // the synthetic corpus draws from a small word pool, so the whole
    // vocab may be under k — the cut is min(k, |vocab|) rows
    val real = graft.functions.TextFunctions.vocabulary(
      Tables.table(spark, sf, "documents"), "doc_id", "text", 100).collect()
    assert(real.nonEmpty && real.length <= 100)
    assert(real.map(_.getLong(3)).sorted.toSeq == (1L to real.length.toLong),
      "ranks must be dense 1..k")
    assert(real.forall(r => r.getLong(1) >= r.getLong(2)),
      "term_freq must dominate doc_freq")
  }

  test("packGreedy fills contiguous bins within shards, never spanning") {
    import spark.implicits._
    val df = Seq((1L, 30L, 0), (2L, 40L, 0), (3L, 50L, 0), (4L, 10L, 1))
      .toDF("doc_id", "n_tok", "shard")
    val got = Corpus.packGreedy(df, "doc_id", "n_tok", "shard",
      Seq("doc_id"), 60).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    // shard 0 cums: 0, 30, 70 → bins 0, 0, 1; shard 1 restarts at 0
    assert(got == Map(1L -> ((0, 0L)), 2L -> ((0, 0L)),
      3L -> ((0, 1L)), 4L -> ((1, 0L))))
  }

  test("truncateTokens keeps the first n tokens, whole short docs") {
    import spark.implicits._
    val got = Seq("a b c d e", "x y").toDF("t")
      .select(graft.functions.TextFunctions.truncateTokens(col("t"), 3))
      .collect().map(_.getString(0))
    assert(got.toSeq == Seq("a b c", "x y"))
  }

  test("curriculumBuckets: monotone in score, ties share a bucket, all tiers used") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, (i % 10).toDouble)).toDF("id", "s")
    val got = Corpus.curriculumBuckets(df, "id", "s", 5).collect()
      .map(r => r.getDouble(1) -> r.getLong(2))
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).distinct.length == 1, "ties split across buckets")
    }
    val byScore = got.distinct.sortBy(_._1).map(_._2)
    assert(byScore.zip(byScore.tail).forall { case (a, b) => a <= b },
      "bucket not monotone in score")
    assert(got.map(_._2).distinct.length >= 4, "tiers unused")
    // empty corpus → empty result, not an NPE from null thresholds
    assert(Corpus.curriculumBuckets(df.filter(col("s") < 0), "id", "s", 5)
      .count() == 0)
  }

  test("saltedSum matches the direct aggregation bit-for-bit") {
    import graft.operators.Skew
    val ev = Tables.table(spark, sf, "events")
    val direct = ev.groupBy("event_type")
      .agg(sum(col("value").cast("decimal(18,6)")).as("sum_value"),
        count(lit(1)).as("n_rows"))
      .collect().map(r => r.getString(0) ->
        ((r.getDecimal(1), r.getLong(2)))).toMap
    val salted = Skew.saltedSum(ev, Seq("event_type"),
      col("value").cast("decimal(18,6)"), col("event_id")).collect()
    assert(salted.length == direct.size)
    salted.foreach { r =>
      val (s, n) = direct(r.getString(0))
      assert(r.getDecimal(1).compareTo(s) == 0 && r.getLong(2) == n)
    }
  }

  test("saltedJoin equals the plain join") {
    import graft.operators.Skew
    val orders = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_custkey")
    val cust = Tables.table(spark, sf, "customer")
      .select("c_custkey", "c_mktsegment")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(cust, Seq("o_custkey"))
    val salted = Skew.saltedJoin(orders, cust, "o_custkey",
      col("o_orderkey"), 8)
    assert(salted.count() == plain.count())
    assert(salted.except(plain).count() == 0 &&
      plain.except(salted).count() == 0)
  }

  test("materializePacked: one row per bin, docs joined in id order") {
    import spark.implicits._
    import graft.operators.Corpus
    val df = Seq(
      (3L, "c", 0L, 0L), (1L, "a", 0L, 0L), (2L, "b", 0L, 0L),
      (4L, "d", 0L, 1L), (5L, "e", 1L, 0L))
      .toDF("doc_id", "text", "shard", "bin_id")
    val got = Corpus.materializePacked(df, "doc_id", "text",
        "shard", "bin_id", sep = "|")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getString(3)))).toMap
    // in-bin order is id order regardless of input order
    assert(got((0L, 0L)) == ((3L, "a|b|c")))
    assert(got((0L, 1L)) == ((1L, "d")))
    assert(got((1L, 0L)) == ((1L, "e")))
  }

  test("epochOrder: dense per-shard ranks; epochs give different permutations") {
    import graft.operators.Corpus
    val doc = Tables.table(spark, sf, "documents").select(col("doc_id"))
      .withColumn("shard", Corpus.hashBucket(col("doc_id"), "shard", 4))
    def ranks(epoch: Int) = Corpus.epochOrder(doc, "doc_id", "shard", epoch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val e1 = ranks(1)
    // dense 1..n within every shard
    e1.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length))
    }
    // rerun is bit-stable; a different epoch is a different permutation
    assert(ranks(1).toSet == e1.toSet)
    val e2map = ranks(2).map(r => r._1 -> r._3).toMap
    assert(e1.count(r => e2map(r._1) != r._3) > e1.length / 2,
      "epoch 2 should reorder most documents")
  }

  test("saltedJoinHotKeys equals the plain join; replication bounded by hot keys") {
    import graft.operators.Skew
    val li = Tables.table(spark, sf, "lineitem")
      .select("l_partkey", "l_orderkey", "l_quantity")
    val part = Tables.table(spark, sf, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    // median per-key count as the threshold → the hot/cold split is
    // REAL: some keys salt, some go through the plain cold join
    val counts = li.groupBy("l_partkey").count()
      .collect().map(_.getLong(1)).sorted
    val thresh = counts(counts.length / 2)
    assert(counts.last > thresh, "degenerate histogram; pick another column")
    val hot = Skew.hotKeys(li, "l_partkey", thresh)
    val nHot = hot.count()
    val nKeys = counts.length.toLong
    assert(nHot > 0 && nHot < nKeys, s"split not real: $nHot of $nKeys hot")
    val plain = li.join(part, Seq("l_partkey"))
    val got = Skew.saltedJoinHotKeys(li, part, "l_partkey",
      col("l_orderkey"), saltBuckets = 8, hotThreshold = thresh)
    assert(got.count() == plain.count())
    assert(got.except(plain).count() == 0 && plain.except(got).count() == 0)
    // the bound that motivates the variant: the salted branch
    // replicates rightHotRows × saltBuckets right rows (≤ |hot keys| ×
    // saltBuckets since part keys are unique), where the always-salt
    // form replicates |part| × saltBuckets. A median threshold makes
    // the hot fraction ≈ half, so a regression that salts cold keys
    // too (fraction → 1.0) fails the ratio bound.
    val rightHotRows = part.join(hot, Seq("l_partkey"), "left_semi").count()
    assert(rightHotRows <= nHot)
    assert(rightHotRows.toDouble / part.count() < 0.7,
      s"hot fraction ${rightHotRows.toDouble / part.count()} — " +
        "replication savings vs always-salt have collapsed")
  }

  test("repetitionReport flags a looping doc, passes a diverse one") {
    import spark.implicits._
    val looped = (1 to 10).map(_ => "spam ham eggs").mkString(" ")
    val diverse = (1 to 30).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, looped), (2L, diverse)).toDF("doc_id", "text")
    val rep = graft.functions.TextFunctions
      .repetitionReport(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(rep(1L)._1 > 0.8, "looping doc has high duplicate-token fraction")
    assert(rep(1L)._2 > 0.8, "looping doc has high duplicate-ngram fraction")
    assert(rep(2L)._1 == 0.0 && rep(2L)._2 == 0.0)
  }

  test("incremental dedup finds new-vs-existing pairs, skips existing-vs-existing") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"word$i").mkString(" ")
    val other = (100 to 130).map(i => s"tok$i").mkString(" ")
    // docs 1,2 identical & existing; 3 identical & NEW; 4 unrelated new
    val df = Seq((1L, base), (2L, base), (3L, base), (4L, other))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashDedupIncremental(df, "doc_id", "text",
      isNew = col("doc_id") >= 3L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      "new doc pairs with each existing duplicate")
    assert(!pairs.contains((1L, 2L)),
      "existing-vs-existing pair must not be re-emitted")
  }

  test("asofJoin attaches latest right payload at-or-before each left ts") {
    import graft.operators.Events
    import spark.implicits._
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    val left = Seq((10L, 1L, ts(3)), (11L, 1L, ts(5)), (12L, 1L, ts(7)),
      (13L, 1L, ts(10)), (14L, 2L, ts(9)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((90L, 1L, ts(5), "A"), (91L, 1L, ts(10), "B"))
      .toDF("event_id", "user_id", "ts", "label")
    val got = Events.asofJoin(left, right, "user_id", "ts", "event_id",
      Seq("label")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(got == Map(
      10L -> None,        // before any right row
      11L -> Some("A"),   // tie: right row at same ts matches (≤)
      12L -> Some("A"),
      13L -> Some("B"),
      14L -> None))       // other key, no right rows
  }

  test("packPieces: every bin exactly at budget, split doc offsets contiguous") {
    import spark.implicits._
    import graft.operators.Corpus
    // budget 10, one shard; doc 2 (25 tokens) must span four bins,
    // doc 4 (zero tokens) must vanish
    val docs = Seq((1L, 7L), (2L, 25L), (3L, 4L), (4L, 0L), (5L, 9L))
      .toDF("id", "n").withColumn("shard", lit(0L))
    val pieces = Corpus.packPieces(docs, "id", "n", "shard", Seq("id"), 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(!pieces.exists(_._1 == 4L), "zero-token doc emitted a piece")
    // 45 tokens → four EXACT bins of 10 and a 5-token tail
    val byBin = pieces.groupBy(_._2).view.mapValues(_.map(_._4).sum).toMap
    assert(byBin ==
      Map(0L -> 10L, 1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 5L))
    // the split doc's pieces tile [0, 25) in bin order with no gap
    val d2 = pieces.filter(_._1 == 2L).sortBy(_._2).map(p => (p._3, p._4))
    assert(d2.toSeq == Seq((0L, 3L), (3L, 10L), (13L, 10L), (23L, 2L)))
  }

  test("packTokenStream: boundary docs split, bins hold exact token counts") {
    import spark.implicits._
    import graft.operators.Corpus
    val docs = Seq(
      (1L, "a b c d e f g"), // 7 tokens: fills bin0, spills 2 into bin1
      (2L, "h i j"),         // 3 tokens: completes bin1
      (3L, "k l m n"))       // 4 tokens: the short tail bin
      .toDF("doc_id", "text").withColumn("shard", lit(0L))
    val packed = Corpus.packTokenStream(docs, "doc_id", "text", "shard",
        budget = 5, sep = "|")
      .orderBy("bin_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(packed.toSeq == Seq(
      (0L, 1L, 5L, "a b c d e"),
      (1L, 2L, 5L, "f g|h i j"),
      (2L, 1L, 4L, "k l m n")))
  }

  test("chunkTokens: full coverage, stride-spaced starts, overlap preserved") {
    import spark.implicits._
    val docs = Seq(
      // 23 alpha tokens (BPE-atomic: one token per word)
      (1L, (0 until 23).map(i => "t" * (i % 5 + 1) + "x").mkString(" ")),
      (2L, "a b c"),                                  // short: one chunk
      (3L, ""))                                       // empty: no chunks
      .toDF("doc_id", "text")
    val got = Corpus.chunkTokens(docs, "doc_id", "text",
        chunkSize = 10, stride = 6)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    // doc 1: starts 0, 6, 12 (+10 >= 23? 12+10=22 < 23 → one more), 18
    val d1 = got.filter(_._1 == 1L)
    assert(d1.map(_._3).toSeq == Seq(0L, 6L, 12L, 18L))
    assert(d1.map(_._2).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(d1.map(_._4).toSeq == Seq(10L, 10L, 10L, 5L))
    // every token covered: union of [start, start+len) is [0, 23)
    val covered = d1.flatMap(c => c._3 until (c._3 + c._4)).distinct.sorted
    assert(covered.toSeq == (0L until 23L))
    // consecutive chunks overlap by chunkSize - stride tokens, and the
    // overlapping token slices agree
    val texts = d1.map(_._5.split(" ").toSeq).toSeq
    texts.sliding(2).foreach {
      case Seq(a, b) => assert(a.takeRight(4) == b.take(4))
      case _ => ()
    }
    // short doc: exactly one whole-doc chunk; empty doc: absent
    assert(got.filter(_._1 == 2L).toSeq ==
      Seq((2L, 0L, 0L, 3L, "a b c")))
    assert(!got.exists(_._1 == 3L))
  }

  test("duplicateWindowReport: cross-doc and within-doc repeats counted, short docs zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),             // all 3 windows shared with 4
      (2L, "x x a b c d y"),           // one window shared
      (3L, "p q r s t"),               // unique
      (4L, "a b c d e f"),             // exact copy of 1
      (5L, "u v"),                     // too short: zero windows
      (6L, "m n o p m n o p m n o p")) // within-doc period-4 repeat
      .toDF("doc_id", "text")
    val got = Dedup.duplicateWindowReport(docs, "doc_id", "text", w = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(
      1L -> ((3L, 3L)), 2L -> ((4L, 1L)), 3L -> ((2L, 0L)),
      4L -> ((3L, 3L)), 5L -> ((0L, 0L)), 6L -> ((9L, 9L))))
  }

  test("duplicateSpans: windows merge into maximal islands, gaps split spans") {
    import spark.implicits._
    val docs = Seq(
      (7L, "a b c d z1 z2 z3 z4 z5 e f g h"),
      (8L, "a b c d q1 q2 q3 q4 q5 e f g h"),
      (9L, "m n o p m n o p m n o p"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, "doc_id", "text", w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // 7/8 share the head and tail 4-token runs, split by unique
    // middles; 9's period-4 self-repeat merges into one whole-doc span
    assert(got == Set(
      (7L, 0L, 4L), (7L, 9L, 13L),
      (8L, 0L, 4L), (8L, 9L, 13L),
      (9L, 0L, 12L)))
  }

  test("bpeTrain: frequency-greedy merges, lexicographic ties, run overlap, exhaustion throws") {
    import spark.implicits._
    import graft.operators.BpeTrain
    val docs = Seq("aaab aaab", "ab").toDF("text")
    // round 1: (a,a) appears 2×2=4 times (beats (a,b) at 3);
    // round 2: (a,b) at 3; round 3: (aa,ab) at 2 — then no pairs left
    val merges = BpeTrain.train(docs, "text", rounds = 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(merges == Seq(
      (1, "a", "a", "aa", 4L),
      (2, "a", "b", "ab", 3L),
      (3, "aa", "ab", "aaab", 2L)))
    intercept[IllegalStateException] {
      BpeTrain.train(docs, "text", rounds = 4)
    }
    // greedy non-overlap inside an equal-symbol run: "aaaa" merges
    // positions (1,2) and (3,4) in round 1 — so round 2's best pair
    // is (aa,aa), which only exists if the fold was truly greedy
    val runs = BpeTrain.train(Seq("aaaa").toDF("text"), "text", 2)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    assert(runs.toSeq == Seq(("a", "a", 3L), ("aa", "aa", 1L)))
    // count ties break to the lexicographically smallest pair
    val tie = BpeTrain.train(Seq("ab cd ab cd").toDF("text"), "text", 1)
      .collect()(0)
    assert((tie.getString(1), tie.getString(2)) == (("a", "b")))
  }

  test("bpeEncode: trained merges reassemble whole words, unseen text falls back to chars") {
    import spark.implicits._
    import graft.operators.BpeTrain
    val got = BpeTrain.encode(Seq("aaab ab xy").toDF("text"), "text",
        Seq(("a", "a"), ("a", "b"), ("aa", "ab")))
      .select("pieces").collect()(0).getSeq[String](0)
    assert(got == Seq("aaab", "ab", "x", "y"))
  }

  test("encodeByVocab equals the direct per-occurrence encode on real docs") {
    import graft.operators.BpeTrain
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).limit(50)
      .localCheckpoint()
    val merges = BpeTrain.train(docs, "text", 4).orderBy("round")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val direct = BpeTrain.encode(docs, "text", merges)
      .select(col("doc_id"), col("pieces")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      .filter(_._2.nonEmpty)
    val joined = BpeTrain.encodeByVocab(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(joined == direct)
    // pieces reassemble each word's characters: no token lost or added
    assert(direct.nonEmpty && direct.values.forall(_.nonEmpty))
  }

  test("trimSpans cuts duplicated spans, keeps unique middles and whole clean docs") {
    import spark.implicits._
    val docs = Seq(
      (7L, "a b c d z1 z2 z3 z4 z5 e f g h"),
      (8L, "a b c d q1 q2 q3 q4 q5 e f g h"),
      (9L, "p q r s t"))
      .toDF("doc_id", "text")
    val got = Dedup.trimSpans(docs, "doc_id", "text",
        Dedup.duplicateSpans(docs, "doc_id", "text", w = 4))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // shared head/tail runs cut, unique middles survive; the clean
    // doc passes through whole
    assert(got == Map(
      7L -> "z1 z2 z3 z4 z5",
      8L -> "q1 q2 q3 q4 q5",
      9L -> "p q r s t"))
  }

  test("retrievalPrep: fully-duplicated docs chunk to nothing, survivors chunk whole") {
    import spark.implicits._
    // docs 1/2 are exact copies (every window duplicated → trimmed to
    // empty → dropped at the token floor); doc 3 is clean and long
    // enough to survive and chunk
    val base = (1 to 40).map(i => s"unique$i distinctive prose here")
      .mkString(" ")
    val dup = (1 to 40).map(i => s"boiler plate run $i").mkString(" ")
    val docs = Seq((1L, dup), (2L, dup), (3L, base))
      .toDF("doc_id", "text")
    val chunks = Corpus.retrievalPrep(docs, "doc_id", "text",
        w = 4, minQuality = 0.0, minTokens = 10,
        chunkSize = 32, stride = 24)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(chunks.nonEmpty)
    // only the clean doc survives; the duplicated pair is cut to
    // nothing and never reaches the chunker
    assert(chunks.forall(_._1 == 3L))
    // chunk lengths cover the surviving doc's full token count
    val n = docs.filter(col("doc_id") === 3L)
      .select(graft.functions.TextFunctions.bpeTokenCount(col("text")))
      .head().getInt(0)
    assert(chunks.map(_._2).sum >= n) // overlap ⇒ sum ≥ n
  }

  test("trainLogistic: loss strictly decreases every round from the zero prior") {
    import graft.operators.Classifier
    val docs = Tables.table(spark, sf, "documents")
    val feats = Classifier.qualityFeatures(col("text"))
    val label = (col("lang") === "en").cast("int")
    val traj = Classifier.trainLogistic(docs, label, feats, iters = 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    assert(traj.length == 4 * feats.size)
    def loss(w: Map[String, Double]): Double =
      Classifier.scoreLogistic(
          docs.withColumn("__y", label.cast("double")), feats, w)
        .select(avg(negate(col("__y") * log(col("score")) +
          (lit(1.0) - col("__y")) * log(lit(1.0) - col("score")))))
        .head().getDouble(0)
    val l0 = loss(feats.map(_._1 -> 0.0).toMap) // the ln 2 zero prior
    assert(math.abs(l0 - math.log(2.0)) < 1e-12)
    val losses = (1 to 4).map(k =>
      loss(traj.filter(_._1 == k).map(t => t._2 -> t._3).toMap))
    (l0 +: losses).sliding(2).foreach {
      case Seq(a, b) => assert(b < a, s"loss rose: $a -> $b")
      case _ => ()
    }
    // the scorer's keep flag is the threshold cut, no off-by-boundary
    val w4 = traj.filter(_._1 == 4).map(t => t._2 -> t._3).toMap
    val sc = Classifier.scoreLogistic(docs, feats, w4)
    assert(sc.filter(col("keep") =!= (col("score") >= 0.5)).count() == 0)
  }

  test("bm25TopK: coverage beats repetition, absent terms score nothing, ranks total-order") {
    import spark.implicits._
    import graft.operators.Bm25
    val docs = Seq(
      (1L, "vector hash join fast pipeline"),  // all 4 query terms
      (2L, "vector vector vector vector vector filler filler"), // 1 term repeated
      (3L, "hash join table scan"),            // 2 terms
      (4L, "completely unrelated prose text")) // 0 terms: absent
      .toDF("doc_id", "text")
    val got = Bm25.bm25TopK(docs, "doc_id", "text",
        "fast vector hash join", k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(got.map(_._1).toSeq == Seq(1L, 3L, 2L))
    // ranks are dense 1..n and scores non-increasing
    assert(got.map(_._3).toSeq == (1L to 3L))
    assert(got.map(_._2).toSeq == got.map(_._2).sorted.reverse.toSeq)
    // term saturation: five repeats of one term can't outrank two
    // distinct matched terms (the k1 sublinearity BM25 exists for)
    assert(got.find(_._1 == 3L).get._2 > got.find(_._1 == 2L).get._2)
    assert(!got.exists(_._1 == 4L))
    // a query whose every term is absent from the corpus scores
    // nothing: the bounded top-k aggregate emits an empty list, not
    // a null row
    assert(Bm25.bm25TopK(docs, "doc_id", "text", "zzzz qqqq", k = 5)
      .count() == 0)
  }

  test("bm25 index: append equals one-shot, probe prunes to query terms, replay refused, meta swap self-heals") {
    import spark.implicits._
    import graft.operators.Bm25
    val docs = Seq(
      (1L, "vector hash join fast pipeline"),
      (2L, "vector vector vector vector vector filler filler"),
      (3L, "hash join table scan"),
      (4L, "completely unrelated prose text"),
      (5L, "fast scan over the hash table")).toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-spec").toFile
    try {
      val path = dir.toString
      // bootstrap 3 docs, append the other 2: additive postings/N/Σlen
      // make the probed result the one-shot full-corpus BM25
      Bm25.writeBm25Index(docs.filter(col("doc_id") <= 3), "doc_id",
        "text", path)
      val bid = Bm25.appendBm25Index(docs.filter(col("doc_id") > 3),
        "text", path)
      val query = "fast vector hash join"
      // bit-identical to the inline form over ALL docs
      val inline = Bm25.bm25TopK(docs, "doc_id", "text", query, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSet
      val probed = Bm25.bm25TopKIndexed(spark, path, query, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSet
      assert(probed == inline && probed.nonEmpty)
      // replay refused off the meta's committed list — TYPED, the
      // structural contract the streaming sinks catch
      val e0 = intercept[graft.ReplayRefused] {
        Bm25.appendBm25Index(docs.filter(col("doc_id") > 3), "text",
          path)
      }
      assert(e0.getMessage.contains(bid))
      // pruning contract: the probe's explicit paths are a subset of
      // the stored partitions (across BOTH batches) and every one
      // matches a query-term prefix — scanned input ∝ query, not
      // vocabulary
      val stored = new java.io.File(path, "batches").listFiles()
        .flatMap(_.listFiles()).filter(_.isDirectory)
        .map(_.getName).toSet
      val wanted = Bm25.queryTerms(query)
        .map(t => s"term_p=${Bm25.termPrefix(t)}").toSet
      val probePaths = Bm25.prunedPostingPaths(spark, path,
        Bm25.queryTerms(query))
      val probeNames = probePaths
        .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
      assert(probeNames.subsetOf(stored))
      assert(probeNames.subsetOf(wanted))
      assert(stored.size > probeNames.size,
        "a 5-doc vocabulary should spread past the 4 query prefixes")
      // the literal COUNT bound, not just the subset: a probe may
      // open at most |query terms| × |committed batches| term_p
      // directories — a pruning regression fails here every round,
      // not just in a manual ScaleStress run
      assert(probePaths.size <= Bm25.queryTerms(query).size * 2,
        s"probe opened ${probePaths.size} term dirs; bound is " +
          s"|terms|=${Bm25.queryTerms(query).size} × 2 batches")
      assert(probePaths.map(_.split('/').takeRight(2).head).toSet ==
        Set("bootstrap", bid),
        "probed partitions should come from every committed batch")
      // a term absent from the corpus prunes to nothing → empty result
      assert(Bm25.bm25TopKIndexed(spark, path, "zzznotaterm", k = 5)
        .count() == 0)
      // single-snapshot contract: path resolution takes the CALLER's
      // meta snapshot and never re-reads _meta — with the marker gone,
      // the threaded form still resolves the same paths (a probe pairs
      // ONE snapshot's scalars with the SAME snapshot's visibility)
      val snap = Bm25.readBm25Meta(spark, path)
      val metaFile = new java.io.File(path, "_meta")
      val metaBytes = java.nio.file.Files.readAllBytes(metaFile.toPath)
      assert(metaFile.delete())
      assert(Bm25.prunedPostingPaths(spark, path, snap,
        Bm25.queryTerms(query)).toSet == probePaths.toSet)
      java.nio.file.Files.write(metaFile.toPath, metaBytes)
      // repair tooling: dropping the appended batch restores the
      // bootstrap-only index exactly — scalars subtracted, batch
      // delisted and deleted, re-append accepted again
      assert(Bm25.dropBm25Batch(spark, path, bid))
      val bootOnly = Bm25.bm25TopK(docs.filter(col("doc_id") <= 3),
          "doc_id", "text", query, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSet
      assert(Bm25.bm25TopKIndexed(spark, path, query, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSet == bootOnly)
      assert(!Bm25.dropBm25Batch(spark, path, bid),
        "dropping an uncommitted batch must report false")
      assert(Bm25.appendBm25Index(docs.filter(col("doc_id") > 3),
        "text", path) == bid)
      assert(Bm25.bm25TopKIndexed(spark, path, query, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSet == inline)
      // a meta swap that crashed before its rename leaves its stage
      // file beside the intact _meta: readers never look at it
      val stageFile = new java.io.File(graft.sources.MetaSwap.stagePath(
        new org.apache.hadoop.fs.Path(s"$path/_meta")).toUri.getPath)
      java.nio.file.Files.write(stageFile.toPath,
        "n=1\nbatches=\nretired=\ngen=99\n".getBytes("UTF-8"))
      assert(Bm25.bm25TopKIndexed(spark, path, query, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSet == inline)
      // commit marker: no meta at all (crash mid-rebuild) → loud
      // refusal instead of serving half an index
      assert(new java.io.File(path, "_meta").delete())
      val e = intercept[IllegalArgumentException] {
        Bm25.bm25TopKIndexed(spark, path, query, k = 5)
      }
      assert(e.getMessage.contains("_meta"))
      // the rebuild over the crashed root reclaims the stage residue
      Bm25.writeBm25Index(docs, "doc_id", "text", path)
      assert(!stageFile.exists, "the rebuild left the stage residue")
      assert(Bm25.bm25TopKIndexed(spark, path, query, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSet == inline)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(dir)
    }
  }

  test("bm25 compaction: one merged batch, identical serve, replay refused off the retired list") {
    import graft.operators.Bm25
    val docs = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bm25-compact").toFile
    try {
      val path = dir.toString
      Bm25.writeBm25Index(docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", path)
      val bid = Bm25.appendBm25Index(docs.filter(col("doc_id") % 5 === 0),
        "text", path)
      val query = "fast vector hash join"
      def serve() = Bm25.bm25TopKIndexed(spark, path, query, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        .toSet
      val before = serve()
      assert(before.nonEmpty)
      val cid = Bm25.compactBm25Index(spark, path)
      // one merged batch dir, superseded dirs swept
      assert(new java.io.File(path, "batches").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet == Set(cid))
      // identical ranking, bit for bit (same integers, same scalars)
      assert(serve() == before, "compaction changed the served ranking")
      // the replay contract survives: the compacted-away batch id
      // refuses re-submission off the retired list, forever
      val e = intercept[graft.ReplayRefused] {
        Bm25.appendBm25Index(docs.filter(col("doc_id") % 5 === 0),
          "text", path)
      }
      assert(e.getMessage.contains("compacted away"))
      // idempotent: a re-run is a no-op on an already-compacted index
      assert(Bm25.compactBm25Index(spark, path) == cid)
      assert(serve() == before)
      // double-ingest state is PRESERVED, never silently "repaired":
      // the same docs appended again under a fresh id double
      // N/Σlen/tf/df consistently (that IS the served state), and
      // compaction of that state — where the merged row multiset
      // contains exact cross-batch duplicates — must serve
      // identically, with the scalars still matching the rows
      Bm25.appendBm25Index(docs.filter(col("doc_id") % 5 === 0),
        "text", path, batchId = Some("dup2"))
      val doubled = serve()
      assert(doubled != before, "the re-ingest should change scores")
      val cid2 = Bm25.compactBm25Index(spark, path)
      assert(cid2 != cid)
      assert(serve() == doubled,
        "compaction must preserve the double-ingest state bit for bit")
      // an empty batch refuses loudly BEFORE writing anything (the
      // old order staged files, then NPE'd on the null Σlen scalar)
      val e2 = intercept[IllegalArgumentException] {
        Bm25.appendBm25Index(docs.filter(lit(false)), "text", path)
      }
      assert(e2.getMessage.contains("empty batch"))
      assert(serve() == doubled, "a refused empty append changed state")
      // a crash between a compaction's meta swap and its sweep leaves
      // orphan dirs whose ids the swap already RETIRED; the documented
      // recovery — re-running compaction — reclaims those even on the
      // single-batch no-op path (a retired id is unambiguous
      // superseded payload)
      val crashed = new java.io.File(path, "batches/dup2")
      assert(crashed.mkdirs())
      // an UNLISTED, UNRETIRED append-shaped dir is ambiguous — it
      // may be an in-flight append's publish racing this maintenance
      // call — so the same re-run retains it under the orphan-grace
      // floor instead of reaping a batch whose commit could still
      // succeed
      val ambiguous = new java.io.File(path, "batches/orphan-crash-dir")
      assert(ambiguous.mkdirs())
      assert(Bm25.compactBm25Index(spark, path) == cid2)
      assert(!crashed.exists,
        "the no-op re-run should sweep retired-id orphans")
      assert(ambiguous.exists,
        "an ambiguous unlisted dir must get the orphan grace, not an " +
          "instant reap")
    } finally SparkTestSession.rmTree(dir)
  }

  test("perplexity filter: in-domain text scores lower NLL than unseen gibberish, short docs unscoreable") {
    import spark.implicits._
    import graft.operators.LangModel
    val fluent = "the quick brown fox jumps over the lazy dog and " +
      "the dog sleeps under the tree while the fox runs away"
    val train = Seq((1L, fluent), (2L, fluent), (3L, fluent))
      .toDF("doc_id", "text")
    val bg = LangModel.trainBigramLm(train, "text")
    val v = LangModel.vocabSize(train, "text")
    // C(w1) derived from bigram sums: the conditional normalizes —
    // Σ_w2 (C(w1,w2)+α)/(C(w1)+αV) over ALL V words = 1 exactly
    val byLeft = bg.groupBy("w1").agg(sum("n12").as("n1")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val seenMass = bg.collect().map { r =>
      (r.getString(0),
        (r.getLong(2) + 0.5) / (byLeft(r.getString(0)) + 0.5 * v))
    }.groupBy(_._1).map { case (w1, ps) =>
      ps.map(_._2).sum + (v - ps.size) * 0.5 / (byLeft(w1) + 0.5 * v)
    }
    seenMass.foreach(m => assert(math.abs(m - 1.0) < 1e-9,
      s"conditional mass $m != 1"))
    val score = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // in-domain
      (11L, "zxq vbn qwerty plok mnbv asdf zxcv uiop hjkl"), // unseen
      (12L, "single"))                                       // 1 token
      .toDF("doc_id", "text")
    val got = LangModel.perplexityReport(score, "doc_id", "text", bg, v)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.keySet == Set(10L, 11L), "1-token doc must be absent")
    assert(got(10L) < got(11L),
      s"in-domain ${got(10L)} should beat gibberish ${got(11L)}")
    // the gibberish doc's every bigram is the unseen-context floor
    // 1/V — its NLL is exactly round(-round(ln(1/V),9),6)
    val floor = BigDecimal(-BigDecimal(math.log(1.0 / v))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(11L) == floor, s"${got(11L)} vs floor $floor")
    // the filter keeps exactly the docs clearing the threshold
    val kept = LangModel.perplexityFilter(score, "doc_id", "text",
      bg, v, maxNll = (got(10L) + got(11L)) / 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L))
    // Jelinek–Mercer interpolation: unseen bigrams ENDING in common
    // words are penalized less than pure add-α (the unigram backstop
    // sees 'the'/'dog' are frequent), while λ = 1 is bit-identical
    // to the default
    val mixed = Seq((20L, "zzz the qqq dog xxx the yyy dog"))
      .toDF("doc_id", "text")
    def nllAt(lambda: Double) = LangModel.perplexityReport(mixed,
      "doc_id", "text", bg, v, lambda = lambda)
      .head().getDouble(2)
    assert(nllAt(1.0) == LangModel.perplexityReport(mixed, "doc_id",
      "text", bg, v).head().getDouble(2))
    assert(nllAt(0.8) < nllAt(1.0),
      s"interpolation should soften the unseen-bigram penalty: " +
        s"${nllAt(0.8)} vs ${nllAt(1.0)}")
  }

  test("importanceReport: target-domain docs score a higher log ratio than off-domain") {
    import spark.implicits._
    import graft.operators.LangModel
    val domain = "the quick brown fox jumps over the lazy dog and " +
      "the dog sleeps under the tree"
    val other = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    // raw corpus = both registers; target = the domain register only
    val raw = Seq((1L, domain), (2L, domain), (3L, other), (4L, other))
      .toDF("doc_id", "text")
    val target = raw.filter(col("doc_id") <= 2)
    val tBg = LangModel.trainBigramLm(target, "text")
    val rBg = LangModel.trainBigramLm(raw, "text")
    val tV = LangModel.vocabSize(target, "text")
    val rV = LangModel.vocabSize(raw, "text")
    val score = Seq(
      (10L, "the quick brown fox jumps over the dog"),
      (11L, "uno dos tres cuatro cinco seis")).toDF("doc_id", "text")
    val got = LangModel.importanceReport(score, "doc_id", "text",
      tBg, tV, rBg, rV).collect()
      .map(r => r.getLong(0) ->
        r.getDouble(r.fieldIndex("log_ratio"))).toMap
    assert(got(10L) > 0,
      s"in-domain doc should be target-likelier: ${got(10L)}")
    assert(got(10L) > got(11L),
      s"in-domain ${got(10L)} must outrank off-domain ${got(11L)}")
    // the ratio is exactly the difference of the two gated reports
    val t10 = LangModel.perplexityReport(score, "doc_id", "text",
      tBg, tV).filter(col("doc_id") === 10L).head().getDouble(2)
    val r10 = LangModel.perplexityReport(score, "doc_id", "text",
      rBg, rV).filter(col("doc_id") === 10L).head().getDouble(2)
    val expect = BigDecimal(r10 - t10)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(10L) == expect)
  }

  test("trigram perplexity: λ3=0 degenerates bit-exactly to JM bigram; trigram context beats bigram on in-domain text") {
    import spark.implicits._
    import graft.operators.LangModel
    val fluent = "the quick brown fox jumps over the lazy dog and " +
      "the dog sleeps under the tree while the fox runs away"
    val train = Seq((1L, fluent), (2L, fluent), (3L, fluent))
      .toDF("doc_id", "text")
    val bg = LangModel.trainBigramLm(train, "text")
    val tri = LangModel.trainTrigramLm(train, "text")
    val v = LangModel.vocabSize(train, "text")
    val score = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "zxq vbn qwerty plok mnbv asdf zxcv uiop hjkl"),
      (12L, "dog the fox quick lazy brown the jumps"), // shuffled
      (13L, "single")).toDF("doc_id", "text")
    // the degeneration pin: λ = (0, λ, 1−λ) must reproduce the
    // Jelinek–Mercer bigram report BIT-EXACTLY — same scored docs,
    // same n counts, same nll to the last bit
    val lam = 0.8
    val jm = LangModel.perplexityReport(score, "doc_id", "text",
      bg, v, lambda = lam).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val degen = LangModel.perplexityReportTri(score, "doc_id", "text",
      tri, bg, v, lambda3 = 0.0, lambda2 = lam, lambda1 = 1.0 - lam)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(degen == jm,
      s"λ3=0 must be bit-identical to the JM bigram report:\n" +
        s"  tri: $degen\n  jm:  $jm")
    // with real trigram weight, in-domain word ORDER matters: the
    // exact training prefix scores lower NLL than the same words
    // shuffled (a bigram-only model rewards shared pairs; the
    // trigram context separates them further), and both beat the
    // all-unseen gibberish; the 1-token doc stays absent
    val full = LangModel.perplexityReportTri(score, "doc_id", "text",
      tri, bg, v).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(full.keySet == Set(10L, 11L, 12L),
      "1-token doc must be absent")
    assert(full(10L) < full(12L) && full(12L) < full(11L),
      s"expected in-domain < shuffled < gibberish, got $full")
    // n_ngrams = n−1 scored positions, same as the bigram report
    val n10 = LangModel.perplexityReportTri(score, "doc_id", "text",
      tri, bg, v).filter(col("doc_id") === 10L).head().getLong(1)
    assert(n10 == 8, s"9-token doc should score 8 positions, got $n10")
  }

  test("rrfFuse: doubly-ranked ids beat single-list wins, missing ids contribute nothing") {
    import spark.implicits._
    import graft.operators.Bm25
    val a = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("id", "rank")
    val b = Seq((11L, 1L), (13L, 2L), (10L, 3L)).toDF("id", "rank")
    val got = Bm25.rrfFuse(Seq(a, b), "id", k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // 10: 1/61 + 1/63; 11: 1/62 + 1/61; 12: 1/63; 13: 1/62
    // both dual-list ids outrank both single-list ids, and 11
    // (ranks 2+1) edges 10 (ranks 1+3)
    assert(got.map(_._1).toSeq == Seq(11L, 10L, 13L, 12L))
    assert(got.map(_._3).toSeq == (1L to 4L))
    val expect11 = BigDecimal(1.0 / 62 + 1.0 / 61)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.head._2 == expect11)
  }

  test("decontaminatedSplit: benchmark and contaminated docs land in NO split, clean docs keep their K2 assignment") {
    import spark.implicits._
    val bench = (1 to 20).map(i => s"tok$i").mkString(" ")
    val leaked = ((1 to 15).map(i => s"tok$i") ++ Seq("x", "y"))
      .mkString(" ")
    val clean = (50 to 90).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (100L, bench),   // the benchmark doc itself
      (1L, leaked),    // shares >= 8 3-grams with it
      (2L, clean), (3L, clean + " tail"), (4L, "unrelated prose here"))
      .toDF("doc_id", "text")
    val weights = Seq(("train", 8), ("val", 1), ("test", 1))
    val got = Corpus.decontaminatedSplit(docs, "doc_id", "text",
      col("doc_id") === 100L, "sp", weights).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!got.contains(100L), "benchmark doc must land in no split")
    assert(!got.contains(1L), "contaminated doc must land in no split")
    assert(got.keySet == Set(2L, 3L, 4L))
    // surviving docs keep EXACTLY their plain-K2 assignment: the
    // decontamination never reshuffles anyone's split
    val plain = Corpus.splitByHash(docs.select("doc_id"), "doc_id",
      "sp", weights).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case (id, s) => assert(plain(id) == s) }
  }

  test("contaminationCheck flags a doc overlapping the benchmark slice") {
    import spark.implicits._
    val bench = (1 to 20).map(i => s"q$i").mkString(" ")
    val leaked = ((1 to 15).map(i => s"q$i") ++ Seq("x", "y")).mkString(" ")
    val clean = (50 to 80).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, bench), (2L, leaked), (3L, clean))
      .toDF("doc_id", "text")
    val hits = Dedup.contaminationCheck(df, "doc_id", "text",
      isBenchmark = col("doc_id") === 1L, minShared = 8).collect()
    assert(hits.length == 1)
    assert(hits.head.getLong(0) == 2L && hits.head.getLong(1) == 1L)
    assert(hits.head.getLong(2) >= 13, "13 shared 3-grams from 15 shared words")
  }

  test("budgetSelect: maximal affordable prefix, no knapsack backfill, ties by id") {
    import spark.implicits._
    val docs = Seq(
      (1L, 0.9, 100L), (2L, 0.8, 200L), (3L, 0.7, 500L),
      (4L, 0.6, 50L), (5L, 0.5, 10L)).toDF("doc_id", "score", "n")
    // budget 320: docs 1+2 fit (300); doc 3 overflows and STOPS the
    // prefix — docs 4 and 5 would fit the remainder but the rule is
    // a prefix of the quality order, not a knapsack
    val got = Corpus.budgetSelect(docs, "doc_id", "score", "n", 320L)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L))
    // equal scores share a bucket; the id tie-break decides the cut
    val tied = Seq((10L, 0.5, 100L), (11L, 0.5, 100L), (12L, 0.5, 100L))
      .toDF("doc_id", "score", "n")
    assert(Corpus.budgetSelect(tied, "doc_id", "score", "n", 250L)
      .collect().map(_.getLong(0)).toSet == Set(10L, 11L))
    // everything fits → passthrough; zero budget → empty
    assert(Corpus.budgetSelect(docs, "doc_id", "score", "n", 10000L)
      .count() == 5)
    assert(Corpus.budgetSelect(docs, "doc_id", "score", "n", 0L)
      .count() == 0)
    // null inputs refuse with a CLEAR message, not a driver NPE: a
    // scoreless row cannot be ranked, a token-less row cannot be
    // budgeted — and silence would mean a wrong budget
    val nullScore = Seq((1L, Some(0.9), Some(100L)),
      (2L, Option.empty[Double], Some(50L)))
      .toDF("doc_id", "score", "n")
    val e1 = intercept[IllegalArgumentException] {
      Corpus.budgetSelect(nullScore, "doc_id", "score", "n", 500L)
        .count()
    }
    assert(e1.getMessage.contains("null, NaN, or infinite"))
    // NaN and Infinity do NOT floor to a null bucket (NaN casts to
    // bucket 0, +Inf to Long.MaxValue) — they must refuse explicitly,
    // or an Infinity row would silently outrank every real document
    val nanScore = Seq((1L, 0.9, 100L), (2L, Double.NaN, 50L))
      .toDF("doc_id", "score", "n")
    assert(intercept[IllegalArgumentException] {
      Corpus.budgetSelect(nanScore, "doc_id", "score", "n", 500L)
        .count()
    }.getMessage.contains("null, NaN, or infinite"))
    val infScore = Seq((1L, 0.9, 100L),
      (2L, Double.PositiveInfinity, 50L)).toDF("doc_id", "score", "n")
    assert(intercept[IllegalArgumentException] {
      Corpus.budgetSelect(infScore, "doc_id", "score", "n", 500L)
        .count()
    }.getMessage.contains("null, NaN, or infinite"))
    val nullTokens = Seq((1L, Some(0.9), Some(100L)),
      (2L, Some(0.9), Option.empty[Long]))
      .toDF("doc_id", "score", "n")
    val e2 = intercept[IllegalArgumentException] {
      Corpus.budgetSelect(nullTokens, "doc_id", "score", "n", 500L)
        .count()
    }
    assert(e2.getMessage.contains("without a token count"))
  }

  test("budgetSelect two-phase bucket prefix matches the naive global window on the corpus") {
    val doc = Tables.table(spark, sf, "documents").select(col("doc_id"),
      graft.functions.TextFunctions.qualityScore(col("text")).as("s"),
      graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("bigint").as("n"))
    val got = Corpus.budgetSelect(doc, "doc_id", "s", "n", 15000L)
      .collect().map(_.getLong(0)).toSet
    // naive reference: the single-partition global window the
    // production path exists to avoid (fine over 500 test rows)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("s").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val ref = doc.withColumn("cum", sum(col("n")).over(w))
      .filter(col("cum") <= 15000L).collect().map(_.getLong(0)).toSet
    assert(got == ref, "two-phase selection must equal the global prefix")
    assert(got.nonEmpty && got.size < doc.count(),
      "budget must cut mid-corpus at the gate scale")
  }

  test("chiSquareTerms: hand-checked 2x2 contingency, df and no-signal exclusions") {
    import spark.implicits._
    // 6 docs, label = the 3 'en' rows. "aa": a=3 b=0 c=0 d=3 →
    // χ² = 6·(3·3−0·0)² / (3·3·3·3) = 6. "bb" is in EVERY doc (no
    // signal, zero denominator → excluded); "cc" has df 2 < minDf 3
    val docs = Seq(
      (1L, "en", "aa bb"), (2L, "en", "aa bb"), (3L, "en", "aa bb cc"),
      (4L, "de", "bb"), (5L, "de", "bb cc"), (6L, "de", "bb"))
      .toDF("doc_id", "lang", "text")
    val out = graft.functions.TextFunctions.chiSquareTerms(
      docs, "doc_id", "text", col("lang") === "en",
      topK = 10, minDf = 3).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("aa"))
    val r = out.head
    assert(r.getLong(1) == 3 && r.getLong(2) == 3, "df_pos / df_all")
    assert(r.getDouble(3) == 6.0, s"chi2 = ${r.getDouble(3)}")
    assert(r.getLong(4) == 1L)
  }

  test("chiSquareTerms on the corpus: binding k-cut, rank follows (chi2 desc, token)") {
    // the corpus vocabulary holds ~31 qualifying tokens, so the gate's
    // k = 20 cut genuinely binds (a k that never binds tests nothing)
    val out = graft.functions.TextFunctions.chiSquareTerms(
      Tables.table(spark, sf, "documents"), "doc_id", "text",
      col("lang") === "en", topK = 20).collect().sortBy(_.getLong(4))
    assert(out.length == 20)
    assert(out.map(_.getLong(4)).toSeq == (1L to 20L))
    out.sliding(2).foreach { case Array(hi, lo) =>
      val (c1, t1) = (hi.getDouble(3), hi.getString(0))
      val (c2, t2) = (lo.getDouble(3), lo.getString(0))
      assert(c1 > c2 || (c1 == c2 && t1 < t2), s"order broken at $t1/$t2")
    }
    out.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2), "df_pos bounded by df_all")
      assert(r.getDouble(3) >= 0.0)
    }
  }

  test("noveltyReport: dup docs score 0, unique doc 1, short doc NULL") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumps"), // exact duplicate of 1
      (3L, "completely different words entirely here"),
      (4L, "too short")).toDF("doc_id", "text")
    val out = Dedup.noveltyReport(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size == 4)
    // every shingle of the duplicated pair has df 2
    assert(out(1L).getDouble(3) == 0.0 && out(2L).getDouble(3) == 0.0)
    assert(out(3L).getDouble(3) == 1.0)
    // 5 tokens → 3 distinct 3-gram shingles
    assert(out(1L).getLong(1) == 3 && out(1L).getLong(2) == 0)
    // 2 tokens → no shingles: zero counts, NULL novelty (no signal,
    // not "perfectly novel")
    assert(out(4L).getLong(1) == 0 && out(4L).getLong(2) == 0)
    assert(out(4L).isNullAt(3))
  }

  test("noveltyReport on the corpus: one row per doc, bounds hold, both tails present") {
    val doc = Tables.table(spark, sf, "documents")
    val out = Dedup.noveltyReport(doc, "doc_id", "text").collect()
    assert(out.length == doc.count())
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "novel bounded by total")
      if (r.isNullAt(3)) assert(r.getLong(1) == 0)
      else assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // the corpus carries known exact duplicates (the D1 fixtures) →
    // some fully-derivative docs; and enough singleton text that
    // high-novelty docs exist too
    assert(out.exists(r => !r.isNullAt(3) && r.getDouble(3) == 0.0))
    assert(out.exists(r => !r.isNullAt(3) && r.getDouble(3) > 0.5))
  }
}
