package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Corpus, Dedup}
import graft.tools.Profile

/** Differential parity for the batch classifier behind
  * `Pipeline.classifyBatch` / `corpusIncrement`, in both of its forms —
  * the one-task decision of a batch-local batch and the frame form
  * (forced with a negative batch-local bound): each (doc_id, decision)
  * set must equal the earlier five-branch union, kept below as the
  * reference, on batches that produce every label, on a day batch of
  * sf0.01 documents with planted exact and near re-sends, and on the
  * edges of the one-task form's slot order and union-find (null texts,
  * a group member that is also near an old document, one large group).
  * Each gate of the batch-local verify budget, tripped, must give the
  * same labels, and a batch-local batch must be matched and decided in
  * at most five Spark jobs.
  */
class ClassifyParitySpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** The five-branch classifier the single pass replaced: each label
    * is its own branch and the branches are unioned. (Its exact-dup
    * probe read only the batch's prefix partitions of the evidence; a
    * full evidence scan gives the same semi-join.)
    */
  private def fiveBranch(out: String, cleaned: DataFrame): DataFrame = {
    val idx = s"$out/dedup_index"
    val ids = cleaned.select(col("doc_id"))
    val exactWinners =
      Dedup.keepCanonical(cleaned, "doc_id", "norm_hash", "q")
    val exactLosers = ids.join(exactWinners.select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    val evidence = Dedup.readBatchHashes(spark, idx).getOrElse(
      spark.read.parquet(s"$out/silver/documents").select(col("norm_hash")))
    val inSilver = cleaned.join(evidence, Seq("norm_hash"), "left_semi")
      .select(col("doc_id"))
    val exactCorpus = exactWinners.select(col("doc_id"))
      .join(inSilver, Seq("doc_id"), "left_semi")
    val exactCanon = exactWinners
      .join(inSilver, Seq("doc_id"), "left_anti")
    val pairs = Dedup.minhashDedupAgainstIndex(cleaned, "doc_id",
      "norm_text", idx)
    val vsOld = pairs
      .join(ids.withColumnRenamed("doc_id", "id_a"), Seq("id_a"),
        "left_anti")
      .select(col("id_b").as("doc_id"))
      .unionByName(pairs
        .join(ids.withColumnRenamed("doc_id", "id_b"), Seq("id_b"),
          "left_anti")
        .select(col("id_a").as("doc_id")))
      .distinct()
    val nearCorpus = exactCanon.select(col("doc_id"))
      .join(vsOld, Seq("doc_id"), "left_semi")
    val surviving = exactCanon.join(vsOld, Seq("doc_id"), "left_anti")
      .localCheckpoint()
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
      .select(col("doc_id"))
    val nearBatch = sIds.join(accepts, Seq("doc_id"), "left_anti")
    def lab(df: DataFrame, d: String) =
      df.select(col("doc_id"), lit(d).as("decision"))
    lab(exactLosers, "exact_dup_batch")
      .unionByName(lab(exactCorpus, "exact_dup_corpus"))
      .unionByName(lab(nearCorpus, "near_dup_corpus"))
      .unionByName(lab(nearBatch, "near_dup_batch"))
      .unionByName(lab(accepts, "accept"))
  }

  /** Both forms' labels for `batch` and the reference's, as collected
    * maps; asserts all three are equal and returns the one-task form's.
    */
  private def assertParity(out: String, batch: DataFrame)
      : Map[Long, String] = {
    def labels(df: DataFrame) = df.collect().toSeq
      .map(r => r.getLong(0) -> r.getString(1))
    val reference = labels(fiveBranch(out,
      Pipeline.corpusClean(batch).localCheckpoint()))
    val oneTask = labels(Pipeline.classifyBatch(spark, out, batch))
    val frames = labels(Pipeline.classifyBatch(spark, out, batch, -1L))
    Seq("one task" -> oneTask, "frame form" -> frames).foreach {
      case (form, got) =>
        assert(got.size == got.toMap.size, s"$form labelled a doc twice")
        assert(got.toMap == reference.toMap && reference.size == got.size,
          s"$form ${got.sorted} vs five-branch ${reference.sorted}")
    }
    oneTask.toMap
  }

  /** A fresh corpus bootstrapped from the sf documents outside the
    * batch buckets, plus `extra` old documents. */
  private def bootstrap(name: String, extra: Seq[(Long, String, String)])
      : String = {
    val out = java.nio.file.Files.createTempDirectory(name).toString
    val doc = sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "lang", "text")
    Pipeline.corpusInit(spark,
      doc.filter(Corpus.hashBucket(col("doc_id"), "cinc", 5) >= 2)
        .unionByName(extra.toDF("doc_id", "lang", "text")),
      out, "2026-08-12")
    out
  }

  /** The jobs `body` ran, per call site, counted by a listener. */
  private def sitesOf[T](body: => T): (T, Seq[Profile.Site]) =
    Profile.recording(spark) { r =>
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark); r.take()
      val got = body
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark)
      (got, r.take().sites)
    }

  /** A bootstrapped sf corpus and a day batch of its held-out docs plus
    * a planted exact and a planted near re-send of a bootstrap doc. */
  private lazy val dayBatch: (String, DataFrame) = {
    val out = bootstrap("graft-clsgate", Nil)
    val doc = sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "lang", "text")
    val bucket = Corpus.hashBucket(col("doc_id"), "cinc", 5)
    val seed = doc.filter(bucket >= 2).orderBy("doc_id").limit(1)
      .collect()(0)
    (out, doc.filter(bucket < 2).unionByName(Seq(
        (840001L, seed.getString(1), seed.getString(2) + " trailing bits"),
        (840002L, seed.getString(1), seed.getString(2)))
      .toDF("doc_id", "lang", "text")).localCheckpoint())
  }

  private def words(from: Int, to: Int): String =
    (from to to).map(i => s"w$i").mkString(" ")

  test("every label: the single pass equals the five-branch union") {
    val out = java.nio.file.Files.createTempDirectory("graft-clspar").toString
    val doc = sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "lang", "text")
    val bucket = Corpus.hashBucket(col("doc_id"), "cinc", 5)
    Pipeline.corpusInit(spark, doc.filter(bucket >= 2), out, "2026-08-12")
    val seed = doc.filter(bucket >= 2).orderBy("doc_id").limit(1)
      .collect()(0)
    val fresh1 = "an entirely new document with its own distinct words " +
      (1 to 30).map(i => s"alpha$i").mkString(" ")
    val fresh2 = "another separate document nothing shares " +
      (1 to 30).map(i => s"beta$i").mkString(" ")
    val batch = Seq(
      (800001L, "en", fresh1),
      (800002L, "en", fresh1 + " zz"),
      (800003L, "en", fresh2),
      (800004L, "en", fresh2),
      (800005L, seed.getString(1), seed.getString(2)),
      (800006L, seed.getString(1), seed.getString(2) + " trailing bits"))
      .toDF("doc_id", "lang", "text")
    val m = assertParity(out, batch)
    assert(m.values.toSet == Set("exact_dup_batch", "exact_dup_corpus",
      "near_dup_corpus", "near_dup_batch", "accept"), m.toString)
  }

  test("sf0.01 day batch with planted exact and near re-sends: parity") {
    val out = java.nio.file.Files.createTempDirectory("graft-clsday").toString
    val doc = sources.Tables.table(spark, "/root/testdata/sf0.01",
      "documents").select("doc_id", "lang", "text")
    val bucket = Corpus.hashBucket(col("doc_id"), "clsday", 10)
    val boot = doc.filter(bucket >= 4)
    Pipeline.corpusInit(spark, boot, out, "2026-08-12")
    // held-out docs, plus bootstrap texts re-sent under new ids: exact
    // copies, two-word edits, and an exact pair inside the batch
    val resend = boot.orderBy("doc_id").limit(24).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val exact = resend.take(8).map { case (id, l, t) => (id + 600000L, l, t) }
    val near = resend.slice(8, 16)
      .map { case (id, l, t) => (id + 700000L, l, t + " planted edit") }
    val twin = resend.drop(16).map { case (id, l, t) =>
      (id + 800000L, l, s"a twin sent twice $t with its own tail words") }
    val planted = exact ++ near ++ twin ++
      twin.map { case (id, l, t) => (id + 50000L, l, t) }
    val batch = doc.filter(bucket < 2)
      .unionByName(planted.toDF("doc_id", "lang", "text"))
      .localCheckpoint()
    val m = assertParity(out, batch)
    assert(m.size == batch.count())
    assert(Set("exact_dup_batch", "exact_dup_corpus", "near_dup_corpus",
        "accept")
      .subsetOf(m.values.toSet), m.values.groupBy(identity).map {
        case (k, v) => k -> v.size }.toString)
  }

  test("null texts: one exact group, null q first, both forms agree") {
    val out = bootstrap("graft-clsnull", Nil)
    val batch = Seq[(Long, String, String)](
      (810001L, "en", null), (810002L, "en", null), (810003L, "de", null),
      (810004L, "en", "a plain fresh document " + words(1, 30)))
      .toDF("doc_id", "lang", "text")
    val m = assertParity(out, batch)
    assert(m(810001L) != "exact_dup_batch" &&
      Seq(810002L, 810003L).forall(m(_) == "exact_dup_batch"), m.toString)
  }

  test("a doc near an old doc joins no within-batch group") {
    // word blocks a b c d of 12 words and e of 4: old s = abc; x = abcd
    // is near s; y = bcde and z = acd are near x, but not near s or
    // each other, so only a group through x would join them
    val (a, b, c, d, e) = (words(1, 12), words(13, 24), words(25, 36),
      words(37, 48), words(49, 52))
    val out = bootstrap("graft-clsnear", Seq((820000L, "en", s"$a $b $c")))
    val batch = Seq((820001L, "en", s"$a $b $c $d"),
        (820002L, "en", s"$b $c $d $e"), (820003L, "en", s"$a $c $d"))
      .toDF("doc_id", "lang", "text")
    val m = assertParity(out, batch)
    assert(m == Map(820001L -> "near_dup_corpus", 820002L -> "accept",
      820003L -> "accept"), m.toString)
  }

  test("300 near-identical copies of one text: one group, one accept") {
    val out = bootstrap("graft-clsmany", Nil)
    val base = "one shared body of text that every copy repeats " +
      words(100, 160)
    val batch = (1 to 300).map { i =>
      (830000L + i, "en", s"$base tail$i") }.toDF("doc_id", "lang", "text")
    val m = assertParity(out, batch)
    assert(m.values.count(_ == "accept") == 1 &&
      m.values.count(_ == "near_dup_batch") == 299, m.values.groupBy(identity)
      .map { case (k, v) => k -> v.size }.toString)
  }

  test("a batch-local classifyBatch matches and decides in at most 5 " +
      "jobs, none of them a row probe") {
    val (out, batch) = dayBatch
    val (labels, sites) = sitesOf(Pipeline.classifyBatch(spark, out, batch)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
    // the cleaning's truncate and count run at classifyBatch's own
    // sites; everything else is the sketch, the match and the decision
    val matched = sites.filterNot(_.site.contains("classifyBatch"))
    assert(matched.nonEmpty && matched.map(_.jobs).sum <= 5,
      matched.mkString("\n"))
    assert(!sites.exists(_.site.contains("rowsUpTo")), sites.mkString("\n"))
    assert(labels == assertParity(out, batch))
  }

  test("each gate of the verify budget, tripped, gives the frame " +
      "form's labels: the pair count and the stored rows in the task") {
    val (out, batch) = dayBatch
    val idx = s"$out/dedup_index"
    val cleaned = Pipeline.corpusClean(batch).localCheckpoint()
    val (shRows, nPairs) = VerifyBudget.terms(cleaned, idx)
    assert(nPairs > 0, "the batch needs stored candidates")
    val reference = assertParity(out, batch)
    def run(budget: Long) = sitesOf(Pipeline.classifyBatch(spark, out,
        batch, Dedup.LocalBatchRows, budget).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap)
    // the kernel's task runs at a classifyCleaned site, the exchange
    // match at exchangeMatch's
    def ran(sites: Seq[Profile.Site], at: String) = sites.exists(_.site.contains(at))
    val exact = 150L * shRows + 100L * nPairs
    val (fits, fitSites) = run(Dedup.LocalVerifyBytes)
    val (pairGate, pairSites) = run(exact - 1L)
    val (taskGate, taskSites) = run(exact)
    assert(ran(fitSites, "classifyCleaned") && !ran(fitSites, "exchangeMatch"))
    assert(!ran(pairSites, "classifyCleaned") && ran(pairSites, "exchangeMatch"),
      "one pair over the budget: no task, the exchange form")
    assert(ran(taskSites, "classifyCleaned") && ran(taskSites, "exchangeMatch"),
      "the stored rows over the budget: the task ran, then the exchange form")
    Seq(fits, pairGate, taskGate).foreach(got => assert(got == reference))
  }
}
