package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Corpus, Dedup}
import graft.tools.Profile

/** Differential parity for `Pipeline.corpusInit`'s one-sketch bootstrap
  * in each of its forms — the batch-local kernel, the exchange form
  * (forced with a negative batch-local bound) and the batch-local
  * sketch over its verify budget (the exchange form on that sketch):
  * the silver rows, gold rows, the index batch's `bands`, `shingles`
  * and `hashes` rows and its `_meta` must equal what the earlier
  * two-sketch bootstrap, kept below as the reference, leaves. Inputs:
  * the sf0.01 slice the `q_corpus_*` queries bootstrap, planted exact
  * and near copies, a transitive near-dup chain and null texts; the
  * decision alone on null, NaN and ±0 quality scores; and, with a
  * df-cap, a batch whose exact copies push a shingle over the cap (the
  * forms count df over the whole batch, the reference over the exact
  * canonicals, so there the forms must equal each other). A batch-local
  * bootstrap runs a bounded number of Spark jobs.
  */
class BootstrapParitySpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private val Day = "2026-08-12"

  /** The bootstrap's dedup before the one-sketch form: MinHash pairs
    * over the exact canonicals' own sketch, their groups and each
    * group's canonical, then `writeDedupIndex`'s second sketch of the
    * whole batch for the index.
    */
  private def reference(docs: DataFrame, out: String,
                        maxDocFreq: Option[Int]): Unit = {
    Pipeline.corpusLand(docs, out, Day)
    val cleaned = Pipeline.corpusClean(
      spark.read.parquet(s"$out/bronze/documents")).localCheckpoint()
    val silverDf = Pipeline.silverColumns(
        referenceKept(cleaned, maxDocFreq), Day,
        Corpus.TrainingRecipe.Default)
      .localCheckpoint()
    Pipeline.writeSilver(silverDf, out, "overwrite")
    Dedup.writeDedupIndex(cleaned, "doc_id", "norm_text",
      s"$out/dedup_index", maxDocFreq = maxDocFreq,
      sideTables = Seq("hashes" -> silverDf.select(col("norm_hash"))))
    Pipeline.corpusGold(spark, out, Day)
  }

  /** The reference's accepted rows of `cleaned`. */
  private def referenceKept(cleaned: DataFrame,
                            maxDocFreq: Option[Int]): DataFrame = {
    val exactCanon = Dedup.keepCanonical(cleaned, "doc_id", "norm_hash", "q")
    val groups = Dedup.resolveGroups(
        exactCanon.select(col("doc_id").as("id")),
        Dedup.minhashDedup(exactCanon, "doc_id", "norm_text",
            maxDocFreq = maxDocFreq)
          .select(col("id_a"), col("id_b")))
      .withColumnRenamed("id", "doc_id")
    Dedup.keepCanonical(exactCanon.join(groups, Seq("doc_id")),
      "doc_id", "group_id", "q")
  }

  /** Each form: its name, batch-local bound and verify budget. */
  private val forms = Seq(
    "batch-local" -> (Dedup.LocalBatchRows, Dedup.LocalVerifyBytes),
    "exchange" -> (-1L, Dedup.LocalVerifyBytes),
    "over the verify budget" -> (Dedup.LocalBatchRows, 0L))

  private def init(docs: DataFrame, out: String, localRows: Long,
                   verifyBytes: Long, maxDocFreq: Option[Int] = None) =
    Pipeline.corpusInit(spark, docs, out, Day, 1, 1,
      Corpus.TrainingRecipe.Default, maxDocFreq, localRows, verifyBytes)

  private def fresh(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  /** What a bootstrap left at `out`, as sorted row strings per table. */
  private def state(out: String): Map[String, Seq[String]] = {
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    val idx = s"$out/dedup_index"
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$idx/_meta")), "UTF-8")
    val bid = meta.linesIterator.collectFirst {
      case l if l.startsWith("batches=") => l.stripPrefix("batches=") }.get
    def table(t: String) = rows(spark.read
      .option("recursiveFileLookup", "true").parquet(s"$idx/batches/$bid/$t"))
    Map("silver" -> rows(spark.read.parquet(s"$out/silver/documents")),
      "gold" -> rows(spark.read.parquet(s"$out/gold/train_packed")),
      "bands" -> table("bands"), "shingles" -> table("shingles"),
      "hashes" -> table("hashes"), "_meta" -> Seq(meta))
  }

  private def assertSame(form: String, got: Map[String, Seq[String]],
                         want: Map[String, Seq[String]]): Unit =
    want.keys.foreach { t =>
      assert(got(t) == want(t), s"$form: $t differs — only in the form: " +
        s"${got(t).diff(want(t)).take(5)}, only in the reference: " +
        s"${want(t).diff(got(t)).take(5)}")
    }

  /** Bootstraps `docs` with the reference and with each form; asserts
    * every form leaves the reference's state, and returns it.
    */
  private def assertParity(name: String, docs: DataFrame)
      : Map[String, Seq[String]] = {
    val ref = fresh(s"graft-boot-$name-ref")
    reference(docs, ref, None)
    val want = state(ref)
    forms.foreach { case (form, (localRows, verifyBytes)) =>
      val out = fresh(s"graft-boot-$name")
      init(docs, out, localRows, verifyBytes)
      assertSame(form, state(out), want)
    }
    want
  }

  private def words(from: Int, to: Int): String =
    (from to to).map(i => s"w$i").mkString(" ")

  // the sf0.01 tables sit beside the shared sf0.001 ones
  private lazy val sf001Slice = sources.Tables.table(spark,
      s"${new java.io.File(sf).getParent}/sf0.01", "documents")
    .select("doc_id", "lang", "text")
    .filter(Corpus.hashBucket(col("doc_id"), "cinc", 5) >= 2)
    .localCheckpoint()

  test("the sf0.01 corpus bootstrap slice: every form equals the reference") {
    val want = assertParity("sf001", sf001Slice)
    assert(want("silver").nonEmpty && want("gold").nonEmpty)
  }

  test("planted exact and near copies, a transitive chain and null " +
      "texts: every form equals the reference") {
    val doc = sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "lang", "text")
      .filter(Corpus.hashBucket(col("doc_id"), "bpar", 5) === 0)
    val seeds = doc.orderBy("doc_id").limit(8).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val exact = seeds.take(4).flatMap { case (id, l, t) =>
      Seq((id + 600000L, l, t), (id + 610000L, l, t)) }
    val near = seeds.drop(4).map { case (id, l, t) =>
      (id + 700000L, l, t + " planted edit") }
    // a ~ b and b ~ c (Jaccard 46/70), a ≁ c (34/82): one group of 3
    val chain = Seq((910001L, "en", words(1, 60)),
      (910002L, "en", words(13, 72)), (910003L, "en", words(25, 84)))
    val nulls = Seq[(Long, String, String)]((920001L, "en", null),
      (920002L, "de", null), (920003L, "en", null))
    val docs = doc.unionByName((exact ++ near ++ chain ++ nulls)
      .toDF("doc_id", "lang", "text")).localCheckpoint()
    val landed = assertParity("planted", docs)("silver")
    def lands(id: Long) = landed.exists(_.startsWith(s"[$id,"))
    assert(Seq(910001L, 910002L, 910003L).count(lands) == 1,
      "the chain a ~ b ~ c is one group")
    assert(Seq(920001L, 920002L, 920003L).count(lands) == 1,
      "null texts are one exact group")
    assert(exact.map(_._1).count(lands) == 0,
      "an exact copy under a larger id loses to its original")
  }

  test("null, NaN and ±0 quality: every form decides as the reference") {
    // exact groups (one text each) and a near group, each with a
    // quality order that null-first, NaN-last and 0.0 == -0.0 decide
    val base = "a document body shared by every member " + words(200, 260)
    val texts = Seq(
      (930001L, "exact one " + words(1, 40), null: java.lang.Double),
      (930002L, "exact one " + words(1, 40), Double.box(0.9)),
      (930003L, "exact two " + words(41, 80), Double.box(Double.NaN)),
      (930004L, "exact two " + words(41, 80), Double.box(0.1)),
      (930005L, "exact three " + words(81, 120), Double.box(-0.0)),
      (930006L, "exact three " + words(81, 120), Double.box(0.0)),
      (930007L, "exact four " + words(121, 160), Double.box(0.0)),
      (930008L, "exact four " + words(121, 160), Double.box(-0.0)),
      (930011L, s"$base tail one", Double.box(Double.NaN)),
      (930012L, s"$base tail two", null: java.lang.Double),
      (930013L, s"$base tail three", Double.box(-0.0)),
      (930014L, s"$base tail four", Double.box(0.0)))
    val qs = texts.map { case (id, _, q) => (id, Option(q).map(_.doubleValue)) }
      .toDF("doc_id", "q_set")
    val cleaned = Pipeline.corpusClean(texts.map { case (id, t, _) =>
        (id, "en", t) }.toDF("doc_id", "lang", "text"))
      .join(qs, Seq("doc_id"))
      .withColumn("q", col("q_set")).drop("q_set")
      .localCheckpoint()
    def ids(df: DataFrame) = df.select(col("doc_id")).as[Long].collect().toSet
    val want = ids(referenceKept(cleaned, None))
    // the null beats 0.9, 0.1 beats NaN, ±0 ties fall to the min id,
    // and the near group's canonical is its null-q document
    assert(want == Set(930001L, 930004L, 930005L, 930007L, 930012L), want)
    forms.foreach { case (form, (localRows, verifyBytes)) =>
      val got = Pipeline.bootstrapDedup(spark, cleaned, cleaned.count(),
        None, localRows, verifyBytes)((kept, _) => ids(kept))
      assert(got == want, s"$form: $got vs the reference's $want")
    }
  }

  test("a df-cap counts df over the whole batch: with exact copies " +
      "pushing a shingle over the cap, every form agrees") {
    val phrase = "shared boiler plate phrase"
    val docs = (Seq(
        (940001L, "en", s"$phrase " + words(1, 30)),
        (940002L, "en", s"$phrase " + words(31, 60)),
        (940003L, "en", s"$phrase " + words(61, 90))) ++
      // two exact copies of the first: df 5 over the batch, 3 over
      // the exact canonicals
      Seq(940004L, 940005L).map(id => (id, "en", s"$phrase " + words(1, 30))) ++
      (1 to 6).map(i => (940100L + i, "en", words(100 * i, 100 * i + 30))))
      .toDF("doc_id", "lang", "text")
    val cap = Some(3)
    val states = forms.map { case (form, (localRows, verifyBytes)) =>
      val out = fresh("graft-boot-cap")
      init(docs, out, localRows, verifyBytes, cap)
      form -> state(out)
    }
    states.tail.foreach { case (form, got) =>
      assertSame(form, got, states.head._2) }
    val capped = states.head._2
    assert(!capped("shingles").exists(_.contains(phrase.split(" ").take(3)
      .mkString(" "))), "the phrase's shingles are over the cap")
    assert(capped("_meta").head.contains("maxDocFreq=3"))
    // the index is the one writeDedupIndex builds with the cap
    val ref = fresh("graft-boot-cap-ref")
    reference(docs, ref, cap)
    val want = state(ref)
    Seq("bands", "shingles", "_meta").foreach(t =>
      assert(capped(t) == want(t), s"index $t differs from writeDedupIndex's"))
  }

  test("a batch-local bootstrap runs at most 24 Spark jobs") {
    val out = fresh("graft-boot-jobs")
    val jobs = Profile.recording(spark) { r =>
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark); r.take()
      Pipeline.corpusInit(spark, sf001Slice, out, Day).count()
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark)
      r.take()
    }
    info(s"${jobs.jobs} jobs")
    assert(jobs.jobs <= 24, jobs.sites.mkString("\n"))
  }
}
