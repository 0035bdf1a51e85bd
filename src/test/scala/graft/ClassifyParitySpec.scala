package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Corpus, Dedup}

/** Differential parity for the single-pass batch classifier behind
  * `Pipeline.classifyBatch` / `corpusIncrement`: its (doc_id, decision)
  * set must equal the earlier five-branch union, kept below as the
  * reference, on a batch that produces every label and on a day batch
  * of sf0.01 documents with planted exact and near re-sends.
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

  /** Both classifiers' labels for `batch`, as collected maps; asserts
    * they are equal and returns the single-pass one. */
  private def assertParity(out: String, batch: DataFrame)
      : Map[Long, String] = {
    def labels(df: DataFrame) = df.collect().toSeq
      .map(r => r.getLong(0) -> r.getString(1))
    val single = labels(Pipeline.classifyBatch(spark, out, batch))
    val reference = labels(fiveBranch(out,
      Pipeline.corpusClean(batch).localCheckpoint()))
    assert(single.size == single.toMap.size, s"doc labelled twice: $single")
    assert(single.toMap == reference.toMap && reference.size == single.size,
      s"single pass ${single.sorted} vs five-branch ${reference.sorted}")
    single.toMap
  }

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
}
