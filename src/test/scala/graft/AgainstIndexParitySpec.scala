package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Corpus, Dedup}
import graft.tools.Profile

/** Differential parity for the batch-local incremental dedup behind
  * `Dedup.minhashDedupAgainstIndex` and `Pipeline.corpusIncrement`:
  * the one-partition sketch and one-task verify must return the same
  * (id_a, id_b, jaccard) set as the exchange form, which runs when the
  * batch-local bound is forced to -1 and is kept as the reference. A
  * batch above the bound must run the exchange form, and the index
  * rows an increment publishes from its sketch must equal what a
  * plain `writeDedupIndex` append derives from the same batch.
  */
class AgainstIndexParitySpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** `batch`'s pairs against the index at `idx` through the sketch scope
    * an increment runs, and whether the batch was sketched batch-local.
    */
  private def against(batch: DataFrame, idx: String, textCol: String,
                      localRows: Long = Dedup.LocalBatchRows,
                      verifyBytes: Long = Dedup.LocalVerifyBytes)
      : (Boolean, DataFrame) =
    Dedup.withIndexSketch(batch, "doc_id", textCol, idx, batch.count(),
        localRows = localRows) { sk =>
      (sk.local, Dedup.matchSketch(sk, idx, verifyBytes = verifyBytes))
    }

  /** Both forms' pairs for `batch` against the index at `idx`; asserts
    * the batch is sketched batch-local by default and that the two
    * forms agree, and returns the batch-local pairs.
    */
  private def assertParity(batch: DataFrame, idx: String,
                           textCol: String = "norm_text")
      : Set[(Long, Long, Double)] = {
    val (isLocal, l) = against(batch, idx, textCol)
    assert(isLocal, "the batch should take the batch-local path")
    val local = pairs(l)
    val exchange = pairs(against(batch, idx, textCol, localRows = -1)._2)
    assert(local == exchange,
      s"batch-local−exchange=${local -- exchange} " +
        s"exchange−batch-local=${exchange -- local}")
    local
  }

  /** The executed plans and the pairs of one [[against]] call. */
  private def planned(batch: DataFrame, idx: String, localRows: Long,
                      verifyBytes: Long = Dedup.LocalVerifyBytes)
      : (Seq[String], Set[(Long, Long, Double)]) =
    Profile.recording(spark) { r =>
      drained(r)
      val got = pairs(against(batch, idx, "norm_text", localRows,
        verifyBytes)._2)
      (drained(r).executions.map(_.physicalPlanDescription), got)
    }

  // formatted plans list each node's arguments below the tree
  private def shuffled(plans: Seq[String]): Boolean =
    plans.exists(_.contains("Arguments: hashpartitioning("))

  /** The sf0.01 documents, which sit beside the suite's sf0.001 data. */
  private lazy val sf001 = sources.Tables.table(spark,
    new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").getPath,
    "documents").select("doc_id", "lang", "text")

  /** ClassifyParitySpec's fixture: a bootstrapped corpus of sf0.01
    * documents and a day batch of held-out docs with planted exact
    * re-sends, two-word edits and an exact pair inside the batch.
    */
  private lazy val day = {
    val out = tmp("aipday")
    val bucket = Corpus.hashBucket(col("doc_id"), "clsday", 10)
    val boot = sf001.filter(bucket >= 4)
    Pipeline.corpusInit(spark, boot, out, "2026-08-12")
    val resend = boot.orderBy("doc_id").limit(24).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val exact = resend.take(8).map { case (id, l, t) => (id + 600000L, l, t) }
    val near = resend.slice(8, 16)
      .map { case (id, l, t) => (id + 700000L, l, t + " planted edit") }
    val twin = resend.drop(16).map { case (id, l, t) =>
      (id + 800000L, l, s"a twin sent twice $t with its own tail words") }
    val planted = exact ++ near ++ twin ++
      twin.map { case (id, l, t) => (id + 50000L, l, t) }
    val batch = sf001.filter(bucket < 2)
      .unionByName(planted.toDF("doc_id", "lang", "text"))
      .localCheckpoint()
    (out, batch)
  }

  /** Recursive copy of a directory tree. */
  private def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      java.nio.file.Files.copy(p,
        java.nio.file.Paths.get(to).resolve(src.relativize(p).toString),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    } finally walk.close()
  }

  /** The recorder's snapshot once the listener bus has drained. */
  private def drained(r: Profile.Recorder): Profile.Snapshot = {
    org.apache.spark.sql.GraftSqlBridge.drainListeners(spark)
    r.take()
  }

  test("sf0.01 day batch with planted exact and near re-sends: parity") {
    val (out, batch) = day
    val got = assertParity(Pipeline.corpusClean(batch).localCheckpoint(),
      s"$out/dedup_index")
    // pairs are (least, greatest): a stored doc paired with its planted
    // re-send, and the planted twins paired inside the batch
    assert(got.exists(p => p._1 < 600000L && p._2 >= 600000L &&
        p._2 < 800000L) && got.exists(_._1 >= 800000L),
      s"expected corpus and within-batch pairs: $got")
  }

  test("an index built with maxDocFreq: parity under the df-cap") {
    val idx = tmp("aipcap")
    // a footer every document carries: its shingles exceed the cap in
    // the bootstrap and in the batch
    val footer = " shared site footer with the same closing words"
    val docs = sf001.select(col("doc_id"),
      concat(col("text"), lit(footer)).as("norm_text"))
    val isNew = Corpus.hashBucket(col("doc_id"), "aipcap", 5) === 0
    Dedup.writeDedupIndex(docs.filter(!isNew), "doc_id", "norm_text", idx,
      maxDocFreq = Some(3))
    val old = docs.filter(!isNew).orderBy("doc_id").limit(6).collect()
      .map(r => (r.getLong(0) + 900000L, r.getString(1) + " one edit"))
    val batch = docs.filter(isNew)
      .unionByName(old.toSeq.toDF("doc_id", "norm_text")).localCheckpoint()
    assert(assertParity(batch, idx).nonEmpty)
  }

  test("an empty batch: both forms return no pairs") {
    val (out, batch) = day
    val empty = Pipeline.corpusClean(batch.limit(0)).localCheckpoint()
    assert(assertParity(empty, s"$out/dedup_index").isEmpty)
  }

  test("a one-doc batch: parity") {
    val (out, _) = day
    val r = sf001.filter(Corpus.hashBucket(col("doc_id"), "clsday", 10) >= 4)
      .orderBy("doc_id").limit(1).collect()(0)
    val one = Pipeline.corpusClean(Seq((990001L, r.getString(1),
        r.getString(2) + " one more word"))
      .toDF("doc_id", "lang", "text")).localCheckpoint()
    val got = assertParity(one, s"$out/dedup_index")
    assert(got.exists(_._2 == 990001L), got.toString)
  }

  test("a batch whose docs are all near-dups of one another: parity") {
    val (out, _) = day
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val batch = Pipeline.corpusClean((1 to 12).map(i =>
        (991000L + i, "en", s"$base tail$i"))
      .toDF("doc_id", "lang", "text")).localCheckpoint()
    val got = assertParity(batch, s"$out/dedup_index")
    assert(got.size == 12 * 11 / 2, got.toString)
  }

  test("a batch above the bound, or over the verify budget, runs the " +
      "exchange form") {
    val (out, batch) = day
    val cleaned = Pipeline.corpusClean(batch).localCheckpoint()
    val idx = s"$out/dedup_index"
    val rows = cleaned.count()
    assert(shuffled(planned(cleaned, idx, rows - 1)._1),
      "a batch one row above the bound must run the exchange form")
    assert(!shuffled(planned(cleaned, idx, rows)._1),
      "a batch at the bound must not shuffle by key")
    assert(shuffled(planned(cleaned, idx, rows, verifyBytes = 0L)._1),
      "a batch over the verify budget must run the exchange verify")
  }

  test("long documents and a crowded stored bucket: the verify budget " +
      "gates on measured rows") {
    val idx = tmp("aiplong")
    val rnd = new scala.util.Random(11)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(50000)}").mkString(" ")
    // 30 stored copies of one 2,000-word template: a crowded bucket
    val template = words(2000)
    Dedup.writeDedupIndex((1 to 30).map(i => (i.toLong, s"$template end$i"))
      .toDF("doc_id", "norm_text"), "doc_id", "norm_text", idx)
    val copy = Seq((2000L, s"$template late copy")).toDF("doc_id", "norm_text")
    val long = ((1 to 4).map(i => (1000L + i, words(2000))) :+
      ((2001L, s"$template other copy"))).toDF("doc_id", "norm_text")
    // 1 MiB: the one copy's ~2k batch shingles fit, its ~60k stored
    // candidate shingles do not; the long batch's ~10k shingles do not
    val budget = 1L << 20
    Seq("one copy of the template" -> copy,
        "a batch of long documents" -> long).foreach { case (what, b) =>
      val batch = b.localCheckpoint()
      val reference = pairs(against(batch, idx, "norm_text", -1L)._2)
      assert(reference.count(_._2 >= 2000L) == 30, s"$what: $reference")
      val (fits, local) = planned(batch, idx, Dedup.LocalBatchRows)
      val (over, gated) = planned(batch, idx, Dedup.LocalBatchRows, budget)
      assert(!shuffled(fits) && shuffled(over),
        s"$what: only the over-budget run may shuffle by key")
      assert(local == reference && gated == reference, what)
    }
  }

  test("an increment publishes the bands and shingles a writeDedupIndex " +
      "append derives from the same batch") {
    val (boot, batch) = day
    // the increment and the plain append each extend their own copy of
    // the bootstrap state
    val out = tmp("aippub")
    copyTree(boot, out)
    val idx = s"$out/dedup_index"
    val plain = tmp("aipplain")
    copyTree(s"$boot/dedup_index", plain)
    Pipeline.corpusIncrement(spark, out, batch, "2026-08-13")
    val cleaned = Pipeline.corpusClean(batch).localCheckpoint()
    val bid = Dedup.writeDedupIndex(cleaned, "doc_id", "norm_text",
      plain, mode = "append")
    def rows(root: String, t: String): Set[String] =
      spark.read.option("recursiveFileLookup", "true")
        .parquet(s"$root/batches/$bid/$t").collect().map(_.toString).toSet
    Seq("bands", "shingles").foreach { t =>
      val (inc, ref) = (rows(idx, t), rows(plain, t))
      assert(inc.nonEmpty && inc == ref,
        s"$t: increment−append=${(inc -- ref).take(5)} " +
          s"append−increment=${(ref -- inc).take(5)}")
    }
  }
}
