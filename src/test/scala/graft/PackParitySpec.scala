package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Corpus

/** Differential parity for `Corpus.packEpochRanked`, the one-shuffle
  * pack kernel behind the corpus gold and `q_llm_pipeline`: its rows
  * must equal the packGreedy → materializePacked → epochOrder chain it
  * replaced, kept below as the reference.
  */
class PackParitySpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  /** The chain the kernel replaced, as the corpus gold ran it. */
  private def reference(train: DataFrame, budget: Int,
                        epoch: Int): DataFrame = {
    val bins = Corpus.packGreedy(train, "doc_id", "n", "shard",
      Seq("doc_id"), budget)
    val packed = Corpus.materializePacked(
        train.join(bins.drop("shard"), Seq("doc_id")),
        "doc_id", "text", "shard", "bin_id")
      .withColumn("pack_id", concat_ws("/", col("shard"), col("bin_id")))
    val ranked = Corpus.epochOrder(packed, "pack_id", "shard", epoch)
    packed.join(ranked.select("pack_id", "epoch_rank"), Seq("pack_id"))
      .select(col("shard"), col("bin_id"), col("n_docs"),
        col("epoch_rank"), col("packed_text"))
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.select(col("shard").cast("bigint"), col("bin_id"), col("n_docs"),
        col("epoch_rank"), col("packed_text"))
      .collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))

  /** Asserts the kernel equals the reference on `train` and returns
    * the kernel's rows. */
  private def assertParity(train: DataFrame, budget: Int,
                           epoch: Int = 1): Seq[Row] = {
    val got = rows(Corpus.packEpochRanked(train, "doc_id", "text", "n",
      "shard", budget, epoch))
    val want = rows(reference(train, budget, epoch))
    assert(got == want, s"kernel ${got.take(5)} vs reference ${want.take(5)}")
    got
  }

  private def synthetic(docs: Int, shards: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    (1 to docs).map { i =>
      (i.toLong * 7 % 1009, rnd.nextInt(shards).toLong,
        (rnd.nextInt(300) + 1).toLong, s"doc $i text")
    }.toDF("doc_id", "shard", "n", "text")
  }

  test("16 shards on 4 partitions: equal rows, every shard ranked 1..n") {
    val train = synthetic(400, 16, 11).repartition(4)
    val got = assertParity(train, 500)
    assert(got.map(_.getLong(0)).distinct.size == 16)
    got.groupBy(_.getLong(0)).values.foreach { shard =>
      assert(shard.map(_.getLong(3)).sorted == (1L to shard.size.toLong))
    }
  }

  test("null texts count in n_docs and are skipped in the joined text") {
    val train = Seq(
      (1L, 0L, 10L, "a"), (2L, 0L, 10L, null), (3L, 0L, 10L, "c"),
      (4L, 0L, 500L, null), (5L, 0L, 10L, null), (6L, 1L, 10L, null),
      (7L, 1L, 10L, "g")).toDF("doc_id", "shard", "n", "text")
    val got = assertParity(train, 30)
    // bin (0, 0) holds docs 1–3; bins (0, 1) and (0, 17) one null text each
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(4))) == Seq((0L, 0L, 3L, "a<|eot|>c"),
      (0L, 1L, 1L, ""), (0L, 17L, 1L, ""), (1L, 0L, 2L, "g")))
  }

  test("a document longer than the budget, and null token counts") {
    val train = Seq[(Long, Long, java.lang.Long, String)](
      (1L, 2L, 5000L, "long"), (2L, 2L, 10L, "after"), (3L, 2L, 2500L, "x"),
      (4L, 2L, null, "no count"), (5L, 2L, 10L, "tail"))
      .toDF("doc_id", "shard", "n", "text")
    val got = assertParity(train, 2000)
    assert(got.map(_.getLong(1)) == Seq(0L, 2L, 3L))
  }

  test("empty input gives no rows") {
    val train = synthetic(10, 4, 3).filter(lit(false))
    assert(assertParity(train, 2000).isEmpty)
  }

  test("epoch = 2 reorders the bins and still equals the reference") {
    val train = synthetic(300, 4, 5)
    val e1 = assertParity(train, 400, epoch = 1)
    val e2 = assertParity(train, 400, epoch = 2)
    assert(e1.map(_.getLong(3)) != e2.map(_.getLong(3)))
  }

  test("the sf documents packed as the corpus gold packs them") {
    val tf = graft.functions.TextFunctions
    val R = Corpus.TrainingRecipe.Default
    val train = sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"),
        tf.bpeTokenCount(col("text")).cast("bigint").as("n"),
        col("text"),
        Corpus.hashBucket(col("doc_id"), R.shardSalt, R.shards).as("shard"))
    assert(assertParity(train, R.packBudget).size > R.shards)
  }
}
