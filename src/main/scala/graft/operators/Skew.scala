package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation (SURVEY.md §2.12): the two hand-rolled remedies for
  * when AQE's runtime skew handling isn't available or isn't enough —
  * salted two-phase aggregation and salted replicated joins.
  *
  * When to reach for these at 100 TB: a groupBy/join key whose top
  * value carries a double-digit percentage of all rows (the "null
  * key", the "empty document", the default tenant). AQE splits skewed
  * SHUFFLE PARTITIONS, but a single monster KEY still lands in one
  * task; salting splits the key itself.
  */
object Skew {

  /** Two-phase salted aggregation: rows are spread over
    * `saltBuckets` sub-keys (deterministic hash of the whole row's
    * values via a uniform random-ish column — here `spark_partition_id`
    * would be nondeterministic, so the salt is a hash of `saltOn`),
    * partially aggregated per (key, salt), then re-aggregated per key.
    * The hot key's rows flow through `saltBuckets` parallel tasks
    * instead of one. Works for any algebraic aggregate (sum/count/
    * min/max); the demo is an exact decimal sum, associative by
    * construction, so the result is bit-identical to the direct
    * aggregation.
    */
  def saltedSum(df: DataFrame, keyCols: Seq[String], valueExpr: Column,
                saltOn: Column, saltBuckets: Int = 16): DataFrame = {
    require(saltBuckets >= 1, s"saltBuckets must be >= 1, got $saltBuckets")
    val keyed = df.withColumn("__salt",
      pmod(xxhash64(saltOn), lit(saltBuckets)))
      .withColumn("__v", valueExpr)
    val partial = keyed
      .groupBy((keyCols.map(col) :+ col("__salt")): _*)
      .agg(sum(col("__v")).as("__partial"), count(lit(1)).as("__n"))
    partial
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("__partial")).as("sum_value"),
        sum(col("__n")).as("n_rows"))
  }

  /** Salted join for a skewed LEFT side against a small-but-not-tiny
    * right side: the left side gets a random-ish salt in [0, n), the
    * right side is replicated n times (explode), and the join key
    * becomes (key, salt) — the hot key's rows spread over n tasks.
    * Use when the right side is too big to broadcast outright but the
    * left key histogram is spiked; `n` trades right-side duplication
    * for left-side parallelism.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 saltOn: Column, saltBuckets: Int = 16): DataFrame = {
    val l = left.withColumn("__salt",
      pmod(xxhash64(saltOn), lit(saltBuckets)))
    val r = right.withColumn("__salt",
      explode(array((0 until saltBuckets).map(lit): _*)))
    l.join(r, Seq(key, "__salt")).drop("__salt")
  }

  /** Keys whose left-side row count exceeds `hotThreshold` — the tiny
    * two-column aggregate that drives [[saltedJoinHotKeys]]. At most
    * |left| / hotThreshold keys can qualify, so the result is bounded
    * small by construction (a 100 TB table with a 10M-row threshold
    * yields at most ~10k hot keys). The frequency statistic itself is
    * [[Profiling.keyFrequencies]] — the SAME histogram the P11 skew
    * profile reports on, so the diagnostic and this remedy cannot
    * drift apart on what "hot" means.
    */
  def hotKeys(left: DataFrame, key: String, hotThreshold: Long): DataFrame =
    Profiling.keyFrequencies(left, col(key))
      .filter(col("c") > hotThreshold)
      .select(col("k").as(key))

  /** Hot-key-only salted join — the production skew recipe.
    * [[saltedJoin]] replicates the ENTIRE right side ×saltBuckets,
    * which is the correct last resort when the whole key histogram is
    * unknown; but in the common case only a handful of keys are hot,
    * and replicating the right side for every cold key is pure waste.
    * This variant detects hot keys first (count > hotThreshold), salts
    * ONLY their rows, and plain-joins the cold majority:
    *
    *  - replicated right-side rows are bounded by
    *    |right rows on hot keys| × saltBuckets, independent of the
    *    cold majority's size;
    *  - the cold join is an ordinary equi-join AQE can still optimize
    *    (broadcast, skew-split) as usual;
    *  - the hot-key set is materialized ONCE (`Checkpoints.truncate`) and
    *    broadcast into all three split joins, so detection costs one
    *    aggregate pass over the left side, not three.
    *
    * Inner-join semantics identical to `left.join(right, key)`: null
    * keys never match a hot key (falling to the cold branch, where the
    * inner join drops them, exactly as a plain join would).
    */
  def saltedJoinHotKeys(left: DataFrame, right: DataFrame, key: String,
                        saltOn: Column, saltBuckets: Int = 16,
                        hotThreshold: Long = 1000000L): DataFrame = {
    // small by construction (≤ |left|/hotThreshold rows): materialize
    // once, broadcast into every split — the splits are map-side
    // semi/anti probes, no extra shuffle of either table
    val hot = broadcast(graft.Checkpoints.truncate(
      hotKeys(left, key, hotThreshold)))
    val leftHot = left.join(hot, Seq(key), "left_semi")
    val leftCold = left.join(hot, Seq(key), "left_anti")
    val rightHot = right.join(hot, Seq(key), "left_semi")
    leftCold.join(right, Seq(key))
      .unionByName(saltedJoin(leftHot, rightHot, key, saltOn, saltBuckets))
  }
}
