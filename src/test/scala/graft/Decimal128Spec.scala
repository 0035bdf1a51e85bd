package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Differential parity for the limb-sum aggregates
  * (graft.plans.Decimal128) over pre-projected unscaled limbs:
  * `sum128Long(unscaled(c))` and `sum128Wide(unscaled_lo(c),
  * unscaled_hi(c))` must equal `sum(c)`, and
  * `prodSum128Long(unscaled(x), unscaled(y))` must equal
  * `sum(x * y)` — value, TYPE, and null semantics — on real corpus
  * data, adversarial magnitudes (values at the 18-digit edge, sign
  * flips), null patterns, and empty groups.
  */
class Decimal128Spec extends AnyFunSuite {
  import SparkTestSession._
  import graft.plans.Decimal128Api._

  // the two limb-sum forms over a decimal(18,6) column, through the
  // unscaled-long projection the production callers use
  private def limbSum(c: org.apache.spark.sql.Column) =
    sum128Long(unscaled(c), 18, 6)
  private def limbProdSum(x: org.apache.spark.sql.Column,
                         y: org.apache.spark.sql.Column) =
    prodSum128Long(unscaled(x), unscaled(y), 18, 6, 18, 6)

  test("sum128Long == sum on lineitem decimal(18,6) measures, grouped") {
    val li = sources.Tables.table(spark, "/root/testdata/sf0.01", "lineitem")
      .select(col("l_orderkey") % 7 as "g",
        col("l_extendedprice").cast("decimal(18,6)").as("v"))
    val d = li.groupBy("g")
      .agg(limbSum(col("v")).as("a"), sum(col("v")).as("b"))
    assert(d.schema("a").dataType == d.schema("b").dataType,
      s"type mismatch: ${d.schema("a").dataType} vs ${d.schema("b").dataType}")
    assert(d.filter(not(col("a") <=> col("b"))).count() == 0)
  }

  test("prodSum128Long == sum(x*y) on lineitem pairs, grouped") {
    val li = sources.Tables.table(spark, "/root/testdata/sf0.01", "lineitem")
      .select(col("l_orderkey") % 5 as "g",
        col("l_extendedprice").cast("decimal(18,6)").as("x"),
        col("l_discount").cast("decimal(18,6)").as("y"))
    val d = li.groupBy("g")
      .agg(limbProdSum(col("x"), col("y")).as("a"),
        sum(col("x") * col("y")).as("b"),
        limbProdSum(col("x"), col("x")).as("a2"),
        sum(col("x") * col("x")).as("b2"))
    assert(d.schema("a").dataType == d.schema("b").dataType)
    assert(d.filter(not(col("a") <=> col("b")) ||
      not(col("a2") <=> col("b2"))).count() == 0)
  }

  test("adversarial magnitudes: 18-digit edge values, sign flips") {
    import spark.implicits._
    val vals = Seq(
      "999999999999.999999", "-999999999999.999999",
      "0.000001", "-0.000001", "0", "123456789012.345678",
      "-123456789012.345678", "999999999999.999999",
      "999999999999.999999", "-0.000002")
    val df = vals.zipWithIndex
      .toDF("v", "i")
      .select((col("i") % 2).as("g"), col("v").cast("decimal(18,6)").as("v"))
    val d = df.groupBy("g")
      .agg(limbSum(col("v")).as("a"), sum(col("v")).as("b"),
        limbProdSum(col("v"), col("v")).as("pa"),
        sum(col("v") * col("v")).as("pb"))
    assert(d.filter(not(col("a") <=> col("b")) ||
      not(col("pa") <=> col("pb"))).count() == 0)
  }

  test("null handling: all-null group, mixed nulls, one-sided nulls") {
    import spark.implicits._
    val df = Seq(
      (0, Some("1.5"), Some("2.5")), (0, None, Some("3.0")),
      (1, None, None), (1, None, None),
      (2, Some("4.0"), None), (2, Some("0.5"), Some("0.25")))
      .toDF("g", "xs", "ys")
      .select(col("g"), col("xs").cast("decimal(18,6)").as("x"),
        col("ys").cast("decimal(18,6)").as("y"))
    val d = df.groupBy("g")
      .agg(limbSum(col("x")).as("a"), sum(col("x")).as("b"),
        limbProdSum(col("x"), col("y")).as("pa"),
        sum(col("x") * col("y")).as("pb"))
    assert(d.filter(not(col("a") <=> col("b")) ||
      not(col("pa") <=> col("pb"))).count() == 0)
    // group 1 is all-null: both forms must yield null
    val g1 = d.filter(col("g") === 1).head()
    assert(g1.isNullAt(1) && g1.isNullAt(3))
  }

  test("wide-decimal child (precision 38): the ADC-sum shape") {
    import spark.implicits._
    val df = Seq(1.5e10, -2.25, 0.125, 1e-18, 7.75e9)
      .toDF("d")
      .select((lit(0)).as("g"), col("d").cast("decimal(38,18)").as("v"))
    val r = df.groupBy("g")
      .agg(sum128Wide(unscaled_lo(col("v")), unscaled_hi(col("v")), 38, 18)
        .as("a"), sum(col("v")).as("b"))
    assert(r.schema("a").dataType == r.schema("b").dataType)
    assert(r.filter(not(col("a") <=> col("b"))).count() == 0)
  }

  test("single-row and empty-relation aggregates (no groupBy)") {
    import spark.implicits._
    val one = Seq("42.000001").toDF("v")
      .select(col("v").cast("decimal(18,6)").as("v"))
    val r1 = one.agg(limbSum(col("v")).as("a"), sum(col("v")).as("b")).head()
    assert(r1.getDecimal(0) == r1.getDecimal(1))
    val empty = one.filter(lit(false))
    val r0 = empty.agg(limbSum(col("v")).as("a"), sum(col("v")).as("b"))
      .head()
    assert(r0.isNullAt(0) && r0.isNullAt(1))
  }

  test("mul_compact == decimal multiply on the revenue shapes") {
    val li = sources.Tables.table(spark, "/root/testdata/sf0.01", "lineitem")
      .select(col("l_extendedprice").cast("decimal(12,2)").as("x"),
        (lit(1) - col("l_discount")).cast("decimal(4,2)").as("y"))
    val d = li.select(
      graft.plans.Decimal128Api.mul_compact(col("x"), col("y")).as("a"),
      (col("x") * col("y")).as("b"))
    assert(d.schema("a").dataType == d.schema("b").dataType,
      s"${d.schema("a").dataType} vs ${d.schema("b").dataType}")
    assert(d.filter(not(col("a") <=> col("b"))).count() == 0)
    // null propagation
    val r = spark.sql("SELECT CAST(NULL AS DECIMAL(12,2)) x, " +
        "CAST(2.5 AS DECIMAL(4,2)) y")
      .select(graft.plans.Decimal128Api.mul_compact(col("x"), col("y"))
        .as("a")).head()
    assert(r.isNullAt(0))
  }

  test("map-side combine parity under repartition (merge path)") {
    val li = sources.Tables.table(spark, "/root/testdata/sf0.01", "lineitem")
      .select(col("l_partkey") % 3 as "g",
        col("l_quantity").cast("decimal(18,6)").as("v"))
      .repartition(7)
    val d = li.groupBy("g")
      .agg(limbSum(col("v")).as("a"), sum(col("v")).as("b"))
    assert(d.filter(not(col("a") <=> col("b"))).count() == 0)
  }
}
