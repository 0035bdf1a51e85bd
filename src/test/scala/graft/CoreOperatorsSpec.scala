package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.sources.Tables

object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local("4")
  val sf = "/root/testdata/sf0.001"

  /** Recursive delete for specs' throwaway staging dirs. */
  def rmTree(f: java.io.File): Unit = Checkpoints.rmTree(f)
}

class CoreOperatorsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs and every oracle key has a query") {
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracle without query: $k")
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).columns.nonEmpty, s"$name has no columns")
    }
  }

  test("pricing summary aggregates are stable across partitionings") {
    val a = Analytics.pricingSummary(spark, sf).collect()
      .map(_.toSeq).sortBy(_.mkString(","))
    val li = Tables.table(spark, sf, "lineitem").repartition(13)
    li.createOrReplaceTempView("___tmp")
    // same query, different physical partitioning → identical values
    // (exact decimal internals; see Analytics scaladoc)
    val b = Analytics.pricingSummary(spark, sf).collect()
      .map(_.toSeq).sortBy(_.mkString(","))
    assert(a.toSeq == b.toSeq)
  }

  test("removeNullRows keeps clean tables intact, filters injected nulls") {
    val cust = Tables.table(spark, sf, "customer")
    assert(Cleaning.removeNullRows(cust).count() == cust.count())
    val dirty = cust.withColumn("c_name",
      when(col("c_custkey") % 10 === 0, lit(null)).otherwise(col("c_name")))
    val n = Cleaning.removeNullRows(dirty).count()
    assert(n == cust.filter(col("c_custkey") % 10 =!= 0).count())
  }

  test("removeNullRows filters NaN in double columns") {
    val cust = Tables.table(spark, sf, "customer")
    val dirty = cust.withColumn("c_acctbal",
      when(col("c_custkey") % 7 === 0, lit(Double.NaN))
        .otherwise(col("c_acctbal")))
    assert(Cleaning.removeNullRows(dirty).count() ==
      cust.filter(col("c_custkey") % 7 =!= 0).count())
  }

  test("trimStrings trims only string columns") {
    import spark.implicits._
    val df = Seq((1, "  a  ", 2.0), (2, "b", 3.0)).toDF("i", "s", "d")
    val out = Cleaning.trimStrings(df).collect().map(r => r.getString(1))
    assert(out.toSeq == Seq("a", "b"))
  }

  test("dedupExact removes exact duplicates") {
    import spark.implicits._
    val df = Seq(("x", 1), ("x", 1), ("y", 2)).toDF("a", "b")
    assert(Cleaning.dedupExact(df).count() == 2)
    assert(Cleaning.dedupExact(df, Seq("b")).count() == 2)
  }

  test("normalizeColumnNames replaces dashes and applies renames") {
    import spark.implicits._
    val df = Seq((1, 2)).toDF("regiao-imediata", "id")
    val out = Cleaning.normalizeColumnNames(df, Map("id" -> "key"))
    assert(out.columns.toSeq == Seq("regiao_imediata", "key"))
  }

  test("parseDateMulti handles all three reference formats and garbage") {
    import spark.implicits._
    val df = Seq("1999-03-15", "15/03/1999", "03-15-1999", "not a date")
      .toDF("raw")
    val out = df.select(Cleaning.parseDateMulti(col("raw")).cast("string")
      .as("d")).collect().map(r => Option(r.getString(0)))
    assert(out.take(3).forall(_.contains("1999-03-15")))
    assert(out(3).isEmpty)
  }

  test("profile computes per-column stats in one pass") {
    val p = Profiling.profile(Tables.table(spark, sf, "orders")).collect()
    assert(p.length == 6)
    val byCol = p.map(r => r.getString(0) -> r).toMap
    assert(byCol("o_orderkey").getLong(1) ==
      Tables.table(spark, sf, "orders").count())
  }

  test("C11: validateExpectations — hand-checked violations per rule kind") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("a"), Option(5.0)),
      (2L, Option("a"), Option(50.0)),
      (3L, Option("zz"), Option(-1.0)),
      (4L, Option.empty[String], Option.empty[Double]))
      .toDF("id", "s", "v")
    val out = Cleaning.validateExpectations(df, Seq(
      Cleaning.ExpectNotNull("s"),          // row 4
      Cleaning.ExpectUnique("id"),          // clean
      Cleaning.ExpectUnique("s"),           // "a" twice → surplus 1
      Cleaning.ExpectRange("v", 0.0, 10.0), // 50.0, −1.0; null ignored
      Cleaning.ExpectInSet("s", Seq("a")),  // "zz"; null ignored
      Cleaning.ExpectMatches("s", "^[a-y]+$"))) // "zz"
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.size == 6)
    def viol(k: (String, String)) = out(k).getLong(4)
    assert(viol(("s", "not_null")) == 1 &&
      !out(("s", "not_null")).getBoolean(5))
    assert(viol(("id", "unique")) == 0 &&
      out(("id", "unique")).getBoolean(5))
    assert(viol(("s", "unique")) == 1)
    assert(viol(("v", "range")) == 2)
    assert(viol(("s", "in_set")) == 1)
    assert(viol(("s", "matches")) == 1)
    out.values.foreach(r => assert(r.getLong(3) == 4))
    intercept[IllegalArgumentException] {
      Cleaning.validateExpectations(df, Seq.empty)
    }
  }

  test("P11: keySkewProfile — hand-checked counts, deterministic top key, null bucket") {
    import spark.implicits._
    val df = Seq((1L, Option("a")), (1L, Option("a")), (1L, Option("b")),
      (2L, Option("b")), (3L, Option.empty[String])).toDF("k1", "k2")
    val out = Profiling.keySkewProfile(df, Seq("k1", "k2")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("k1", "k2"))
    val k1 = out("k1")
    // k1: 1→3, 2→1, 3→1 — 5 rows, 3 distinct, hottest "1" at 3
    assert(k1.getLong(1) == 5 && k1.getLong(2) == 3 && k1.getLong(3) == 3)
    assert(k1.getString(4) == "1")
    assert(k1.getDouble(5) == 0.6) // 3/5
    assert(k1.getDouble(6) == 1.8) // 3 · 3 distinct / 5 rows
    val k2 = out("k2")
    // k2: a→2, b→2, (null)→1 — max tie resolves to the LARGEST key
    assert(k2.getLong(2) == 3 && k2.getLong(3) == 2)
    assert(k2.getString(4) == "b")
    assert(k2.getDouble(6) == 1.2)
  }

  test("P11: keySkewProfile on events — the uniform key reads ~1, the spiked key reads hot") {
    val ev = Tables.table(spark, sf, "events")
    val out = Profiling.keySkewProfile(ev, Seq("user_id", "event_type"))
      .collect().map(r => r.getString(0) -> r).toMap
    val n = ev.count()
    out.values.foreach { r =>
      assert(r.getLong(1) == n, "every profile row accounts for all rows")
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
      assert(r.getDouble(6) >= 1.0 - 1e-9,
        "max freq can never sit below the uniform expectation")
    }
    // event_type is a 5-value column whose top type owns ~20% of all
    // rows — the single-hot-task shape a per-type shuffle would hit;
    // the many-valued user_id's top key owns well under 10%
    assert(out("event_type").getLong(2) == 5)
    assert(out("event_type").getDouble(5) >
      out("user_id").getDouble(5))
  }

  test("P10: correlationReport — known correlations, pairwise-null n, zero variance null") {
    import spark.implicits._
    // y = 2x exactly (r = 1); z = -x (r = -1); w constant (no variance);
    // v has a null, so (x, v) pairs drop that row
    val df = Seq(
      (1.0, 2.0, -1.0, 5.0, Some(10.0)),
      (2.0, 4.0, -2.0, 5.0, None),
      (3.0, 6.0, -3.0, 5.0, Some(30.0)),
      (4.0, 8.0, -4.0, 5.0, Some(15.0)))
      .toDF("x", "y", "z", "w", "v")
    val got = Profiling.correlationReport(df, Seq("x", "y", "z", "w", "v"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), Option(r.get(8)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(got.size == 10) // C(5,2) pairs from one aggregation
    assert(got(("x", "y")) == ((4L, Some(1.0))))
    assert(got(("x", "z")) == ((4L, Some(-1.0))))
    // constant column: variance 0 → NULL r, never a divide-by-zero
    assert(got(("x", "w")) == ((4L, None)))
    // pairwise-complete: the null row drops from (x, v) only
    assert(got(("x", "v"))._1 == 3L)
    assert(got(("y", "z")) == ((4L, Some(-1.0))))
  }

  test("P10: exact=false double path lands within 1e-9 of the exact pearson_r") {
    val li = Tables.table(spark, sf, "lineitem")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    def rMap(exact: Boolean) =
      Profiling.correlationReport(li, cols, exact = exact).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          Option(r.get(8)).map(_.asInstanceOf[Double])).toMap
    val ex = rMap(exact = true)
    val fast = rMap(exact = false)
    assert(ex.keySet == fast.keySet && ex.size == 3)
    // same rows selected (post-cast predicate shared), so r differs
    // only by double-vs-decimal summation — the whole point of the
    // fast path being safe to use for profiling at scale
    ex.foreach { case (k, re) =>
      (re, fast(k)) match {
        case (Some(a), Some(b)) =>
          assert(math.abs(a - b) <= 1e-9, s"$k: exact $a vs fast $b")
        case (a, b) => assert(a == b, s"$k: null-ness drift $a vs $b")
      }
    }
    // n_pairs identical in both modes
    val nEx = Profiling.correlationReport(li, cols).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val nFast = Profiling.correlationReport(li, cols, exact = false)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(nEx == nFast)
  }

  test("P9: merged shard profiles equal the one-shot profile; " +
      "shard filters localize the profile") {
    val o = Tables.table(spark, sf, "orders")
    val stored = Profiling.profileShards(o, year(col("o_orderdate")))
      .persist()
    try {
      def exactFields(df: org.apache.spark.sql.DataFrame) =
        df.select("column_name", "n_nonnull", "min_val", "max_val")
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getString(2), r.getString(3))).toMap
      // merge over ALL stored rows == profiling the whole table
      val merged = exactFields(Profiling.mergeProfiles(stored, o.schema))
      val oneShot = exactFields(Profiling.profile(o))
      assert(merged == oneShot)
      // pre-filtering stored rows to one shard == profiling that
      // shard's slice — the "query history without re-scanning it" law
      val yr = stored.select(min(col("shard"))).head().getInt(0)
      val sliceMerged = exactFields(Profiling.mergeProfiles(
        stored.filter(col("shard") === yr), o.schema))
      val sliceOneShot = exactFields(Profiling.profile(
        o.filter(year(col("o_orderdate")) === yr)))
      assert(sliceMerged == sliceOneShot)
      // HLL union across shards stays within 5% of exact per column
      val est = Profiling.mergeProfiles(stored, o.schema)
        .select("column_name", "n_distinct_est").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      Profiling.profile(o).select("column_name", "n_distinct")
        .collect().foreach { r =>
          val (cn, ex) = (r.getString(0), r.getLong(1))
          assert(math.abs(est(cn) - ex) <= 0.05 * ex, s"$cn: ${est(cn)} vs $ex")
        }
    } finally stored.unpersist()
  }

  test("consistency flags multi-valued keys") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("name", "id")
    val bad = Profiling.consistency(df, "name", "id").collect()
    assert(bad.length == 1 && bad.head.getString(0) == "a")
  }

  test("completeness reports 1.0 for non-null columns") {
    val c = Profiling.completeness(Tables.table(spark, sf, "nation"))
      .collect()
    assert(c.forall(_.getDouble(2) == 1.0))
  }

  test("surrogate keys are sha256 of :-joined naturals (ref encoding)") {
    import spark.implicits._
    val df = Seq((1, "x")).toDF("k", "v")
    val got = df.select(StarSchema.surrogateKey(col("k"), col("v")).as("id"))
      .head().getString(0)
    val expect = java.security.MessageDigest.getInstance("SHA-256")
      .digest("1:x".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got == expect)
  }

  test("dimension distinct + fact fk recompute line up") {
    val dim = StarSchema.dimDate(spark, sf)
    val fact = StarSchema.factSales(spark, sf)
    // every fact FK exists in the dimension built from the same column
    val dimShip = StarSchema.dimension(
      Tables.table(spark, sf, "lineitem")
        .select(col("l_shipdate").cast("date").as("data")),
      Seq("data"), Seq("data"), "id_date")
    val missing = fact.select(col("id_ship_date"))
      .except(dimShip.select(col("id_date").as("id_ship_date")))
    assert(missing.count() == 0)
    assert(dim.select("id_date").distinct().count() == dim.count())
  }

  test("histogram buckets cover all rows and reject unsafe widths") {
    val orders = Tables.table(spark, sf, "orders")
    val h = Profiling.histogram(orders, "o_totalprice", 10000.0)
    assert(h.agg(sum("n")).head().getLong(0) == orders.count())
    assert(h.filter(col("bucket").isNull).count() == 0)
    intercept[IllegalArgumentException] {
      Profiling.histogram(orders, "o_totalprice", 0.001)
    }
  }

  test("funnel: step counts are monotonically decreasing and causal") {
    import spark.implicits._
    val r = Events.funnel(spark, sf).head()
    val (v, vc, full) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(v >= vc && vc >= full && v > 0)
    // hand-built causality check: click-before-view must NOT count
    val df = Seq(
      (1L, "2024-01-01 10:00:00", "view"),
      (1L, "2024-01-01 11:00:00", "click"),
      (1L, "2024-01-01 12:00:00", "purchase"),
      (2L, "2024-01-01 11:00:00", "click"),
      (2L, "2024-01-01 12:00:00", "view"))
      .toDF("user_id", "ts", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    df.createOrReplaceTempView("__funnel_in")
    val perUser = df.groupBy(col("user_id")).agg(
      min(when(col("event_type") === "view",
        date_trunc("second", col("ts")))).as("t_view"),
      min(when(col("event_type") === "click",
        date_trunc("second", col("ts")))).as("t_click"),
      min(when(col("event_type") === "purchase",
        date_trunc("second", col("ts")))).as("t_purchase"))
    val out = perUser.agg(
      count(col("t_view")).as("n_view"),
      count(when(col("t_click") > col("t_view"), 1)).as("n_view_then_click"),
      count(when(col("t_purchase") > col("t_click") &&
        col("t_click") > col("t_view"), 1)).as("n_full_funnel")).head()
    assert(out.getLong(0) == 2 && out.getLong(1) == 1 && out.getLong(2) == 1)
  }

  test("topNPerGroup keeps exactly n best rows per group, deterministic ties") {
    import spark.implicits._
    val df = Seq((1L, "a", 5.0), (2L, "a", 5.0), (3L, "a", 1.0),
      (4L, "b", 9.0)).toDF("id", "g", "v")
    val got = operators.Analytics.topNPerGroup(df, Seq("g"),
      Seq(col("v").desc, col("id")), 2).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    // tie on v=5.0 broken by id: 1 ranks before 2; 3 is cut
    assert(got == Map(1L -> 1L, 2L -> 2L, 4L -> 1L))
  }

  test("monthlyRevenueDelta: first month null delta, deltas telescope") {
    val rows = operators.Analytics.monthlyRevenueDelta(spark, sf)
      .orderBy("ship_month").collect()
    assert(rows.nonEmpty && rows.head.isNullAt(2))
    rows.sliding(2).foreach {
      case Array(prev, cur) =>
        assert(math.abs(cur.getDouble(2) -
          (cur.getDouble(1) - prev.getDouble(1))) < 1e-6)
      case _ =>
    }
  }

  test("ordersPivot: wide counts sum back to the table row count") {
    val p = operators.Analytics.ordersPivot(spark, sf)
    val total = p.collect().map(r =>
      (1 to 5).map(r.getLong).sum).sum
    assert(total == graft.sources.Tables.table(spark, sf, "orders").count())
  }

  test("priorityLineReport class counts sum to the join row count") {
    val r = operators.Analytics.priorityLineReport(spark, sf).collect()
    val total = r.map(x => x.getLong(1) + x.getLong(2)).sum
    assert(total == graft.sources.Tables.table(spark, sf, "lineitem").count(),
      "every joined line lands in exactly one class")
  }

  test("retentionCohorts: offset 0 exists for every cohort, users monotone") {
    val rows = operators.Analytics.retentionCohorts(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (c, rs) =>
      val day0 = rs.find(_._2 == 0L)
      assert(day0.isDefined, s"cohort $c missing day-0 row")
      // no later offset can exceed the cohort's founding population
      rs.foreach(r => assert(r._3 <= day0.get._3, s"cohort $c offset ${r._2}"))
    }
  }

  test("unpivot is the inverse of pivot (long form == direct group-by)") {
    val long = operators.Analytics.ordersUnpivot(spark, sf)
    val direct = graft.sources.Tables.table(spark, sf, "orders")
      .groupBy(year(col("o_orderdate")).as("order_year"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_orders"))
    assert(long.except(direct).count() == 0 &&
      direct.except(long).count() == 0)
  }

  test("rollingDailyValue: window sums telescope against daily sums") {
    val rows = operators.Analytics.rollingDailyValue(spark, sf, 7)
      .filter(col("event_type") === "view").orderBy("day_num").collect()
    assert(rows.nonEmpty)
    // n_days counts only days present in the 7-day range
    rows.foreach(r => assert(r.getLong(3) >= 1 && r.getLong(3) <= 7))
    // the first day's rolling sum is exactly its own daily sum
    assert(rows.head.getLong(3) == 1)
  }

  test("rangeCountBucketed counts points inside each interval, zeros included") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val intervals = Seq((1L, d("2024-01-01")), (2L, d("2024-02-01")))
      .toDF("id", "start")
    val points = Seq((100L, d("2024-01-01")), (101L, d("2024-01-03")),
      (102L, d("2024-01-08")), (103L, d("2024-03-01")))
      .toDF("pk", "pd")
    val got = operators.Analytics
      .rangeCountBucketed(intervals, "id", "start", 5, points, "pd", "pk")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // window [start, start+5] inclusive: id 1 covers Jan 1–6 → 2 points
    // (Jan 1, Jan 3; Jan 8 outside); id 2 covers Feb 1–6 → 0 points
    assert(got == Map(1L -> 2L, 2L -> 0L))
    // a null-start interval is kept with count 0, matching the SQL
    // LEFT JOIN contract, not silently dropped by the null sequence
    val withNull = Seq((1L, Some(d("2024-01-01"))), (3L, None))
      .toDF("id", "start")
    val gotNull = operators.Analytics
      .rangeCountBucketed(withNull, "id", "start", 5, points, "pd", "pk")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotNull == Map(1L -> 2L, 3L -> 0L))
  }

  test("incremental latestPartition keeps only max partition") {
    import spark.implicits._
    val df = Seq(("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-02", 3))
      .toDF("d", "v")
    val out = Incremental.latestPartition(df, col("d")).collect()
    assert(out.length == 2 && out.forall(_.getString(0) == "2024-01-02"))
  }

  test("sessionize splits on gap") {
    val sess = Events.sessionize(spark, sf)
    // sessions never overlap per user and n_events sums to event count
    val total = sess.agg(sum("n_events")).head().getLong(0)
    assert(total == Tables.table(spark, sf, "events").count())
  }

  test("sessionizeNative matches the window form; exact-gap boundary merges in both") {
    // identical break semantics: same session count on real data
    val nativeN = Events.sessionizeNative(spark, sf).count()
    val windowN = Events.sessionize(spark, sf).count()
    assert(nativeN == windowN)
    // the pinned boundary case: an event exactly `gap` after its
    // predecessor MERGES — the built-in's merge windows are
    // end-inclusive, the same strict-> break as the window form —
    // and the emitted session_end is last ts + gap
    import spark.implicits._
    val d = java.sql.Timestamp.valueOf(_: String)
    val ev = Seq(
      (1L, d("2024-01-01 00:00:00"), 7L),
      (2L, d("2024-01-01 00:30:00"), 7L))
      .toDF("event_id", "ts", "user_id")
    val nb = ev.groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.end").cast("string"), col("n"))
      .collect()
    assert(nb.length == 1 && nb(0).getLong(1) == 2L)
    assert(nb(0).getString(0) == "2024-01-01 01:00:00")
  }

  test("revenueGroupingSets: exactly the two requested marginals, in one pass") {
    val out = Analytics.revenueGroupingSets(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // only gid 1 (status rolled up) and gid 2 (priority rolled up)
    // exist: no leaf grid, no grand total — the shape CUBE/ROLLUP
    // cannot express
    assert(out.map(_._3).toSet == Set(1L, 2L))
    out.foreach { case (p, st, gid, _, _) =>
      if (gid == 1L) assert(p != "(all)" && st == "(all)")
      else assert(p == "(all)" && st != "(all)")
    }
    // both marginal families total the same order count
    val total = Tables.table(spark, sf, "orders").count()
    assert(out.filter(_._3 == 1L).map(_._4).sum == total)
    assert(out.filter(_._3 == 2L).map(_._4).sum == total)
  }

  test("scd2 builds contiguous non-overlapping versions per key") {
    import spark.implicits._
    val d = java.sql.Timestamp.valueOf(_: String)
    val changes = Seq(
      (1L, d("2024-01-01 00:00:00"), 10L, "a"),
      (1L, d("2024-02-01 00:00:00"), 11L, "b"),
      (1L, d("2024-03-01 00:00:00"), 12L, "c"),
      (2L, d("2024-01-15 00:00:00"), 20L, "x"))
      .toDF("k", "ts", "chg_id", "attr")
    // columns: k, attr, effective_from, effective_to, is_current
    val v = StarSchema.scd2(changes, "k", "ts", col("chg_id"), Seq("attr"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(2),
        r.getString(1), Option(r.getTimestamp(3)), r.getBoolean(4)))
    // exactly one current version per key
    assert(v.count(_._5) == 2)
    // each non-current version closes at its successor's start
    val k1 = v.filter(_._1 == 1L).sortBy(_._2.getTime)
    assert(k1.map(_._3).toSeq == Seq("a", "b", "c"))
    assert(k1(0)._4.contains(k1(1)._2) && k1(1)._4.contains(k1(2)._2))
    assert(k1(2)._4.isEmpty && k1(2)._5)
  }

  test("approx quantiles track exact within sketch tolerance (the at-scale swap)") {
    // P6/C10 document "swap percentile for percentile_approx at
    // 100 TB — same call shape, bounded error"; this pins that claim:
    // the t-digest path lands within 2% relative error of exact on
    // real data, so the swap is a tuning knob, not a semantics change.
    val orders = Tables.table(spark, sf, "orders")
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val exact = asMap(Profiling.quantiles(orders, "o_orderpriority",
      "o_totalprice"))
    val approx = asMap(Profiling.quantiles(orders, "o_orderpriority",
      "o_totalprice", exact = false))
    exact.foreach { case (k, (p50, p90)) =>
      val (a50, a90) = approx(k)
      assert(math.abs(a50 - p50) / p50 < 0.02, s"$k p50 $a50 vs $p50")
      assert(math.abs(a90 - p90) / p90 < 0.02, s"$k p90 $a90 vs $p90")
    }
  }

  test("winsorize clamps outliers to group quantiles, keeps every row") {
    import spark.implicits._
    val df = ((1 to 99).map(i => (i.toLong, "g", i.toDouble)) :+
      ((100L, "g", 100000.0))).toDF("id", "grp", "v")
    val out = Cleaning.winsorize(df, "grp", "v", 0.05, 0.95)
    assert(out.count() == 100) // winsorize clips, never drops
    val clipped = out.select("id", "v_clipped").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the outlier is pulled down to p95; interior values are untouched
    assert(clipped(100L) < 100000.0 && clipped(100L) >= 94.0)
    assert(clipped(50L) == 50.0)
    // the low tail clamps up to p5
    assert(clipped(1L) > 1.0 && clipped(1L) <= 6.0)
  }

  test("winsorize: null group keys survive, null values stay null") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("g"), Option(1.0)), (2L, Option("g"), Option(50.0)),
      (3L, Option("g"), Option(99.0)),
      (4L, Option("g"), Option.empty[Double]), // missing measurement
      (5L, Option.empty[String], Option(7.0)), // null group
      (6L, Option.empty[String], Option(9.0)))
      .toDF("id", "grp", "v")
    val out = Cleaning.winsorize(df, "grp", "v", 0.25, 0.75)
    assert(out.count() == 6, "null-group rows must not be dropped")
    val rows = out.select("id", "v_clipped").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(rows(4L).isEmpty, "a null value must not become a quantile")
    // the null group clips against ITS OWN bounds (7.0–9.0 band)
    assert(rows(5L).contains(7.5) && rows(6L).contains(8.5))
  }

  test("stripMarkup removes tags, urls, entities; plain text unscathed") {
    import spark.implicits._
    val df = Seq(
      "<html><body>Hello <b>world</b></body></html>",
      "see https://a.example/path?q=1#f and http://b.example now",
      "fish &amp; chips&nbsp;please",
      "already clean text",
      "  spaced   out  ").toDF("t")
    val got = df.select(graft.functions.TextFunctions
      .stripMarkup(col("t")).as("s")).collect().map(_.getString(0))
    assert(got(0) == "Hello world")
    assert(got(1) == "see and now")
    assert(got(2) == "fish chips please")
    assert(got(3) == "already clean text")
    assert(got(4) == "spaced out")
  }

  test("scd2 changedOnly opens a version only when tracked attrs differ") {
    import spark.implicits._
    val d = java.sql.Timestamp.valueOf(_: String)
    val changes = Seq(
      (1L, d("2024-01-01 00:00:00"), 10L, Option("a")),
      (1L, d("2024-02-01 00:00:00"), 11L, Option("a")), // no-op touch
      (1L, d("2024-03-01 00:00:00"), 12L, Option("b")),
      (1L, d("2024-04-01 00:00:00"), 13L, Option("b")), // no-op touch
      (2L, d("2024-01-15 00:00:00"), 20L, Option("x")),
      (3L, d("2024-01-01 00:00:00"), 30L, None), // null attr…
      (3L, d("2024-02-01 00:00:00"), 31L, None), // …re-emitted: no-op
      (3L, d("2024-03-01 00:00:00"), 32L, Option("y")))
      .toDF("k", "ts", "chg_id", "attr")
    val v = StarSchema.scd2(changes, "k", "ts", col("chg_id"), Seq("attr"),
        changedOnly = true)
      .collect().map(r => (r.getLong(0), r.getTimestamp(2),
        Option(r.getString(1)), Option(r.getTimestamp(3)), r.getBoolean(4)))
    // k=1 collapses to two versions: a [01-01, 03-01), b [03-01, ∞)
    val k1 = v.filter(_._1 == 1L).sortBy(_._2.getTime)
    assert(k1.map(_._3).toSeq == Seq(Some("a"), Some("b")))
    assert(k1(0)._2 == d("2024-01-01 00:00:00") &&
      k1(0)._4.contains(d("2024-03-01 00:00:00")))
    assert(k1(1)._4.isEmpty && k1(1)._5)
    // null attrs compare null-safely: k=3 is (null)[01-01,03-01), y[03-01,∞)
    val k3 = v.filter(_._1 == 3L).sortBy(_._2.getTime)
    assert(k3.map(_._3).toSeq == Seq(None, Some("y")))
    assert(k3(0)._4.contains(d("2024-03-01 00:00:00")))
    // default (flag off) keeps every change row: 4 versions for k=1
    assert(StarSchema.scd2(changes, "k", "ts", col("chg_id"), Seq("attr"))
      .filter(col("k") === 1L).count() == 4)
  }

  test("S17: upsert updates/inserts per key, rewrites only touched " +
      "partitions, replays idempotently") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("t").toString + "/t"
    val base = Seq((1L, "a", 2020, 0L), (2L, "b", 2020, 0L),
      (3L, "c", 2021, 0L), (4L, "d", 2022, 0L))
      .toDF("k", "val", "p", "v")
    sources.Tables.writeParquet(base, tmp, partitionBy = Seq("p"))
    def fileState(p: Int): Set[(String, Long)] = {
      val d = new java.io.File(s"$tmp/p=$p")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toSet
    }
    val untouched2021 = fileState(2021)
    val untouched2022 = fileState(2022)
    // update k=1 (2020), insert k=9 (2020) and k=10 (NEW partition 2023)
    val batch = Seq((1L, "a2", 2020, 1L), (9L, "i", 2020, 1L),
      (10L, "j", 2023, 1L)).toDF("k", "val", "p", "v")
    Incremental.upsertPartitioned(spark, tmp, batch, Seq("k"), "p", "v")
    def rows() = spark.read.parquet(tmp).select("k", "val", "p", "v")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getInt(2), r.getLong(3))).toMap
    val expect = Map(1L -> ("a2", 2020, 1L), 2L -> ("b", 2020, 0L),
      3L -> ("c", 2021, 0L), 4L -> ("d", 2022, 0L),
      9L -> ("i", 2020, 1L), 10L -> ("j", 2023, 1L))
    assert(rows() == expect)
    // untouched partitions: same files, same mtimes — never rewritten
    assert(fileState(2021) == untouched2021)
    assert(fileState(2022) == untouched2022)
    // replaying the same batch converges to the same table (batch
    // wins version ties)
    Incremental.upsertPartitioned(spark, tmp, batch, Seq("k"), "p", "v")
    assert(rows() == expect)
  }

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    import spark.implicits._
    val before = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val after = Seq((1L, 10.0), (2L, 25.0), (4L, 40.0)).toDF("k", "v")
    val got = Incremental.snapshotDiff(before, after, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    // a null attribute is never silently 'unchanged' against a value
    val bn = Seq((1L, Option.empty[java.lang.Double])).toDF("k", "v")
    val an = Seq((1L, Option(java.lang.Double.valueOf(5.0)))).toDF("k", "v")
    val nulls = Incremental.snapshotDiff(bn, an, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(nulls == Map(1L -> "changed"))
  }

  test("parseDateMulti handles text-token formats ungated") {
    import spark.implicits._
    // "dd MMM yyyy" produces month NAMES — the numeric shape gate must
    // not apply (it would reject every valid value)
    val df = Seq("01 Jan 2024", "2024-02-03", "garbage").toDF("raw")
    val got = df.select(operators.Cleaning.parseDateMulti(col("raw"),
        Seq("yyyy-MM-dd", "dd MMM yyyy")).cast("string").as("d"))
      .as[Option[String]].collect()
    assert(got.toSeq == Seq(Some("2024-01-01"), Some("2024-02-03"), None))
    // gate applies to purely numeric formats, not to text ones
    assert(operators.Cleaning.formatShapeRegex("yyyy-MM-dd").isDefined)
    assert(operators.Cleaning.formatShapeRegex("dd MMM yyyy").isEmpty)
    assert(operators.Cleaning.formatShapeRegex("yyyy-MM-dd'T'HH:mm").isEmpty)
  }

  test("bloomPrunedJoin matches the plain join and actually prunes") {
    import spark.implicits._
    val probe = spark.range(0, 10000).toDF("p")
    val build = spark.range(0, 10000).filter(col("id") % 100 === 0)
      .toDF("k")
    val got = operators.Bloom.bloomPrunedJoin(probe, build, "p", "k", 1000L)
      .select("p").as[Long].collect().sorted
    val exact = probe.join(build, col("p") === col("k"))
      .select("p").as[Long].collect().sorted
    assert(got.toSeq == exact.toSeq)
    // the prefilter alone kills (almost) every non-matching probe row:
    // ≤ 3% fpp at the configured capacity
    val bf = build.agg(
      operators.Bloom.keyBloomAgg(col("k"), 1000L).as("bf"))
    val pruned = probe
      .filter(operators.Bloom.mightContain(bf, col("p"))).count()
    assert(pruned >= 100 && pruned <= 100 + 500, s"pruned=$pruned")
  }

  test("revenueRollup subtotals reconcile with leaf rows") {
    val out = Analytics.revenueRollup(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val leaves = out.filter(r => r._1 != "(all)" && r._2 != "(all)")
    val regionSub = out.filter(r => r._1 != "(all)" && r._2 == "(all)")
    val grand = out.filter(r => r._1 == "(all)" && r._2 == "(all)")
    assert(grand.length == 1)
    // every region subtotal equals the sum of its nation leaves (the
    // leaf sums are decimal-exact, so doubles match to rounding noise)
    regionSub.foreach { case (reg, _, subtotal) =>
      val s = leaves.filter(_._1 == reg).map(_._3).sum
      assert(math.abs(s - subtotal) < 0.02, s"$reg: $s vs $subtotal")
    }
    assert(math.abs(grand.head._3 - regionSub.map(_._3).sum) < 0.02)
  }

  test("revenueCube emits all four grouping sets, gid-consistent") {
    val out = Analytics.revenueCube(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // gid encodes which dims rolled up: bit1=priority, bit0=status
    out.foreach { case (p, st, gid, _, _) =>
      assert(((gid & 2L) != 0) == (p == "(all)"), s"gid=$gid p=$p")
      assert(((gid & 1L) != 0) == (st == "(all)"), s"gid=$gid st=$st")
    }
    val grand = out.filter(_._3 == 3L)
    assert(grand.length == 1)
    // every marginal (one dim rolled up) sums its own leaves, and the
    // grand total sums each marginal family exactly (counts are ints)
    val leaves = out.filter(_._3 == 0L)
    out.filter(_._3 == 1L).foreach { case (p, _, _, n, rev) =>
      val mine = leaves.filter(_._1 == p)
      assert(mine.map(_._4).sum == n)
      assert(math.abs(mine.map(_._5).sum - rev) < 0.02)
    }
    out.filter(_._3 == 2L).foreach { case (_, st, _, n, rev) =>
      val mine = leaves.filter(_._2 == st)
      assert(mine.map(_._4).sum == n)
      assert(math.abs(mine.map(_._5).sum - rev) < 0.02)
    }
    assert(grand.head._4 == leaves.map(_._4).sum)
  }
}
