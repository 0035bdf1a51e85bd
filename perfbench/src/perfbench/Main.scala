package perfbench

import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, SparkEntry}
import graft.sources.{ManifestStore, Tables}

/** One benchmark run: `Main <spec.json> <result.json>`.
  *
  * The spec (written by `run.py` from the seeded generator in
  * `inputs.py`) names the workload, its inputs and a scratch root.
  * The run sets up the session, drives graft through its public entry
  * points only, times every call as a [[Span]], checks the outputs
  * outside the timed spans, and writes the metrics to `result.json`.
  * An operation that throws is counted as failed and the run goes on.
  */
object Main {
  private val date0 = LocalDate.parse("2026-08-01")

  final class Run(val spark: SparkSession, val spec: JsonNode,
                  val tracer: Tracer) {
    val sf: String = spec.get("sf_dir").asText
    val out: String = spec.get("tmp").asText + "/out"
    var attempted, failed = 0
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]

    /** A timed call into graft; None when it threw. */
    def op[T](name: String, day: Int = 0, levels: Boolean = false)
             (body: => T): Option[T] = {
      attempted += 1
      try Some(tracer.span(name, day, levels)(body))
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] $name (day $day) failed: $e")
        None
      }
    }

    def check(name: String)(ok: => Boolean, detail: => String): Unit = {
      val r = try (ok, detail)
      catch { case e: Throwable => (false, e.toString) }
      checks += ((name, r._1, r._2))
    }

    def lastSpan(name: String): Span =
      tracer.spans.filter(_.name == name).last
    def spansNamed(p: String => Boolean): Seq[Span] =
      tracer.spans.filter(s => p(s.name)).toSeq
  }

  /** `Main <spec.json> <result.json>` runs one workload. `Main --train
    * <spec.json>...` runs each spec's workload in one session and keeps
    * no results: the build uses it to record the class-data archive.
    */
  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper()
    def read(p: String) = mapper.readTree(new java.io.File(p))
    if (args(0) == "--train") {
      val specs = args.drop(1).toSeq.map(read)
      val (spark, _) = setUp(specs.head)
      specs.foreach(s => workload(new Run(spark, s, new Tracer(spark,
        traced = false, "train", s.get("tmp").asText + "/out"))))
      spark.stop()
      return
    }
    val spec = read(args(0))
    val traced = spec.get("trace").asBoolean
    if (traced) {
      // every Hadoop Configuration made from here on counts file-system
      // calls through CountingLocalFileSystem
      org.apache.hadoop.conf.Configuration
        .addDefaultResource("perfbench-trace-site.xml")
      org.apache.hadoop.fs.FileSystem.closeAll()
    }
    val (spark, setups) = setUp(spec)
    System.err.println(s"[perfbench] setups ${setups.mkString(" ")} s")
    val tracer = new Tracer(spark, traced,
      s"${spec.get("workload").asText}-seed${spec.get("seed").asLong}",
      spec.get("tmp").asText + "/out")
    val run = new Run(spark, spec, tracer)
    run.metrics("setup_s") = median(setups)
    tracer.span("run")(workload(run))
    run.metrics("peak_rss_mb") = peakRssMb()
    run.metrics("failed_ops_frac") = run.failed.toDouble / run.attempted
    if (traced) {
      val root = tracer.spans.head
      run.layers("run.wall_s") = root.wallS
      run.layers("run.self_s") = tracer.selfS(root)
      run.layers("trace.hook_s") = tracer.hookNs / 1e9
      tracer.write(spec.get("trace_file").asText)
    }
    spark.stop()
    writeResult(run, args(1))
  }

  private def workload(r: Run): Unit =
    r.spec.get("workload").asText match {
      case "warehouse_daily" => warehouse(r)
      case "corpus_daily"    => corpus(r)
      case "query_mix"       => queryMix(r)
    }

  /** Builds the session `setups` times and returns the last one with
    * each build's time: the first counts from process start (`t0_ms`,
    * taken by the launcher), later ones rebuild it after a stop.
    */
  def setUp(spec: JsonNode): (SparkSession, Seq[Double]) = {
    val tmp = spec.get("tmp").asText
    def build(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[${spec.get("cpus").asInt}]")
        .config("spark.sql.shuffle.partitions", spec.get("cpus").asInt)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$tmp/spark-warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s.range(1).count()
      s
    }
    val times = mutable.ArrayBuffer.empty[Double]
    var spark = build()
    times += (System.currentTimeMillis() - spec.get("t0_ms").asLong) / 1e3
    for (_ <- 1 until spec.get("setups").asInt) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t = System.nanoTime()
      spark = build()
      times += (System.nanoTime() - t) / 1e9
    }
    (spark, times.toSeq)
  }

  // ---- warehouse_daily ------------------------------------------------

  /** Bronze → silver → gold over a year of lineitem up to the cut, then
    * one `goldIncrement` per ship month, each followed by gold reads.
    */
  def warehouse(r: Run): Unit = {
    import r._
    val w = spec.get("warehouse")
    val li = Tables.table(spark, sf, "lineitem")
    val month = date_format(col("l_shipdate"), "yyyy-MM")
    val factRoot = s"$out/gold/fact_sales"
    val (start, cut) = (w.get("start").asText, w.get("cut").asText)
    tracer.span("bootstrap", levels = true) {
      op("pipeline.bronze")(Pipeline.bronze(spark, sf, out, date0.toString))
      op("pipeline.silver")(Pipeline.silver(spark, out, date0.toString))
      op("pipeline.gold")(Pipeline.gold(spark, sf, out, date0.toString,
        factLineitem = Some(li.filter(month >= start && month < cut))))
    }
    var gens = schemaGens(r)
    val months = w.get("day_months").elements.asScala.map(_.asText).toSeq
    val keys = w.get("point_keys").elements.asScala
      .map(_.elements.asScala.map(_.asLong).toSeq).toSeq
    for ((m, i) <- months.zipWithIndex; day = i + 1)
        tracer.span("day", day) {
      val batch = li.filter(month === m)
      val before = if (tracer.traced) factRows(r) else 0L
      op("pipeline.gold_increment", day, levels = true)(
        Pipeline.goldIncrement(spark, sf, out, batch,
          date0.plusDays(day).toString))
      if (tracer.traced) lastSpan("pipeline.gold_increment")
        .counters("accept_ratio") =
          (factRows(r) - before).toDouble / batch.count()
      val now = schemaGens(r)
      check(s"schema triple advanced once on day $day")(
        gens.nonEmpty && now.keySet == gens.keySet &&
          now.forall { case (t, g) => g == gens(t) + 1 },
        s"$gens -> $now")
      gens = now
      op("read.gold_join", day)(goldJoin(r).collect())
      keys(i).foreach { k =>
        op("read.point", day)(
          ManifestStore.readWhere(spark, factRoot, "l_orderkey", k, k)
            .collect())
      }
      op("read.as_of", day)(noop(ManifestStore.readAt(spark, factRoot,
        now("fact_sales") - 1)))
    }
    check("gold fact rows equal lineitem rows landed")(
      factRows(r) == w.get("landed_rows").asLong,
      s"${factRows(r)} vs ${w.get("landed_rows").asLong}")
    for ((t, k) <- Seq("dim_customer" -> "id_customer",
        "dim_date" -> "id_date")) {
      val n = Pipeline.goldTable(spark, out, t)
        .agg(count(lit(1)), countDistinct(col(k))).head()
      check(s"$t keys unique")(n.getLong(0) == n.getLong(1),
        s"${n.getLong(1)} distinct of ${n.getLong(0)}")
    }
    dailyMetrics(r, "pipeline.gold_increment",
      Seq("pipeline.bronze", "pipeline.silver", "pipeline.gold"),
      w.get("input_bytes").asDouble)
  }

  private def schemaGens(r: Run): Map[String, Long] =
    try Pipeline.goldSchemaGens(r.spark, r.out)
    catch { case _: Exception => Map.empty }

  private def factRows(r: Run): Long =
    ManifestStore.readCurrent(r.spark, s"${r.out}/gold/fact_sales").count()

  /** Revenue by order year and customer region over the consistent
    * gold triple. The fact carries no customer key, so the source
    * `orders` table bridges l_orderkey to the customer.
    */
  private def goldJoin(r: Run): DataFrame = {
    import r._
    val fact = Pipeline.goldTable(spark, out, "fact_sales")
    val cust = Pipeline.goldTable(spark, out, "dim_customer")
    val date = Pipeline.goldTable(spark, out, "dim_date")
    val orders = Tables.table(spark, sf, "orders")
      .select("o_orderkey", "o_custkey")
    fact.join(date, fact("id_ship_date") === date("id_date"))
      .join(orders, fact("l_orderkey") === orders("o_orderkey"))
      .join(cust, orders("o_custkey") === cust("id_customer_nat"))
      .groupBy(year(col("data")).as("yr"), col("nome_regiao"))
      .agg(sum("preco").as("revenue"), count(lit(1)).as("lines"))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ---- corpus_daily ---------------------------------------------------

  /** `corpusInit` on the seeded bootstrap share, then one
    * `corpusIncrement` per generated batch, each followed by scans of
    * the packed training table.
    */
  def corpus(r: Run): Unit = {
    import r._
    val c = spec.get("corpus")
    val reads = c.get("reads_per_day").asInt
    tracer.span("bootstrap", levels = true) {
      op("pipeline.corpus_init")(Pipeline.corpusInit(spark,
        spark.read.parquet(c.get("init").asText), out, date0.toString))
    }
    val days = c.get("days").elements.asScala.toSeq
    for ((d, i) <- days.zipWithIndex; day = i + 1) tracer.span("day", day) {
      val accepted = op("pipeline.corpus_increment", day, levels = true)(
        Pipeline.corpusIncrement(spark, out,
          spark.read.parquet(d.get("path").asText),
          date0.plusDays(day).toString))
      if (tracer.traced) accepted.foreach { a =>
        lastSpan("pipeline.corpus_increment").counters("accept_ratio") =
          a.toDouble / d.get("docs").asInt
      }
      for (_ <- 1 to reads) op("read.train_packed", day)(
        noop(spark.read.parquet(s"$out/gold/train_packed")))
    }
    val silver = spark.read.parquet(s"$out/silver/documents")
    val planted = days.flatMap(_.get("exact_ids").elements.asScala)
      .map(_.asLong)
    val leaked = silver.filter(col("doc_id").isin(planted: _*)).count()
    check("every planted exact re-send is rejected")(leaked == 0,
      s"$leaked of ${planted.size} landed in silver")
    val dups = silver.groupBy("norm_hash").count()
      .filter(col("count") > 1).count()
    check("silver has no exact duplicates")(dups == 0,
      s"$dups duplicated norm_hash values")
    dailyMetrics(r, "pipeline.corpus_increment",
      Seq("pipeline.corpus_init"), c.get("input_bytes").asDouble)
  }

  /** The end-to-end and per-layer metrics both daily workloads share.
    * Per-layer names use the span's role (bootstrap / increment /
    * increment_last / read), so both workloads report the same set.
    */
  private def dailyMetrics(r: Run, increment: String,
                           bootstrap: Seq[String],
                           inputBytes: Double): Unit = {
    import r._
    val incs = spansNamed(_ == increment).filter(_.ok)
    val reads = spansNamed(_.startsWith("read.")).filter(_.ok)
    metrics("bootstrap_s") =
      spansNamed(bootstrap.contains).map(_.wallS).sum
    metrics("increment_p50_s") = median(incs.map(_.wallS))
    metrics("read_p50_s") = median(reads.map(_.wallS))
    metrics("store_bytes_per_input_byte") =
      Tracer.treeSize(out)._2 / inputBytes
    if (tracer.traced) {
      val boot = spansNamed(_ == "bootstrap")
      roleLayers(r, "bootstrap", boot, last = false)
      roleLayers(r, "increment", incs, last = false)
      roleLayers(r, "increment_last", incs, last = true)
      roleLayers(r, "read", reads, last = false)
    }
  }

  private val readOnlyDrop =
    Set("fs.write_ops", "fs.written_mb", "store.files", "store.mb",
      "accept_ratio")

  /** Per-counter median over `spans` (or the last span) as
    * `<role>.<counter>`, plus `<role>._s`.
    */
  private def roleLayers(r: Run, role: String, spans: Seq[Span],
                         last: Boolean): Unit = {
    if (spans.isEmpty) return
    val use = if (last) Seq(spans.last) else spans
    r.layers(s"$role._s") = median(use.map(_.wallS))
    val keys = use.flatMap(_.counters.keys).distinct
      .filterNot(k => role == "read" && readOnlyDrop(k))
    keys.foreach { k =>
      r.layers(s"$role.$k") = median(use.flatMap(_.counters.get(k)))
    }
  }

  // ---- query_mix ------------------------------------------------------

  /** A closed loop with one client over the read-only query list. The
    * untimed warm-up round (part of setup) also writes each result for
    * the DuckDB oracle check run.py makes afterwards.
    */
  def queryMix(r: Run): Unit = {
    import r._
    val order = spec.get("query_order").elements.asScala
      .map(_.elements.asScala.map(_.asText).toSeq).toSeq
    val names = order.head.sorted
    val t = System.nanoTime()
    for (q <- names) {
      spark.catalog.clearCache()
      try SparkEntry.queries(q)(spark, sf).coalesce(1).write
        .mode("overwrite").parquet(s"${spec.get("tmp").asText}/results/$q")
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] warm-up $q failed: $e")
      }
    }
    metrics("setup_s") += (System.nanoTime() - t) / 1e9
    for (round <- order; q <- round) {
      spark.catalog.clearCache()
      op(s"query.$q") {
        val df = SparkEntry.queries(q)(spark, sf)
        if (tracer.traced) tracer.span(s"query.$q.plan")(
          df.queryExecution.executedPlan)
        noop(df)
      }
    }
    val ok = spansNamed(_.startsWith("query.")).filter(s =>
      s.ok && !s.name.endsWith(".plan"))
    val byQuery = ok.groupBy(_.name)
    metrics("query_geomean_s") = math.exp(byQuery.values
      .map(s => math.log(median(s.map(_.wallS)))).sum / byQuery.size)
    metrics("query_p90_s") = tailPercentile(ok.map(_.wallS))
    if (tracer.traced) byQuery.foreach { case (n, ss) =>
      roleLayers(r, n, ss, last = false)
      layers(s"$n.plan_s") = median(spansNamed(_ == s"$n.plan").map(_.wallS))
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) =>
      names.contains(k)
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${spec.get("tmp").asText}/oracle_sql.json"),
      oracle.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
        .mkString("{", ",", "}"))
  }

  // ---- shared ---------------------------------------------------------

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile, as numpy's default. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** p90, or the highest percentile that still has ten samples above
    * it when p90 has fewer.
    */
  def tailPercentile(xs: Seq[Double]): Double =
    percentile(xs, math.max(0.0, math.min(0.9, (xs.size - 10.0) / xs.size)))

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)

  private def writeResult(r: Run, path: String): Unit = {
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
        .mkString("{", ",", "}")
    val checks = r.checks.map { case (n, ok, d) =>
      s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}"""
    }.mkString("[", ",", "]")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      s"""{"attempted":${r.attempted},"failed":${r.failed},""" +
        s""""metrics":${obj(r.metrics)},"per_layer":${obj(r.layers)},""" +
        s""""checks":$checks}""")
  }
}
