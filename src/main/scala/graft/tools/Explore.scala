package graft.tools

import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.Tables

/** Dev-only plan/timing explorer (not part of the driver contract).
  * Current use: ANN recall/latency sweep over probe settings.
  */
object Explore {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.GraftSession.local()

    val emb = Tables.table(spark, sfDir, "embeddings").localCheckpoint()
    val qp = col("vec_id") % 50 === 0
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qp)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val by = rows.groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val per = exact.map { case (q, want) =>
        by.getOrElse(q, Set.empty[Long]).intersect(want).size.toDouble /
          want.size
      }
      per.sum / per.size
    }
    def timed(name: String)(f: => Array[org.apache.spark.sql.Row]): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[explore] $name%-40s recall=${recall(r)}%.3f  " +
        f"${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }

    if (args.headOption.contains("dv")) {
      // S37/S40 plan capture: the DV-applied read (broadcast
      // anti-join over the untouched data scan) and the renamed
      // table's union-of-eras read
      val M = graft.sources.ManifestStore
      val root = "/tmp/graft-explore-dv/orders"
      graft.sources.Tables.fsFor(spark, root).delete(
        new org.apache.hadoop.fs.Path("/tmp/graft-explore-dv"), true)
      val orders = Tables.table(spark, sfDir, "orders")
        .withColumn("o_year", date_format(col("o_orderdate"), "yyyy"))
      M.publish(spark, orders, root, "o_year")
      M.deleteWhereMor(spark, root, col("o_orderkey") % 997 === 0)
      println("==== DV-applied read (filter + projection) ====")
      M.readCurrent(spark, root)
        .filter(col("o_year") === "1996")
        .select("o_orderkey", "o_totalprice")
        .explain("formatted")
      M.renameColumn(spark, root, "o_totalprice", "price")
      M.publish(spark, M.readCurrent(spark, root)
        .filter(col("o_year") === "1997"), root, "o_year")
      println("==== renamed-table read (mixed eras) ====")
      M.readCurrent(spark, root)
        .filter(col("o_year").isin("1996", "1997"))
        .select("o_orderkey", "price")
        .explain("formatted")
      spark.stop(); return
    }
    if (args.headOption.contains("q")) {
      // isolated re-timing of named SparkEntry queries: noop sink,
      // N reps each, cache cleared between reps (the Bench discipline)
      val reps = args(1).toInt
      args.drop(2).foreach { name =>
        (1 to reps).foreach { r =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          println(f"[explore] $name rep$r ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        }
      }
      spark.stop(); return
    }
    if (args.headOption.contains("vj")) {
      // dedup_jaccard / dedup_containment dissection: persist vs
      // recompute vs localCheckpoint of the capped shingle index, and
      // the cap's own cost (r19 item 1)
      val doc = Tables.table(spark, sfDir, "documents")
      def t(name: String)(f: => Unit): Unit = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime(); f
        println(f"[explore] $name%-36s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      }
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      (1 to 3).foreach { r =>
        t(s"r$r index only")(noop(Dedup.shingleIndex(doc, "doc_id", "text")))
        t(s"r$r index+cap1000")(noop(
          Dedup.capDocFreq(Dedup.shingleIndex(doc, "doc_id", "text"), 1000)))
        t(s"r$r jac persist(cur)")(noop(
          Dedup.ngramJaccardPairs(doc, "doc_id", "text", maxDocFreq = 1000)))
        t(s"r$r jac nopersist") {
          val sh = Dedup.capDocFreq(
            Dedup.shingleIndex(doc, "doc_id", "text"), 1000)
          noop(Dedup.jaccardVerify(sh, None, 3, 10))
        }
        t(s"r$r jac nocap-nopersist") {
          val sh = Dedup.shingleIndex(doc, "doc_id", "text")
          noop(Dedup.jaccardVerify(sh, None, 3, 10))
        }
        t(s"r$r jac localckpt") {
          val sh = Dedup.capDocFreq(
            Dedup.shingleIndex(doc, "doc_id", "text"), 1000).localCheckpoint()
          noop(Dedup.jaccardVerify(sh, None, 3, 10))
        }
        t(s"r$r cont persist(cur)")(noop(
          Dedup.containmentPairs(doc, "doc_id", "text", maxDocFreq = 20)))
        t(s"r$r cont nopersist") {
          val capped = Dedup.capDocFreq(
            Dedup.shingleIndex(doc, "doc_id", "text"), 20)
          val sizes = capped.groupBy(col("sid")).agg(count(lit(1)).as("n"))
          noop(Dedup.cooccurrence(capped)
            .join(sizes.as("sa"), col("sa.sid") === col("id_a"))
            .join(sizes.as("sb"), col("sb.sid") === col("id_b"))
            .filter(col("i") * 10 >=
              least(col("sa.n"), col("sb.n")) * 3)
            .select(col("id_a"), col("id_b"),
              col("sa.n").as("n_a"), col("sb.n").as("n_b"),
              col("i").as("n_shared"),
              round(col("i").cast("double") /
                least(col("sa.n"), col("sb.n")).cast("double"), 6)
                .as("containment")))
        }
        t(s"r$r cont localckpt") {
          val capped = Dedup.capDocFreq(
            Dedup.shingleIndex(doc, "doc_id", "text"), 20).localCheckpoint()
          val sizes = capped.groupBy(col("sid")).agg(count(lit(1)).as("n"))
          noop(Dedup.cooccurrence(capped)
            .join(sizes.as("sa"), col("sa.sid") === col("id_a"))
            .join(sizes.as("sb"), col("sb.sid") === col("id_b"))
            .filter(col("i") * 10 >=
              least(col("sa.n"), col("sb.n")) * 3)
            .select(col("id_a"), col("id_b"),
              col("sa.n").as("n_a"), col("sb.n").as("n_b"),
              col("i").as("n_shared"),
              round(col("i").cast("double") /
                least(col("sa.n"), col("sb.n")).cast("double"), 6)
                .as("containment")))
        }
      }
      spark.stop(); return
    }
    if (args.headOption.contains("km")) {
      // embed_kmeans dissection (r19 item 2): whole query, then the
      // per-stage costs of the 2-round Lloyd loop
      def t(name: String)(f: => Unit): Unit = {
        val t0 = System.nanoTime(); f
        println(f"[explore] $name%-36s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      }
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      (1 to 3).foreach { r =>
        spark.catalog.clearCache()
        t(s"r$r q_embed_kmeans whole")(noop(
          Similarity.kmeansIterate(emb, "vec_id", "embedding",
            initPred = col("vec_id") % 37 === 1, maxIter = 2,
            tol = -1.0)._1))
      }
      (1 to 2).foreach { r =>
        spark.catalog.clearCache()
        val base = Tables.fanOut(
          emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv")))
          .persist()
        t(s"r$r base persist+count")(base.count(): Unit)
        val cent0 = emb.filter(col("vec_id") % 37 === 1)
          .select(col("vec_id").as("cell"), col("embedding").as("centv"))
          .localCheckpoint()
        t(s"r$r assign noop")(noop(
          Similarity.assignToCentroids(base, "cand_id", "cv", cent0)))
        t(s"r$r stats noop")(noop(Similarity.centroidStats(
          Similarity.assignToCentroids(base, "cand_id", "cv", cent0))))
        var c1: org.apache.spark.sql.DataFrame = null
        t(s"r$r centroidTable+ckpt") {
          c1 = Similarity.centroidTable(Similarity.centroidStats(
            Similarity.assignToCentroids(base, "cand_id", "cv", cent0)))
            .localCheckpoint()
        }
        def longForm(c: org.apache.spark.sql.DataFrame, vAs: String) =
          c.select(col("cell"), posexplode(col("centv")).as(Seq("pos", "v")))
            .select(col("cell"), (col("pos") + 1).cast("bigint").as("pos"),
              round(col("v").cast("double"), 6).cast("decimal(18,6)").as(vAs))
        t(s"r$r movement")(longForm(cent0, "o")
          .join(longForm(c1, "n"), Seq("cell", "pos"))
          .agg(coalesce(sum(abs(col("o") - col("n"))),
            lit(java.math.BigDecimal.ZERO)).cast("double"))
          .head(): Unit)
        base.unpersist()
      }
      spark.stop(); return
    }
    if (args.headOption.contains("bm")) {
      // text_bm25 score-tail A/B (r19 item 4): limb-sum vs plain
      // decimal sum on the per-term scores, full inline-probe shape
      val tf0 = graft.functions.TextFunctions
      val query = args.lift(1).getOrElse("fast vector hash join")
      val (k, k1, b) = (20, 1.2, 0.75)
      val terms = Bm25.queryTerms(query)
      def t(name: String)(f: => Unit): Unit = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime(); f
        println(f"[explore] $name%-36s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      }
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      def run(limb: Boolean): Unit = {
        val docs = Tables.table(spark, sfDir, "documents")
        val base = Tables.fanOut(
            docs.select(col("doc_id"),
              tf0.bpeTokens(lower(col("text"))).as("__t")))
          .withColumn("__len", size(col("__t")).cast("bigint"))
          .persist()
        try {
          val s = base.agg(count(lit(1)).as("n"), sum(col("__len")).as("sl"))
            .head()
          val n = s.getLong(0); val sl = s.getLong(1)
          val tf = base
            .select(col("doc_id"), col("__len"), explode(col("__t")).as("term"))
            .filter(col("term").isin(terms: _*))
            .groupBy(col("doc_id"), col("__len"), col("term"))
            .agg(count(lit(1)).as("tf"))
          val avgdl = sl.toDouble / n.toDouble
          val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
          val idf = log(lit(1.0) +
            (lit(n.toDouble) - col("df").cast("double") + 0.5) /
              (col("df").cast("double") + 0.5))
          val tfNorm = col("tf").cast("double") /
            (col("tf").cast("double") +
              lit(k1) * (lit(1.0 - b) + lit(b) * col("__len").cast("double") /
                avgdl))
          val scored =
            if (limb) {
              tf.join(broadcast(dfT), Seq("term"))
                .select(col("doc_id"),
                  graft.plans.Decimal128Api.unscaled(
                    round(idf * tfNorm, 9).cast("decimal(18,9)")).as("__s"))
                .groupBy(col("doc_id"))
                .agg(round(graft.plans.Decimal128Api
                  .sum128Long(col("__s"), 18, 9)
                  .cast("double"), 6).as("score"))
            } else {
              tf.join(broadcast(dfT), Seq("term"))
                .select(col("doc_id"),
                  round(idf * tfNorm, 9).cast("decimal(18,9)").as("__s"))
                .groupBy(col("doc_id"))
                .agg(round(sum(col("__s")).cast("double"), 6).as("score"))
            }
          noop(scored
            .agg(Similarity.topKByAgg(col("score"), col("doc_id"), k)
              .as("__tk"))
            .select(posexplode(col("__tk")).as(Seq("__pos", "__e")))
            .select(col("__e.id").as("doc_id"),
              col("__e.score").as("score"),
              (col("__pos") + 1).cast("bigint").as("rank")))
        } finally { base.unpersist(); () }
      }
      (1 to 3).foreach { r =>
        t(s"r$r bm25 limb (cur)")(run(limb = true))
        t(s"r$r bm25 plain-sum")(run(limb = false))
      }
      spark.stop(); return
    }
    if (args.headOption.contains("pqplan")) {
      // plan capture for the r19 PQ argmin evidence (the gates hide
      // the encode behind driver actions): args(1) = output path
      val (m, dim) = (8, 64)
      val sd = dim / m
      val slices = array((0 until m).map(j =>
        slice(col("embedding"), j * sd + 1, sd)): _*)
      val cb = emb.filter(col("vec_id") % 17 === 5)
        .select(col("vec_id").as("code"),
          posexplode(slices).as(Seq("subspace", "centv")))
        .select(col("subspace"), col("code"), col("centv"))
        .localCheckpoint()
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb, m, dim)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(args(1)),
        enc.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")))
      println(s"[explore] wrote ${args(1)}")
      spark.stop(); return
    }
    if (args.headOption.contains("pq")) {
      // q_ann_pq stage dissection (r19 item 7): train vs encode vs
      // shortlist vs rerank vs bruteforce vs recon
      val (m, dim) = (8, 64)
      def t[A](name: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"[explore] $name%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        r
      }
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      (1 to 2).foreach { r =>
        spark.catalog.clearCache()
        val cb = t(s"r$r train(3 rounds)")(
          Similarity.pqTrain(emb, "vec_id", "embedding", m, dim,
            initPred = col("vec_id") % 17 === 5, rounds = 3)
            .localCheckpoint())
        val codes = t(s"r$r encode")(graft.Checkpoints.truncate(
          Similarity.pqEncode(emb, "vec_id", "embedding", cb, m, dim)))
        val shortlist = t(s"r$r shortlist(adc k=100)")(
          graft.Checkpoints.truncate(Similarity.pqTopK(
            emb.filter(qp), "vec_id", "embedding", codes, cb, m, dim,
            k = 100)))
        t(s"r$r rerank")(noop(Similarity.pqRerank(
          emb, "vec_id", "embedding", qp, shortlist, k = 10)))
        t(s"r$r bruteforce")(noop(Similarity.bruteForceTopK(
          emb, "vec_id", "embedding", qp)))
        t(s"r$r recon")(Similarity.pqDecode(codes, cb)
          .join(emb, col("id") === col("vec_id"))
          .agg(avg(Similarity.cosine(col("decoded"), col("embedding"))))
          .head(): Unit)
      }
      spark.stop(); return
    }
    if (args.headOption.contains("mh")) {
      // minhashDedup internals on the llm wrap (df-cap 100)
      val tf = graft.functions.TextFunctions
      def t[A](name: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"[explore] $name%-24s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        r
      }
      val normed = Tables.table(spark, sfDir, "documents")
        .select(col("doc_id"),
          tf.stripMarkup(
            concat(lit("<div class=\"doc\"><p>"), col("text"),
              lit("</p></div> source: https://example.com/doc?id="),
              col("doc_id"),
              lit(" &amp; more&nbsp;it&#39;s &#x2019;quoted&#x2019;")))
            .as("clean_text"))
        .withColumn("norm_text", tf.normalizeText(col("clean_text")))
        .localCheckpoint()
      (1 to 2).foreach { round =>
        spark.catalog.clearCache()
        val all = Dedup.shingleIndex(normed, "doc_id", "norm_text")
        val sh = Dedup.capDocFreq(all, 100).persist()
        t(s"r$round index+cap")(sh.write.format("noop")
          .mode("overwrite").save())
        val sig = Dedup.signatureFromIndex(sh)
        t(s"r$round signature")(sig.write.format("noop")
          .mode("overwrite").save())
        val cand = Dedup.lshCandidatePairs(sig)
        val candCp = t(s"r$round candidates")(cand.localCheckpoint())
        t(s"r$round verify")(
          Dedup.jaccardVerify(sh, Some(candCp), 1, 2)
            .write.format("noop").mode("overwrite").save())
        t(s"r$round uncapped index")(
          Dedup.shingleIndex(normed, "doc_id", "norm_text")
            .write.format("noop").mode("overwrite").save())
        sh.unpersist()
      }
      spark.stop(); return
    }
    if (args.headOption.contains("llm")) {
      // llm_pipeline stage dissection (mirrors SparkEntry's chain)
      val tf = graft.functions.TextFunctions
      val R = Corpus.TrainingRecipe.Default
      def t[A](name: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"[explore] $name%-24s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        r
      }
      (1 to 2).foreach { round =>
        spark.catalog.clearCache()
        val normed = Tables.table(spark, sfDir, "documents")
          .select(col("doc_id"), col("lang"),
            tf.stripMarkup(
              concat(lit("<div class=\"doc\"><p>"), col("text"),
                lit("</p></div> source: https://example.com/doc?id="),
                col("doc_id"),
                lit(" &amp; more&nbsp;it&#39;s &#x2019;quoted&#x2019;")))
              .as("clean_text"))
          .withColumn("norm_text", tf.normalizeText(col("clean_text")))
          .persist()
        t(s"r$round normed")(normed.write.format("noop")
          .mode("overwrite").save())
        val mhPairs = t(s"r$round mhPairs")(
          Dedup.minhashDedup(normed, "doc_id", "norm_text",
            maxDocFreq = Some(100))
            .select(col("id_a"), col("id_b")).localCheckpoint())
        val hashed = normed.select(col("doc_id"),
          sha2(col("norm_text"), 256).as("h"))
        val exactPairs = t(s"r$round exactPairs")(hashed.join(
            hashed.groupBy(col("h")).agg(min(col("doc_id")).as("keep")),
            Seq("h"))
          .filter(col("doc_id") =!= col("keep"))
          .select(col("keep").as("id_a"), col("doc_id").as("id_b"))
          .localCheckpoint())
        val groups = t(s"r$round groups")(Dedup.resolveGroups(
            normed.select(col("doc_id").as("id")),
            mhPairs.unionByName(exactPairs))
          .withColumnRenamed("id", "doc_id").localCheckpoint())
        val canon = Dedup.keepCanonical(
          normed.join(groups, Seq("doc_id"))
            .withColumn("q", tf.qualityScore(col("clean_text"))),
          "doc_id", "group_id", "q")
        val kept = canon
          .withColumn("n_bpe_tokens",
            tf.bpeTokenCount(col("clean_text")).cast("bigint"))
          .filter(col("q") >= R.minQuality &&
            col("n_bpe_tokens").between(R.minTokens, R.maxTokens))
          .select(col("doc_id"), col("n_bpe_tokens"), col("lang"),
            col("clean_text"))
        val mixed = Corpus.mixtureSample(kept, "doc_id", "lang",
          R.mixtureSalt, R.mixtureDen, R.mixtureRates.toMap)
        val train = t(s"r$round canon..train")(
          Corpus.splitByHash(mixed, "doc_id", R.splitSalt,
            R.splitWeights)
          .filter(col("split") === "train")
          .withColumn("shard",
            Corpus.hashBucket(col("doc_id"), R.shardSalt, R.shards))
          .localCheckpoint())
        val bins = Corpus.packGreedy(train, "doc_id", "n_bpe_tokens",
          "shard", Seq("doc_id"), R.packBudget)
        val packed = Corpus.materializePacked(
            train.join(bins.drop("shard"), Seq("doc_id")),
            "doc_id", "clean_text", "shard", "bin_id")
          .withColumn("pack_id",
            concat_ws("/", col("shard"), col("bin_id")))
        val ranked = Corpus.epochOrder(packed, "pack_id", "shard",
          epoch = 1)
        t(s"r$round pack..final")(packed
          .join(ranked.select("pack_id", "epoch_rank"), Seq("pack_id"))
          .select(col("shard"), col("bin_id"), col("n_docs"),
            col("epoch_rank"), col("packed_text"))
          .write.format("noop").mode("overwrite").save())
        normed.unpersist()
      }
      spark.stop(); return
    }
    if (args.headOption.contains("corr")) {
      // profile_corr dissection: scan floor vs double sums vs old
      // decimal sums vs the limb kernels
      val li = Tables.table(spark, sfDir, "lineitem")
        .select("l_quantity", "l_extendedprice", "l_discount")
      def t(name: String)(df: org.apache.spark.sql.DataFrame): Unit =
        (1 to 3).foreach { r =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          println(f"[explore] $name rep$r ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        }
      def dec(c: String) = col(c).cast("decimal(18,6)")
      t("scan only")(li)
      t("double sums x15")(li.agg(
        sum(col("l_quantity")), sum(col("l_extendedprice")),
        sum(col("l_quantity") * col("l_extendedprice")),
        sum(col("l_quantity") * col("l_quantity")),
        sum(col("l_extendedprice") * col("l_extendedprice")),
        sum(col("l_quantity") * col("l_discount")),
        sum(col("l_discount") * col("l_discount")),
        sum(col("l_extendedprice") * col("l_discount")),
        count(lit(1))))
      t("old decimal sums (1 pair)")(li.agg(
        sum(dec("l_quantity")), sum(dec("l_extendedprice")),
        sum(dec("l_quantity") * dec("l_quantity")),
        sum(dec("l_extendedprice") * dec("l_extendedprice")),
        sum(dec("l_quantity") * dec("l_extendedprice"))))
      import graft.plans.Decimal128Api.{prodSum128Long, sum128Long, unscaled}
      val limbSums = li.select(unscaled(dec("l_quantity")).as("q"),
          unscaled(dec("l_extendedprice")).as("p"))
        .agg(sum128Long(col("q"), 18, 6), sum128Long(col("p"), 18, 6),
          prodSum128Long(col("q"), col("q"), 18, 6, 18, 6),
          prodSum128Long(col("p"), col("p"), 18, 6, 18, 6),
          prodSum128Long(col("q"), col("p"), 18, 6, 18, 6))
      t("limb sums (1 pair)")(limbSums)
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      t("limb sums (1 pair) NOCODEGEN")(limbSums)
      t("old decimal sums NOCODEGEN")(li.agg(
        sum(dec("l_quantity")), sum(dec("l_extendedprice")),
        sum(dec("l_quantity") * dec("l_quantity")),
        sum(dec("l_extendedprice") * dec("l_extendedprice")),
        sum(dec("l_quantity") * dec("l_extendedprice"))))
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      t("full corr exact")(graft.operators.Profiling
        .correlationReport(Tables.table(spark, sfDir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount")))
      t("full corr exact=false")(graft.operators.Profiling
        .correlationReport(Tables.table(spark, sfDir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount"),
          exact = false))
      spark.stop(); return
    }
    if (args.headOption.contains("groups")) {
      // dedup_groups dissection: minhash pair generation vs the
      // iterative label propagation
      val doc = Tables.table(spark, sfDir, "documents")
      def t[A](name: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"[explore] $name%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        r
      }
      (1 to 2).foreach { round =>
        spark.catalog.clearCache()
        val pairs = t(s"r$round minhash pairs")(
          Dedup.minhashDedup(doc, "doc_id", "text")
            .select(org.apache.spark.sql.functions.col("id_a"),
              org.apache.spark.sql.functions.col("id_b"))
            .localCheckpoint())
        t(s"r$round resolveGroups")(
          Dedup.resolveGroups(
            doc.select(org.apache.spark.sql.functions.col("doc_id")
              .as("id")), pairs)
            .write.format("noop").mode("overwrite").save())
      }
      spark.stop(); return
    }
    if (args.headOption.contains("ivfpq")) {
      // IVFPQ floor measurement: reranked recall + candidate fraction
      // across nprobe/rerank, vs the global-ADC baseline
      val (m, dim) = (8, 64)
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
        m, dim, initPred = col("vec_id") % 17 === 5, rounds = 3)
        .localCheckpoint()
      val cents = emb.filter(col("vec_id") % 37 === 1)
        .select(col("vec_id").as("cell"), col("embedding").as("centv"))
        .localCheckpoint()
      val cellCodes = Similarity.pqEncodeCells(emb, "vec_id",
        "embedding", cents, cb, m, dim).localCheckpoint()
      val n = emb.count()
      val cellSizes = cellCodes.filter(col("subspace") === 0)
        .groupBy("cell").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      println(s"[explore] n=$n ncells=${cellSizes.size}")
      for (np <- Seq(1, 2, 3, 4, 5, 6, 8); rr <- Seq(50, 100)) {
        timed(s"ivfpq nprobe=$np rerank=$rr")(
          Similarity.ivfpqTopKReranked(emb, "vec_id", "embedding", qp,
            cents, cellCodes, cb, m, dim, nprobe = np, rerank = rr)
            .collect())
        val frac = Similarity.ivfpqShortlist(emb.filter(qp), "vec_id",
            "embedding", cents, cellCodes, cb, m, dim,
            k = rr, nprobe = np)
          .select(countDistinct(col("query_id")))
          .head().getLong(0) // force; fraction from the probe cells:
        val probedCells = emb.filter(qp)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("qv"))
          .join(broadcast(cents))
          .withColumn("qdist",
            Similarity.cosine(col("qv"), col("centv")))
          .withColumn("r", org.apache.spark.sql.functions.row_number()
            .over(org.apache.spark.sql.expressions.Window
              .partitionBy("query_id")
              .orderBy(col("qdist").desc, col("cell"))))
          .filter(col("r") <= np).select("query_id", "cell").collect()
        val perQ = probedCells.groupBy(_.getLong(0)).values
          .map(_.map(r => cellSizes(r.getLong(1))).sum.toDouble / n)
        println(f"[explore]   queries=$frac cand_frac mean=" +
          f"${perQ.sum / perQ.size}%.3f max=${perQ.max}%.3f")
      }
      timed("global adc rerank=50 (baseline)")(
        Similarity.pqTopKReranked(emb, "vec_id", "embedding", qp,
          cellCodes.select("id", "subspace", "code"), cb, m, dim)
          .collect())
      spark.stop()
      return
    }

    for (pb <- 1 to 3)
      timed(s"lsh nPlanes=4 probeBits=$pb")(
        Similarity.lshTopK(emb, "vec_id", "embedding", qp,
          nPlanes = 4, probeBits = pb).collect())
    for (np <- Seq(2, 3, 4))
      timed(s"ivf seed nprobe=$np")(
        Similarity.ivfTopK(emb, "vec_id", "embedding", qp,
          centroidPred = col("vec_id") % 37 === 1, nprobe = np).collect())
    for (it <- Seq(5, 10); np <- Seq(2, 3, 4)) {
      val (_, trained, _) = Similarity.kmeansIterate(
        emb, "vec_id", "embedding", col("vec_id") % 37 === 1, maxIter = it)
      timed(s"ivf trained iters=$it nprobe=$np")(
        Similarity.ivfTopKIndexed(emb, "vec_id", "embedding", qp,
          trained, nprobe = np).collect())
    }
    // PQ: ADC recall + reconstruction cosine across subspace counts,
    // seed densities and training rounds
    for (m <- Seq(4, 8); seedMod <- Seq(31, 17); r <- Seq(2, 3)) {
      val initPred = col("vec_id") % seedMod === 5
      val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
        m, 64, initPred, rounds = r).localCheckpoint()
      val codes = Similarity.pqEncode(emb, "vec_id", "embedding",
        cb, m, 64).localCheckpoint()
      val recon = Similarity.pqDecode(codes, cb)
        .join(emb, col("id") === col("vec_id"))
        .agg(avg(Similarity.cosine(col("decoded"), col("embedding"))))
        .head().getDouble(0)
      timed(f"pq m=$m seedMod=$seedMod rounds=$r recon=$recon%.3f")(
        Similarity.pqTopK(emb.filter(qp), "vec_id", "embedding",
          codes, cb, m, 64).collect())
      for (rr <- Seq(30, 50, 100))
        timed(s"pq m=$m seedMod=$seedMod rounds=$r rerank=$rr")(
          Similarity.pqTopKReranked(emb, "vec_id", "embedding", qp,
            codes, cb, m, 64, rerank = rr).collect())
    }
    spark.stop()
  }
}
