package graft

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end medallion run — the DAG analog executes bronze → silver
  * → gold on a fresh directory and the gold fact is readable and
  * consistent with its source.
  */
class PipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  test("bronze → silver → gold end-to-end") {
    val out = java.nio.file.Files.createTempDirectory("graft-pipe").toString
    val fact = Pipeline.run(spark, sf, out, "2026-08-12")
    assert(fact.count() ==
      graft.sources.Tables.table(spark, sf, "lineitem").count())
    val silverNation = spark.read.parquet(s"$out/silver/nation")
    assert(silverNation.count() == 25)
    assert(silverNation.columns.contains("_processing_date"))
    val dims = graft.sources.SnapshotStore.readCurrent(spark,
      s"$out/gold/dim_customer")
    assert(dims.select("id_customer").distinct().count() == dims.count())
  }

  test("corpus DAG: bronze → silver → gold produces a packed training set") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft-cpipe").toString
    val gold = Pipeline.runCorpus(spark, sf, out, "2026-08-12")
    // silver: exactly one canonical doc per distinct normalized text
    val tf = graft.functions.TextFunctions
    val distinctNorm = graft.sources.Tables.table(spark, sf, "documents")
      .select(tf.normalizeText(tf.stripMarkup(col("text"))).as("n"))
      .distinct().count()
    val silver = spark.read.parquet(s"$out/silver/documents")
    assert(silver.count() == distinctNorm)
    assert(silver.columns.contains("_processing_date"))
    assert(silver.columns.contains("q"), "quality score carried to gold's input")
    // gold: non-empty packed rows, dense per-shard epoch ranks
    assert(gold.count() > 0)
    val bad = gold.groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), max(col("epoch_rank")).as("mx"),
        min(col("epoch_rank")).as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1)
    assert(bad.count() == 0, "epoch ranks are a dense 1..n per shard")
    assert(gold.columns.contains("_modeling_date"))
  }

  test("gold promotion is audit-gated AND gapless: a planted violation " +
      "refuses with the staged files inspectable, a crash between " +
      "publish and repoint never costs a probe the serving table") {
    import graft.operators.Cleaning
    import graft.sources.ManifestStore
    val out = java.nio.file.Files.createTempDirectory("graft-wapgold")
      .toString
    val factRoot = s"$out/gold/fact_sales"
    // happy path: the full run promotes an audited gold generation
    // (the fact is a MANIFEST table since r14 — a generation is a
    // file list, so the crash/audit contracts below hold file-level)
    Pipeline.run(spark, sf, out, "2026-08-12")
    val factN = ManifestStore.readCurrent(spark, factRoot).count()
    assert(factN > 0)
    assert(ManifestStore.currentGen(spark, factRoot).contains(1L))
    // re-run with a planted violation appended to the fact's rule
    // list: quantities are positive, so this range fails every row
    val e = intercept[AuditFailed] {
      Pipeline.gold(spark, sf, out, "2026-08-13",
        extraFactAudit =
          Seq(Cleaning.ExpectRange("quantidade", -2.0, -1.0)))
    }
    assert(e.getMessage.contains("quantidade"))
    // the pointer never moved — the serving gold is the old gen, and
    // the refused batch's staged files are LEFT for inspection
    // (never servable: no manifest committed, readAt refuses)
    assert(ManifestStore.currentGen(spark, factRoot).contains(1L))
    assert(ManifestStore.readCurrent(spark, factRoot).count() == factN)
    assert(spark.read.parquet(s"$factRoot/_writes/2").count() ==
      factN, "staged write must stay inspectable")
    intercept[SnapshotUnavailable] {
      ManifestStore.readAt(spark, factRoot, 2L)
    }
    // CRASH INJECTION — the scheduled-promotion failure the old
    // delete-then-rename publish documented as a no-table window: the
    // kill lands after the fact's staged write+audit, before the
    // repoint. A probe mid-crash AND after it still reads the full
    // old generation; there is no moment without a serving table.
    class Boom extends RuntimeException("injected crash")
    intercept[Boom] {
      Pipeline.goldImpl(spark, sf, out, "2026-08-13", Nil, () => {
        assert(ManifestStore.readCurrent(spark, factRoot).count() ==
          factN, "a probe mid-promotion lost the serving table")
        throw new Boom
      })
    }
    assert(ManifestStore.readCurrent(spark, factRoot).count() == factN,
      "a crashed promotion cost the serving table")
    // the corrected re-run consumes the residue and promotes; the
    // superseded generation stays time-travelable
    Pipeline.gold(spark, sf, out, "2026-08-13")
    assert(ManifestStore.currentGen(spark, factRoot).contains(2L))
    assert(ManifestStore.readCurrent(spark, factRoot).count() == factN)
    assert(ManifestStore.readAt(spark, factRoot, 1L).count() == factN)
  }

  test("the schema pointer commits dims+fact as ONE triple: a crash " +
      "after every per-table publish still serves the OLD consistent " +
      "schema through goldTable") {
    import graft.sources.{ManifestStore, SnapshotStore}
    val out = java.nio.file.Files.createTempDirectory("graft-triple")
      .toString
    Pipeline.run(spark, sf, out, "2026-08-12")
    val gens1 = Pipeline.goldSchemaGens(spark, out)
    assert(gens1 == Map("dim_date" -> 1L, "dim_customer" -> 1L,
      "fact_sales" -> 1L))
    val factN = Pipeline.goldTable(spark, out, "fact_sales").count()
    val dimN = Pipeline.goldTable(spark, out, "dim_date").count()
    class Boom extends RuntimeException("injected crash")
    intercept[Boom] {
      Pipeline.goldImpl(spark, sf, out, "2026-08-13", Nil, () => (),
        beforeSchemaSwap = () => {
          // every per-table pointer has advanced …
          assert(SnapshotStore.currentGen(spark,
            s"$out/gold/dim_date").contains(2L))
          assert(ManifestStore.currentGen(spark,
            s"$out/gold/fact_sales").contains(2L))
          // … but the schema still names — and SERVES — the old
          // consistent triple: a reader in this window can never
          // join fact gen 2 against dim gen 1
          assert(Pipeline.goldSchemaGens(spark, out) == gens1)
          assert(Pipeline.goldTable(spark, out, "fact_sales")
            .count() == factN)
          assert(Pipeline.goldTable(spark, out, "dim_date")
            .count() == dimN)
          throw new Boom
        })
    }
    // after the crash the old triple still serves in full
    assert(Pipeline.goldSchemaGens(spark, out) == gens1)
    assert(Pipeline.goldTable(spark, out, "fact_sales").count() ==
      factN)
    // the retried run advances the whole triple in one swap
    Pipeline.gold(spark, sf, out, "2026-08-13")
    val gens2 = Pipeline.goldSchemaGens(spark, out)
    assert(gens2 == Map("dim_date" -> 3L, "dim_customer" -> 3L,
      "fact_sales" -> 3L))
    assert(Pipeline.goldTable(spark, out, "fact_sales").count() ==
      factN)
  }

  test("incremental gold: a day-2 lineitem batch merges " +
      "partition-scoped into the manifest fact — untouched ship " +
      "months' files byte-identical across the second day's run") {
    import org.apache.spark.sql.functions._
    import graft.sources.{ManifestStore, Tables}
    val out = java.nio.file.Files.createTempDirectory("graft-goldinc")
      .toString
    val factRoot = s"$out/gold/fact_sales"
    val li = Tables.table(spark, sf, "lineitem")
    val cut = col("l_shipdate").cast("date") >=
      lit("1998-01-01").cast("date")
    // day 1 bootstraps gold from the pre-1998 slice
    Pipeline.gold(spark, sf, out, "2026-08-12",
      factLineitem = Some(li.filter(!cut)))
    val fs = Tables.fsFor(spark, factRoot)
    def state(gen: Long) = ManifestStore.manifestAt(spark, factRoot,
      gen).entries.map(e => e.relPath -> fs.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$factRoot/${e.relPath}"))
        .getModificationTime).toMap
    val before = state(1L)
    assert(ManifestStore.manifestAt(spark, factRoot, 1L).entries
      .forall(_.partition < "1998-01"))
    // day 2: the 1998 slice arrives as a batch; only its ship
    // months' partitions are written
    Pipeline.goldIncrement(spark, sf, out, li.filter(cut),
      "2026-08-13")
    val m2 = ManifestStore.manifestAt(spark, factRoot, 2L)
    val after = state(2L)
    val untouched = m2.entries.filter(_.partition < "1998-01")
    assert(untouched.nonEmpty)
    untouched.foreach { e =>
      assert(e.relPath.startsWith("_writes/1/"),
        s"untouched month ${e.partition} was rewritten")
      assert(before(e.relPath) == after(e.relPath),
        s"untouched file ${e.relPath} changed mtime")
    }
    assert(m2.entries.filter(_.partition >= "1998-01")
      .forall(_.relPath.startsWith("_writes/2/")))
    // the merged fact equals the full-table build, and the schema
    // triple advanced atomically with it
    assert(Pipeline.goldTable(spark, out, "fact_sales").count() ==
      li.count())
    assert(Pipeline.goldSchemaGens(spark, out)("fact_sales") == 2L)
  }

  test("corpus gold publish audits staged shards: a planted violation " +
      "refuses the per-shard swap and the training set survives") {
    import graft.operators.Cleaning
    val out = java.nio.file.Files.createTempDirectory("graft-wapcorpus")
      .toString
    val gold = Pipeline.runCorpus(spark, sf, out, "2026-08-12")
    val n = gold.count()
    assert(n > 0)
    // every packed row has n_docs >= 1, so the planted range fails all
    val e = intercept[AuditFailed] {
      Pipeline.corpusGold(spark, out, "2026-08-13",
        extraAudit = Seq(Cleaning.ExpectRange("n_docs", -5.0, 0.0)))
    }
    assert(e.getMessage.contains("n_docs"))
    // no shard directory was swapped; staged shards stay inspectable
    assert(spark.read.parquet(s"$out/gold/train_packed").count() == n)
    assert(spark.read.parquet(s"$out/gold/train_packed.staging")
      .count() == n)
    // the corrected re-run publishes and consumes the staging
    Pipeline.corpusGold(spark, out, "2026-08-13")
    assert(spark.read.parquet(s"$out/gold/train_packed").count() == n)
    assert(!graft.sources.Tables.fsFor(spark, out).exists(
      new org.apache.hadoop.fs.Path(s"$out/gold/train_packed.staging")))
  }

  test("corpus gold swap: a shrunken full rebuild removes stale shard " +
      "dirs, and crash residue in the swap heals on the batch re-run") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft-goldswap")
      .toString
    val gold = Pipeline.runCorpus(spark, sf, out, "2026-08-12")
    val rows = gold.select(col("shard").cast("bigint"), col("bin_id"),
        col("n_docs"), col("epoch_rank"), col("packed_text"))
      .orderBy("shard", "bin_id").collect().toSeq
    val goldPath = s"$out/gold/train_packed"
    val fs = graft.sources.Tables.fsFor(spark, out)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // a stale shard dir from an earlier, wider layout (the shrunken-
    // rebuild hazard): a FULL rebuild must not leave it serving
    spark.range(3).withColumn("packed_text", lit("stale"))
      .write.parquet(s"$goldPath/shard=99")
    assert(spark.read.parquet(goldPath)
      .filter(col("shard") === 99).count() == 3)
    Pipeline.corpusGold(spark, out, "2026-08-12")
    assert(!fs.exists(p(s"$goldPath/shard=99")),
      "a full rebuild left a shard dir absent from the staged batch")
    // ...but a SHARD-SCOPED rebuild only touches its own partitions:
    // the stale-dir sweep must not fire outside a full rebuild
    spark.range(3).withColumn("packed_text", lit("stale"))
      .write.parquet(s"$goldPath/shard=99")
    Pipeline.corpusGold(spark, out, "2026-08-12", shards = Some(Seq(0L)))
    assert(fs.exists(p(s"$goldPath/shard=99")),
      "a shard-scoped rebuild swept partitions outside its scope")
    assert(fs.delete(p(s"$goldPath/shard=99"), true))
    // crash residue inside the per-shard swap window: the old copy
    // sits under _retiring (invisible to readers — underscore prefix)
    // and the shard dir is gone; the documented recovery — re-running
    // the same batch — republishes every shard and reclaims it
    fs.mkdirs(p(s"$goldPath/_retiring"))
    assert(fs.rename(p(s"$goldPath/shard=0"),
      p(s"$goldPath/_retiring/shard=0")))
    assert(spark.read.parquet(goldPath)
      .filter(col("shard") === 0).count() == 0,
      "the retiring copy leaked into the serving read")
    Pipeline.corpusGold(spark, out, "2026-08-12")
    assert(!fs.exists(p(s"$goldPath/_retiring")),
      "the batch re-run must reclaim the superseded copies")
    val healed = spark.read.parquet(goldPath)
      .select(col("shard").cast("bigint"), col("bin_id"),
        col("n_docs"), col("epoch_rank"), col("packed_text"))
      .orderBy("shard", "bin_id").collect().toSeq
    assert(healed == rows, "recovery diverged from the original gold")
  }

  test("incremental corpus: daily batches dedupe against persisted state") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.{Corpus, Dedup}
    val tf = graft.functions.TextFunctions
    val out = java.nio.file.Files.createTempDirectory("graft-cinc").toString
    val doc = graft.sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "lang", "text")
    val bucket = Corpus.hashBucket(col("doc_id"), "cinc", 5)
    Pipeline.corpusInit(spark, doc.filter(bucket >= 2), out, "2026-08-12")
    val silverPath = s"$out/silver/documents"
    val n0 = spark.read.parquet(silverPath).count()
    // day-1 batch: a fresh slice + a planted NEAR-dup and a planted
    // EXACT dup of a day-0 document — both must be rejected
    val seed = doc.filter(bucket >= 2).orderBy("doc_id").limit(1)
      .collect()(0)
    val planted = Seq(
      (900001L, seed.getString(1), seed.getString(2) + " trailing extra"),
      (900002L, seed.getString(1), seed.getString(2)))
      .toDF("doc_id", "lang", "text")
    val day1 = doc.filter(bucket === 0).unionByName(planted)
    val acc1 = Pipeline.corpusIncrement(spark, out, day1, "2026-08-13")
    val s1 = spark.read.parquet(silverPath)
    assert(s1.count() == n0 + acc1, "silver grew by exactly the accepted count")
    assert(s1.filter(col("doc_id") >= 900001L).count() == 0,
      "planted duplicates were accepted")
    // day-2: another fresh slice
    val acc2 = Pipeline.corpusIncrement(spark, out,
      doc.filter(bucket === 1), "2026-08-14")
    val s2 = spark.read.parquet(silverPath)
    assert(s2.count() == n0 + acc1 + acc2)
    // corpus-wide invariants: no exact dups, no LSH-detectable
    // near-dups anywhere in silver — across days included
    assert(s2.groupBy("norm_hash").count().filter(col("count") > 1)
      .count() == 0)
    val norm = s2.select(col("doc_id"),
      tf.normalizeText(col("clean_text")).as("nt"))
    assert(Dedup.minhashDedup(norm, "doc_id", "nt").count() == 0,
      "near-dup pair survived in silver")
    // replaying a committed batch is refused loudly, and silver is
    // unchanged by the refused replay — the LANDED subtype, the only
    // refusal the streaming sink treats as "already done"
    intercept[graft.BatchAlreadyLanded] {
      Pipeline.corpusIncrement(spark, out, day1, "2026-08-13")
    }
    assert(spark.read.parquet(silverPath).count() == n0 + acc1 + acc2)
    // gold stayed a readable packed table through the increments
    assert(spark.read.parquet(s"$out/gold/train_packed").count() > 0)
  }

  test("retractDocs: cross-store takedown — silver, gold, and the " +
      "dedup evidence scrub; the text becomes re-submittable") {
    import org.apache.spark.sql.functions._
    import graft.operators.Corpus
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-retract")
      .toString
    val doc = graft.sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "lang", "text")
    val bucket = Corpus.hashBucket(col("doc_id"), "cinc", 5)
    Pipeline.corpusInit(spark, doc.filter(bucket >= 3), out,
      "2026-08-12")
    val silverPath = s"$out/silver/documents"
    val silver0 = spark.read.parquet(silverPath)
    val n0 = silver0.count()
    // two accepted victims, their served text captured for the
    // gold-scrub assertion and their raw text for re-submission
    val victims = silver0.orderBy("doc_id")
      .select("doc_id", "clean_text").limit(2).collect()
    val ids = victims.map(_.getLong(0))
    val cleanTexts = victims.map(_.getString(1))
    val raw = spark.read.parquet(s"$out/bronze/documents")
      .filter(col("doc_id").isin(ids.map(Long.box): _*))
      .select("doc_id", "lang", "text").collect()
    // before the takedown: a re-submission of the same text under a
    // new id is rejected as a corpus duplicate
    val probe = raw.zipWithIndex.map { case (r, i) =>
      (990001L + i, r.getString(1), r.getString(2)) }
      .toSeq.toDF("doc_id", "lang", "text")
    val before = Pipeline.classifyBatch(spark, out, probe)
      .select("decision").collect().map(_.getString(0)).toSet
    assert(before.forall(d => d == "exact_dup_corpus" ||
      d == "near_dup_corpus"), before.toString)
    val report = Pipeline.retractDocs(spark, out,
      ids.map(_.toString).toSeq, "2026-08-15")
    assert(report.silverRemoved == 2L)
    assert(report.dedupHits >= 2L)
    // silver: gone, everything else intact
    val s1 = spark.read.parquet(silverPath)
    assert(s1.count() == n0 - 2)
    assert(s1.filter(col("doc_id").isin(ids.map(Long.box): _*))
      .count() == 0L)
    // gold: no packed row carries a victim's text
    val packed = spark.read.parquet(s"$out/gold/train_packed")
    assert(packed.count() > 0)
    cleanTexts.foreach { t =>
      assert(packed.filter(col("packed_text").contains(t))
        .count() == 0L, "a packed row still carries retracted text")
    }
    // the dedup evidence is scrubbed: the same text under a new id
    // is now ACCEPTED — the corpus treats it as never seen
    val after = Pipeline.classifyBatch(spark, out, probe)
      .select("decision").collect().map(_.getString(0)).toSet
    assert(after == Set("accept"), after.toString)
    assert(graft.operators.IndexAudit.isDedupHealthy(spark, out +
      "/dedup_index"))
    // idempotent re-run: nothing left anywhere
    val again = Pipeline.retractDocs(spark, out,
      ids.map(_.toString).toSeq, "2026-08-15")
    assert(again.silverRemoved == 0L && again.dedupHits == 0L)
  }

  test("classifyBatch: every rejection reason labeled, dry-run, accept = landed") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Corpus
    val out = java.nio.file.Files.createTempDirectory("graft-cls").toString
    val doc = graft.sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "lang", "text")
    val bucket = Corpus.hashBucket(col("doc_id"), "cinc", 5)
    Pipeline.corpusInit(spark, doc.filter(bucket >= 2), out, "2026-08-12")
    val silverPath = s"$out/silver/documents"
    val n0 = spark.read.parquet(silverPath).count()
    val seed = doc.filter(bucket >= 2).orderBy("doc_id").limit(1)
      .collect()(0)
    val fresh1 = "an entirely new document with its own distinct words " +
      (1 to 30).map(i => s"alpha$i").mkString(" ")
    val fresh2 = "another separate document nothing shares " +
      (1 to 30).map(i => s"beta$i").mkString(" ")
    val batch = Seq(
      (800001L, "en", fresh1),               // near pair, member 1
      (800002L, "en", fresh1 + " zz"),       // near pair, member 2
      (800003L, "en", fresh2),               // exact pair, min id wins
      (800004L, "en", fresh2),               // exact pair, loser
      (800005L, seed.getString(1), seed.getString(2)),  // in silver
      (800006L, seed.getString(1),
        seed.getString(2) + " trailing bits"))          // near corpus
      .toDF("doc_id", "lang", "text")
    val labels = Pipeline.classifyBatch(spark, out, batch)
    // a dry run: nothing landed, nothing indexed
    assert(spark.read.parquet(silverPath).count() == n0)
    val m = labels.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.size == 6, s"labels do not partition the batch: $m")
    assert(m(800004L) == "exact_dup_batch", m.toString)
    assert(m(800005L) == "exact_dup_corpus", m.toString)
    assert(m(800006L) == "near_dup_corpus", m.toString)
    assert(m(800003L) == "accept", m.toString)
    // the near pair: one canonical accepted, the other rejected as a
    // within-batch near-dup (which one wins depends on quality)
    assert(Set(m(800001L), m(800002L)) ==
      Set("accept", "near_dup_batch"), m.toString)
    // the real increment lands EXACTLY the accept-labeled ids
    val acc = Pipeline.corpusIncrement(spark, out, batch, "2026-08-13")
    val acceptIds = m.filter(_._2 == "accept").keySet
    assert(acc == acceptIds.size)
    val landed = spark.read.parquet(silverPath)
      .filter(col("doc_id") >= 800001L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(landed == acceptIds, s"landed $landed vs labeled $acceptIds")
  }

  /** Every `hashes/` directory under the index's published batches
    * that still has the prefix-partitioned (`hp_p=`) layout. */
  private def prefixPartitioned(idx: String): Seq[String] =
    Option(new java.io.File(s"$idx/batches").listFiles()).toSeq.flatten
      .map(b => new java.io.File(b, "hashes"))
      .filter(h => Option(h.listFiles()).exists(_.exists(f =>
        f.isDirectory && f.getName.startsWith("hp_p="))))
      .map(_.getPath)

  /** Asserts the index's exact-dup evidence is exactly silver's
    * norm_hash set. */
  private def assertEvidenceMirrorsSilver(out: String, when: String): Unit = {
    val silver = spark.read.parquet(s"$out/silver/documents")
      .select("norm_hash")
    val stored = graft.operators.Dedup
      .readBatchHashes(spark, s"$out/dedup_index").get
    assert(stored.except(silver).count() == 0 &&
      silver.except(stored).count() == 0,
      s"hash evidence does not mirror silver $when")
  }

  test("exact-dup probe: one plain evidence table per batch, complete") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.{Corpus, Dedup}
    val out = java.nio.file.Files.createTempDirectory("graft-hprobe").toString
    val idx = s"$out/dedup_index"
    val doc = graft.sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "lang", "text")
    val bucket = Corpus.hashBucket(col("doc_id"), "hprobe", 5)
    Pipeline.corpusInit(spark, doc.filter(bucket >= 1), out, "2026-08-12")
    // completeness: the side-indexed hash evidence IS silver's hash set
    assertEvidenceMirrorsSilver(out, "after the bootstrap")
    // seed from SILVER (not the raw batch): a raw doc may have lost a
    // near-dup race at bootstrap, leaving its hash out of silver
    val seed = spark.read.parquet(s"$out/silver/documents")
      .orderBy("doc_id").select("lang", "clean_text").limit(1)
      .collect()(0)
    val batch = Seq(
        (910001L, seed.getString(0), seed.getString(1)), // exact corpus dup
        (910002L, "en", "a genuinely fresh probe document " +
          (1 to 30).map(i => s"gamma$i").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    // the decisions that ride the evidence probe are right
    val m = Pipeline.classifyBatch(spark, out, batch).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(910001L) == "exact_dup_corpus", m.toString)
    assert(m(910002L) == "accept", m.toString)
    // evidence stays complete through an increment (accepted hashes
    // ride the new batch directory)
    val acc = Pipeline.corpusIncrement(spark, out, batch, "2026-08-13")
    assert(acc == 1L)
    assertEvidenceMirrorsSilver(out, "after an increment")
    // layout: no batch is prefix-partitioned, and the daily batch's
    // evidence is a plain table of at most one file per shuffle
    // partition
    assert(prefixPartitioned(idx).isEmpty, prefixPartitioned(idx).toString)
    val daily = new java.io.File(
      s"$idx/batches/${Dedup.batchId(batch, "doc_id")}/hashes")
    val files = daily.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty && files.length <=
      spark.conf.get("spark.sql.shuffle.partitions").toInt,
      s"${files.length} evidence files in $daily")
  }

  test("exact-dup evidence: a batch in the earlier hp_p= layout still " +
      "probes, retracts and compacts beside plain ones") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.{Corpus, Dedup}
    val out = java.nio.file.Files.createTempDirectory("graft-hmixed").toString
    val idx = s"$out/dedup_index"
    val doc = graft.sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "lang", "text")
    val bucket = Corpus.hashBucket(col("doc_id"), "hmixed", 5)
    Pipeline.corpusInit(spark, doc.filter(bucket >= 2), out, "2026-08-12")
    val day1 = doc.filter(bucket === 0)
    assert(Pipeline.corpusIncrement(spark, out, day1, "2026-08-13") > 0L)
    // rewrite one batch's evidence by hand into the layout batches had
    // before: (norm_hash, hp) rows under hp_p=<2-hex-digit prefix>/
    def toPrefixLayout(batchDir: String): Unit = {
      val h = s"$batchDir/hashes"
      val old = s"$batchDir/hashes_prefixed"
      spark.read.parquet(h).select("norm_hash")
        .withColumn("hp", substring(col("norm_hash"), 1, 2))
        .withColumn("hp_p", col("hp"))
        .repartition(col("hp_p"))
        .write.partitionBy("hp_p").parquet(old)
      rmTree(new java.io.File(h))
      assert(new java.io.File(old).renameTo(new java.io.File(h)))
    }
    val day1Dir = s"$idx/batches/${Dedup.batchId(day1, "doc_id")}"
    toPrefixLayout(day1Dir)
    assert(prefixPartitioned(idx) == Seq(s"$day1Dir/hashes"))
    assertEvidenceMirrorsSilver(out, "over the mixed index")
    // an exact corpus dup of a doc whose evidence lives ONLY in the
    // prefix-layout batch, and one of a bootstrap doc
    val silver = spark.read.parquet(s"$out/silver/documents")
    val fromDay1 = silver.filter(col("_processing_date") === "2026-08-13")
      .orderBy("doc_id").select("doc_id", "lang", "clean_text").limit(1)
      .collect()(0)
    val fromBoot = silver.filter(col("_processing_date") === "2026-08-12")
      .orderBy("doc_id").select("doc_id", "lang", "clean_text").limit(1)
      .collect()(0)
    val probe = Seq(
        (920001L, fromDay1.getString(1), fromDay1.getString(2)),
        (920002L, fromBoot.getString(1), fromBoot.getString(2)))
      .toDF("doc_id", "lang", "text")
    val m = Pipeline.classifyBatch(spark, out, probe).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(920001L -> "exact_dup_corpus",
      920002L -> "exact_dup_corpus"), m.toString)
    // retraction reads both layouts and republishes plain tables
    val report = Pipeline.retractDocs(spark, out,
      Seq(fromDay1.getLong(0), fromBoot.getLong(0)).map(_.toString),
      "2026-08-14")
    assert(report.silverRemoved == 2L)
    assertEvidenceMirrorsSilver(out, "after a retraction")
    assert(prefixPartitioned(idx).isEmpty, prefixPartitioned(idx).toString)
    // compaction folds a mixed index (one batch put back into the
    // prefix layout) into one plain evidence table
    val live = new java.io.File(s"$idx/batches").listFiles()
      .filter(b => new java.io.File(b, "hashes").exists())
    toPrefixLayout(live.head.getPath)
    assert(prefixPartitioned(idx).size == 1)
    Dedup.compactDedupIndex(spark, idx)
    assertEvidenceMirrorsSilver(out, "after compaction")
    assert(prefixPartitioned(idx).isEmpty, prefixPartitioned(idx).toString)
  }

  test("increment crash after index publish: retry resumes, lands once") {
    import org.apache.spark.sql.functions._
    import graft.operators.Corpus
    val out = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val doc = graft.sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "lang", "text")
    val bucket = Corpus.hashBucket(col("doc_id"), "cinc", 5)
    Pipeline.corpusInit(spark, doc.filter(bucket >= 2), out, "2026-08-12")
    val silverPath = s"$out/silver/documents"
    val n0 = spark.read.parquet(silverPath).count()
    val day1 = doc.filter(bucket === 0)
    // crash at the commit point: the batch directory (bands, shingles,
    // accepted commit record) is published, silver has NOT landed
    class Boom extends RuntimeException("injected crash")
    intercept[Boom] {
      Pipeline.corpusIncrementWithHook(spark, out, day1, "2026-08-13",
        afterIndexPublish = () => throw new Boom)
    }
    assert(spark.read.parquet(silverPath).count() == n0,
      "crashed increment leaked rows into silver")
    // the plain retry RESUMES from the commit record instead of being
    // refused (the r6 behavior) or double-counting
    val acc = Pipeline.corpusIncrement(spark, out, day1, "2026-08-13")
    assert(acc > 0)
    assert(spark.read.parquet(silverPath).count() == n0 + acc)
    // a crash AFTER silver landed but before the marker (delete the
    // marker to simulate): the retry lands nothing new and re-marks
    val idxBatches = new java.io.File(s"$out/dedup_index/batches")
      .listFiles().filter(_.isDirectory)
    val markers = idxBatches.map(b => new java.io.File(b, "_landed"))
      .filter(_.exists())
    assert(markers.length == 1)
    assert(markers.head.delete())
    val acc2 = Pipeline.corpusIncrement(spark, out, day1, "2026-08-13")
    assert(acc2 == acc, "resumed landing reported a different count")
    assert(spark.read.parquet(silverPath).count() == n0 + acc,
      "marker-less retry double-landed silver rows")
    // and now the fully-landed batch replays are refused loudly
    intercept[graft.BatchAlreadyLanded] {
      Pipeline.corpusIncrement(spark, out, day1, "2026-08-13")
    }
  }

  test("an all-duplicate batch accepts zero and stays replayable-refused") {
    import org.apache.spark.sql.functions._
    import graft.operators.Corpus
    val out = java.nio.file.Files.createTempDirectory("graft-zero").toString
    val doc = graft.sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "lang", "text")
    val bucket = Corpus.hashBucket(col("doc_id"), "cinc", 5)
    Pipeline.corpusInit(spark, doc.filter(bucket >= 2), out, "2026-08-12")
    val silverPath = s"$out/silver/documents"
    val n0 = spark.read.parquet(silverPath).count()
    val goldN = spark.read.parquet(s"$out/gold/train_packed").count()
    // the same texts under fresh ids: every doc is an exact dup
    val dupBatch = doc.filter(bucket >= 2)
      .withColumn("doc_id", col("doc_id") + 700000L)
    assert(Pipeline.corpusIncrement(spark, out, dupBatch,
      "2026-08-13") == 0L)
    assert(spark.read.parquet(silverPath).count() == n0)
    assert(spark.read.parquet(s"$out/gold/train_packed").count() == goldN,
      "empty increment touched gold")
    intercept[graft.BatchAlreadyLanded] {
      Pipeline.corpusIncrement(spark, out, dupBatch, "2026-08-13")
    }
  }

  test("recipe shards are layout-only: membership identical at Shards=16") {
    import org.apache.spark.sql.functions._
    import graft.operators.Corpus
    val out4 = java.nio.file.Files.createTempDirectory("graft-rcp4").toString
    val out16 = java.nio.file.Files.createTempDirectory("graft-rcp16").toString
    val gold4 = Pipeline.runCorpus(spark, sf, out4, "2026-08-12")
    val gold16 = Pipeline.runCorpus(spark, sf, out16, "2026-08-12",
      recipe = Corpus.TrainingRecipe(shards = 16))
    // silver membership is shard-independent
    val s4 = spark.read.parquet(s"$out4/silver/documents")
      .select("doc_id").orderBy("doc_id").collect().toSeq
    val s16 = spark.read.parquet(s"$out16/silver/documents")
      .select("doc_id").orderBy("doc_id").collect().toSeq
    assert(s4 == s16, "shard count changed silver membership")
    // gold keeps the same DOCUMENTS (sum of per-bin counts), laid out
    // over more shards — layout may change, membership must not
    assert(gold4.agg(sum(col("n_docs"))).head().getLong(0) ==
      gold16.agg(sum(col("n_docs"))).head().getLong(0))
    assert(gold16.select("shard").distinct().count() >
      gold4.select("shard").distinct().count())
    // and the packed CONTENT is the same multiset of documents: every
    // packed doc appears in both (same separator-joined text volume)
    val len4 = gold4.agg(sum(length(col("packed_text")))).head().getLong(0)
    val len16 = gold16.agg(sum(length(col("packed_text")))).head().getLong(0)
    val eot4 = gold4.agg(sum(col("n_docs")) - count(lit(1)))
      .head().getLong(0) * "<|eot|>".length
    val eot16 = gold16.agg(sum(col("n_docs")) - count(lit(1)))
      .head().getLong(0) * "<|eot|>".length
    assert(len4 - eot4 == len16 - eot16,
      "total packed text differs net of separators")
  }

  test("incremental gold is shard-local and equals a full rebuild") {
    import org.apache.spark.sql.functions._
    import graft.operators.Corpus
    val out = java.nio.file.Files.createTempDirectory("graft-goldloc").toString
    val doc = graft.sources.Tables.table(spark, sf, "documents")
      .select("doc_id", "lang", "text")
    val bucket = Corpus.hashBucket(col("doc_id"), "cinc", 5)
    Pipeline.corpusInit(spark, doc.filter(bucket >= 2), out, "2026-08-12")
    val goldPath = s"$out/gold/train_packed"
    def shardFiles(k: Long): Map[String, Long] = {
      val d = new java.io.File(s"$goldPath/shard=$k")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = (0L until 4L).map(k => k -> shardFiles(k)).toMap
    // a day-1 batch restricted to gold shard 0: only that shard's
    // pack/epoch windows can shift, so only that partition may rewrite
    val shardOf = Corpus.hashBucket(col("doc_id"), "shard", 4)
    val day1 = doc.filter(bucket === 0 && shardOf === 0)
    val acc = Pipeline.corpusIncrement(spark, out, day1, "2026-08-13")
    assert(acc > 0, "test batch accepted nothing — pick another slice")
    val after = (0L until 4L).map(k => k -> shardFiles(k)).toMap
    assert(after(1L) == before(1L) && after(2L) == before(2L) &&
      after(3L) == before(3L),
      "an untouched shard's gold partition was rewritten")
    assert(after(0L) != before(0L), "the touched shard did not rewrite")
    // the shard-local rebuild lands exactly where a full rebuild would
    val inc = spark.read.parquet(goldPath)
      .select(col("shard").cast("bigint"), col("bin_id"), col("n_docs"),
        col("epoch_rank"), col("packed_text"))
      .orderBy("shard", "bin_id").collect().toSeq
    Pipeline.corpusGold(spark, out, "2026-08-13")
    val full = spark.read.parquet(goldPath)
      .select(col("shard").cast("bigint"), col("bin_id"), col("n_docs"),
        col("epoch_rank"), col("packed_text"))
      .orderBy("shard", "bin_id").collect().toSeq
    assert(inc == full, "incremental gold diverged from a full rebuild")
  }

  test("dueRuns: cadence grid, catchup semantics, off-grid lastRun") {
    val t = java.time.Instant.parse(_: String)
    val start = t("2026-08-01T00:00:00Z")
    // never ran + 3.5 days elapsed → 4 daily runs (start-inclusive)
    val backfill = Pipeline.dueRuns("@daily", start, None,
      t("2026-08-04T12:00:00Z"))
    assert(backfill == Seq(t("2026-08-01T00:00:00Z"),
      t("2026-08-02T00:00:00Z"), t("2026-08-03T00:00:00Z"),
      t("2026-08-04T00:00:00Z")))
    // catchup=false: skip the backlog, latest due run only
    assert(Pipeline.dueRuns("@daily", start, None,
      t("2026-08-04T12:00:00Z"), catchup = false) ==
      Seq(t("2026-08-04T00:00:00Z")))
    // lastRun on the grid → strictly-after runs only
    assert(Pipeline.dueRuns("@daily", start,
      Some(t("2026-08-03T00:00:00Z")), t("2026-08-04T12:00:00Z")) ==
      Seq(t("2026-08-04T00:00:00Z")))
    // off-grid lastRun (a manual run at noon) rounds up to the next
    // grid point — never re-runs the grid point it already covered
    assert(Pipeline.dueRuns("@daily", start,
      Some(t("2026-08-03T12:00:00Z")), t("2026-08-04T12:00:00Z")) ==
      Seq(t("2026-08-04T00:00:00Z")))
    // nothing due yet → empty either way
    assert(Pipeline.dueRuns("@hourly", start,
      Some(t("2026-08-01T05:00:00Z")), t("2026-08-01T05:59:00Z")).isEmpty)
    assert(Pipeline.dueRuns("@hourly", start,
      Some(t("2026-08-01T05:00:00Z")), t("2026-08-01T05:59:00Z"),
      catchup = false).isEmpty)
    // lastRun predating start never rewinds before start
    assert(Pipeline.dueRuns("@weekly", start,
      Some(t("2026-07-01T00:00:00Z")), t("2026-08-08T00:00:00Z")) ==
      Seq(t("2026-08-01T00:00:00Z"), t("2026-08-08T00:00:00Z")))
    intercept[IllegalArgumentException] {
      Pipeline.dueRuns("@monthly", start, None, t("2026-09-01T00:00:00Z"))
    }
  }

  test("repeated fact failures never prune the schema-named dim " +
      "generation: goldTable keeps serving the committed triple") {
    import graft.operators.Cleaning
    val out = java.nio.file.Files.createTempDirectory("graft-pin")
      .toString
    Pipeline.run(spark, sf, out, "2026-08-12")
    val gens1 = Pipeline.goldSchemaGens(spark, out)
    val dimN = Pipeline.goldTable(spark, out, "dim_date").count()
    // four consecutive runs whose FACT audit refuses: each advances
    // the dims a generation while `_schema` stays put — with a flat
    // keep=3 the dims' prune would delete the generation `_schema`
    // still names on the third failure
    (1 to 4).foreach { _ =>
      intercept[AuditFailed] {
        Pipeline.gold(spark, sf, out, "2026-08-13",
          extraFactAudit =
            Seq(Cleaning.ExpectRange("quantidade", -2.0, -1.0)))
      }
    }
    assert(Pipeline.goldSchemaGens(spark, out) == gens1)
    // the consistent-triple reader still serves — the schema-named
    // dim generations were pinned through every failed run
    assert(Pipeline.goldTable(spark, out, "dim_date").count() == dimN)
    assert(Pipeline.goldTable(spark, out, "fact_sales").count() > 0)
    // a finally-successful run advances the triple and retention
    // returns to normal
    Pipeline.gold(spark, sf, out, "2026-08-13")
    val gens2 = Pipeline.goldSchemaGens(spark, out)
    assert(gens2("dim_date") == gens1("dim_date") + 5)
    assert(Pipeline.goldTable(spark, out, "dim_date").count() == dimN)
  }

  test("withRetries re-runs a flaky stage, rethrows after exhaustion") {
    var n = 0
    val r = Pipeline.withRetries(3) { n += 1; if (n < 3) sys.error("boom"); n }
    assert(r == 3 && n == 3)
    var m = 0
    intercept[RuntimeException] {
      Pipeline.withRetries(2) { m += 1; sys.error("always") }
    }
    assert(m == 2, "stage attempted exactly maxAttempts times")
  }
}
