package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Bm25, Dedup, Similarity}
import scala.jdk.CollectionConverters._

/** Failure paths release what the operator scoped: every operator that
  * caches an intermediate is driven with an input whose text or vector
  * column throws on one row, and the session's cache manager must be
  * empty afterwards. A temp-dir case checks the same for a directory
  * whose population fails, and a source scan keeps every cache,
  * checkpoint and temp-dir site inside [[Checkpoints]].
  */
class LifetimeSpec extends AnyFunSuite {
  import SparkTestSession._

  private def cacheIsEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** `df` with `valCol` computed through a UDF that throws on the row
    * with the largest `idCol`.
    */
  private def poisoned(df: DataFrame, idCol: String,
                       valCol: String): DataFrame = {
    val bad = df.agg(max(col(idCol))).head().getLong(0)
    val boom = udf { (id: Long) =>
      if (id == bad) throw new IllegalStateException(s"injected: row $id")
      true
    }
    df.withColumn(valCol, when(boom(col(idCol)), col(valCol)))
  }

  private lazy val docs =
    sources.Tables.table(spark, sf, "documents").select("doc_id", "text")
  private lazy val emb = sources.Tables.table(spark, sf, "embeddings")
    .select("vec_id", "embedding")
  private def badDocs = poisoned(docs, "doc_id", "text")
  private def badEmb = poisoned(emb, "vec_id", "embedding")

  private def releasesOnThrow(name: String)(op: => Any): Unit =
    test(s"$name releases its cache when an action throws")(
      assertReleases(name)(op))

  /** `op` fails on the injected row and leaves no cache entry behind. */
  private def assertReleases(name: String)(op: => Any): Unit = {
    spark.catalog.clearCache()
    val e = intercept[Exception](op)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected")),
      s"$name failed for another reason: $e")
    assert(cacheIsEmpty, s"$name left a cache entry behind")
  }

  releasesOnThrow("minhashDedup") {
    Dedup.minhashDedup(badDocs, "doc_id", "text")
  }
  releasesOnThrow("minhashDedupIncremental") {
    Dedup.minhashDedupIncremental(badDocs, "doc_id", "text",
      col("doc_id") % 5 === 0)
  }
  releasesOnThrow("writeDedupIndex") {
    Checkpoints.tempDir("graft-lifetime") { dir =>
      Dedup.writeDedupIndex(badDocs, "doc_id", "text", dir)
    }
  }
  test("minhashDedupAgainstIndex releases its cache when an action throws") {
    Checkpoints.tempDir("graft-lifetime") { dir =>
      val isNew = col("doc_id") % 5 === 0
      Dedup.writeDedupIndex(docs.filter(!isNew), "doc_id", "text", dir)
      val bad = poisoned(docs.filter(isNew), "doc_id", "text")
      // the batch-local form (this batch is below the bound) ...
      assertReleases("minhashDedupAgainstIndex")(
        Dedup.minhashDedupAgainstIndex(bad, "doc_id", "text", dir))
      // ... and the exchange form
      assertReleases("its exchange form")(
        Dedup.withIndexSketch(bad, "doc_id", "text", dir, bad.count(),
          localRows = -1)(Dedup.matchSketch(_, dir)))
      // the scope an increment runs its probe, verify and publish in
      Seq(Dedup.LocalBatchRows, -1L).foreach { bound =>
        assertReleases(s"the shared sketch scope (bound $bound)")(
          Dedup.withIndexSketch(bad, "doc_id", "text", dir, bad.count(),
              localRows = bound) { sk =>
            Dedup.matchSketch(sk, dir)
            Dedup.publishBatch(sk, bad, "doc_id", dir, "append")
          })
      }
    }
  }
  releasesOnThrow("contaminationCheck") {
    Dedup.contaminationCheck(badDocs, "doc_id", "text",
      col("doc_id") % 7 === 0)
  }
  releasesOnThrow("resolveGroups") {
    val bad = docs.agg(max(col("doc_id"))).head().getLong(0)
    val boom = udf { (id: Long) =>
      if (id == bad) throw new IllegalStateException(s"injected: row $id")
      id
    }
    Dedup.resolveGroups(docs.select(col("doc_id").as("id")),
      docs.select(col("doc_id").as("id_a"), boom(col("doc_id")).as("id_b")))
  }
  releasesOnThrow("ngramJaccardPairs") {
    Dedup.ngramJaccardPairs(badDocs, "doc_id", "text")
  }
  releasesOnThrow("containmentPairs") {
    Dedup.containmentPairs(badDocs, "doc_id", "text")
  }
  releasesOnThrow("simhashPairs") {
    Dedup.simhashPairs(badDocs, "doc_id", "text")
  }
  releasesOnThrow("noveltyReport") {
    Dedup.noveltyReport(badDocs, "doc_id", "text")
  }
  releasesOnThrow("kmeansIterate") {
    Similarity.kmeansIterate(badEmb, "vec_id", "embedding",
      col("vec_id") % 37 === 1, maxIter = 2)
  }
  releasesOnThrow("pqTrain") {
    Similarity.pqTrain(badEmb, "vec_id", "embedding", 8, 64,
      col("vec_id") % 17 === 0)
  }
  releasesOnThrow("bm25TopK") {
    Bm25.bm25TopK(badDocs, "doc_id", "text", "data quality", k = 5)
  }
  releasesOnThrow("writeBm25Index") {
    Checkpoints.tempDir("graft-lifetime") { dir =>
      Bm25.writeBm25Index(badDocs, "doc_id", "text", dir)
    }
  }

  test("a failed copy into a gate's temp dir leaks no directory") {
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def staged(): Set[String] = Option(tmpRoot.list()).toSeq.flatten
      .filter(n => n.startsWith("graft-sink-") ||
        n.startsWith("graft-stream-gate")).toSet
    val before = staged()
    // an sf dir without events.parquet: the staging copy throws
    Checkpoints.tempDir("graft-lifetime") { noEvents =>
      intercept[java.nio.file.NoSuchFileException](
        SparkEntry.queries("q_stream_sink")(spark, noEvents))
      intercept[java.nio.file.NoSuchFileException](
        SparkEntry.queries("q_stream_rollup")(spark, noEvents))
    }
    assert(staged() == before)
  }

  test("no raw persist, checkpoint or temp-dir site outside Checkpoints") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"run from the project root: $root not found")
    val raw = """\.persist\(|\.cache\(\)|\.localCheckpoint\(|createTempDirectory""".r
    val exempt = Set("graft/Checkpoints.scala")
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(p => exempt.exists(e => p.endsWith(e)))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if raw.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
