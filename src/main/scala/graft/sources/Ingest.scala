package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Distributed raw-ingestion (SURVEY.md §2.1; reference:
  * src/etl/utils/data_ingestion.py:24 — async REST fetch of N
  * city/forecast JSON endpoints, landed raw).
  *
  * Spark-first restatement: ingestion is a MANIFEST — a DataFrame
  * whose rows name the payloads to land (source uri + raw bytes/text).
  * The "fetch" of a 100 TB backlog is then just a distributed read of
  * the manifest's targets (each task pulls its slice; no driver-side
  * loop over endpoints, which is where a naive port of the reference's
  * async-in-one-process design would fall over), and the "land" step
  * is an ordinary parsed projection with lineage columns — after
  * which every downstream read is a pruned columnar scan, never a
  * re-parse.
  *
  * No network exists in this environment, so the fetch analog reads
  * payload FILES; the manifest/land contract is transport-agnostic —
  * a REST fetch would replace [[manifestFromDir]] only.
  */
object Ingest {

  /** Build a manifest from a directory of raw payload files (one JSON
    * payload per line, the classic landing-zone layout): each row is
    * (source_uri, payload). Distributed: files are split across tasks
    * by the normal file-source machinery.
    */
  def manifestFromDir(spark: SparkSession, dir: String): DataFrame =
    spark.read.text(dir)
      .select(input_file_name().as("source_uri"), col("value").as("payload"))

  /** Land a manifest of raw JSON payloads as a bronze table: payloads
    * parse against an EXPLICIT schema (schema inference over raw
    * payloads is a second full scan at 100 TB), and every row carries
    * `_source` / `_ingestion_date` lineage (reference:
    * data_ingestion.py's city column + the bronze layer's landing
    * date). Unparseable payloads surface as nulls in the parsed
    * columns — kept, not dropped, so bronze stays a faithful record of
    * what arrived (cleaning is the silver layer's job).
    */
  def landRawJson(manifest: DataFrame, payloadSchemaDdl: String,
                  ingestionDate: String,
                  sourceCol: String = "source_uri",
                  payloadCol: String = "payload"): DataFrame =
    manifest.select(
        from_json(col(payloadCol), StructType.fromDDL(payloadSchemaDdl))
          .as("__rec"),
        col(sourceCol).as("_source"))
      .select(col("__rec.*"), col("_source"),
        lit(ingestionDate).as("_ingestion_date"))

  /** Namespace initialization (reference: bucket.py:146
    * `create_bucket_if_not_exists`, bigquery.py:7
    * `create_dataset_if_not_exists`): make sure a catalog database
    * exists before a pipeline writes tables into it. Returns true if
    * it was created, false if it already existed.
    */
  def ensureDatabase(spark: SparkSession, name: String): Boolean = {
    val existed = spark.catalog.databaseExists(name)
    // backticks inside the name must be doubled, or the interpolated
    // identifier breaks out of its quoting
    val quoted = name.replace("`", "``")
    if (!existed) spark.sql(s"CREATE DATABASE IF NOT EXISTS `$quoted`")
    !existed
  }

  /** Path-layout twin of [[ensureDatabase]] for plain lakehouse
    * directories. Returns true if the directory was created.
    */
  def ensurePath(path: String): Boolean = {
    val dir = new java.io.File(path)
    if (dir.exists()) false else dir.mkdirs()
  }
}
