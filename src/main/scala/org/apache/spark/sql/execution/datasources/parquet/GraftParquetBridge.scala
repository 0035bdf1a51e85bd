package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge into parquet-package internals (`private[parquet]`, hence a
  * file in this package).
  */
object GraftParquetBridge {

  /** The schema `spark.read.parquet` infers from one data file: its
    * footer, read here on the driver and converted by Spark's own
    * [[ParquetFileFormat.readSchema]] (the embedded Spark schema when
    * the writer recorded one, else the session's parquet type
    * mapping). Spark's own inference reads the same single footer
    * inside a one-task job.
    */
  def footerSchema(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val cls = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(
        cls.sessionState.newHadoopConf(), Seq(file),
        ignoreCorruptFiles = false),
      cls)
  }
}
