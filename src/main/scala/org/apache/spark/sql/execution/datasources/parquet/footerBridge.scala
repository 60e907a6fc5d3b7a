package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Parquet footer-schema reads on the driver, through the
  * `private[parquet]` helpers Spark's own schema inference uses, in the
  * same package-bridge style as `org.apache.spark.sql.graft.bridge`.
  * Spark infers a parquet schema with a Spark job that reads the
  * footers; this reads the same footers in the calling JVM, with no job.
  */
object footerBridge {

  /** The schema Spark infers from `files` (its merge rules and the
    * session's conversion confs), or None when no file has a footer. */
  def schema(spark: SparkSession, files: Seq[FileStatus]): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(
        state.newHadoopConf(), files, state.conf.ignoreCorruptFiles),
      spark)
  }
}
