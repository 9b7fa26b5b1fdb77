package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` parquet schema reading: the session's Hadoop
  * configuration and Spark's own footer-to-schema conversion. Lives in
  * this package solely for access; no Spark internals are modified.
  */
object GraftParquetBridge {
  /** The session's Hadoop configuration, as schema inference builds it. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  /** Spark's schema of one parquet file, from its footer read on the
    * driver: `ParquetFileFormat.readSchema`, so the session's
    * `nanosAsLong`, INT96 and binary-as-string settings and the schema
    * Spark stores in the file's row metadata apply as they do when
    * `spark.read.parquet` infers the schema in a Spark job. */
  def footerSchema(spark: SparkSession, conf: Configuration,
      file: FileStatus): StructType = {
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      conf, Seq(file), ignoreCorruptFiles = false)
    ParquetFileFormat.readSchema(footers, spark).getOrElse(
      throw new IllegalStateException(s"no parquet footer in ${file.getPath}"))
  }
}
