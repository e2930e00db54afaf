package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Public door to the calls Spark's parquet schema inference makes inside
  * its one-file job, all package-private: the listing's hidden-name rule,
  * the footer read and the footer → Spark schema conversion (under the
  * session's parquet conf). Used by [[graft.model.ParquetSchema]].
  */
object FooterSchema {
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  def footer(conf: Configuration, file: FileStatus): Footer =
    ParquetFileFormat.readParquetFootersInParallel(conf, Seq(file), ignoreCorruptFiles = false).head

  def schema(spark: SparkSession, footer: Footer): StructType =
    ParquetFileFormat.readSchema(Seq(footer), spark).get
}
