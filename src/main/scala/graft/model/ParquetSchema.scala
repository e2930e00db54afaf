package graft.model

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** Parquet loads whose schema is read on the driver.
  *
  * A bare `spark.read.parquet(path)` learns its schema by running a
  * one-task Spark job that reads one footer (about 50 ms of query
  * construction per load on a 4-core host). [[read]] reads the same
  * footer on the driver, with the same calls that job's task makes, and
  * loads with `spark.read.schema(...)`, so no job runs.
  *
  * The footer is the one Spark's inference (without `mergeSchema`)
  * picks: `_common_metadata`, else `_metadata`, else the first data file
  * by sorted path, over the leaf files its listing keeps (hidden `_`/`.`
  * names skipped). Partition columns are not in a footer; the reader
  * infers them from the directory names as it does without a schema. The
  * loaded frame's schema therefore equals the inferred one
  * (ParquetSchemaSpec), and a table whose files disagree needs
  * `mergeSchema` here as it does there.
  */
object ParquetSchema {

  /** The footer Spark's schema inference would read for `path`. */
  def footer(spark: SparkSession, path: String): Footer = {
    val root = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => FooterSchema.hidden(c.getPath.getName))
        .flatMap(leaves)
    val files = leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    val file = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .getOrElse(throw new IllegalArgumentException(
        s"no parquet file under $path to read a schema from"))
    FooterSchema.footer(conf, file)
  }

  /** `spark.read.parquet(path)` with the schema read from `footer`. */
  def read(spark: SparkSession, path: String, footer: Footer): DataFrame =
    spark.read.schema(FooterSchema.schema(spark, footer)).parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    read(spark, path, footer(spark, path))

  /** True iff `column` is a top-level TIMESTAMP(NANOS) in the footer's
    * parquet schema, which Spark reads only as a BIGINT under
    * `spark.sql.legacy.parquet.nanosAsLong`.
    */
  def isNanosTimestamp(footer: Footer, column: String): Boolean = {
    val t = footer.getParquetMetadata.getFileMetaData.getSchema
    t.containsField(column) && (t.getType(t.getFieldIndex(column)).getLogicalTypeAnnotation match {
      case ts: TimestampLogicalTypeAnnotation => ts.getUnit == TimeUnit.NANOS
      case _ => false
    })
  }
}
