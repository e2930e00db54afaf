package graft.model

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
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
  def footer(spark: SparkSession, path: String): Footer =
    footerOption(spark, path).getOrElse(throw new IllegalArgumentException(
      s"no parquet file under $path to read a schema from"))

  private def footerOption(spark: SparkSession, path: String): Option[Footer] = {
    val root = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val files = dataFiles(root.getFileSystem(conf), root).sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .map(FooterSchema.footer(conf, _))
  }

  /** The leaf files a Spark reader of `root` lists: recursive, with
    * hidden `_`/`.` names (`_SUCCESS`, checksums, `.spark-staging-*`
    * output of an unfinished write) skipped at every level by Spark's own
    * rule. Empty when `root` does not exist.
    */
  def dataFiles(fs: FileSystem, root: Path): Seq[FileStatus] = {
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => FooterSchema.hidden(c.getPath.getName))
        .flatMap(leaves)
    if (fs.exists(root)) leaves(fs.getFileStatus(root)) else Seq.empty
  }

  /** `spark.read.parquet(path)` with the schema read from `footer`. */
  def read(spark: SparkSession, path: String, footer: Footer): DataFrame =
    spark.read.schema(FooterSchema.schema(spark, footer)).parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    read(spark, path, footer(spark, path))

  /** [[read]], or None when a reader of `path` would list no file: the
    * path is absent, empty, or holds only hidden output.
    */
  def readOption(spark: SparkSession, path: String): Option[DataFrame] =
    footerOption(spark, path).map(read(spark, path, _))

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
