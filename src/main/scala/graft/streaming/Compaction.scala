package graft.streaming

import graft.model.ParquetSchema
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

/** Small-file compaction for the collector's sink table.
  *
  * A 1 s-trigger collector (reference cadence, index.js:284) appends one
  * small file per micro-batch per partition — after a day that is tens of
  * thousands of kilobyte files, and at 100 TB scale the NameNode/listing
  * cost and per-file open overhead dominate reads. Compaction rewrites
  * any `p_date=` partition whose file count exceeds a threshold into a
  * few right-sized files. Each rewrite commits through
  * [[RawStore.maintain]] as a fresh generation, so readers that resolve
  * through [[RawStore.read]] never observe a partial partition and keep
  * their planned files for `grace` (`None` is zero grace).
  *
  * Run it like retention ([[Retention.enforce]]): a periodic maintenance
  * job over closed (past-day) partitions.
  */
object Compaction {

  /** Compact partitions with more than `maxFiles` data files (counted
    * recursively — the collector's idempotent sink nests `batch_id=`
    * subdirs under each day) down to `targetFiles`. Compacted rows merge
    * into a single `batch_id=-1` subpartition so the table keeps ONE
    * uniform partition tree. Only run over CLOSED (past-day) partitions:
    * a micro-batch replayed after its rows were merged into batch_id=-1
    * would no longer be deduplicated by the sink's overwrite.
    * `closedBefore` ENFORCES that contract when set: only `p_date`
    * partitions strictly before it are candidates — a periodic
    * maintenance job composed with a live collector (the composed
    * lifecycle soak, SURVEY.md §8.8) would otherwise rewrite the
    * partition the collector is appending into. Returns the number of
    * partitions rewritten.
    */
  def compact(spark: SparkSession, tableDir: String, format: String,
              maxFiles: Int = 8, targetFiles: Int = 1,
              closedBefore: Option[java.time.LocalDate] = None,
              grace: Option[Long] = None): Int = {
    val fs = new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    RawStore.maintain(spark, tableDir, format, grace.getOrElse(0L)) { (date, p) =>
      if (closedBefore.forall(date.isBefore) && ParquetSchema.dataFiles(fs, p).length > maxFiles) {
        val df = spark.read.format(format).load(p.toString)
        RawStore.Replace((if (df.columns.contains("batch_id"))
          df.withColumn("batch_id", lit(-1)) else df).repartition(targetFiles))
      } else RawStore.Keep
    }._2
  }
}
