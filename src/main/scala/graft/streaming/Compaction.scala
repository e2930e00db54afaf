package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction for the collector's sink table.
  *
  * A 1 s-trigger collector (reference cadence, index.js:284) appends one
  * small file per micro-batch per partition — after a day that is tens of
  * thousands of kilobyte files, and at 100 TB scale the NameNode/listing
  * cost and per-file open overhead dominate reads. Compaction rewrites
  * any `p_date=` partition whose file count exceeds a threshold into a
  * few right-sized files, partition-atomically (write temp → swap), so
  * readers never observe a partial partition.
  *
  * Run it like retention ([[Retention.enforce]]): a periodic maintenance
  * job over closed (past-day) partitions.
  *
  * Scale note: partition discovery here is a driver-side directory
  * listing — right for date-partitioned maintenance, but at 100 TB
  * (millions of partitions) the production substrate is a table format
  * with a metadata catalog (Iceberg/Delta-style manifest lists), where
  * both the listing and the swap become catalog transactions.
  */
object Compaction {

  /** Compact partitions with more than `maxFiles` data files (counted
    * recursively — the collector's idempotent sink nests `batch_id=`
    * subdirs under each day) down to `targetFiles`. Compacted rows merge
    * into a single `batch_id=-1` subpartition so the table keeps ONE
    * uniform partition tree (a flat rewrite next to batch_id-nested
    * sibling days would make every later read fail on conflicting
    * partition columns). Only run over CLOSED (past-day) partitions: a
    * micro-batch replayed after its rows were merged into batch_id=-1
    * would no longer be deduplicated by the sink's overwrite.
    * `closedBefore` ENFORCES that contract when set: only `p_date`
    * partitions strictly before it are candidates — before r11 the
    * caller had to know the closed-day rule from the scaladoc, and a
    * periodic maintenance job composed with a live collector (the
    * composed lifecycle soak, SURVEY.md §8.8) would happily rewrite
    * the partition the collector is appending into. Returns the number
    * of partitions rewritten.
    */
  /** `grace = Some(ms)` routes the swap through the [[RawStore]]
    * graceful protocol (fresh generation + manifest flip + delayed
    * delete) so concurrent [[RawStore.read]] readers never lose their
    * planned files; `None` keeps the in-place swap.
    */
  def compact(spark: SparkSession, tableDir: String, format: String,
              maxFiles: Int = 8, targetFiles: Int = 1,
              closedBefore: Option[java.time.LocalDate] = None,
              grace: Option[Long] = None): Int = {
    val root = new Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    def dataFiles(dir: Path): Seq[Path] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty
        else if (st.isDirectory) dataFiles(st.getPath)
        else Seq(st.getPath)
      }
    def merged(df: org.apache.spark.sql.DataFrame) =
      (if (df.columns.contains("batch_id"))
        df.withColumn("batch_id", org.apache.spark.sql.functions.lit(-1))
      else df).repartition(targetFiles)
    var rewritten = 0
    grace match {
      case Some(graceMs) =>
        var m = RawStore.reap(fs, tableDir, graceMs)
        RawStore.activeDays(fs, tableDir, m)
          .filter { case (date, _) => closedBefore.forall(date.isBefore) }
          .foreach { case (date, p) =>
            if (dataFiles(p).length > maxFiles) {
              val df = spark.read.format(format).load(p.toString)
              m = RawStore.swapDay(spark, fs, tableDir, m, date, merged(df), format)
              rewritten += 1
            }
          }
      case None =>
        fs.listStatus(root).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("p_date="))
          .filter(s => closedBefore.forall(cb =>
            // unparseable partition values (a null-ts row lands in
            // __HIVE_DEFAULT_PARTITION__) are treated as NOT closed — the
            // guard must skip what it can't prove, not abort the whole
            // maintenance pass with a DateTimeParseException
            scala.util.Try(java.time.LocalDate
              .parse(s.getPath.getName.stripPrefix("p_date=")))
              .toOption.exists(_.isBefore(cb))))
          .foreach { part =>
            if (dataFiles(part.getPath).length > maxFiles) {
              val df = spark.read.format(format).load(part.getPath.toString)
              val tmp = new Path(part.getPath.getParent, s".compact_tmp_${part.getPath.getName}")
              val w = merged(df).write.mode("overwrite").format(format)
              (if (df.columns.contains("batch_id")) w.partitionBy("batch_id") else w)
                .save(tmp.toString)
              fs.delete(part.getPath, true)
              fs.rename(tmp, part.getPath)
              rewritten += 1
            }
          }
    }
    rewritten
  }
}
