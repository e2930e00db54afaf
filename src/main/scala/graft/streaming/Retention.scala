package graft.streaming

import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Retention — the delete path of the reference
  * (`DELETE FROM "<m>" WHERE time < '<now - age>'`, reference
  * index.js:269-282, exclusive cutoff), re-expressed for a
  * date-partitioned table.
  *
  * On a `p_date=YYYY-MM-DD` layout:
  *  - whole days strictly before the cutoff date → **partition drop**, a
  *    filesystem metadata operation (no data read — this is what makes
  *    retention viable at 100 TB; the reference's row DELETE would be a
  *    full rewrite);
  *  - the single edge partition containing the cutoff instant → rewritten
  *    with `ts >= cutoff`, giving the reference's sub-day precision.
  *
  * Scale note: partition discovery is a driver-side directory listing —
  * fine for date-partition maintenance; at 100 TB (millions of
  * partitions) the production substrate is a table format with a
  * metadata catalog, where the drop is a manifest-level delete. The
  * single-box reduction of that commit protocol is [[RawStore]]:
  * `enforce(grace = Some(ms))` flips its manifest and delays physical
  * deletes so concurrent [[RawStore.read]] readers never lose planned
  * files (the reader/maintenance race the composed lifecycle soak
  * measured on the in-place path).
  */
object Retention {

  /** Per-series retention — the reference's per-proxy `autoRemove.age`
    * (index.js:272-273, each proxy deletes with its OWN age from
    * index.js:231-232): every series keeps rows with `ts >= cutoffs(series)`;
    * series absent from the map are kept in full.
    *
    * Partition handling on the unified table:
    *  - days strictly before EVERY cutoff → metadata-only partition drop,
    *    but ONLY when `allSeries` proves the cutoff map covers every
    *    series in the table — a day before all cutoffs may still hold
    *    rows of a series with no policy, which must be kept in full, so
    *    without that proof the day takes the rewrite path instead;
    *  - days where only some series expire (any day before the latest
    *    cutoff, or the latest cutoff's own day with sub-day precision) →
    *    rewritten with a per-series predicate via a broadcast cutoff dim.
    *
    * `allSeries` is the complete series inventory of the table (the
    * caller's catalog knows it; reference config.js.dist declares every
    * proxy up front). Pass it to unlock metadata-only drops; leave it
    * empty when unknown and retention stays rewrite-only but never
    * deletes an unlisted series' rows.
    *
    * At 100 TB, series with wildly different retention would instead get a
    * (series-bucket, p_date) layout so each policy is pure partition
    * drops; the rewrite path here is the general fallback the unified
    * layout needs. Returns (droppedPartitions, rewrittenPartitions).
    *
    * `grace = Some(ms)` routes drops and rewrites through the
    * [[RawStore]] graceful protocol, same as [[enforce]].
    */
  def enforcePerSeries(spark: SparkSession, tableDir: String,
                       cutoffs: Map[String, Timestamp],
                       format: String,
                       allSeries: Set[String] = Set.empty,
                       grace: Option[Long] = None): (Int, Int) = {
    if (cutoffs.isEmpty) return (0, 0)
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(tableDir))) return (0, 0)
    val earliest = cutoffs.values.min(Ordering.by((t: Timestamp) => t.getTime))
    val latest = cutoffs.values.max(Ordering.by((t: Timestamp) => t.getTime))
    val dropBefore = earliest.toLocalDateTime.toLocalDate
    val latestDate = latest.toLocalDateTime.toLocalDate
    val latestMidnight =
      latest.toLocalDateTime.toLocalTime == java.time.LocalTime.MIDNIGHT
    // metadata drop is provably safe only when every series the table can
    // contain has a cutoff; otherwise an unlisted (no-policy) series in an
    // old day would be silently deleted
    val dropSafe = allSeries.nonEmpty && allSeries.subsetOf(cutoffs.keySet)
    def survivorsOf(p: Path): org.apache.spark.sql.DataFrame = {
      // mixed-expiry day: keep rows whose series policy allows them
      import spark.implicits._
      val dim = broadcast(cutoffs.toSeq.toDF("r_series", "cutoff"))
      spark.read.format(format).load(p.toString)
        .join(dim, col("series") === col("r_series"), "left")
        .filter(col("cutoff").isNull || col("ts") >= col("cutoff"))
        .drop("r_series", "cutoff")
    }
    def isMixed(date: java.time.LocalDate): Boolean =
      date.isBefore(latestDate) ||
        (date.isEqual(latestDate) && !latestMidnight)
    var dropped = 0
    var rewritten = 0
    grace match {
      case Some(graceMs) =>
        var m = RawStore.reap(fs, tableDir, graceMs)
        RawStore.activeDays(fs, tableDir, m).foreach { case (date, p) =>
          if (date.isBefore(dropBefore) && dropSafe) {
            m = RawStore.dropDay(fs, tableDir, m, date)
            dropped += 1
          } else if (isMixed(date)) {
            m = RawStore.swapDay(spark, fs, tableDir, m, date, survivorsOf(p), format)
            rewritten += 1
          }
        }
      case None =>
        partitionsWithDates(fs, tableDir).foreach { case (p, date) =>
          if (date.isBefore(dropBefore) && dropSafe) {
            fs.delete(p, true) // before every cutoff: metadata-only drop
            dropped += 1
          } else if (isMixed(date)) {
            rewrite(spark, fs, p, survivorsOf(p), format)
            rewritten += 1
          }
        }
    }
    (dropped, rewritten)
  }

  /** Enforce `keep rows with ts >= cutoff` on a p_date-partitioned
    * parquet/json table rooted at `tableDir`. Returns (droppedPartitions,
    * rewrittenPartitions).
    *
    * `grace = Some(ms)` switches both the drop and the edge rewrite to
    * the [[RawStore]] graceful protocol (manifest flip + retire +
    * delayed delete): concurrent readers that resolved through
    * [[RawStore.read]] keep a valid pre-swap snapshot for the grace
    * window instead of failing FILE_NOT_EXIST on the in-place swap.
    * The default `None` keeps the in-place path for tables read without
    * the resolver.
    */
  def enforce(spark: SparkSession, tableDir: String, cutoff: Timestamp,
              format: String,
              grace: Option[Long] = None): (Int, Int) = {
    val cutoffDate = cutoff.toLocalDateTime.toLocalDate
    val midnight =
      cutoff.toLocalDateTime.toLocalTime == java.time.LocalTime.MIDNIGHT
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(tableDir))) return (0, 0)
    var dropped = 0
    var rewritten = 0
    grace match {
      case Some(graceMs) =>
        var m = RawStore.reap(fs, tableDir, graceMs)
        RawStore.activeDays(fs, tableDir, m).foreach { case (date, p) =>
          if (date.isBefore(cutoffDate)) {
            m = RawStore.dropDay(fs, tableDir, m, date)
            dropped += 1
          } else if (date.isEqual(cutoffDate) && !midnight) {
            val survivors = spark.read.format(format).load(p.toString)
              .filter(col("ts") >= lit(cutoff))
            m = RawStore.swapDay(spark, fs, tableDir, m, date, survivors, format)
            rewritten += 1
          }
        }
      case None =>
        partitionsWithDates(fs, tableDir).foreach { case (p, date) =>
          if (date.isBefore(cutoffDate)) {
            fs.delete(p, true) // whole-day partition drop: metadata-only
            dropped += 1
          } else if (date.isEqual(cutoffDate) && !midnight) {
            // edge partition: rewrite surviving rows (ts >= cutoff, the
            // complement of the reference's `time < cutoff` delete)
            val survivors = spark.read.format(format).load(p.toString)
              .filter(col("ts") >= lit(cutoff))
            rewrite(spark, fs, p, survivors, format)
            rewritten += 1
          }
        }
    }
    (dropped, rewritten)
  }

  /** `p_date=` partitions with their parsed dates. Unparseable values
    * (a null-ts row lands in `__HIVE_DEFAULT_PARTITION__`) are SKIPPED
    * — retention must never delete what it can't prove is old, and a
    * bare LocalDate.parse here would abort the whole pass with a
    * DateTimeParseException instead (same hardening as Compaction's
    * closedBefore guard).
    */
  private def partitionsWithDates(fs: org.apache.hadoop.fs.FileSystem,
                                  tableDir: String): Seq[(Path, java.time.LocalDate)] =
    fs.listStatus(new Path(tableDir)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith("p_date="))
      .flatMap(p => scala.util.Try(java.time.LocalDate
        .parse(p.getName.stripPrefix("p_date="))).toOption.map(p -> _))

  /** Atomically replace partition directory `p` with `survivors`,
    * PRESERVING any sub-partition columns discovered under it (the
    * collector's idempotent sink nests `batch_id=` under each day — a
    * flat rewrite would leave sibling day directories with conflicting
    * partition trees and break every later read of the table).
    */
  private def rewrite(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                      p: Path, survivors: org.apache.spark.sql.DataFrame,
                      format: String): Unit = {
    val subParts = survivors.columns.filter(Set("batch_id"))
    val tmp = new Path(p.getParent, s".retention_tmp_${p.getName}")
    val w = survivors.write.mode("overwrite").format(format)
    (if (subParts.nonEmpty) w.partitionBy(subParts.toIndexedSeq: _*) else w)
      .save(tmp.toString)
    fs.delete(p, true)
    fs.rename(tmp, p)
  }
}
