package graft.streaming

import java.sql.Timestamp
import java.time.{LocalTime, ZoneId, ZonedDateTime}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Retention — the delete path of the reference
  * (`DELETE FROM "<m>" WHERE time < '<now - age>'`, reference
  * index.js:269-282, exclusive cutoff), re-expressed for a
  * date-partitioned table.
  *
  * On a `p_date=YYYY-MM-DD` layout:
  *  - whole days strictly before the cutoff date → **partition drop**, a
  *    metadata operation (no data read — this is what makes retention
  *    viable at 100 TB; the reference's row DELETE would be a full
  *    rewrite);
  *  - the single edge partition containing the cutoff instant → rewritten
  *    with `ts >= cutoff`, giving the reference's sub-day precision.
  *
  * Both commit through [[RawStore.maintain]]: a drop retires the day in
  * the manifest, a rewrite writes a fresh generation, and the retired
  * paths are deleted after `grace` (`None` is zero grace). Readers that
  * resolve through [[RawStore.read]] never lose planned files within the
  * grace window. Partition discovery is a driver-side listing — at
  * 100 TB (millions of partitions) the production substrate is a table
  * format with a metadata catalog, of which [[RawStore]] is the
  * single-box reduction.
  */
object Retention {

  /** `t` on the session zone's clock: the `p_date` partitions come from
    * `to_date(ts)`, which reads the session zone, not the JVM's.
    */
  private def sessionTime(spark: SparkSession, t: Timestamp): ZonedDateTime =
    t.toInstant.atZone(ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone))

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
    */
  def enforcePerSeries(spark: SparkSession, tableDir: String,
                       cutoffs: Map[String, Timestamp],
                       format: String,
                       allSeries: Set[String] = Set.empty,
                       grace: Option[Long] = None): (Int, Int) = {
    if (cutoffs.isEmpty) return (0, 0)
    val byTime = Ordering.by((t: Timestamp) => t.getTime)
    val dropBefore = sessionTime(spark, cutoffs.values.min(byTime)).toLocalDate
    val latest = sessionTime(spark, cutoffs.values.max(byTime))
    val latestDate = latest.toLocalDate
    val latestMidnight = latest.toLocalTime == LocalTime.MIDNIGHT
    // metadata drop is provably safe only when every series the table can
    // contain has a cutoff; otherwise an unlisted (no-policy) series in an
    // old day would be silently deleted
    val dropSafe = allSeries.nonEmpty && allSeries.subsetOf(cutoffs.keySet)
    import spark.implicits._
    val dim = broadcast(cutoffs.toSeq.toDF("r_series", "cutoff"))
    RawStore.maintain(spark, tableDir, format, grace.getOrElse(0L)) { (date, p) =>
      if (date.isBefore(dropBefore) && dropSafe) RawStore.Drop
      else if (date.isBefore(latestDate) ||
          (date.isEqual(latestDate) && !latestMidnight))
        // mixed-expiry day: keep rows whose series policy allows them
        RawStore.Replace(spark.read.format(format).load(p.toString)
          .join(dim, col("series") === col("r_series"), "left")
          .filter(col("cutoff").isNull || col("ts") >= col("cutoff"))
          .drop("r_series", "cutoff"))
      else RawStore.Keep
    }
  }

  /** Enforce `keep rows with ts >= cutoff` on a p_date-partitioned
    * parquet/json table rooted at `tableDir`. Returns (droppedPartitions,
    * rewrittenPartitions).
    */
  def enforce(spark: SparkSession, tableDir: String, cutoff: Timestamp,
              format: String,
              grace: Option[Long] = None): (Int, Int) = {
    val at = sessionTime(spark, cutoff)
    val cutoffDate = at.toLocalDate
    val midnight = at.toLocalTime == LocalTime.MIDNIGHT
    RawStore.maintain(spark, tableDir, format, grace.getOrElse(0L)) { (date, p) =>
      if (date.isBefore(cutoffDate)) RawStore.Drop
      else if (date.isEqual(cutoffDate) && !midnight)
        // edge partition: surviving rows are ts >= cutoff, the complement
        // of the reference's `time < cutoff` delete
        RawStore.Replace(spark.read.format(format).load(p.toString)
          .filter(col("ts") >= lit(cutoff)))
      else RawStore.Keep
    }
  }
}
