package graft.streaming

import graft.model.ParquetSchema
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incrementally-maintained rollup table — the serving-layer complement
  * of the raw point sink: per (series, day) — or (series, hour) —
  * count/sum/min/max kept up-to-date per micro-batch, so dashboard
  * reads (q48's downsample shape) hit a table whose size is buckets ×
  * series instead of scanning raw points. At 100 TB of points the rollup is the difference between
  * a dashboard query reading megabytes and terabytes.
  *
  * Maintenance = read-merge-overwrite of ONLY the date partitions the
  * batch touches (dynamic partition overwrite, same mechanics as the
  * collector sink): existing rollup rows for touched days union the
  * batch's partials, re-aggregate (count/sum/min/max are associative),
  * rewrite those partitions. Untouched days are never read or written.
  *
  * Replay safety is PER PARTITION: every rollup row carries
  * `last_batch` = the batch id that last rewrote its partition. Dynamic
  * partition overwrite is not atomic ACROSS partitions, so a crash
  * mid-commit can leave some touched partitions already carrying this
  * batch and others not — on replay, partitions whose `last_batch`
  * equals the replayed id are excluded from both the merge and the
  * rewrite (their data is in), and only the rest are merged. A stored
  * `last_batch` GREATER than the incoming id means the checkpoint was
  * reset against an existing table — that is refused loudly rather than
  * silently skipping data.
  */
object Rollup {

  /** One merge step at day granularity (partition column `p_date`) —
    * factored out of the stream so replay semantics are directly
    * testable. Returns true if any partition merged, false if the batch
    * was empty or fully recognized as a replay.
    */
  private[streaming] def mergeBatch(spark: SparkSession, batch: DataFrame,
                                    batchId: Long, rollupDir: String): Boolean =
    mergeBatchOn(spark, batch, batchId, rollupDir, "p_date", to_date(col("ts")))

  /** [[mergeBatch]] at hour granularity: partition column `p_hour` =
    * `date_trunc('hour', ts)` (a timestamp partition value). Same
    * machinery, same per-partition replay discipline — a second rollup
    * table for dashboards that zoom below a day; at 100 TB the table is
    * still only hours × series.
    */
  private[streaming] def mergeBatchHourly(spark: SparkSession, batch: DataFrame,
                                          batchId: Long, rollupDir: String): Boolean =
    mergeBatchOn(spark, batch, batchId, rollupDir, "p_hour",
      date_trunc("hour", col("ts")))

  /** The granularity-generic merge core: `bucket` maps `ts` to the
    * partition value stored under `partCol` (day: date, hour:
    * timestamp). Partition values flow as opaque `Any` through the
    * touched/replay bookkeeping — `isin` and map equality behave
    * identically for java.sql.Date and Timestamp.
    */
  private def mergeBatchOn(spark: SparkSession, batch: DataFrame,
                           batchId: Long, rollupDir: String,
                           partCol: String, bucket: Column): Boolean = {
    // null ts has no partition; null value would poison total (NULL) and
    // the Grafana read's getDouble — same validity discipline as
    // Collector.transform and Grafana.slice
    val partial = batch
      .filter(col("ts").isNotNull && col("value").isNotNull)
      .withColumn(partCol, bucket)
      .groupBy(col("series"), col(partCol))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      .persist()
    try {
      val touched = partial.select(partCol).distinct()
        .collect().map(_.get(0)).toSeq
      if (touched.isEmpty) return false

      // one frame serves the replay check and the merge: nothing writes
      // the table between them. Its listing skips hidden names, so the
      // staging output of a crashed first merge reads as no table.
      val stored = ParquetSchema.readOption(spark, rollupDir)
      val todo: Seq[Any] = stored match {
        case None => touched
        case Some(table) =>
          val lastByPart = table
            .filter(col(partCol).isin(touched: _*))
            .groupBy(partCol).agg(max("last_batch").as("lb"))
            .collect().map(r => r.get(0) -> r.getLong(1)).toMap
          val ahead = lastByPart.filter(_._2 > batchId)
          if (ahead.nonEmpty) throw new IllegalStateException(
            s"rollup at $rollupDir is ahead of batch $batchId for partitions " +
              s"${ahead.keys.map(_.toString).toSeq.sorted.mkString(",")} — the stream's " +
              "checkpoint was reset against an existing table; refusing to " +
              "merge (data would be silently dropped). Point the stream at a " +
              "fresh rollupDir or restore the matching checkpoint.")
          // == batchId: that partition's data is already in (crash landed
          // between its commit and the checkpoint's) — skip just it
          touched.filterNot(d => lastByPart.get(d).contains(batchId))
      }
      if (todo.isEmpty) return false

      val partialTodo = partial.filter(col(partCol).isin(todo: _*))
      val merged0 = stored.fold(partialTodo)(_
        .filter(col(partCol).isin(todo: _*))
        .select("series", partCol, "cnt", "total", "vmin", "vmax")
        .unionByName(partialTodo))
      merged0
        .groupBy(col("series"), col(partCol))
        .agg(sum(col("cnt")).as("cnt"), sum(col("total")).as("total"),
          min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"))
        .withColumn("last_batch", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol)
        .parquet(rollupDir)
      true
    } finally partial.unpersist()
  }

  /** Hour→day demotion — the hour table's retention story. The hour
    * rollup grows at 8760 × series rows/year; dashboards only zoom
    * into RECENT hours, so hours older than `cutoff` (exclusive, the
    * same convention as [[Retention.enforce]]) demote into the day
    * rollup at `dayDir`: their count/sum/min/max aggregate EXACTLY
    * into day rows (all four are associative — no information the day
    * granularity needs is lost) and the hour partitions then drop,
    * metadata-only.
    *
    * Lifecycle note: this is for the DERIVED layout — one stream
    * maintains the hour table, and the day table is the demotion
    * product. If a second stream already maintains the day table
    * directly, demotion would double-count; use
    * [[Retention.enforce]]-style drops on the hour table instead.
    *
    * Crash safety mirrors the merge's per-partition discipline: each
    * rewritten day partition records `demoted_through` = the latest
    * hour folded in. Dropping the hour partitions happens AFTER the
    * day writes, so a crash between the two leaves already-merged
    * hour partitions behind — on re-run, hours at or below the stored
    * watermark are excluded from the merge and only their directories
    * drop. Partial days demote exactly: a later run folds the
    * remaining hours into the same day row (associativity again).
    *
    * Driver-side partition listing, like Retention/Compaction: right
    * for time-partition maintenance windows. Returns
    * (hourPartitionsDropped, dayPartitionsTouched).
    */
  def demoteHours(spark: SparkSession, hourDir: String, dayDir: String,
                  cutoff: java.sql.Timestamp): (Int, Int) = {
    val root = new Path(hourDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return (0, 0)
    // Spark names hour partitions, and reads them back, on the session
    // zone's clock
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val hourParts = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("p_hour="))
      .map { s =>
        // partition dir names escape ':' etc. URL-style (%3A)
        val v = java.net.URLDecoder.decode(
          s.getPath.getName.stripPrefix("p_hour="), "UTF-8")
        (s.getPath, java.sql.Timestamp.from(java.time.LocalDateTime
          .parse(v.replace(' ', 'T')).atZone(zone).toInstant))
      }
    val old = hourParts.filter(_._2.before(cutoff))
    if (old.isEmpty) return (0, 0)

    // mergeSchema: stream-written day partitions lack demoted_through;
    // a plain read could sample its schema from one of those footers
    // and silently hide every stored watermark. Resolved once: the loop
    // below reads each day's rows before it rewrites that day alone.
    val dayRoot = new Path(dayDir)
    val dayTable =
      if (ParquetSchema.dataFiles(dayRoot.getFileSystem(fs.getConf), dayRoot).isEmpty) None
      else Some(spark.read.option("mergeSchema", "true").parquet(dayDir))
    val watermarks: Map[String, java.sql.Timestamp] = dayTable
      .filter(_.columns.contains("demoted_through"))
      .fold(Map.empty[String, java.sql.Timestamp])(_.groupBy(col("p_date"))
        .agg(max(col("demoted_through")).as("w"))
        .collect()
        .flatMap(r => Option(r.getTimestamp(1)).map(r.getDate(0).toString -> _))
        .toMap)
    def dayOf(h: java.sql.Timestamp) = h.toInstant.atZone(zone).toLocalDate
    val toMerge = old.filter { case (_, h) =>
      !watermarks.get(dayOf(h).toString).exists(w => !h.after(w))
    }
    val hourTable = ParquetSchema.read(spark, hourDir)
    var daysTouched = 0
    toMerge.groupBy { case (_, h) => dayOf(h) }.toSeq
      .sortBy(_._1.toString)
      .foreach { case (day, hrs) =>
        val hourRows = hourTable
          .filter(col("p_hour").isin(hrs.map(_._2): _*))
          .select(col("series"), col("cnt"), col("total"),
            col("vmin"), col("vmax"))
        val existing = dayTable.map(_.filter(col("p_date") === lit(day)))
        // keep the partition's replay bookkeeping intact across the
        // rewrite (mergeBatch reads last_batch per partition)
        val lastBatch: Long = existing.fold(-1L)(_
          .agg(coalesce(max(col("last_batch")), lit(-1L)))
          .head().getLong(0))
        val merged = existing.fold(hourRows)(_
          .select(col("series"), col("cnt"), col("total"),
            col("vmin"), col("vmax"))
          .unionByName(hourRows))
          .groupBy(col("series"))
          .agg(sum(col("cnt")).as("cnt"), sum(col("total")).as("total"),
            min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"))
          .withColumn("last_batch", lit(lastBatch))
          .withColumn("demoted_through",
            lit(hrs.map(_._2).maxBy(_.getTime)))
          .withColumn("p_date", lit(day))
        merged.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("p_date")
          .parquet(dayDir)
        daysTouched += 1
      }
    // drop AFTER all day writes: includes partitions skipped as already
    // merged — the crash leftovers the watermark exists for
    old.foreach { case (p, _) => fs.delete(p, true) }
    (old.size, daysTouched)
  }

  /** Publish the maintained table's CURRENT state as an immutable
    * snapshot under `servedDir/snap=<n>/` and commit the pointer
    * `_CURRENT.<n>` — snapshot isolation for readers that race the
    * maintenance writer. [[startServed]] publishes after every merged
    * batch; call it directly to snapshot a table no stream maintains.
    *
    * WHY (measured, composed lifecycle soak r11, SURVEY.md §8.8): the
    * merge keeps the live table correct with in-place dynamic partition
    * OVERWRITE, which deletes
    * the previous files of every touched partition — a reader that
    * planned its scan before the merge and executed after it fails with
    * FILE_NOT_EXIST; under a 1 s trigger the current day's partition is
    * rewritten every second, so dashboard reads of the live dir race
    * maintenance almost every time. The composed lifecycle soak
    * measured exactly that (rollup-path read failures surviving even a
    * retry) before this tier existed.
    *
    * WHY THIS SHAPE SCALES: the rollup table is aggregate-small BY
    * DESIGN (days-or-hours × series rows — the table's whole point at
    * 100 TB), so a complete snapshot per publish is one small write,
    * independent of raw corpus size. Snapshots are append-only until
    * pruned: the newest [[Keep]] stay, so an in-flight reader must
    * finish within [[Keep]] publishes (the single-box analog of a table
    * format's snapshot retention; at production scale this tier IS the
    * table format's manifest commit).
    *
    * Pointers are [[NumberedFiles]], like [[RawStore]]'s manifests:
    * each publish adds an empty `_CURRENT.<n>` and the reader takes the
    * highest number its listing shows ([[currentSnapshot]]). The pointer
    * before the new one survives this publish, so a listing that
    * overlaps it still holds an untouched pointer. A concurrent
    * publisher that took the same id fails loudly
    * (ConcurrentModificationException).
    * Returns the published snapshot id.
    */
  def publish(spark: SparkSession, tableDir: String, servedDir: String): Long = {
    val root = new Path(servedDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(root)
    val existing = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(SnapPrefix))
      .map(_.getPath.getName.stripPrefix(SnapPrefix).toLong)
    val id = if (existing.isEmpty) 0L else existing.max + 1L
    ParquetSchema.read(spark, tableDir)
      .write.mode("overwrite").parquet(snapDir(servedDir, id))
    NumberedFiles.commit(fs, root, PointerPrefix, id, Array.emptyByteArray, keep = 2)(
      s"snapshot $id already published under $servedDir — a concurrent " +
        "publisher violated the single-writer contract")
    // prune beyond the grace window, oldest first, never the current
    existing.sorted.dropRight(Keep - 1)
      .foreach(old => fs.delete(new Path(snapDir(servedDir, old)), true))
    id
  }

  /** Snapshots [[publish]] keeps: the current one and its `Keep - 1`
    * predecessors, the grace window of in-flight readers.
    */
  private[streaming] val Keep = 3

  private val PointerPrefix = "_CURRENT."
  private val SnapPrefix = "snap="

  private def snapDir(servedDir: String, id: Long) = s"$servedDir/$SnapPrefix$id"

  /** The reader half of [[publish]]: resolve the current pointer and
    * read that immutable snapshot. Plans built from this DataFrame never
    * observe an in-place overwrite — they can only go stale, which for a
    * rollup dashboard read is the correct trade.
    */
  def servedTable(spark: SparkSession, servedDir: String): DataFrame =
    snapshot(spark, servedDir, currentSnapshot(spark, servedDir))

  /** The immutable snapshot `id` that [[publish]] wrote under `servedDir`. */
  def snapshot(spark: SparkSession, servedDir: String, id: Long): DataFrame =
    ParquetSchema.read(spark, snapDir(servedDir, id))

  /** The published snapshot id: the highest `_CURRENT.<n>` under
    * `servedDir` — the cheap (one listing, no file opened) per-request
    * freshness check a serving cache keys on
    * ([[graft.serve.SnapshotCache]]); [[servedTable]] is this plus the
    * snapshot read. A reader racing [[publish]] gets the old or the new
    * id, never an error (RollupSpec).
    */
  def currentSnapshot(spark: SparkSession, servedDir: String): Long = {
    val root = new Path(servedDir)
    val ids = NumberedFiles.list(
      NumberedFiles.rawFs(root.getFileSystem(spark.sessionState.newHadoopConf())),
      root, PointerPrefix)
    if (ids.isEmpty) throw new IllegalStateException(
      s"no ${PointerPrefix}<n> under $servedDir — nothing published yet")
    ids.max
  }

  /** The merge step for `granularity` ("day" or "hour"). */
  private def mergeFor(spark: SparkSession, granularity: String,
                       rollupDir: String): (DataFrame, Long) => Boolean =
    granularity match {
      case "day" => mergeBatch(spark, _, _, rollupDir)
      case "hour" => mergeBatchHourly(spark, _, _, rollupDir)
      case g => throw new IllegalArgumentException(
        s"granularity must be 'day' or 'hour', got '$g'")
    }

  /** Maintain the rollup from a streaming points DataFrame
    * (series, ts, value) and publish snapshots of it. `granularity`:
    * "day" (partition `p_date`) or "hour" (partition `p_hour`) — run two
    * streams for both tables. Each batch that merges into the live table
    * (the exactly-once discipline of [[mergeBatch]]) then [[publish]]es
    * the post-merge state for racing readers, so the served tier is
    * never behind a completed batch. The serving layer reads
    * [[servedTable]] and never touches the live dir.
    */
  def startServed(spark: SparkSession, points: DataFrame, rollupDir: String,
                  servedDir: String, checkpointDir: String,
                  trigger: Trigger = Trigger.ProcessingTime("1 second"),
                  granularity: String = "day"): StreamingQuery = {
    val merge = mergeFor(spark, granularity, rollupDir)
    // heal-on-restart: a crash between merge-commit and publish leaves
    // the served tier pointing at the pre-crash snapshot, and the
    // replayed batch's merge returns FALSE (already-in detection) — so
    // the first batch after (re)start publishes unconditionally when
    // the live table has data. Publishing an unchanged state is
    // harmless (a fresh snapshot of identical content).
    val healed = new java.util.concurrent.atomic.AtomicBoolean(false)
    points.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val merged = merge(batch, batchId)
        val mustHeal = !healed.getAndSet(true) && !merged && {
          val root = new Path(rollupDir)
          ParquetSchema.dataFiles(
            root.getFileSystem(spark.sessionState.newHadoopConf()), root).nonEmpty
        }
        if (merged || mustHeal) publish(spark, rollupDir, servedDir)
        ()
      }
      .start()
  }
}
