package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Composed operational-lifecycle soak (test-scoped main): Collector
  * ingest + Rollup maintenance + Retention enforcement + Compaction +
  * Grafana queries running CONCURRENTLY for a sustained window —
  * LifecycleSpec proves the sequencing; THIS measures the composed
  * steady state, where maintenance races appends and queries race both
  * (the classic operational failure mode the reference cannot even
  * express: its InfluxDB does all four behind one server).
  *
  * Arrangement (simulated time: 1 wall second = 1 metric hour, so a
  * 15-minute run covers ~37 days of store lifecycle):
  *  - a feeder thread drops one JSON file per wall second into the
  *    collector's drop dir (`SPARK_GRAFT_LC_RPS` rows each, 20 series,
  *    deterministic values; ts advances one simulated hour per file);
  *  - the production [[Collector.startFromDropDir]] stream ingests into
  *    the p_date/batch_id-partitioned sink;
  *  - a second stream over the same drop source maintains the day
  *    rollup via [[Rollup.startServed]] — merge into the live table,
  *    then snapshot-publish for the racing readers (the r11 tier this
  *    soak's first run motivated: live-dir reads failed FILE_NOT_EXIST
  *    through retries under the 1 s trigger's in-place overwrites);
  *  - a maintenance thread every `SPARK_GRAFT_LC_MAINT_S` wall seconds
  *    runs [[Retention.enforce]] with cutoff = now − 7 simulated days
  *    (non-midnight: the edge-day rewrite path runs, racing the
  *    collector — safe because appends only touch the CURRENT day) and
  *    [[Compaction.compact]] guarded by `closedBefore` = current sim
  *    day (the r11 guard this soak motivated);
  *  - a query thread alternates raw [[graft.serve.Grafana.query]] over
  *    the trailing 2 simulated days and rollup-backed
  *    [[graft.serve.Grafana.queryDaily]] over the full range,
  *    recording p50/p95 and failures (one retry after 100 ms — the
  *    partition-swap window of retention/compaction's delete+rename is
  *    the expected, measured race).
  *
  * End-of-run reconciliation (correctness-drift gate):
  *  1. sink row count == the deterministic generator's count of rows
  *     with ts ≥ the last enforced cutoff (exactly-once ingest AND
  *     retention deleted exactly what it should);
  *  2. for every fully-surviving day, per-(series, day) rollup
  *     (cnt, total) == the sink's own aggregate (the independently
  *     maintained rollup never drifted from the store).
  *
  * Usage: sbt "Test/runMain graft.streaming.LifecycleSoak"
  * Env: SPARK_GRAFT_LC_DUR_S (900), SPARK_GRAFT_LC_RPS (10000),
  * SPARK_GRAFT_LC_MAINT_S (30), SPARK_GRAFT_LC_FORMAT (json|parquet),
  * SPARK_GRAFT_LC_SERVE_CACHE (0|1), SPARK_GRAFT_LC_PUBLISH_S (0 =
  * publish per batch; N > 0 = slow churn, the cache's win regime),
  * SPARK_GRAFT_CPUS (16).
  */
object LifecycleSoak {

  private val SimStartMs = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val HourMs = 3600L * 1000
  private val KeepDays = 7L
  private val Series = 20

  /** Row i of file (hour) h — the deterministic generator shared by the
    * feeder and the reconciliation arithmetic. */
  private def rowTs(h: Long, i: Long, rps: Long): Long =
    SimStartMs + h * HourMs + i * HourMs / rps

  def main(args: Array[String]): Unit = {
    val durS = sys.env.getOrElse("SPARK_GRAFT_LC_DUR_S", "900").toInt
    val rps = sys.env.getOrElse("SPARK_GRAFT_LC_RPS", "10000").toLong
    val maintS = sys.env.getOrElse("SPARK_GRAFT_LC_MAINT_S", "30").toInt
    // sink format dial: "json" is the lineage default; "parquet" is the
    // at-scale sink (columnar raw-path scans — see Collector.writeBatch)
    val fmt = sys.env.getOrElse("SPARK_GRAFT_LC_FORMAT", "json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dropDir = Files.createTempDirectory("lc_soak_drop").toString
    val stageDir = Files.createTempDirectory("lc_soak_stage").toString
    val sinkDir = Files.createTempDirectory("lc_soak_sink").toString
    val ckptC = Files.createTempDirectory("lc_soak_ckc").toString
    val rollupDir = Files.createTempDirectory("lc_soak_roll").toString
    val servedDir = Files.createTempDirectory("lc_soak_served").toString
    val ckptR = Files.createTempDirectory("lc_soak_ckr").toString

    val stop = new AtomicBoolean(false)
    val hoursFed = new AtomicLong(0L) // files (simulated hours) fully written
    val lastCutoff = new AtomicReference[Option[java.sql.Timestamp]](None)
    val retStats = new AtomicReference[(Int, Int, Int)]((0, 0, 0)) // dropped, rewritten, compacted

    // ── feeder ──────────────────────────────────────────────────────────
    val iso = java.time.format.DateTimeFormatter.ISO_INSTANT
    val feeder = new Thread(() => {
      var h = 0L
      val deadline = System.nanoTime() + durS * 1e9
      while (!stop.get() && System.nanoTime() < deadline) {
        val tick = System.nanoTime()
        val sb = new StringBuilder(64 * rps.toInt)
        var i = 0L
        while (i < rps) {
          val ts = iso.format(java.time.Instant.ofEpochMilli(rowTs(h, i, rps)))
          sb.append(s"""{"series":"s${i % Series}","ts":"$ts","body":"{\\"count\\": ${(i % 97).toDouble}}"}""")
            .append('\n')
          i += 1
        }
        // stage-then-move: the file source must never list a half-written
        // file (same-filesystem move is atomic on /tmp)
        val staged = Paths.get(s"$stageDir/h$h.json")
        Files.writeString(staged, sb.toString)
        Files.move(staged, Paths.get(s"$dropDir/h$h.json"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        h += 1
        hoursFed.set(h)
        val elapsed = (System.nanoTime() - tick) / 1e6
        if (elapsed < 1000) Thread.sleep((1000 - elapsed).toLong)
      }
    }, "lc-feeder")

    // ── streams: collector sink + rollup maintenance ────────────────────
    val collect = Collector.startFromDropDir(spark, dropDir, sinkDir, ckptC,
      sinkFormat = fmt)
    val points = Collector.transform(
      spark.readStream.schema(Collector.rawSchema)
        .option("maxFilesPerTrigger", 100).json(dropDir))
    // served tier: merge + snapshot-publish per batch — readers resolve
    // the snapshot pointer and never race the live table's in-place overwrites (the
    // r11 fix this soak's first run motivated: rollup reads of the live
    // dir failed FILE_NOT_EXIST through retries under the 1 s trigger)
    // SPARK_GRAFT_LC_PUBLISH_S > 0: slow-churn publish cadence (the
    // SnapshotCache WIN-regime arrangement — snapshot lifetime ≫ the
    // query thread's ~500 ms rollup-request interarrival); 0 keeps the
    // per-batch publish (second-scale churn, the measured losing regime)
    val publishS = sys.env.getOrElse("SPARK_GRAFT_LC_PUBLISH_S", "0").toLong
    val rollup = Rollup.startServed(spark, points, rollupDir, servedDir, ckptR,
      minPublishIntervalS = publishS)

    // ── maintenance: retention + compaction every maintS ────────────────
    val maint = new Thread(() => {
      while (!stop.get()) {
        var slept = 0
        while (!stop.get() && slept < maintS * 1000) { Thread.sleep(200); slept += 200 }
        if (!stop.get()) {
          val nowSim = SimStartMs + hoursFed.get() * HourMs
          val cutMs = nowSim - KeepDays * 24 * HourMs
          if (cutMs > SimStartMs) {
            val cut = new java.sql.Timestamp(cutMs)
            try {
              // graceful mode (r11): swaps go through the RawStore
              // manifest — retired paths outlive any in-flight reader by
              // the grace window, so the raw query path's partition-swap
              // race (3/1455 then 1/1428 residual failures in the first
              // two records) is closed, not retried around. Grace 10 s ≫
              // query p95 (~0.6 s), ≪ the 30 s maintenance cadence.
              val graceMs = 10_000L
              val (d, r) = Retention.enforce(spark, sinkDir, cut, format = fmt,
                grace = Some(graceMs))
              // the closed frontier comes from what the COLLECTOR has
              // committed, not the feeder clock: under ingest lag the
              // feeder's "open day" can run ahead of in-flight
              // micro-batches, and compacting a day with uncommitted
              // batches re-opens the replay-duplication window
              // closedBefore exists to close. Committed frontier − 1 day
              // absorbs any sub-day backlog (maxFilesPerTrigger = 100
              // vs 1 file/s feed keeps real lag far below that).
              val committedDays = Option(new java.io.File(sinkDir).list())
                .getOrElse(Array.empty[String])
                .filter(_.startsWith("p_date="))
                .flatMap(n => scala.util.Try(
                  java.time.LocalDate.parse(n.stripPrefix("p_date="))).toOption)
              // maxFiles below this feed shape's ~24 files/closed-day
              // (one batch file per simulated hour) so compaction
              // actually runs in the composed window — the first 15-min
              // record's threshold of 32 never fired
              val c =
                if (committedDays.isEmpty) 0
                else Compaction.compact(spark, sinkDir, format = fmt,
                  maxFiles = 12, targetFiles = 1,
                  closedBefore = Some(committedDays.max.minusDays(1)),
                  grace = Some(graceMs))
              lastCutoff.set(Some(cut))
              val (pd, pr, pc) = retStats.get()
              retStats.set((pd + d, pr + r, pc + c))
              println(s"[lc-soak] maint cutoff=$cut dropped=$d rewritten=$r compacted=$c")
            } catch {
              case e: Throwable =>
                println(s"[lc-soak] MAINT-FAIL ${e.getClass.getSimpleName}: ${e.getMessage}")
            }
          }
        }
      }
    }, "lc-maint")

    // ── query load ──────────────────────────────────────────────────────
    import graft.serve.Grafana
    import graft.serve.Grafana.{QueryRequest, Target, TimeRange}
    val sinkSchema = "series STRING, ts TIMESTAMP, value DOUBLE, p_date DATE, batch_id BIGINT"
    // raw reads resolve through the RawStore manifest: a reader planned
    // against retired-but-unreaped paths completes against its pre-swap
    // snapshot instead of failing FILE_NOT_EXIST
    def store: DataFrame = RawStore.read(spark, sinkDir, sinkSchema, fmt)
    val rawLat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val rollLat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val qFails = new AtomicLong(0L)
    val qRetried = new AtomicLong(0L)
    val fmtTs = (ms: Long) => java.time.Instant.ofEpochMilli(ms)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    val targets = (0 until 3).map(i => Target(s"s$i", "timeseries"))
    // SPARK_GRAFT_LC_SERVE_CACHE=1: the rollup path serves through
    // graft.serve.SnapshotCache instead of a per-request servedTable
    // resolve — measures the cache under REAL publish churn (a version
    // flip per committed batch), the regime ServeLatencyProbe's static
    // snapshot can't show. Freshness is unchanged by construction (the
    // cache re-reads the pointer per request).
    val useServeCache = sys.env.get("SPARK_GRAFT_LC_SERVE_CACHE").contains("1")
    lazy val servedCache = graft.serve.SnapshotCache.forServedRollup(spark, servedDir)
    val query = new Thread(() => {
      var flip = false
      while (!stop.get()) {
        val nowSim = SimStartMs + hoursFed.get() * HourMs
        val req = QueryRequest(targets,
          TimeRange(fmtTs(math.max(SimStartMs, nowSim - 2 * 24 * HourMs)), fmtTs(nowSim)), 200)
        // skip the rollup path until the first snapshot publishes so
        // startup noise doesn't read as failures
        val rollupReady =
          scala.util.Try(Rollup.currentSnapshot(spark, servedDir)).isSuccess
        def once(): Unit =
          if (flip) { Grafana.query(store, req); () }
          else {
            val rreq = QueryRequest(targets,
              TimeRange(fmtTs(SimStartMs), fmtTs(nowSim)), 200)
            if (useServeCache)
              servedCache.render(rreq)(df => Grafana.queryDaily(df, rreq))
            else
              Grafana.queryDaily(Rollup.servedTable(spark, servedDir), rreq)
            ()
          }
        if (flip || rollupReady) {
          val t0 = System.nanoTime()
          // backoff retry (what a dashboard client does): the raw path's
          // residual race is retention's partition swap, whose rewrite
          // job outlives a fixed 100 ms pause — 250/750 ms clears it
          def attempt(left: Int, pauseMs: Long): Unit =
            try once()
            catch {
              case e: Throwable if left > 0 =>
                qRetried.incrementAndGet()
                println(s"[lc-soak] QUERY-RETRY ${if (flip) "raw" else "rollup"} " +
                  s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}")
                Thread.sleep(pauseMs)
                attempt(left - 1, pauseMs * 3)
              case e: Throwable =>
                qFails.incrementAndGet()
                println(s"[lc-soak] QUERY-FAIL ${e.getClass.getSimpleName}: ${e.getMessage}")
            }
          attempt(2, 250)
          val ms = (System.nanoTime() - t0) / 1e6
          (if (flip) rawLat else rollLat).add(ms)
        }
        flip = !flip
        Thread.sleep(250)
      }
    }, "lc-query")

    val wall0 = System.nanoTime()
    feeder.start(); maint.start(); query.start()
    feeder.join() // runs durS
    // drain both streams over everything the feeder wrote, then freeze
    collect.processAllAvailable()
    rollup.processAllAvailable()
    stop.set(true)
    maint.join(); query.join()
    collect.stop(); rollup.stop()
    // drain contract (gated publish mode): flush the last merged state
    // so the served tier ends current — see Rollup.startServed scaladoc
    if (publishS > 0 && new java.io.File(rollupDir).list() != null &&
        new java.io.File(rollupDir).list().nonEmpty)
      Rollup.publish(spark, rollupDir, servedDir)
    val wallS = (System.nanoTime() - wall0) / 1e9

    // ── reconciliation ─────────────────────────────────────────────────
    import spark.implicits._
    val hours = hoursFed.get()
    val fed = hours * rps
    val cutoffMs = lastCutoff.get().map(_.getTime).getOrElse(Long.MinValue)
    // exact survivor count from the generator arithmetic: rows of hour h
    // survive iff rowTs >= cutoff; within the cutoff hour the surviving
    // index range is i >= ceil((cut - hourStart) * rps / HourMs)
    var expected = 0L
    var h = 0L
    while (h < hours) {
      val hs = SimStartMs + h * HourMs
      if (hs >= cutoffMs) expected += rps
      else if (hs + HourMs > cutoffMs) {
        // edge hour: count survivors by the exact generator arithmetic
        var i = 0L
        while (i < rps) {
          if (rowTs(h, i, rps) >= cutoffMs) expected += 1
          i += 1
        }
      }
      h += 1
    }
    val stored = store.count()
    val (dropped, rewritten, compacted) = retStats.get()
    def pct(q: java.util.concurrent.ConcurrentLinkedQueue[Double], p: Double): Double = {
      val xs = q.toArray(Array.empty[java.lang.Double]).map(_.toDouble).sorted
      if (xs.isEmpty) Double.NaN
      else xs(math.min(xs.length - 1, math.max(0, math.ceil(p * xs.length).toInt - 1)))
    }
    println(f"[lc-soak] fmt=$fmt rps=$rps serve_cache=$useServeCache publish_s=$publishS " +
      f"wall=${wallS}%.0fs hours_fed=$hours rows_fed=$fed " +
      f"stored=$stored expected=$expected match=${stored == expected} " +
      f"dropped=$dropped rewritten=$rewritten compacted=$compacted")
    println(f"[lc-soak] query raw n=${rawLat.size} p50=${pct(rawLat, 0.5)}%.0fms " +
      f"p95=${pct(rawLat, 0.95)}%.0fms rollup n=${rollLat.size} " +
      f"p50=${pct(rollLat, 0.5)}%.0fms p95=${pct(rollLat, 0.95)}%.0fms " +
      f"retried=${qRetried.get()} failed=${qFails.get()}")

    // rollup drift check over fully-surviving days (rollup never retains;
    // compare only days whose sink rows are complete)
    val cutoffDay = java.time.Instant.ofEpochMilli(
        if (cutoffMs == Long.MinValue) SimStartMs else cutoffMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    val sinkAgg = store.filter(col("p_date") > lit(cutoffDay))
      .groupBy("series", "p_date")
      .agg(count(lit(1)).as("s_cnt"), sum("value").as("s_total"))
    // final reconcile reads the LIVE table (streams are stopped — no
    // race; the served tier equals it after the last publish)
    val rollAgg = spark.read.parquet(rollupDir)
      .filter(col("p_date") > lit(cutoffDay))
      .select(col("series"), col("p_date"), col("cnt"), col("total"))
    val joined = sinkAgg.join(rollAgg, Seq("series", "p_date"), "full")
    val drift = joined.filter(
      col("s_cnt").isNull || col("cnt").isNull ||
        col("s_cnt") =!= col("cnt") ||
        abs(col("s_total") - col("total")) > 1e-6).count()
    val days = joined.select("p_date").distinct().count()
    println(s"[lc-soak] rollup_reconcile days=$days series_day_rows=${joined.count()} " +
      s"drift_rows=$drift match=${drift == 0}")
    spark.stop()
    if (stored != expected || drift != 0) sys.exit(1)
  }
}
