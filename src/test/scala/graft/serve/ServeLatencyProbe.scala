package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Grafana `/query` end-to-end latency probe (test-scoped main) — the
  * reference's actual use case deserves a latency record, not just
  * sweep seconds. Times the three engine-side read paths (raw
  * truncation [[Grafana.query]], bucket-averaging
  * [[Grafana.queryDownsampled]], rollup-backed [[Grafana.queryDaily]])
  * at 1 target and all-targets fan-out, with and without a
  * maxDataPoints cap, and prints p50/p95 over `SPARK_GRAFT_SL_N`
  * samples after warmup. Each sample runs the full request→plan→JSON
  * round trip against the parquet store (no pre-persisted frames —
  * the scan IS part of serving cost; the reference pushes the same
  * work to InfluxDB per request, index.js:106, and re-scans per
  * TARGET where this engine scans once per request).
  *
  * The rollup table is built once per dir via Rollup.mergeBatch (the
  * maintained day table: days × series rows) — its request cost is
  * INDEPENDENT of raw corpus size, which is the number this probe
  * exists to show against the raw path at 10×.
  *
  * Usage: sbt "Test/runMain graft.serve.ServeLatencyProbe <sfDir> [...]"
  * Env: SPARK_GRAFT_SL_N (20 samples), SPARK_GRAFT_CPUS (16).
  */
object ServeLatencyProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ServeLatencyProbe <sfDir> [<sfDir> ...]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val n = sys.env.getOrElse("SPARK_GRAFT_SL_N", "20").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.VectorExpressions.ensureRegistered(spark)

    import Grafana.{Target, TimeRange, QueryRequest}
    val range = TimeRange("2024-01-05 00:00:00", "2024-01-10 00:00:00")

    def pct(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      s(math.min(s.length - 1, math.ceil(p * s.length).toInt - 1).max(0))
    }

    for (dir <- args) {
      // the serving frame: events as (series, ts, value) — re-read per
      // sample (a DataFrame is a plan, not data; each query() call plans
      // and scans like a live request would)
      def metrics: DataFrame = {
        // ts cast: this testdata generation ships µs TIMESTAMP_NTZ and
        // Grafana's unix_millis projection requires TIMESTAMP (session
        // is pinned UTC, so the cast is exact)
        val ev = graft.model.Tables(spark, dir, "events")
        ev.select(col("event_type").as("series"),
          col("ts").cast("timestamp").as("ts"), col("value"))
      }
      val allSeries = Grafana.search(metrics)
      val one = Seq(Target(allSeries.head, "timeseries"))
      val fan = allSeries.map(t => Target(t, "timeseries"))

      // one-time rollup build (day granularity) — the same layout
      // Rollup.mergeBatch maintains incrementally (series × day rows,
      // p_date-partitioned parquet); batch-built here since the probe
      // measures the READ path, not maintenance
      val rollupDir = java.nio.file.Files
        .createTempDirectory("serve_rollup").toString
      metrics.filter(col("ts").isNotNull && col("value").isNotNull)
        .groupBy(col("series"), to_date(col("ts")).as("p_date"))
        .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total"),
          min(col("value")).as("vmin"), max(col("value")).as("vmax"))
        .write.mode("overwrite").partitionBy("p_date").parquet(rollupDir)
      def rollup: DataFrame = spark.read.parquet(rollupDir)

      // the published tier + its serving cache (VERDICT r11 #6): publish
      // the rollup once, then measure the three rollup read shapes a
      // thin serving layer can choose between —
      //   rollup_*t         : read the live table dir per request
      //   served_*t         : resolve the pointer + read the snapshot per
      //                       request (the soak's isolation path)
      //   cached_*t         : SnapshotCache — pointer read per request,
      //                       pinned persisted frame, memoized JSON
      //   cached_*t_nomemo  : pointer read + pinned frame, but render
      //                       every time (isolates the plan/scan saving
      //                       from the memo saving)
      val servedDir = java.nio.file.Files
        .createTempDirectory("serve_served").toString
      graft.streaming.Rollup.publish(spark, rollupDir, servedDir)
      val cache = SnapshotCache.forServedRollup(spark, servedDir)
      val cacheNoMemo = SnapshotCache.forServedRollup(spark, servedDir)

      val configs: Seq[(String, () => String)] = Seq(
        ("raw_1t_mdp100", () => Grafana.query(metrics,
          QueryRequest(one, range, 100))),
        ("raw_1t_uncapped", () => Grafana.query(metrics,
          QueryRequest(one, range, Int.MaxValue))),
        (s"raw_${fan.size}t_mdp100", () => Grafana.query(metrics,
          QueryRequest(fan, range, 100))),
        ("downsampled_1t_mdp100", () => Grafana.queryDownsampled(metrics,
          QueryRequest(one, range, 100))),
        (s"downsampled_${fan.size}t_mdp100", () => Grafana.queryDownsampled(metrics,
          QueryRequest(fan, range, 100))),
        ("rollup_1t", () => Grafana.queryDaily(rollup,
          QueryRequest(one, range, 100))),
        (s"rollup_${fan.size}t", () => Grafana.queryDaily(rollup,
          QueryRequest(fan, range, 100))),
        ("served_1t", () => Grafana.queryDaily(
          graft.streaming.Rollup.servedTable(spark, servedDir),
          QueryRequest(one, range, 100))),
        ("cached_1t_nomemo", () => Grafana.queryDaily(cacheNoMemo.table(),
          QueryRequest(one, range, 100))),
        ("cached_1t", () => {
          val req = QueryRequest(one, range, 100)
          cache.render(req)(df => Grafana.queryDaily(df, req))
        }),
        (s"cached_${fan.size}t", () => {
          val req = QueryRequest(fan, range, 100)
          cache.render(req)(df => Grafana.queryDaily(df, req))
        }))

      for ((name, run) <- configs) {
        (1 to 3).foreach(_ => run()) // warmup (codegen, FS cache)
        var bytes = 0L // response payload — attributes raw-vs-rollup deltas
        val samples = (1 to n).map { _ =>
          val t0 = System.nanoTime()
          bytes += run().length
          (System.nanoTime() - t0) / 1e6
        }
        println(f"[serve-lat] $dir $name n=$n " +
          f"p50=${pct(samples, 0.50)}%.1fms p95=${pct(samples, 0.95)}%.1fms " +
          f"min=${samples.min}%.1f max=${samples.max}%.1f " +
          f"resp_b=${bytes / n}")
      }
    }
    spark.stop()
  }
}
