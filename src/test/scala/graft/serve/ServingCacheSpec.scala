package graft.serve

import java.nio.file.Files
import graft.SparkSpec
import graft.streaming.Rollup
import org.apache.spark.sql.functions._

/** SnapshotCache laws: pin-per-version (one resolved frame reused while
  * the pointer is unchanged), never-stale (a publish is visible to the
  * very next request — the r11 verdict's required invalidation proof),
  * and bounded once-per-(version, key) memoization.
  */
class ServingCacheSpec extends SparkSpec {

  import Grafana.{QueryRequest, Target, TimeRange}

  private val range = TimeRange("2024-01-01 00:00:00", "2024-12-31 00:00:00")
  private val req = QueryRequest(Seq(Target("s0", "timeseries")), range, 100)

  /** A rollup-shaped table with one (s0, day) row carrying `total`. */
  private def writeTable(dir: String, total: Double): Unit = {
    import spark.implicits._
    Seq(("s0", java.sql.Date.valueOf("2024-01-05"), 2L, total))
      .toDF("series", "p_date", "cnt", "total")
      .write.mode("overwrite").partitionBy("p_date").parquet(dir)
  }

  test("pin-per-version: same pointer reuses one persisted frame and " +
      "serves byte-identical results to the uncached path") {
    val tableDir = Files.createTempDirectory("svc_table").toString
    val servedDir = Files.createTempDirectory("svc_served").toString
    writeTable(tableDir, total = 10.0)
    Rollup.publish(spark, tableDir, servedDir)

    val cache = SnapshotCache.forServedRollup(spark, servedDir)
    val t1 = cache.table()
    val t2 = cache.table()
    assert(t1 eq t2, "unchanged pointer must reuse the pinned frame")
    assert(t1.storageLevel.useMemory, "pinned frame must be persisted")

    val direct = Grafana.queryDaily(Rollup.servedTable(spark, servedDir), req)
    assert(cache.render(req)(df => Grafana.queryDaily(df, req)) == direct)
    assert(Grafana.queryDaily(cache.table(), req) == direct)
  }

  test("never stale: a publish invalidates the pinned frame and every " +
      "memoized result on the very next request") {
    val tableDir = Files.createTempDirectory("svc_flip_table").toString
    val servedDir = Files.createTempDirectory("svc_flip_served").toString
    writeTable(tableDir, total = 10.0)
    Rollup.publish(spark, tableDir, servedDir)

    val cache = SnapshotCache.forServedRollup(spark, servedDir)
    val before = cache.render(req)(df => Grafana.queryDaily(df, req))
    val pinnedBefore = cache.table()
    assert(before.contains("[5,")) // 10.0 / 2 = day mean 5

    // the maintenance cycle: table changes, THEN a snapshot publishes
    writeTable(tableDir, total = 40.0)
    Rollup.publish(spark, tableDir, servedDir)

    val after = cache.render(req)(df => Grafana.queryDaily(df, req))
    assert(after.contains("[20,") && after != before,
      "flip must serve the new snapshot immediately")
    assert(!(cache.table() eq pinnedBefore),
      "flip must re-resolve the pinned frame")
    assert(after ==
      Grafana.queryDaily(Rollup.servedTable(spark, servedDir), req))
    // the superseded frame was released (its persist dropped)
    assert(!pinnedBefore.storageLevel.useMemory ||
      pinnedBefore.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("memo runs the renderer once per (version, key) and stays bounded") {
    val tableDir = Files.createTempDirectory("svc_memo_table").toString
    val servedDir = Files.createTempDirectory("svc_memo_served").toString
    writeTable(tableDir, total = 10.0)
    Rollup.publish(spark, tableDir, servedDir)

    val cache = SnapshotCache.forServedRollup(spark, servedDir, maxResults = 2)
    var calls = 0
    def render(key: String): String = cache.render(key) { df =>
      calls += 1
      Grafana.queryDaily(df, req)
    }
    render("a"); render("a")
    assert(calls == 1, "same (version, key) must render once")
    render("b")
    assert(calls == 2)
    render("c") // evicts the LRU entry; bound holds
    assert(calls == 3 && cache.memoizedCount <= 2)

    // a flip re-renders even a still-memoized key (new version, new key)
    writeTable(tableDir, total = 40.0)
    Rollup.publish(spark, tableDir, servedDir)
    render("a")
    assert(calls == 4)
    render("a")
    assert(calls == 4, "post-flip (version, key) memoizes again")
  }

  test("raw-tier cache (r13): appends AND maintenance commits both flip the stamp; " +
      "pin is plan-only and reused between changes") {
    import graft.streaming.{Collector, RawStore, Retention}
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("svc_raw").toString
    val schema =
      "series STRING, ts TIMESTAMP, value DOUBLE, p_date DATE, batch_id BIGINT"
    def batch(ts: String, v: Double) =
      Seq(("cpu", java.sql.Timestamp.valueOf(ts), v))
        .toDF("series", "ts", "value")
        .withColumn("p_date", to_date(col("ts")))

    // batch 0 lands through the collector's sink (which bumps the stamp)
    Collector.writeBatch(batch("2024-01-01 05:00:00", 1.0), 0L, dir, "json")
    val cache = SnapshotCache.forRawStore(spark, dir, schema, "json")
    val t1 = cache.table()
    assert(t1.count() == 1)
    assert(t1 eq cache.table(), "unchanged stamp must reuse the pinned plan")
    assert(t1.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "raw pin must be plan-only — the raw tier is corpus-sized")

    // an APPEND (new batch) is visible to the very next request
    Collector.writeBatch(batch("2024-01-02 05:00:00", 2.0), 1L, dir, "json")
    val t2 = cache.table()
    assert(!(t2 eq t1), "append must flip the stamp and re-resolve")
    assert(t2.count() == 2)

    // a MAINTENANCE commit (graceful retention drop) flips it too
    Retention.enforce(spark, dir,
      java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), format = "json",
      grace = Some(3600_000L))
    val t3 = cache.table()
    assert(!(t3 eq t2), "manifest commit must flip the stamp")
    assert(t3.count() == 1)
    assert(t3.select("value").as[Double].head() == 2.0)

    // and the memo invalidates across both flip kinds
    var calls = 0
    def render(): String = cache.render("k") { df =>
      calls += 1; df.count().toString
    }
    assert(render() == "1" && render() == "1" && calls == 1)
    Collector.writeBatch(batch("2024-01-03 05:00:00", 3.0), 2L, dir, "json")
    assert(render() == "2" && calls == 2)
  }
}
