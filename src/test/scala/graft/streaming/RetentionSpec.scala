package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Retention partition-drop semantics (reference index.js:269-282 →
  * SURVEY.md §3.3): whole days before the cutoff vanish without reading
  * data; the edge day is rewritten to sub-day precision; rows at/after the
  * cutoff survive (reference deletes `time < cutoff` exclusively). Every
  * result is read back through [[RawStore.read]], the store's read
  * contract.
  */
class RetentionSpec extends SparkSpec {

  /** The table as readers see it: resolved through the manifest. */
  private def store(dir: String) = RawStore.read(spark, dir,
    "series STRING, ts TIMESTAMP, value DOUBLE, p_date DATE", "parquet")

  test("drops whole partitions before cutoff, rewrites the edge day") {
    import spark.implicits._
    val dir = Files.createTempDirectory("retention").toString
    val rows = Seq(
      ("cpu", Timestamp.valueOf("2024-01-01 05:00:00"), 1.0),
      ("cpu", Timestamp.valueOf("2024-01-02 05:00:00"), 2.0),
      ("cpu", Timestamp.valueOf("2024-01-03 05:00:00"), 3.0), // edge: before cutoff time
      ("cpu", Timestamp.valueOf("2024-01-03 18:00:00"), 4.0), // edge: after cutoff time
      ("cpu", Timestamp.valueOf("2024-01-04 05:00:00"), 5.0)
    ).toDF("series", "ts", "value")
      .withColumn("p_date", to_date(col("ts")))
    rows.write.mode("overwrite").partitionBy("p_date").parquet(dir)

    val (dropped, rewritten) =
      Retention.enforce(spark, dir, Timestamp.valueOf("2024-01-03 12:00:00"),
        "parquet")
    assert(dropped == 2)   // 01-01, 01-02 gone without a read
    assert(rewritten == 1) // 01-03 filtered to ts >= cutoff

    val left = store(dir).select("value")
      .as[Double].collect().sorted.toSeq
    assert(left == Seq(4.0, 5.0))
  }

  test("per-series cutoffs: short-retention series expires while long survives") {
    import spark.implicits._
    val dir = Files.createTempDirectory("retention3").toString
    val rows = Seq(
      // cpu retains from 01-03 12:00; mem retains everything from 01-01
      ("cpu", Timestamp.valueOf("2024-01-01 05:00:00"), 1.0),
      ("mem", Timestamp.valueOf("2024-01-01 05:00:00"), 10.0),
      ("cpu", Timestamp.valueOf("2024-01-02 05:00:00"), 2.0),
      ("mem", Timestamp.valueOf("2024-01-02 05:00:00"), 20.0),
      ("cpu", Timestamp.valueOf("2024-01-03 05:00:00"), 3.0),  // before cpu cutoff time
      ("cpu", Timestamp.valueOf("2024-01-03 18:00:00"), 4.0),  // after cpu cutoff time
      ("mem", Timestamp.valueOf("2024-01-03 05:00:00"), 30.0),
      ("gpu", Timestamp.valueOf("2024-01-01 05:00:00"), 99.0)  // no policy: kept
    ).toDF("series", "ts", "value")
      .withColumn("p_date", to_date(col("ts")))
    rows.write.mode("overwrite").partitionBy("p_date").parquet(dir)

    val (dropped, rewritten) = Retention.enforcePerSeries(spark, dir, Map(
      "cpu" -> Timestamp.valueOf("2024-01-03 12:00:00"),
      "mem" -> Timestamp.valueOf("2024-01-01 00:00:00")), "parquet")
    // no day is before EVERY cutoff (mem keeps from 01-01) → no drops;
    // days 01-01..01-03 rewritten with the per-series predicate
    assert(dropped == 0 && rewritten == 3)
    val left = store(dir)
      .select("series", "value").as[(String, Double)].collect().toSet
    assert(left == Set(("cpu", 4.0),
      ("mem", 10.0), ("mem", 20.0), ("mem", 30.0), ("gpu", 99.0)))
  }

  test("per-series cutoffs: days before every cutoff drop without a read") {
    import spark.implicits._
    val dir = Files.createTempDirectory("retention4").toString
    Seq(("cpu", Timestamp.valueOf("2024-01-01 05:00:00"), 1.0),
      ("mem", Timestamp.valueOf("2024-01-01 06:00:00"), 2.0),
      ("cpu", Timestamp.valueOf("2024-01-05 05:00:00"), 3.0),
      ("mem", Timestamp.valueOf("2024-01-05 06:00:00"), 4.0))
      .toDF("series", "ts", "value")
      .withColumn("p_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("p_date").parquet(dir)
    val (dropped, rewritten) = Retention.enforcePerSeries(spark, dir, Map(
      "cpu" -> Timestamp.valueOf("2024-01-04 00:00:00"),
      "mem" -> Timestamp.valueOf("2024-01-03 00:00:00")), "parquet",
      allSeries = Set("cpu", "mem"))
    // 01-01 is before both cutoffs AND the inventory proves every series
    // has a policy → metadata drop; 01-05 is at/after the latest cutoff's
    // midnight → untouched
    assert(dropped == 1 && rewritten == 0)
    val left = store(dir).select("value").as[Double].collect().sorted.toSeq
    assert(left == Seq(3.0, 4.0))
  }

  test("no-policy series in a day older than every cutoff is kept, not dropped") {
    import spark.implicits._
    val dir = Files.createTempDirectory("retention5").toString
    Seq(("cpu", Timestamp.valueOf("2024-01-01 05:00:00"), 1.0),
      ("gpu", Timestamp.valueOf("2024-01-01 06:00:00"), 99.0), // no policy
      ("cpu", Timestamp.valueOf("2024-01-05 05:00:00"), 3.0))
      .toDF("series", "ts", "value")
      .withColumn("p_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("p_date").parquet(dir)
    // no allSeries inventory → the cutoff map can't be proven complete, so
    // 01-01 must go through the per-series rewrite (keeping gpu) rather
    // than a wholesale drop
    val (dropped, rewritten) = Retention.enforcePerSeries(spark, dir, Map(
      "cpu" -> Timestamp.valueOf("2024-01-04 00:00:00")), "parquet")
    assert(dropped == 0 && rewritten == 1)
    val left = store(dir)
      .select("series", "value").as[(String, Double)].collect().toSet
    assert(left == Set(("gpu", 99.0), ("cpu", 3.0)))
  }

  test("cutoff days follow the session time zone, not the JVM's") {
    import spark.implicits._
    def utc(s: String) = Timestamp.from(java.time.Instant.parse(s))
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "Asia/Tokyo") // UTC+9: p_date runs ahead of UTC
    try {
      // cutoff 2024-01-02T20:00Z is 2024-01-03 05:00 in Tokyo
      val cutoff = utc("2024-01-02T20:00:00Z")
      val runs = Seq[String => (Int, Int)](
        Retention.enforce(spark, _, cutoff, "parquet"),
        Retention.enforcePerSeries(spark, _, Map("cpu" -> cutoff), "parquet",
          allSeries = Set("cpu")))
      for (run <- runs) {
        val dir = Files.createTempDirectory("retention_tz").toString
        Seq(("cpu", utc("2024-01-01T20:00:00Z"), 1.0), // Tokyo 01-02 05:00
          ("cpu", utc("2024-01-02T16:00:00Z"), 2.0),   // Tokyo 01-03 01:00
          ("cpu", utc("2024-01-02T21:00:00Z"), 3.0),   // Tokyo 01-03 06:00
          ("cpu", utc("2024-01-03T16:00:00Z"), 4.0))   // Tokyo 01-04 01:00
          .toDF("series", "ts", "value")
          .withColumn("p_date", to_date(col("ts")))
          .write.mode("overwrite").partitionBy("p_date").parquet(dir)
        // Tokyo 01-02 drops whole; 01-03 is the edge day and loses the
        // 01:00 row; 01-04 is untouched
        assert(run(dir) == ((1, 1)))
        val left = store(dir).select("value").as[Double].collect().sorted.toSeq
        assert(left == Seq(3.0, 4.0))
      }
    } finally spark.conf.set(key, saved)
  }

  test("midnight cutoff needs no edge rewrite (pure partition drop)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("retention2").toString
    Seq(("cpu", Timestamp.valueOf("2024-01-01 05:00:00"), 1.0),
      ("cpu", Timestamp.valueOf("2024-01-02 05:00:00"), 2.0))
      .toDF("series", "ts", "value")
      .withColumn("p_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("p_date").parquet(dir)
    val (dropped, rewritten) =
      Retention.enforce(spark, dir, Timestamp.valueOf("2024-01-02 00:00:00"),
        "parquet")
    assert(dropped == 1 && rewritten == 0)
    val left = store(dir).select("value").as[Double].collect().toSeq
    assert(left == Seq(2.0))
  }
}
