package graft.serve

import java.sql.Timestamp
import graft.SparkSpec
import graft.serve.Grafana._

/** Golden JSON tests for the Grafana protocol shapes (SURVEY.md §5.2.4,
  * fixtures FIXTURES.md §3; shapes per reference index.js:121-150), plus
  * the reference-quirk fixes of SURVEY.md §1.4: unknown target ⇒ empty
  * (not crash), multiple table targets concatenate (not last-wins).
  */
class GrafanaSpec extends SparkSpec {

  private def metrics = {
    import spark.implicits._
    Seq(
      ("purchase", Timestamp.valueOf("2024-01-05 00:00:01"), 9.5),
      ("purchase", Timestamp.valueOf("2024-01-05 00:00:02"), 12.0),
      ("click", Timestamp.valueOf("2024-01-05 00:00:03"), 3.5),
      ("view", Timestamp.valueOf("2024-01-20 00:00:00"), 1.0) // outside range
    ).toDF("series", "ts", "value")
  }

  private val range = TimeRange("2024-01-05 00:00:00", "2024-01-10 00:00:00")

  test("search lists distinct series (ref /search, index.js:74-84)") {
    assert(Grafana.search(metrics) == Seq("click", "purchase", "view"))
  }

  test("timeseries response: value first, epoch-ms second (index.js:121-129)") {
    val json = Grafana.query(metrics,
      QueryRequest(Seq(Target("purchase", "timeseries")), range, 100))
    assert(json ==
      """[{"target":"purchase","datapoints":[[9.5,1704412801000],[12,1704412802000]]}]""")
  }

  test("table response: fixed 3-column schema (index.js:140-150)") {
    val json = Grafana.query(metrics,
      QueryRequest(Seq(Target("click", "table")), range, 100))
    assert(json ==
      """[{"columns":[{"text":"Target","type":"string"},{"text":"Value","type":"number"},{"text":"Time","type":"time"}],"rows":[["click",3.5,1704412803000]],"type":"table"}]""")
  }

  test("maxDataPoints truncates after explicit time order (§1.4.6-7)") {
    val json = Grafana.query(metrics,
      QueryRequest(Seq(Target("purchase", "timeseries")), range, 1))
    assert(json ==
      """[{"target":"purchase","datapoints":[[9.5,1704412801000]]}]""")
  }

  test("unknown target yields empty datapoints, not a crash (fixes §1.4.1)") {
    val json = Grafana.query(metrics,
      QueryRequest(Seq(Target("nope", "timeseries")), range, 100))
    assert(json == """[{"target":"nope","datapoints":[]}]""")
  }

  test("multiple table targets concatenate, not last-wins (fixes §1.4.3)") {
    val json = Grafana.query(metrics,
      QueryRequest(Seq(Target("purchase", "table"), Target("click", "table")),
        range, 100))
    assert(json.contains(""""rows":[["purchase",9.5,1704412801000],["purchase",12,1704412802000],["click",3.5,1704412803000]]"""))
    // exactly ONE table object
    assert(json.split("\"type\":\"table\"").length == 2)
  }

  test("mixed targets: timeseries objects then one table (index.js:125-150)") {
    val json = Grafana.query(metrics,
      QueryRequest(Seq(Target("purchase", "timeseries"), Target("click", "table")),
        range, 100))
    assert(json.startsWith("""[{"target":"purchase""""))
    assert(json.contains(""""type":"table""""))
  }

  test("downsampled query emits at most maxDataPoints bucket averages") {
    import spark.implicits._
    // 10 points over 10 s, ask for 2 buckets of 5 s
    val m = (0 until 10).map(i =>
      ("cpu", Timestamp.valueOf(s"2024-01-05 00:00:0$i"), i.toDouble))
      .toDF("series", "ts", "value")
    val json = Grafana.queryDownsampled(m,
      QueryRequest(Seq(Target("cpu", "timeseries")),
        TimeRange("2024-01-05 00:00:00", "2024-01-05 00:00:10"), 2))
    // bucket 0: avg(0..4)=2, bucket 1: avg(5..9)=7
    assert(json ==
      """[{"target":"cpu","datapoints":[[2,1704412800000],[7,1704412805000]]}]""")
  }

  test("downsampled query never exceeds maxDataPoints buckets (edge spans)") {
    import spark.implicits._
    // 12 points over an 11 s inclusive span with maxDataPoints=2: floor
    // division would yield a third bucket; ceiling+clamp must not
    val m = (0 to 11).map(i =>
      ("cpu", Timestamp.valueOf(f"2024-01-05 00:00:$i%02d"), i.toDouble))
      .toDF("series", "ts", "value")
    val json = Grafana.queryDownsampled(m,
      QueryRequest(Seq(Target("cpu", "timeseries")),
        TimeRange("2024-01-05 00:00:00", "2024-01-05 00:00:11"), 2))
    val buckets = json.split("\\[\\[|\\],\\[").length - 1
    assert(buckets <= 2, s"got $buckets buckets: $json")
    // the row at exactly `to` is clamped into the last bucket, not lost
    assert(json.contains("datapoints") && json.split(",1704412").length - 1 == 2)
  }

  test("downsampled query skips null values instead of NPEing") {
    import spark.implicits._
    val m = Seq(
      ("cpu", Timestamp.valueOf("2024-01-05 00:00:01"), Some(1.0)),
      ("cpu", Timestamp.valueOf("2024-01-05 00:00:02"), None))
      .toDF("series", "ts", "value")
    val json = Grafana.queryDownsampled(m,
      QueryRequest(Seq(Target("cpu", "timeseries")), range, 10))
    // one surviving point, reported at its bucket's start time
    assert(json == """[{"target":"cpu","datapoints":[[1,1704412800000]]}]""")
  }

  test("downsampled bucket times use the session time zone, like the range") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    val warsaw = spark.newSession()
    warsaw.conf.set("spark.sql.session.timeZone", "Europe/Warsaw")
    import warsaw.implicits._
    // 00:05 Warsaw time, parsed in the session zone like the range bounds
    val m = Seq(("cpu", "2024-01-01 00:05:00", 1.0)).toDF("series", "local", "value")
      .select(col("series"), to_timestamp(col("local")).as("ts"), col("value"))
    // 7 buckets of 514286 ms: a shifted origin is no bucket-width multiple
    val json = Grafana.queryDownsampled(m, QueryRequest(Seq(Target("cpu", "timeseries")),
      TimeRange("2024-01-01 00:00:00", "2024-01-01 01:00:00"), 7))
    val fromMs = java.time.LocalDateTime.parse("2024-01-01T00:00:00")
      .atZone(java.time.ZoneId.of("Europe/Warsaw")).toInstant.toEpochMilli
    assert(fromMs == 1704063600000L)
    assert(json == s"""[{"target":"cpu","datapoints":[[1,$fromMs]]}]""")
  }

  test("multi-target query: request order preserved, unknown answers empty (golden)") {
    val json = Grafana.query(metrics,
      QueryRequest(Seq(Target("click", "timeseries"), Target("purchase", "timeseries"),
        Target("nope", "timeseries"), Target("click", "table")), range, 100))
    // request order (click before purchase despite catalog order), the
    // unknown target's empty shape, then the single table — the exact
    // bytes the per-target loop produced before the single-scan rewrite
    assert(json ==
      """[{"target":"click","datapoints":[[3.5,1704412803000]]},""" +
      """{"target":"purchase","datapoints":[[9.5,1704412801000],[12,1704412802000]]},""" +
      """{"target":"nope","datapoints":[]},""" +
      """{"columns":[{"text":"Target","type":"string"},{"text":"Value","type":"number"},{"text":"Time","type":"time"}],"rows":[["click",3.5,1704412803000]],"type":"table"}]""")
  }

  test("multi-target query reads the source once, not once per target") {
    import org.apache.spark.sql.functions.{col, udf}
    // count source-row evaluations through a pushdown-proof udf: the
    // per-target loop evaluated every row once per target (SURVEY §3.1's
    // R9 complaint about reference index.js:97-112); the single-scan
    // form must touch each row exactly once for the whole request
    val acc = spark.sparkContext.longAccumulator("grafana-scanned-rows")
    val tap = udf { (_: String) => acc.add(1); true }
    val tapped = metrics.filter(tap(col("series")))
    Grafana.query(tapped,
      QueryRequest(Seq(Target("purchase", "timeseries"), Target("click", "timeseries"),
        Target("view", "timeseries")), range, 100))
    assert(acc.value == metrics.count(),
      s"source rows evaluated ${acc.value} times for 3 targets")
  }

  test("annotations/tag endpoints are empty stubs (index.js:159-181)") {
    assert(Grafana.annotations == "[]" && Grafana.tagKeys == "[]" &&
      Grafana.tagValues == "[]")
  }

  test("limited /query truncation plans no Window and matches the window form") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a dense frame: 7 series × 400 points, shuffled partitioning — the
    // wide-dashboard-range shape whose full volume the old row_number
    // window pushed through one exchange
    val dps = (1 to 7).flatMap { s =>
      (1 to 400).map(i => (s"s$s", (i * 37 % 1000).toDouble, 1704067200000L + i * 250L))
    }.toDF("series", "value", "t_ms").repartition(11)

    val truncated = Grafana.truncateEarliest(dps, 50)
    // the whole point: no per-series full sort — no Window in the plan
    val windows = truncated.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty, "limited truncation must not plan a window")

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series")).orderBy(col("t_ms"))
    val windowed = dps.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 50).drop("_rn")
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaDouble,
      org.apache.spark.sql.Encoders.scalaLong)
    assert(truncated.as[(String, Double, Long)](enc).collect().toSet ==
      windowed.as[(String, Double, Long)](enc).collect().toSet)
    assert(truncated.count() == 7 * 50)
  }

  test("limited /query keeps under-full series whole (limit > series size)") {
    import spark.implicits._
    val dps = Seq(("a", 1.0, 10L), ("a", 2.0, 20L), ("b", 3.0, 30L))
      .toDF("series", "value", "t_ms")
    val got = Grafana.truncateEarliest(dps, 100).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got == Set(("a", 1.0, 10L), ("a", 2.0, 20L), ("b", 3.0, 30L)))
  }
}
