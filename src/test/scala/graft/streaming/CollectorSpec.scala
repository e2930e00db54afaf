package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Collector write-path tests (SURVEY.md §5.2.5): extraction + validity
  * semantics, the streaming pipeline end-to-end over MemoryStream, and
  * watermark late-row dropping (the q74 streaming contract).
  */
class CollectorSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("transform extracts value and drops invalid payloads (ref §1.4.9)") {
    import spark.implicits._
    val raw = Seq(
      ("cpu", ts("2024-01-01 00:00:00"), """{"count": 42.5}"""),
      ("cpu", ts("2024-01-01 00:00:01"), """{"count": null}"""),    // null value
      ("cpu", ts("2024-01-01 00:00:02"), """not json at all"""),    // parse error
      ("cpu", ts("2024-01-01 00:00:03"), """{"other": 1}"""),       // missing field
      ("mem", ts("2024-01-01 00:00:04"), """{"count": 7}"""),
      // under ANSI mode a plain CAST of these two throws and fails the batch
      ("cpu", ts("2024-01-01 00:00:05"), """{"count": "abc"}"""),   // non-numeric
      ("cpu", ts("2024-01-01 00:00:06"), """{"count": 1e400}"""),   // overflows
      // these two parse to non-finite doubles, which have no JSON form
      ("cpu", ts("2024-01-01 00:00:07"), """{"count": "NaN"}"""),
      ("cpu", ts("2024-01-01 00:00:08"), """{"count": "Infinity"}""")
    ).toDF("series", "ts", "body")
    val out = Collector.transform(raw).orderBy("ts").collect()
    assert(out.length == 2)
    assert(out(0).getAs[String]("series") == "cpu" && out(0).getAs[Double]("value") == 42.5)
    assert(out(1).getAs[String]("series") == "mem" && out(1).getAs[Double]("value") == 7.0)
    assert(out(0).getAs[java.sql.Date]("p_date").toString == "2024-01-01")
  }

  test("per-source transformResponse: two sources, two payload shapes (R2)") {
    import spark.implicits._
    // cpu scrapes {"count": N} (default); mem scrapes a nested field —
    // the reference's per-proxy transformResponse (config.js.dist:25-35)
    val raw = Seq(
      ("cpu", ts("2024-01-01 00:00:00"), """{"count": 42.5}"""),
      ("mem", ts("2024-01-01 00:00:01"), """{"data": {"used_pct": 63.2}}"""),
      ("mem", ts("2024-01-01 00:00:02"), """{"count": 9}""") // wrong shape for mem
    ).toDF("series", "ts", "body")
    val out = Collector.transform(raw, Map(
      "mem" -> "TRY_CAST(get_json_object(body, '$.data.used_pct') AS DOUBLE)"))
      .orderBy("ts").collect()
    assert(out.length == 2) // mem's wrong-shape payload fails ITS extractor
    assert(out(0).getAs[String]("series") == "cpu" && out(0).getAs[Double]("value") == 42.5)
    assert(out(1).getAs[String]("series") == "mem" && out(1).getAs[Double]("value") == 63.2)
  }

  test("streaming collector pipeline appends via foreachBatch (R1-R5)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, String)]
    val sink = new java.util.concurrent.atomic.AtomicLong(0)
    val collected = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val q = Collector.transform(
        input.toDF().toDF("series", "ts", "body"))
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect()
        sink.addAndGet(rows.length)
        collected.synchronized {
          collected ++= rows.map(r => (r.getAs[String]("series"), r.getAs[Double]("value")))
        }
        ()
      }
      .start()
    try {
      input.addData(
        ("cpu", ts("2024-01-01 10:00:00"), """{"count": 1}"""),
        ("cpu", ts("2024-01-01 10:00:01"), """bad"""),
        ("mem", ts("2024-01-01 10:00:02"), """{"count": 2}"""))
      q.processAllAvailable()
      assert(sink.get() == 2)
      assert(collected.toSet == Set(("cpu", 1.0), ("mem", 2.0)))
    } finally q.stop()
  }

  test("polling collector lands each active source on its own cadence (ref index.js:225-284)") {
    import spark.implicits._
    val sinkDir = java.nio.file.Files.createTempDirectory("sink_poll").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_poll").toString
    val sources = Seq(
      Collector.SourceConfig("every1", active = true, intervalS = 1,
        retainS = 3600, url = "http://agent-a/stats"),
      Collector.SourceConfig("every2", active = true, intervalS = 2,
        retainS = 3600, url = "http://agent-b/stats",
        valueExpr = "TRY_CAST(get_json_object(body, '$.count') AS DOUBLE) + 1000"),
      Collector.SourceConfig("off", active = false, intervalS = 1,
        retainS = 3600, url = "http://agent-c/stats"))
    val q = Collector.start(spark, sources, sinkDir, ckpt, "json")
    try {
      // one rate row per wall-clock second; wait for six ticks
      val deadline = System.currentTimeMillis() + 60000
      while (q.recentProgress.map(_.numInputRows).sum < 6 &&
          System.currentTimeMillis() < deadline) {
        assert(q.exception.isEmpty, q.exception.toString)
        Thread.sleep(200)
      }
    } finally q.stop()
    val out = spark.read
      .schema("series STRING, ts TIMESTAMP, value DOUBLE, p_date DATE")
      .json(sinkDir)
      .select(col("series"), unix_seconds(col("ts")), col("value"))
      .as[(String, Long, Double)].collect().toSeq
    // the count the stand-in fetch reports for a url
    def fetched(url: String) =
      "[0-9.]+".r.findFirstIn(Collector.defaultFetch(url)).get.toDouble
    val bySeries = out.groupBy(_._1)
    val n1 = bySeries.getOrElse("every1", Nil).size
    val evens = bySeries.getOrElse("every2", Nil)
    assert(n1 >= 6, s"the 1 s source landed only $n1 samples")
    // the 2 s source is due on every other tick, and only on even seconds
    assert(evens.size >= n1 / 2 - 1 && evens.size <= n1 / 2 + 1,
      s"2 s source landed ${evens.size} samples against $n1 for the 1 s source")
    assert(evens.forall(_._2 % 2 == 0), s"2 s source landed on odd seconds: $evens")
    assert(!bySeries.contains("off"), "an inactive source landed samples")
    // the default extractor for every1, the custom one for every2
    assert(bySeries("every1").forall(_._3 == fetched("http://agent-a/stats")))
    assert(evens.forall(_._3 == fetched("http://agent-b/stats") + 1000))
  }

  test("drop-dir file source collects and partitions by date (R1 file variant)") {
    import spark.implicits._
    val dropDir = java.nio.file.Files.createTempDirectory("drop").toString
    val sinkDir = java.nio.file.Files.createTempDirectory("sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dropDir/batch1.json"),
      """{"series":"cpu","ts":"2024-01-01T10:00:00.000Z","body":"{\"count\": 5}"}
        |{"series":"cpu","ts":"2024-01-02T10:00:00.000Z","body":"{\"count\": 7}"}
        |{"series":"bad","ts":"2024-01-01T10:00:00.000Z","body":"nope"}
        |""".stripMargin)
    val q = Collector.startFromDropDir(spark, dropDir, sinkDir, ckpt, "json")
    try q.processAllAvailable() finally q.stop()
    val out = spark.read
      .schema("series STRING, ts TIMESTAMP, value DOUBLE, p_date DATE")
      .json(sinkDir)
    assert(out.count() == 2) // invalid body dropped
    val days = out.select(col("p_date").cast("string")).as[String].collect().sorted
    assert(days.toSeq == Seq("2024-01-01", "2024-01-02"))
    assert(new java.io.File(s"$sinkDir/p_date=2024-01-01").exists())
  }

  test("drop-dir ingest dedups re-delivered samples within the watermark") {
    import spark.implicits._
    val dropDir = java.nio.file.Files.createTempDirectory("drop_dd").toString
    val sinkDir = java.nio.file.Files.createTempDirectory("sink_dd").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_dd").toString
    // a flaky agent re-drops the SAME (series, ts) sample in a NEW file —
    // invisible to source offsets, caught only by sample-level dedup
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dropDir/a.json"),
      """{"series":"cpu","ts":"2024-01-01T10:00:00.000Z","body":"{\"count\": 5}"}
        |{"series":"cpu","ts":"2024-01-01T10:01:00.000Z","body":"{\"count\": 6}"}
        |""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dropDir/a_retry.json"),
      """{"series":"cpu","ts":"2024-01-01T10:00:00.000Z","body":"{\"count\": 5}"}
        |""".stripMargin)
    val q = Collector.startFromDropDir(spark, dropDir, sinkDir, ckpt, "json",
      dedupWithin = Some("1 hour"))
    try q.processAllAvailable() finally q.stop()
    val vals = spark.read
      .schema("series STRING, ts TIMESTAMP, value DOUBLE, p_date DATE")
      .json(sinkDir)
      .select(col("value")).as[Double].collect().sorted.toSeq
    assert(vals == Seq(5.0, 6.0)) // the re-dropped sample ingested once
  }

  test("sink batch replay is idempotent (exactly-once, not at-least-once)") {
    import spark.implicits._
    val sinkDir = java.nio.file.Files.createTempDirectory("sink_idem").toString
    val batch = Seq(("cpu", ts("2024-01-01 10:00:00"), 1.0))
      .toDF("series", "ts", "value").withColumn("p_date", to_date(col("ts")))
    Collector.writeBatch(batch, 0L, sinkDir, "json")
    Collector.writeBatch(batch, 0L, sinkDir, "json") // replay after a simulated crash
    Collector.writeBatch(batch, 1L, sinkDir, "json") // a genuinely new batch
    val n = spark.read.json(sinkDir).count()
    assert(n == 2) // the replay overwrote its own batch partition
  }

  test("parquet sink: replay-idempotent and readable through RawStore") {
    import spark.implicits._
    // the at-scale sink is columnar; the exactly-once contract (dynamic
    // partition overwrite keyed by batch_id) must be format-independent,
    // and the store layer must read it back without a format seam
    val sinkDir = java.nio.file.Files.createTempDirectory("sink_pq").toString
    val batch = Seq(("cpu", ts("2024-01-01 10:00:00"), 1.0))
      .toDF("series", "ts", "value").withColumn("p_date", to_date(col("ts")))
    Collector.writeBatch(batch, 0L, sinkDir, format = "parquet")
    Collector.writeBatch(batch, 0L, sinkDir, format = "parquet") // crash replay
    Collector.writeBatch(batch, 1L, sinkDir, format = "parquet")
    val schema = "series STRING, ts TIMESTAMP, value DOUBLE, p_date DATE, batch_id BIGINT"
    val got = RawStore.read(spark, sinkDir, schema, "parquet")
    assert(got.count() == 2) // replay overwrote its own batch partition
    // parquet preserves the TIMESTAMP type physically (json re-infers it);
    // value survives as DOUBLE, the partition columns come back typed
    assert(got.schema("ts").dataType.typeName == "timestamp")
    assert(got.select(col("value")).as[Double].collect().toSeq == Seq(1.0, 1.0))
  }

  test("collector restart resumes from checkpoint without loss or duplication") {
    import spark.implicits._
    val dropDir = java.nio.file.Files.createTempDirectory("drop_r").toString
    val sinkDir = java.nio.file.Files.createTempDirectory("sink_r").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_r").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dropDir/a.json"),
      """{"series":"cpu","ts":"2024-01-01T10:00:00.000Z","body":"{\"count\": 1}"}
        |{"series":"cpu","ts":"2024-01-01T11:00:00.000Z","body":"{\"count\": 2}"}
        |""".stripMargin)
    val q1 = Collector.startFromDropDir(spark, dropDir, sinkDir, ckpt, "json")
    try q1.processAllAvailable() finally q1.stop()
    // second batch arrives while the collector is DOWN
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dropDir/b.json"),
      """{"series":"cpu","ts":"2024-01-02T10:00:00.000Z","body":"{\"count\": 3}"}
        |""".stripMargin)
    val q2 = Collector.startFromDropDir(spark, dropDir, sinkDir, ckpt, "json")
    try q2.processAllAvailable() finally q2.stop()
    val vals = spark.read.json(sinkDir)
      .select(col("value").cast("double")).as[Double].collect().sorted.toSeq
    // file a NOT re-ingested after restart (checkpointed offsets), file b
    // picked up exactly once
    assert(vals == Seq(1.0, 2.0, 3.0))
  }

  test("end-to-end chain: drop-dir ingest → metrics table → serving reads") {
    import spark.implicits._
    // the full reference dataflow in one test: agent drops samples →
    // collector ingests/validates/partitions → the sink IS the metrics
    // table → /search catalog + /query range scan + downsampled serve
    // (the q01/q48 semantics through the serving layer)
    val dropDir = java.nio.file.Files.createTempDirectory("drop_e2e").toString
    val sinkDir = java.nio.file.Files.createTempDirectory("sink_e2e").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_e2e").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dropDir/a.json"),
      """{"series":"cpu","ts":"2024-01-01T10:00:00.000Z","body":"{\"count\": 1}"}
        |{"series":"cpu","ts":"2024-01-01T10:05:00.000Z","body":"{\"count\": 3}"}
        |{"series":"cpu","ts":"2024-01-01T11:00:00.000Z","body":"{\"count\": 9}"}
        |{"series":"mem","ts":"2024-01-01T10:02:00.000Z","body":"{\"count\": 5}"}
        |{"series":"cpu","ts":"2024-01-01T10:03:00.000Z","body":"broken"}
        |""".stripMargin)
    val q = Collector.startFromDropDir(spark, dropDir, sinkDir, ckpt, "json")
    try q.processAllAvailable() finally q.stop()
    val metrics = spark.read
      .schema("series STRING, ts TIMESTAMP, value DOUBLE, p_date DATE")
      .json(sinkDir)
    // /search: the catalog lists exactly the ingested series
    assert(graft.serve.Grafana.search(metrics) == Seq("cpu", "mem"))
    // /query (q01 shape): range-scan slice of cpu, value-first datapoints,
    // epoch-ms time, in time order; the invalid sample never made it in
    val body = graft.serve.Grafana.query(metrics,
      graft.serve.Grafana.QueryRequest(
        Seq(graft.serve.Grafana.Target("cpu", "timeseries")),
        graft.serve.Grafana.TimeRange("2024-01-01T10:00:00", "2024-01-01T10:30:00"),
        maxDataPoints = 100))
    assert(body ==
      """[{"target":"cpu","datapoints":[[1,1704103200000],[3,1704103500000]]}]""")
    // downsampled /query (q48 shape): one 30-min bucket averaging the two
    // cpu samples in range — (1+3)/2
    val ds = graft.serve.Grafana.queryDownsampled(metrics,
      graft.serve.Grafana.QueryRequest(
        Seq(graft.serve.Grafana.Target("cpu", "timeseries")),
        graft.serve.Grafana.TimeRange("2024-01-01T10:00:00", "2024-01-01T10:30:00"),
        maxDataPoints = 1))
    assert(ds == """[{"target":"cpu","datapoints":[[2,1704103200000]]}]""")
  }

  test("watermarked aggregation drops late rows beyond 10 minutes (q74)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Double)]
    val metrics = input.toDF().toDF("series", "ts", "value")
    val q = Collector.watermarkedCounts(metrics)
      .select(col("window.start").as("ws"), col("series"), col("cnt"))
      .writeStream.outputMode("append")
      .format("memory").queryName("wm_out")
      .start()
    try {
      // two on-time rows in [10:00, 10:10)
      input.addData(("cpu", ts("2024-01-01 10:00:30"), 1.0),
        ("cpu", ts("2024-01-01 10:05:00"), 1.0))
      q.processAllAvailable()
      // advance event time: watermark → 10:15, finalizing [10:00,10:10)
      input.addData(("cpu", ts("2024-01-01 10:25:00"), 1.0))
      q.processAllAvailable()
      // late row for the finalized window: must be dropped, not revise cnt
      input.addData(("cpu", ts("2024-01-01 10:01:00"), 99.0))
      q.processAllAvailable()
      // advance far enough to also close [10:20,10:30)
      input.addData(("cpu", ts("2024-01-01 11:00:00"), 1.0))
      q.processAllAvailable()
      val out = spark.table("wm_out")
        .select(col("ws").cast("string"), col("series"), col("cnt"))
        .as[(String, String, Long)].collect()
        .map { case (w, _, c) => w -> c }.toMap
      // [10:00,10:10) finalized with exactly the 2 on-time rows; the late
      // 10:01 row (beyond the 10-minute watermark) was dropped, and the
      // finalized window was emitted exactly once.
      assert(out.get("2024-01-01 10:00:00") === Some(2L))
      // [10:20,10:30) closed with its single row
      assert(out.get("2024-01-01 10:20:00") === Some(1L))
    } finally q.stop()
    ()
  }
}
