package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import graft.SparkSpec
import graft.serve.Grafana
import graft.serve.Grafana.{QueryRequest, Target, TimeRange}

/** End-to-end lifecycle of the reference system, Spark-native: drop-dir
  * ingest through the streaming collector → per-series retention →
  * catalog + Grafana query over the surviving store. This is the whole
  * reference application (collect index.js:225-284, retain
  * index.js:269-282, serve index.js:64-155) exercised as one flow on one
  * store.
  */
class LifecycleSpec extends SparkSpec {

  test("collect → retain per series → serve") {
    val dropDir = Files.createTempDirectory("lc_drop").toString
    val sinkDir = Files.createTempDirectory("lc_sink").toString
    val ckpt = Files.createTempDirectory("lc_ckpt").toString

    // 1. INGEST: raw samples across three days and two series (+ one
    // invalid payload that the validity filter must drop)
    Files.writeString(Paths.get(s"$dropDir/samples.json"),
      """{"series":"cpu","ts":"2024-01-01T06:00:00.000Z","body":"{\"count\": 1}"}
        |{"series":"cpu","ts":"2024-01-02T06:00:00.000Z","body":"{\"count\": 2}"}
        |{"series":"cpu","ts":"2024-01-03T06:00:00.000Z","body":"{\"count\": 3}"}
        |{"series":"mem","ts":"2024-01-01T06:00:00.000Z","body":"{\"count\": 10}"}
        |{"series":"mem","ts":"2024-01-03T06:00:00.000Z","body":"{\"count\": 30}"}
        |{"series":"mem","ts":"2024-01-03T07:00:00.000Z","body":"not json"}
        |""".stripMargin)
    val q = Collector.startFromDropDir(spark, dropDir, sinkDir, ckpt, "json")
    try q.processAllAvailable() finally q.stop()

    def store = RawStore.read(spark, sinkDir,
      "series STRING, ts TIMESTAMP, value DOUBLE, p_date DATE, batch_id BIGINT", "json")
    assert(store.count() == 5) // invalid payload never ingested

    // 2. RETAIN: cpu keeps 2 days (cutoff 01-02), mem keeps everything
    val (dropped, rewritten) = Retention.enforcePerSeries(spark, sinkDir, Map(
      "cpu" -> Timestamp.valueOf("2024-01-02 00:00:00"),
      "mem" -> Timestamp.valueOf("2024-01-01 00:00:00")), format = "json")
    assert(dropped == 0 && rewritten == 1) // 01-01 keeps mem, loses cpu
    assert(store.count() == 4)

    // 3. SERVE: catalog still lists both series; the Grafana query sees
    // exactly the surviving points in time order
    assert(Grafana.search(store) == Seq("cpu", "mem"))
    val json = Grafana.query(store, QueryRequest(
      Seq(Target("cpu", "timeseries"), Target("mem", "timeseries")),
      TimeRange("2024-01-01 00:00:00", "2024-01-04 00:00:00"), 100))
    assert(json ==
      """[{"target":"cpu","datapoints":[[2,1704175200000],[3,1704261600000]]},""" +
        """{"target":"mem","datapoints":[[10,1704088800000],[30,1704261600000]]}]""")
  }
}
