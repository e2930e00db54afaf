package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Rollup maintenance: merges accumulate exactly, untouched days are
  * preserved, and a replayed batch id is recognized and skipped (the
  * exactly-once contract).
  */
class RollupSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("merge accumulates, preserves untouched days, and skips replays") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rollup").toString + "/table"

    // batch 0: two series on day 1, one on day 2
    val b0 = Seq(
      ("cpu", ts("2024-01-01 10:00:00"), 1.0),
      ("cpu", ts("2024-01-01 11:00:00"), 3.0),
      ("mem", ts("2024-01-01 10:30:00"), 5.0),
      ("cpu", ts("2024-01-02 09:00:00"), 7.0)
    ).toDF("series", "ts", "value")
    assert(Rollup.mergeBatch(spark, b0, 0L, dir))
    val r0 = spark.read.parquet(dir)
    assert(r0.count() == 3)
    val cpuDay1 = r0.filter(col("series") === "cpu" &&
      col("p_date") === lit("2024-01-01").cast("date")).head()
    assert(cpuDay1.getAs[Long]("cnt") == 2 && cpuDay1.getAs[Double]("total") == 4.0)

    // batch 1 touches ONLY day 1: cpu accumulates, day 2 must be intact
    val b1 = Seq(("cpu", ts("2024-01-01 12:00:00"), 10.0))
      .toDF("series", "ts", "value")
    assert(Rollup.mergeBatch(spark, b1, 1L, dir))
    val r1 = spark.read.parquet(dir)
    val cpu1 = r1.filter(col("series") === "cpu" &&
      col("p_date") === lit("2024-01-01").cast("date")).head()
    assert(cpu1.getAs[Long]("cnt") == 3 && cpu1.getAs[Double]("total") == 14.0 &&
      cpu1.getAs[Double]("vmax") == 10.0)
    val day2 = r1.filter(col("p_date") === lit("2024-01-02").cast("date")).head()
    assert(day2.getAs[Long]("cnt") == 1 && day2.getAs[Double]("total") == 7.0)

    // replaying batch 1 must be skipped: same id, unchanged table
    assert(!Rollup.mergeBatch(spark, b1, 1L, dir))
    val r2 = spark.read.parquet(dir)
    assert(r2.filter(col("series") === "cpu" &&
      col("p_date") === lit("2024-01-01").cast("date"))
      .head().getAs[Long]("cnt") == 3)

    // rollup answers match a raw aggregation of everything ingested —
    // BOTH directions (one-sided exceptAll would miss dropped rows)
    val raw = b0.unionByName(b1)
      .withColumn("p_date", to_date(col("ts")))
      .groupBy("series", "p_date")
      .agg(count(lit(1)).as("cnt"), sum("value").as("total"))
    val left = r2.select("series", "p_date", "cnt", "total")
    val right = raw.select("series", "p_date", "cnt", "total")
    assert(left.exceptAll(right).isEmpty && right.exceptAll(left).isEmpty)
  }

  test("null ts and null value rows are excluded from the merge") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rollup_nulls").toString + "/table"
    val b = Seq(
      ("cpu", ts("2024-01-01 10:00:00"), Some(2.0)),
      ("cpu", ts("2024-01-01 11:00:00"), None), // null value
      ("cpu", null.asInstanceOf[Timestamp], Some(9.0)) // null ts
    ).toDF("series", "ts", "value")
    assert(Rollup.mergeBatch(spark, b, 0L, dir))
    val r = spark.read.parquet(dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("cnt") == 1 && r.head.getAs[Double]("total") == 2.0)
    // an all-null batch merges nothing
    val bNull = Seq[(String, Timestamp, Option[Double])](
      ("cpu", ts("2024-01-01 12:00:00"), None))
      .toDF("series", "ts", "value")
    assert(!Rollup.mergeBatch(spark, bNull, 1L, dir))
  }

  test("partial-commit replay merges ONLY the partitions that missed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rollup_partial").toString + "/table"
    // batch 0 establishes days A and B
    val b0 = Seq(("cpu", ts("2024-01-01 10:00:00"), 1.0),
      ("cpu", ts("2024-01-02 10:00:00"), 2.0)).toDF("series", "ts", "value")
    assert(Rollup.mergeBatch(spark, b0, 0L, dir))
    // simulate batch 1's commit landing on day A only (crash before B):
    // merge a day-A-only slice of batch 1 under id 1
    val b1A = Seq(("cpu", ts("2024-01-01 11:00:00"), 10.0))
      .toDF("series", "ts", "value")
    assert(Rollup.mergeBatch(spark, b1A, 1L, dir))
    // replay of the FULL batch 1 (days A and B): A already carries id 1
    // and must stay untouched; B must merge now
    val b1Full = Seq(("cpu", ts("2024-01-01 11:00:00"), 10.0),
      ("cpu", ts("2024-01-02 11:00:00"), 20.0)).toDF("series", "ts", "value")
    assert(Rollup.mergeBatch(spark, b1Full, 1L, dir))
    val r = spark.read.parquet(dir)
    val dayA = r.filter(col("p_date") === lit("2024-01-01").cast("date")).head()
    assert(dayA.getAs[Long]("cnt") == 2 && dayA.getAs[Double]("total") == 11.0,
      "day A double-merged on replay")
    val dayB = r.filter(col("p_date") === lit("2024-01-02").cast("date")).head()
    assert(dayB.getAs[Long]("cnt") == 2 && dayB.getAs[Double]("total") == 22.0,
      "day B lost on replay")
    // full replay once more: everything already merged → no-op
    assert(!Rollup.mergeBatch(spark, b1Full, 1L, dir))
  }

  test("a checkpoint reset against an existing table is refused loudly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rollup_reset").toString + "/table"
    val b = Seq(("cpu", ts("2024-01-01 10:00:00"), 1.0))
      .toDF("series", "ts", "value")
    assert(Rollup.mergeBatch(spark, b, 5L, dir))
    val e = intercept[IllegalStateException] {
      Rollup.mergeBatch(spark, b, 0L, dir) // ids restarted below stored 5
    }
    assert(e.getMessage.contains("checkpoint was reset"))
  }

  test("rollup table serves the Grafana daily read path") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rollup_serve").toString + "/table"
    val b = Seq(
      ("cpu", ts("2024-03-01 10:00:00"), 2.0),
      ("cpu", ts("2024-03-01 14:00:00"), 4.0),
      ("cpu", ts("2024-03-02 09:00:00"), 9.0)
    ).toDF("series", "ts", "value")
    assert(Rollup.mergeBatch(spark, b, 0L, dir))
    val json = graft.serve.Grafana.queryDaily(
      spark.read.parquet(dir),
      graft.serve.Grafana.QueryRequest(
        Seq(graft.serve.Grafana.Target("cpu", "timeseries")),
        graft.serve.Grafana.TimeRange("2024-03-01 00:00:00", "2024-03-02 23:59:59"),
        maxDataPoints = 100))
    // day means: (2+4)/2 = 3 on day 1, 9 on day 2; value-first datapoints
    assert(json.contains("\"target\":\"cpu\""))
    assert(json.contains("[3,") && json.contains("[9,"))
  }

  test("hourly merge buckets per hour, accumulates, and skips replays") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rollup_hourly").toString + "/table"
    val b0 = Seq(
      ("cpu", ts("2024-03-01 10:05:00"), 2.0),
      ("cpu", ts("2024-03-01 10:35:00"), 4.0),
      ("cpu", ts("2024-03-01 11:15:00"), 9.0)
    ).toDF("series", "ts", "value")
    assert(Rollup.mergeBatchHourly(spark, b0, 0L, dir))
    val r0 = spark.read.parquet(dir)
    assert(r0.count() == 2) // two hour buckets
    val h10 = r0.filter(col("p_hour") === lit("2024-03-01 10:00:00").cast("timestamp")).head()
    assert(h10.getAs[Long]("cnt") == 2 && h10.getAs[Double]("total") == 6.0)

    // accumulate into hour 10 only; hour 11 untouched
    val b1 = Seq(("cpu", ts("2024-03-01 10:55:00"), 6.0)).toDF("series", "ts", "value")
    assert(Rollup.mergeBatchHourly(spark, b1, 1L, dir))
    val r1 = spark.read.parquet(dir)
    assert(r1.filter(col("p_hour") === lit("2024-03-01 10:00:00").cast("timestamp"))
      .head().getAs[Double]("total") == 12.0)
    assert(r1.filter(col("p_hour") === lit("2024-03-01 11:00:00").cast("timestamp"))
      .head().getAs[Double]("total") == 9.0)
    // replay recognized per partition
    assert(!Rollup.mergeBatchHourly(spark, b1, 1L, dir))
    // and a reset checkpoint still refuses loudly on the hourly table
    val e = intercept[IllegalStateException] {
      Rollup.mergeBatchHourly(spark, b1, 0L, dir)
    }
    assert(e.getMessage.contains("checkpoint was reset"))
  }

  test("rollup reads serve golden JSON for timeseries AND table shapes, daily and hourly") {
    import spark.implicits._
    def ms(iso: String) = java.time.Instant.parse(iso).toEpochMilli
    val base = Files.createTempDirectory("rollup_golden").toString
    val b = Seq(
      ("cpu", ts("2024-03-01 10:05:00"), 2.0),
      ("cpu", ts("2024-03-01 10:35:00"), 4.0),
      ("cpu", ts("2024-03-02 11:15:00"), 9.0)
    ).toDF("series", "ts", "value")
    assert(Rollup.mergeBatch(spark, b, 0L, s"$base/daily"))
    assert(Rollup.mergeBatchHourly(spark, b, 0L, s"$base/hourly"))
    val range = graft.serve.Grafana.TimeRange(
      "2024-03-01 00:00:00", "2024-03-02 23:59:59")

    // daily, both target shapes in one request: day means 3 and 9
    val daily = graft.serve.Grafana.queryDaily(
      spark.read.parquet(s"$base/daily"),
      graft.serve.Grafana.QueryRequest(
        Seq(graft.serve.Grafana.Target("cpu", "timeseries"),
          graft.serve.Grafana.Target("cpu", "table")), range, 100))
    val d1 = ms("2024-03-01T00:00:00Z")
    val d2 = ms("2024-03-02T00:00:00Z")
    assert(daily ==
      s"""[{"target":"cpu","datapoints":[[3,$d1],[9,$d2]]},""" +
      s"""{"columns":[{"text":"Target","type":"string"},{"text":"Value","type":"number"},{"text":"Time","type":"time"}],""" +
      s""""rows":[["cpu",3,$d1],["cpu",9,$d2]],"type":"table"}]""")

    // hourly: hour means 3 (10:00 day1) and 9 (11:00 day2)
    val hourly = graft.serve.Grafana.queryHourly(
      spark.read.parquet(s"$base/hourly"),
      graft.serve.Grafana.QueryRequest(
        Seq(graft.serve.Grafana.Target("cpu", "timeseries"),
          graft.serve.Grafana.Target("cpu", "table")), range, 100))
    val h1 = ms("2024-03-01T10:00:00Z")
    val h2 = ms("2024-03-02T11:00:00Z")
    assert(hourly ==
      s"""[{"target":"cpu","datapoints":[[3,$h1],[9,$h2]]},""" +
      s"""{"columns":[{"text":"Target","type":"string"},{"text":"Value","type":"number"},{"text":"Time","type":"time"}],""" +
      s""""rows":[["cpu",3,$h1],["cpu",9,$h2]],"type":"table"}]""")

    // unknown target: empty datapoints, empty table rows — not a crash
    val empty = graft.serve.Grafana.queryHourly(
      spark.read.parquet(s"$base/hourly"),
      graft.serve.Grafana.QueryRequest(
        Seq(graft.serve.Grafana.Target("nope", "timeseries"),
          graft.serve.Grafana.Target("nope", "table")), range, 100))
    assert(empty ==
      """[{"target":"nope","datapoints":[]},""" +
      """{"columns":[{"text":"Target","type":"string"},{"text":"Value","type":"number"},{"text":"Time","type":"time"}],""" +
      """"rows":[],"type":"table"}]""")
  }

  test("hourly streaming wiring maintains the table via the granularity switch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("rollup_stream_h").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Timestamp, Double)]
    val q = Rollup.startServed(spark,
      input.toDS().toDF("series", "ts", "value"),
      s"$base/table", s"$base/served", s"$base/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      granularity = "hour")
    try {
      input.addData(("cpu", ts("2024-02-01 10:10:00"), 2.0),
        ("cpu", ts("2024-02-01 10:50:00"), 4.0),
        ("cpu", ts("2024-02-01 12:00:00"), 8.0))
      q.processAllAvailable()
      val r = spark.read.parquet(s"$base/table")
      assert(r.count() == 2)
      assert(r.filter(col("p_hour") === lit("2024-02-01 10:00:00").cast("timestamp"))
        .head().getAs[Double]("total") == 6.0)
    } finally q.stop()
    intercept[IllegalArgumentException] {
      Rollup.startServed(spark, input.toDS().toDF("series", "ts", "value"),
        s"$base/t2", s"$base/s2", s"$base/c2", granularity = "minute")
    }
  }

  test("publish/servedTable: snapshot isolation — a reader's resolved " +
      "snapshot survives later merges and publishes") {
    import spark.implicits._
    val base = Files.createTempDirectory("rollup_snap").toString
    val (live, served) = (s"$base/table", s"$base/served")
    val b0 = Seq(("cpu", ts("2024-01-01 10:00:00"), 2.0))
      .toDF("series", "ts", "value")
    assert(Rollup.mergeBatch(spark, b0, 0L, live))
    val s0 = Rollup.publish(spark, live, served)
    // resolve the current snapshot NOW; its files must remain readable
    // after the next merge rewrites the live partition in place
    val reader = Rollup.servedTable(spark, served)
    val b1 = Seq(("cpu", ts("2024-01-01 11:00:00"), 3.0))
      .toDF("series", "ts", "value")
    assert(Rollup.mergeBatch(spark, b1, 1L, live))
    val s1 = Rollup.publish(spark, live, served)
    assert(s1 == s0 + 1)
    // the old plan still reads its immutable snapshot (cnt=1), while a
    // fresh resolve sees the new state (cnt=2)
    assert(reader.head().getAs[Long]("cnt") == 1L)
    assert(Rollup.servedTable(spark, served).head().getAs[Long]("cnt") == 2L)
  }

  test("publish prunes beyond the grace window, never the current snapshot") {
    import spark.implicits._
    val base = Files.createTempDirectory("rollup_snap_pr").toString
    val (live, served) = (s"$base/table", s"$base/served")
    for (i <- 0 to 4) {
      val b = Seq(("cpu", ts(s"2024-01-01 1$i:00:00"), i.toDouble))
        .toDF("series", "ts", "value")
      assert(Rollup.mergeBatch(spark, b, i.toLong, live))
      Rollup.publish(spark, live, served)
    }
    val snaps = new java.io.File(served).listFiles()
      .filter(_.getName.startsWith("snap=")).map(_.getName).sorted
    assert(snaps.toSeq == (5 - Rollup.Keep until 5).map(i => s"snap=$i"),
      s"grace window should hold exactly the ${Rollup.Keep} newest, got ${snaps.mkString(",")}")
    // current resolves to the newest and reads the full merged state
    assert(Rollup.servedTable(spark, served).head().getAs[Long]("cnt") == 5L)
    // nothing published yet elsewhere → loud failure, not an empty frame
    intercept[IllegalStateException] {
      Rollup.servedTable(spark, s"$base/empty")
    }
  }

  test("a reader racing publish resolves the old or the new snapshot, " +
      "never an error") {
    import spark.implicits._
    val base = Files.createTempDirectory("rollup_ptr_race").toString
    val (live, served) = (s"$base/table", s"$base/served")
    assert(Rollup.mergeBatch(spark,
      Seq(("cpu", ts("2024-01-01 10:00:00"), 1.0)).toDF("series", "ts", "value"),
      0L, live))
    val first = Rollup.publish(spark, live, served)
    val publishes = 25
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val reader = new Thread(() =>
      while (!done.get()) {
        try seen.add(Rollup.currentSnapshot(spark, served))
        catch { case t: Throwable => failures.add(t) }
      })
    reader.start()
    val last = try (1 to publishes).map(_ => Rollup.publish(spark, live, served)).last
    finally { done.set(true); reader.join() }
    val failed = failures.size
    assert(failed == 0, s"$failed reads failed, first: ${failures.peek()}")
    import scala.jdk.CollectionConverters._
    val ids = seen.asScala.toSeq
    assert(ids.nonEmpty && ids.forall(i => i >= first && i <= last))
    // pointers never go backwards for one reader
    assert(ids.zip(ids.drop(1)).forall { case (a, b) => a <= b })
    assert(Rollup.currentSnapshot(spark, served) == last)
  }

  test("startServed heals a lost publish on restart: a replayed batch " +
      "still snapshots the merged state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("rollup_heal").toString
    val (live, served, ckpt) = (s"$base/table", s"$base/served", s"$base/ckpt")
    def currentSnap(): Long = Rollup.currentSnapshot(spark, served)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Timestamp, Double)]
    val points = input.toDS().toDF("series", "ts", "value")
    val avail = org.apache.spark.sql.streaming.Trigger.AvailableNow()
    // data must exist BEFORE start: AvailableNow captures its end offset
    // at query start and terminates once it is reached
    input.addData(("cpu", ts("2024-03-01 10:00:00"), 2.0))
    val q1 = Rollup.startServed(spark, points, live, served, ckpt, trigger = avail)
    try q1.processAllAvailable() finally q1.stop()
    val snapBefore = currentSnap()
    // simulate a crash between merge-commit and publish: the offset WAL
    // has batch 0 but its epoch commit is gone, so restart REPLAYS it;
    // mergeBatch recognizes the replay and returns false. The post-crash
    // checkpoint is reconstructed at a fresh path (same files minus the
    // commit) because Spark's same-path concurrent-use detection trips
    // on in-place log surgery within one live session.
    val ckpt2 = s"$base/ckpt2"
    val src = java.nio.file.Paths.get(ckpt)
    Files.walk(src).forEach { p =>
      val rel = src.relativize(p).toString
      // drop the commit log's CONTENTS (entry + its .crc sidecar — a
      // stale sidecar makes the replay's commit write fail
      // FileAlreadyExists), keeping the empty dir
      if (!rel.isEmpty && !(rel.startsWith("commits/") && rel != "commits/")) {
        val dst = java.nio.file.Paths.get(ckpt2, rel)
        if (Files.isDirectory(p)) Files.createDirectories(dst)
        else { Files.createDirectories(dst.getParent); Files.copy(p, dst) }
      }
    }
    val q2 = Rollup.startServed(spark, points, live, served, ckpt2, trigger = avail)
    try q2.processAllAvailable() finally q2.stop()
    // without the heal the served tier would still point at snapBefore —
    // permanently stale had the pre-crash publish never happened
    assert(currentSnap() != snapBefore,
      "replayed first batch after restart must re-publish (heal)")
    val r = Rollup.servedTable(spark, served)
    assert(r.count() == 1 && r.head().getAs[Long]("cnt") == 1L,
      "healed snapshot must equal the live merged state (no double count)")
  }

  test("a crashed first merge's staging output neither hides the batch " +
      "nor wedges the restarted stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("rollup_staging").toString
    val (live, served) = (s"$base/table", s"$base/served")
    // the crash left one task's output under Spark's hidden staging dir
    // and nothing committed
    val rows = Seq(("cpu", ts("2024-03-01 10:00:00"), 2.0),
      ("cpu", ts("2024-03-01 11:00:00"), 4.0))
    rows.toDF("series", "ts", "value").coalesce(1).write.parquet(s"$base/out")
    val part = new java.io.File(s"$base/out").listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    val staged = java.nio.file.Paths.get(live, ".spark-staging-0", "_temporary",
      "0", "_temporary", "attempt_0", "p_date=2024-03-01", part.getFileName.toString)
    Files.createDirectories(staged.getParent)
    Files.copy(part, staged)

    val batch = rows.toDF("series", "ts", "value")
    assert(Rollup.mergeBatch(spark, batch, 0L, live))
    val table = spark.read.parquet(live).select("series", "cnt", "total").as[(String, Long, Double)]
    assert(table.collect().toSeq == Seq(("cpu", 2L, 6.0)))

    // the restarted stream replays batch 0: the merge recognizes it, and
    // the heal publishes the live table
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Timestamp, Double)]
    input.addData(rows: _*)
    val q = Rollup.startServed(spark, input.toDS().toDF("series", "ts", "value"),
      live, served, s"$base/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try q.processAllAvailable() finally q.stop()
    val r = Rollup.servedTable(spark, served).select("series", "cnt", "total")
      .as[(String, Long, Double)]
    assert(r.collect().toSeq == Seq(("cpu", 2L, 6.0)))
  }

  test("rollup partitions expire through the shared Retention machinery") {
    import spark.implicits._
    // the rollup shares the p_date= layout, and day-granular rows mean a
    // MIDNIGHT cutoff never triggers the ts edge-rewrite branch — whole
    // lifecycle (maintain + expire) composes from existing pieces
    val dir = Files.createTempDirectory("rollup_exp").toString + "/table"
    val b = Seq(
      ("cpu", ts("2024-01-01 10:00:00"), 1.0),
      ("cpu", ts("2024-01-02 10:00:00"), 2.0),
      ("cpu", ts("2024-01-03 10:00:00"), 3.0)
    ).toDF("series", "ts", "value")
    assert(Rollup.mergeBatch(spark, b, 0L, dir))
    val (dropped, rewritten) =
      Retention.enforce(spark, dir, ts("2024-01-02 00:00:00"), "parquet")
    assert(dropped == 1 && rewritten == 0)
    val r = spark.read.parquet(dir)
    assert(r.count() == 2)
    assert(r.agg(min("p_date")).head.getDate(0).toString == "2024-01-02")
  }

  test("hour→day demotion preserves count/sum/min/max exactly and drops old hours") {
    import spark.implicits._
    val base = Files.createTempDirectory("rollup_demote").toString
    val (hourDir, dayDir) = (s"$base/hourly", s"$base/daily")
    // two closed days (several hours, two series) + a live day
    val raw = Seq(
      ("cpu", ts("2024-04-01 09:10:00"), 2.0),
      ("cpu", ts("2024-04-01 09:40:00"), 6.0),
      ("cpu", ts("2024-04-01 15:00:00"), 1.0),
      ("mem", ts("2024-04-01 23:59:00"), 8.0),
      ("cpu", ts("2024-04-02 00:00:00"), 3.0),
      ("mem", ts("2024-04-02 12:30:00"), 5.0),
      ("cpu", ts("2024-04-03 10:00:00"), 9.0) // live day, stays hourly
    ).toDF("series", "ts", "value")
    assert(Rollup.mergeBatchHourly(spark, raw, 0L, hourDir))

    val (dropped, touched) =
      Rollup.demoteHours(spark, hourDir, dayDir, ts("2024-04-03 00:00:00"))
    assert(dropped == 5 && touched == 2) // 09:00 holds two raw points

    // the demoted day table equals a direct day aggregation of the raw
    // points — BOTH directions, all four aggregates
    val expected = raw.filter(col("ts") < lit(ts("2024-04-03 00:00:00")))
      .withColumn("p_date", to_date(col("ts")))
      .groupBy("series", "p_date")
      .agg(count(lit(1)).as("cnt"), sum("value").as("total"),
        min("value").as("vmin"), max("value").as("vmax"))
    val got = spark.read.option("mergeSchema", "true").parquet(dayDir)
      .select("series", "p_date", "cnt", "total", "vmin", "vmax")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)

    // only the live day's hour partition remains; daily reads serve the
    // demoted history through the unchanged Grafana path
    val hoursLeft = spark.read.parquet(hourDir)
    assert(hoursLeft.count() == 1 &&
      hoursLeft.head().getAs[java.sql.Timestamp]("p_hour") == ts("2024-04-03 10:00:00"))
    val json = graft.serve.Grafana.queryDaily(
      spark.read.option("mergeSchema", "true").parquet(dayDir),
      graft.serve.Grafana.QueryRequest(
        Seq(graft.serve.Grafana.Target("cpu", "timeseries")),
        graft.serve.Grafana.TimeRange("2024-04-01 00:00:00", "2024-04-02 23:59:59"),
        100))
    assert(json.contains("\"target\":\"cpu\"") && json.contains("[3,"))
  }

  test("hour→day demotion reads hours and days in the session time zone") {
    import spark.implicits._
    def utc(s: String) = Timestamp.from(java.time.Instant.parse(s))
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "Asia/Tokyo") // UTC+9
    try {
      val base = Files.createTempDirectory("rollup_demote_tz").toString
      val (hourDir, dayDir) = (s"$base/hourly", s"$base/daily")
      // three hours of Tokyo's 2024-05-01, one of them on UTC's 04-30
      val raw = Seq(
        ("cpu", utc("2024-04-30T23:00:00Z"), 4.0), // Tokyo 08:00
        ("cpu", utc("2024-05-01T02:00:00Z"), 6.0), // Tokyo 11:00
        ("cpu", utc("2024-05-01T11:00:00Z"), 2.0)  // Tokyo 20:00
      ).toDF("series", "ts", "value")
      assert(Rollup.mergeBatchHourly(spark, raw, 0L, hourDir))
      // Tokyo midnight closes the whole day
      assert(Rollup.demoteHours(spark, hourDir, dayDir,
        utc("2024-05-01T15:00:00Z")) == ((3, 1)))
      val days = spark.read.option("mergeSchema", "true").parquet(dayDir)
        .select(col("p_date").cast("string"), col("series"), col("cnt"),
          col("total"), col("vmin"), col("vmax"))
        .as[(String, String, Long, Double, Double, Double)].collect().toSeq
      assert(days == Seq(("2024-05-01", "cpu", 3L, 12.0, 2.0, 6.0)))
      assert(new java.io.File(hourDir).list().forall(!_.startsWith("p_hour=")))
    } finally spark.conf.set(key, saved)
  }

  test("demotion is replay-safe: re-merged hours are recognized by the watermark") {
    import spark.implicits._
    val base = Files.createTempDirectory("rollup_demote_replay").toString
    val (hourDir, dayDir) = (s"$base/hourly", s"$base/daily")
    val raw = Seq(
      ("cpu", ts("2024-05-01 08:00:00"), 4.0),
      ("cpu", ts("2024-05-01 11:00:00"), 6.0),
      ("cpu", ts("2024-05-01 20:00:00"), 2.0)
    ).toDF("series", "ts", "value")
    assert(Rollup.mergeBatchHourly(spark, raw, 0L, hourDir))

    // snapshot the hour table BEFORE demotion — the crash being
    // simulated is "day partition written, hour drops never happened",
    // i.e. the pre-demotion hour directories still on disk
    val fs = new org.apache.hadoop.fs.Path(hourDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snapshot = Files.createTempDirectory("hour_snapshot").toString + "/hourly"
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(hourDir),
      fs, new org.apache.hadoop.fs.Path(snapshot), false, true,
      spark.sparkContext.hadoopConfiguration)

    // partial-day demotion: morning hours only
    val (d1, t1) = Rollup.demoteHours(spark, hourDir, dayDir, ts("2024-05-01 12:00:00"))
    assert(d1 == 2 && t1 == 1)

    // second run with nothing old: no-op
    assert(Rollup.demoteHours(spark, hourDir, dayDir, ts("2024-05-01 12:00:00")) == ((0, 0)))

    // crash simulation: resurrect the already-merged morning partitions;
    // re-run must DROP them without touching any day partition again
    fs.delete(new org.apache.hadoop.fs.Path(hourDir), true)
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(snapshot),
      fs, new org.apache.hadoop.fs.Path(hourDir), false, true,
      spark.sparkContext.hadoopConfiguration)
    val (d2, t2) = Rollup.demoteHours(spark, hourDir, dayDir, ts("2024-05-01 12:00:00"))
    assert(d2 == 2 && t2 == 0, s"crash replay re-merged: dropped=$d2 touched=$t2")
    val afterReplay = spark.read.option("mergeSchema", "true").parquet(dayDir)
      .filter(col("series") === "cpu").head()
    assert(afterReplay.getAs[Long]("cnt") == 2 &&
      afterReplay.getAs[Double]("total") == 10.0, "day row moved on crash replay")

    // finish the day: the remaining evening hour folds into the SAME day
    // row exactly
    val (d3, t3) = Rollup.demoteHours(spark, hourDir, dayDir, ts("2024-05-02 00:00:00"))
    assert(d3 == 1 && t3 == 1)
    val row = spark.read.option("mergeSchema", "true").parquet(dayDir)
      .filter(col("series") === "cpu").head()
    assert(row.getAs[Long]("cnt") == 3 && row.getAs[Double]("total") == 12.0 &&
      row.getAs[Double]("vmin") == 2.0 && row.getAs[Double]("vmax") == 6.0)
  }

  test("streaming wiring maintains the table across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("rollup_stream").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Timestamp, Double)]
    val q = Rollup.startServed(spark,
      input.toDS().toDF("series", "ts", "value"),
      s"$base/table", s"$base/served", s"$base/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    try {
      input.addData(("cpu", ts("2024-02-01 10:00:00"), 2.0),
        ("cpu", ts("2024-02-01 11:00:00"), 4.0))
      q.processAllAvailable()
      val r = spark.read.parquet(s"$base/table")
      assert(r.count() == 1)
      assert(r.head().getAs[Long]("cnt") == 2 &&
        r.head().getAs[Double]("total") == 6.0)
    } finally q.stop()
  }
}
