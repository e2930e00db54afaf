package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Compaction: partition-atomic small-file rewrite preserving data. */
class CompactionSpec extends SparkSpec {

  test("compacts fragmented partitions, preserves rows, skips small ones") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compact").toString
    // day 1: 20 fragments; day 2: 2 fragments (below threshold)
    (1 to 100).map(i => ("cpu", Timestamp.valueOf("2024-01-01 10:00:00"), i.toDouble))
      .toDF("series", "ts", "value").withColumn("p_date", to_date(col("ts")))
      .repartition(20).write.mode("append").partitionBy("p_date").json(dir)
    (1 to 10).map(i => ("cpu", Timestamp.valueOf("2024-01-02 10:00:00"), i.toDouble))
      .toDF("series", "ts", "value").withColumn("p_date", to_date(col("ts")))
      .repartition(2).write.mode("append").partitionBy("p_date").json(dir)

    def files(p: String): Int =
      new java.io.File(s"$dir/$p").listFiles()
        .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(files("p_date=2024-01-01") >= 20)

    val before = spark.read.json(dir).agg(sum("value")).head().getDouble(0)
    val n = Compaction.compact(spark, dir, format = "json", maxFiles = 8, targetFiles = 1)
    assert(n == 1) // only the fragmented day
    assert(files("p_date=2024-01-01") == 1)
    assert(files("p_date=2024-01-02") == 2) // untouched
    val after = spark.read.json(dir).agg(sum("value")).head().getDouble(0)
    assert(before == after)
  }

  test("closedBefore guards the open partition: only days strictly " +
      "before it compact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compact_cb").toString
    for (day <- Seq("2024-01-01", "2024-01-02")) {
      (1 to 100).map(i => ("cpu", Timestamp.valueOf(s"$day 10:00:00"), i.toDouble))
        .toDF("series", "ts", "value").withColumn("p_date", to_date(col("ts")))
        .repartition(20).write.mode("append").partitionBy("p_date").json(dir)
    }
    // both days fragmented; day 2 is the collector's OPEN day — a replayed
    // micro-batch after its rows merged into batch_id=-1 would duplicate,
    // so the guard must leave it alone however many files it has
    val n = Compaction.compact(spark, dir, format = "json", maxFiles = 8,
      targetFiles = 1, closedBefore = Some(java.time.LocalDate.parse("2024-01-02")))
    assert(n == 1)
    def files(p: String): Int =
      new java.io.File(s"$dir/$p").listFiles()
        .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(files("p_date=2024-01-01") == 1)
    assert(files("p_date=2024-01-02") >= 20) // open day untouched
  }

  test("compacts the collector's batch_id-nested layout into one uniform tree") {
    import spark.implicits._
    val dir = Files.createTempDirectory("compact_b").toString
    // simulate the idempotent sink: many tiny batches on day 1, two on day 2
    def batch(day: String, id: Long, v: Double) =
      Collector.writeBatch(
        Seq(("cpu", Timestamp.valueOf(s"$day 10:00:00"), v))
          .toDF("series", "ts", "value").withColumn("p_date", to_date(col("ts"))),
        id, dir, "json")
    (0 until 12).foreach(i => batch("2024-01-01", i.toLong, i.toDouble))
    (100 until 102).foreach(i => batch("2024-01-02", i.toLong, i.toDouble))

    val before = spark.read.json(dir).agg(sum("value")).head().getDouble(0)
    val n = Compaction.compact(spark, dir, format = "json", maxFiles = 8, targetFiles = 1)
    assert(n == 1) // only the fragmented day
    // day 1 merged into the single batch_id=-1 subpartition; tree uniform
    assert(new java.io.File(s"$dir/p_date=2024-01-01/batch_id=-1").exists())
    assert(!new java.io.File(s"$dir/p_date=2024-01-01/batch_id=0").exists())
    assert(new java.io.File(s"$dir/p_date=2024-01-02/batch_id=100").exists())
    // the whole table still reads as one consistent partitioned dataset
    val after = spark.read.json(dir).agg(sum("value")).head().getDouble(0)
    assert(before == after)
  }
}
