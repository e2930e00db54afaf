package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Compaction: partition-atomic small-file rewrite preserving data. Each
  * compacted day serves from its manifest-active generation, and every
  * result is read back through [[RawStore.read]].
  */
class CompactionSpec extends SparkSpec {

  private def sumOf(dir: String, schema: String): Double =
    RawStore.read(spark, dir, schema, "json").agg(sum("value")).head().getDouble(0)

  /** `day`'s active dir, relative to `dir`: its generation once
    * compacted, else its plain `p_date=` dir.
    */
  private def activeDir(dir: String, day: String): String = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    RawStore.readManifest(fs, dir).active.getOrElse(day, s"p_date=$day")
  }

  /** Data files directly in `day`'s active dir. */
  private def files(dir: String, day: String): Int =
    new java.io.File(s"$dir/${activeDir(dir, day)}").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))

  private val flat = "series STRING, ts TIMESTAMP, value DOUBLE, p_date DATE"

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
    assert(files(dir, "2024-01-01") >= 20)

    val before = sumOf(dir, flat)
    val n = Compaction.compact(spark, dir, format = "json", maxFiles = 8, targetFiles = 1)
    assert(n == 1) // only the fragmented day
    assert(activeDir(dir, "2024-01-01").startsWith(".gen/"))
    assert(files(dir, "2024-01-01") == 1)
    assert(activeDir(dir, "2024-01-02") == "p_date=2024-01-02")
    assert(files(dir, "2024-01-02") == 2) // untouched
    assert(sumOf(dir, flat) == before)
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
    val before = sumOf(dir, flat)
    val n = Compaction.compact(spark, dir, format = "json", maxFiles = 8,
      targetFiles = 1, closedBefore = Some(java.time.LocalDate.parse("2024-01-02")))
    assert(n == 1)
    assert(files(dir, "2024-01-01") == 1)
    assert(activeDir(dir, "2024-01-02") == "p_date=2024-01-02")
    assert(files(dir, "2024-01-02") >= 20) // open day untouched
    assert(sumOf(dir, flat) == before)
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

    val nested = s"$flat, batch_id BIGINT"
    val before = sumOf(dir, nested)
    val n = Compaction.compact(spark, dir, format = "json", maxFiles = 8, targetFiles = 1)
    assert(n == 1) // only the fragmented day
    // day 1 merged into the single batch_id=-1 subpartition; tree uniform
    val day1 = s"$dir/${activeDir(dir, "2024-01-01")}"
    assert(new java.io.File(s"$day1/batch_id=-1").exists())
    assert(!new java.io.File(s"$day1/batch_id=0").exists())
    assert(new java.io.File(s"$dir/p_date=2024-01-02/batch_id=100").exists())
    // the whole table still reads as one consistent partitioned dataset
    assert(sumOf(dir, nested) == before)
    assert(RawStore.read(spark, dir, nested, "json")
      .filter(col("p_date") === lit("2024-01-01").cast("date"))
      .select("batch_id").as[Long].collect().toSet == Set(-1L))
  }
}
