package graft.model

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import graft.streaming.Rollup
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The driver-side schema resolver: a load through [[ParquetSchema]]
  * yields exactly the frame schema `spark.read.parquet` infers, and runs
  * no Spark job. Schemas are compared on the LOADED frames, not on the
  * raw footers: the embeddings footer keeps `containsNull = false` on its
  * array, which only the read path relaxes.
  */
class ParquetSchemaSpec extends SparkSpec {

  private val MarkerKey = "graft.spec.marker"

  /** Spark jobs started while `body` runs. Listener events arrive
    * asynchronously but in order, so once a marker job started after
    * `body` has been seen, every job `body` started has been counted.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(MarkerKey))).getOrElse(""))
    }
    def mark(tag: String): Unit = {
      val sc = spark.sparkContext
      sc.setLocalProperty(MarkerKey, tag)
      try spark.range(1).count() finally sc.setLocalProperty(MarkerKey, null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(tag) && System.nanoTime() < deadline) Thread.sleep(5)
      assert(seen.contains(tag), s"marker job $tag never reached the listener")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val id = java.util.UUID.randomUUID().toString
      mark(s"begin-$id")
      val result = body
      mark(s"end-$id")
      val events = seen.asScala.toSeq
      val jobs = events.slice(events.indexOf(s"begin-$id") + 1, events.indexOf(s"end-$id"))
        .count(_ == "")
      (result, jobs)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def assertLoadsAsInferred(path: String): Unit = {
    val (df, jobs) = jobsDuring(ParquetSchema.read(spark, path))
    assert(jobs == 0, s"$path: resolving the schema ran $jobs Spark job(s)")
    val inferred = spark.read.parquet(path).schema
    assert(df.schema == inferred,
      s"$path:\n resolved ${df.schema.treeString}\n inferred ${inferred.treeString}")
  }

  private val scales = Seq("sf0.001", "sf0.01", "sf0.1")
    .filter(d => new java.io.File(sf(d)).isDirectory)

  private def tables(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(_.endsWith(".parquet")).sorted
      .map(_.stripSuffix(".parquet"))

  test("every test table loads with the inferred schema and runs no job") {
    assert(tables(sf()).size == 10)
    // control: the counter sees the inference job a bare read runs
    assert(jobsDuring(spark.read.parquet(s"${sf()}/region.parquet"))._2 >= 1)
    for (d <- scales; name <- tables(sf(d))) {
      val path = s"${sf(d)}/$name.parquet"
      assertLoadsAsInferred(path)
      val (t, jobs) = jobsDuring(Tables(spark, sf(d), name))
      assert(jobs == 0, s"Tables($d, $name) ran $jobs Spark job(s)")
      if (name != "events") assert(t.schema == spark.read.parquet(path).schema)
    }
  }

  test("partitioned rollup tables and their served snapshot load with the " +
      "inferred schema and run no job") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("parquet_schema").toString
    val points = Seq(
      ("cpu", Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      ("cpu", Timestamp.valueOf("2024-01-01 11:30:00"), 2.0),
      ("mem", Timestamp.valueOf("2024-01-02 09:00:00"), 3.0))
    for (g <- Seq("day", "hour")) {
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Timestamp, Double)]
      input.addData(points)
      val q = Rollup.startServed(spark, input.toDS().toDF("series", "ts", "value"),
        s"$base/$g", s"$base/served_$g", s"$base/ckpt_$g",
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(), granularity = g)
      try q.processAllAvailable() finally q.stop()
      assertLoadsAsInferred(s"$base/$g")
    }
    Rollup.publish(spark, s"$base/day", s"$base/served")
    val (served, jobs) = jobsDuring(Rollup.servedTable(spark, s"$base/served"))
    assert(jobs == 0)
    assert(served.schema == spark.read.parquet(
      s"$base/served/snap=${Rollup.currentSnapshot(spark, s"$base/served")}").schema)
  }

  test("loading µs events leaves spark.sql.legacy.parquet.nanosAsLong unset") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    for (d <- scales) {
      val path = s"${sf(d)}/events.parquet"
      assert(!ParquetSchema.isNanosTimestamp(ParquetSchema.footer(spark, path), "ts"),
        s"$path is expected to carry µs timestamps")
      spark.conf.unset(key)
      Tables(spark, sf(d), "events")
      assert(!spark.sessionState.conf.contains(key),
        s"loading $d events set $key on the caller's session")
    }
  }
}
