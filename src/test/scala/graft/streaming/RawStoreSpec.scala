package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** RawStore graceful-maintenance protocol: manifest flips + retired-path
  * grace windows close the raw-store reader/maintenance race the
  * composed lifecycle soak measured (a query planned before an in-place
  * partition swap, executed after it, failed FILE_NOT_EXIST).
  * The contract under test: paths are never reused or moved, only
  * reaped after grace — so an in-flight reader's resolved snapshot stays
  * valid and consistently PRE-swap for the whole window.
  */
class RawStoreSpec extends SparkSpec {

  private val schema =
    "series STRING, ts TIMESTAMP, value DOUBLE, p_date DATE, batch_id BIGINT"

  /** Collector-shaped table: p_date= days nesting batch_id= subdirs. */
  private def writeTable(dir: String): Unit = {
    import spark.implicits._
    val rows = Seq(
      ("cpu", Timestamp.valueOf("2024-01-01 05:00:00"), 1.0, 0L),
      ("cpu", Timestamp.valueOf("2024-01-01 06:00:00"), 2.0, 1L),
      ("cpu", Timestamp.valueOf("2024-01-02 05:00:00"), 3.0, 2L),
      ("cpu", Timestamp.valueOf("2024-01-02 18:00:00"), 4.0, 3L),
      ("cpu", Timestamp.valueOf("2024-01-03 05:00:00"), 5.0, 4L)
    ).toDF("series", "ts", "value", "batch_id")
      .withColumn("p_date", to_date(col("ts")))
    rows.write.mode("overwrite").partitionBy("p_date", "batch_id").json(dir)
  }

  private def values(df: org.apache.spark.sql.DataFrame): Seq[Double] = {
    import spark.implicits._
    df.select("value").as[Double].collect().sorted.toSeq
  }

  private def fsOf(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("an in-flight reader survives a graceful edge rewrite") {
    val dir = Files.createTempDirectory("rawstore_swap").toString
    writeTable(dir)
    val cutoff = Timestamp.valueOf("2024-01-02 12:00:00")

    // reader resolved BEFORE maintenance: file listing is pinned now
    val inflight = RawStore.read(spark, dir, schema, "json")
    val (d, r) = Retention.enforce(spark, dir, cutoff, format = "json",
      grace = Some(3600_000L))
    assert(d == 1 && r == 1)
    // the old files were retired, not deleted — the pre-swap snapshot
    // still collects, and consistently shows the PRE-retention state
    assert(values(inflight) == Seq(1.0, 2.0, 3.0, 4.0, 5.0))
    // a fresh resolve sees the post-retention state, day restored on
    // the generation rows
    val fresh = RawStore.read(spark, dir, schema, "json")
    assert(values(fresh) == Seq(4.0, 5.0))
    assert(fresh.filter(col("p_date") === lit("2024-01-02").cast("date"))
      .count() == 1)
  }

  test("graceful drop hides the day from fresh reads, keeps it for " +
      "in-flight readers, and reap deletes it after grace") {
    val dir = Files.createTempDirectory("rawstore_drop").toString
    writeTable(dir)
    val fs = fsOf(dir)
    val inflight = RawStore.read(spark, dir, schema, "json")
    // drop 01-01 and 01-02 wholesale (midnight cutoff: no edge rewrite)
    val (d, r) = Retention.enforce(spark, dir,
      Timestamp.valueOf("2024-01-03 00:00:00"), format = "json",
      grace = Some(3600_000L))
    assert(d == 2 && r == 0)
    assert(values(RawStore.read(spark, dir, schema, "json")) == Seq(5.0))
    assert(values(inflight) == Seq(1.0, 2.0, 3.0, 4.0, 5.0))
    // dirs physically present until grace expires
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "p_date=2024-01-01")))
    val before = RawStore.readManifest(fs, dir)
    assert(before.retired.size == 2)
    // grace not yet expired → reap is a no-op
    assert(RawStore.reap(fs, dir, 3600_000L).retired.size == 2)
    // expired → dirs deleted, manifest trimmed, reads unchanged
    val after = RawStore.reap(fs, dir, 0L)
    assert(after.retired.isEmpty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "p_date=2024-01-01")))
    assert(values(RawStore.read(spark, dir, schema, "json")) == Seq(5.0))
  }

  test("graceful compaction merges files into a new generation without " +
      "changing content, and re-maintenance targets the active generation") {
    val dir = Files.createTempDirectory("rawstore_comp").toString
    writeTable(dir)
    val fs = fsOf(dir)
    val pre = values(RawStore.read(spark, dir, schema, "json"))
    // every day has 1-2 batch files; threshold 0 forces compaction of
    // the two closed days
    val c = Compaction.compact(spark, dir, format = "json", maxFiles = 0,
      targetFiles = 1, closedBefore = Some(java.time.LocalDate.parse("2024-01-03")),
      grace = Some(3600_000L))
    assert(c == 2)
    val m = RawStore.readManifest(fs, dir)
    assert(m.active.keySet == Set("2024-01-01", "2024-01-02"))
    assert(values(RawStore.read(spark, dir, schema, "json")) == pre)
    // batch_id collapsed to the merged sentinel on compacted days
    import spark.implicits._
    val batchIds = RawStore.read(spark, dir, schema, "json")
      .filter(col("p_date") < lit("2024-01-03").cast("date"))
      .select("batch_id").as[Long].collect().toSet
    assert(batchIds == Set(-1L))
    // a later edge rewrite of a COMPACTED day reads from its generation
    // and swaps to a fresh one (paths never reused)
    val g0 = m.active("2024-01-02")
    val (_, r) = Retention.enforce(spark, dir,
      Timestamp.valueOf("2024-01-02 12:00:00"), format = "json",
      grace = Some(3600_000L))
    assert(r == 1)
    val m2 = RawStore.readManifest(fs, dir)
    assert(m2.active("2024-01-02") != g0)
    assert(m2.retired.contains(g0))
    assert(values(RawStore.read(spark, dir, schema, "json")) == Seq(4.0, 5.0))
  }

  test("manifest round-trips and rejects corrupt content") {
    val dir = Files.createTempDirectory("rawstore_manifest").toString
    val fs = fsOf(dir)
    val m = RawStore.Manifest(7L,
      Map("2024-01-02" -> ".gen/g5"),
      Map("p_date=2024-01-01" -> 123456789L, ".gen/g3" -> 99L))
    RawStore.commitManifest(fs, dir, m)
    assert(RawStore.readManifest(fs, dir) == m)
    // absent manifest → empty (bare-table fallback)
    assert(RawStore.readManifest(fs, Files.createTempDirectory("rs_none").toString)
      == RawStore.EmptyManifest)
    // corrupt content fails loudly, never silently serves a wrong mapping
    Files.writeString(java.nio.file.Paths.get(dir, "_MANIFEST.9"), "v1\nbogus line here\n")
    intercept[IllegalStateException] { RawStore.readManifest(fs, dir) }
    Files.writeString(java.nio.file.Paths.get(dir, "_MANIFEST.9"), "v2\nseq 9\n")
    intercept[IllegalArgumentException] { RawStore.readManifest(fs, dir) }
    // filename/body seq disagreement is corruption too
    Files.writeString(java.nio.file.Paths.get(dir, "_MANIFEST.9"), "v1\nseq 8\n")
    intercept[IllegalStateException] { RawStore.readManifest(fs, dir) }
  }

  test("a stale maintenance writer fails its commit loudly instead of " +
      "losing the other writer's update") {
    val dir = Files.createTempDirectory("rawstore_cas").toString
    writeTable(dir)
    val fs = fsOf(dir)
    val stale = RawStore.readManifest(fs, dir) // both writers read seq 0
    val won = RawStore.dropDay(fs, dir, stale, java.time.LocalDate.parse("2024-01-01"))
    assert(won.seq == stale.seq + 1)
    // the loser raced the SAME seq — exclusive rename detects it
    intercept[java.util.ConcurrentModificationException] {
      RawStore.dropDay(fs, dir, stale, java.time.LocalDate.parse("2024-01-02"))
    }
    // the winner's commit is intact: 01-01 retired, 01-02 untouched
    val m = RawStore.readManifest(fs, dir)
    assert(m == won && m.retired.keySet == Set("p_date=2024-01-01"))
    assert(values(RawStore.read(spark, dir, schema, "json")) == Seq(3.0, 4.0, 5.0))
  }

  test("manifest history is pruned but reads stay correct across many commits") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rawstore_prune").toString
    writeTable(dir)
    val fs = fsOf(dir)
    var m = RawStore.readManifest(fs, dir)
    val day = java.time.LocalDate.parse("2024-01-01")
    for (i <- 1 to 12) {
      val gen = Seq(("cpu", Timestamp.valueOf("2024-01-01 05:00:00"), i.toDouble, -1L))
        .toDF("series", "ts", "value", "batch_id")
      m = RawStore.swapDay(spark, fs, dir, m, day, gen, "json")
    }
    assert(m.seq == 12)
    val manifests = new java.io.File(dir).list().filter(_.startsWith("_MANIFEST."))
    assert(manifests.length <= 8 && manifests.contains("_MANIFEST.12"),
      s"expected pruned history ending at 12, got ${manifests.sorted.mkString(",")}")
    // latest generation's content serves; earlier gens are retired
    assert(values(RawStore.read(spark, dir, schema, "json")
      .filter(col("p_date") === lit("2024-01-01").cast("date"))) == Seq(12.0))
  }

  test("a reader racing bumpLastBatch sees the old or the new stamp, " +
      "never an error or a step back") {
    val dir = Files.createTempDirectory("rawstore_batch_race").toString
    val fs = fsOf(dir)
    RawStore.bumpLastBatch(fs, dir, 0L)
    val bumps = 2000
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      var prev = RawStore.versionStamp(fs, dir)
      while (!done.get()) {
        try {
          val v = RawStore.versionStamp(fs, dir)
          if (v < prev) failures.add(s"stamp went back: $prev -> $v")
          prev = v
        } catch { case t: Throwable => failures.add(t.toString) }
      }
    })
    reader.start()
    try (1 to bumps).foreach(b => RawStore.bumpLastBatch(fs, dir, b.toLong))
    finally { done.set(true); reader.join() }
    assert(failures.isEmpty,
      s"${failures.size} reads failed, first: ${failures.peek()}")
    assert(RawStore.versionStamp(fs, dir) == bumps + 1L)
  }

  test("bumpLastBatch: a replayed id is a no-op, a fresh stream's ids " +
      "take over, and a legacy _LAST_BATCH file reads as no batch") {
    val dir = Files.createTempDirectory("rawstore_batch_ids").toString
    val fs = fsOf(dir)
    Files.writeString(java.nio.file.Paths.get(dir, "_LAST_BATCH"), "41")
    assert(RawStore.versionStamp(fs, dir) == 0L) // batch -1, manifest 0
    RawStore.bumpLastBatch(fs, dir, 41L)
    RawStore.bumpLastBatch(fs, dir, 41L) // replay
    assert(RawStore.versionStamp(fs, dir) == 42L)
    // a new checkpoint over the same sink restarts batch ids at 0
    RawStore.bumpLastBatch(fs, dir, 0L)
    assert(RawStore.versionStamp(fs, dir) == 1L)
  }

  test("appends into a remapped day's plain dir fail the read loudly " +
      "instead of silently vanishing") {
    val dir = Files.createTempDirectory("rawstore_rogue").toString
    writeTable(dir)
    val fs = fsOf(dir)
    val day = java.time.LocalDate.parse("2024-01-01")
    val m0 = RawStore.readManifest(fs, dir)
    val survivors = RawStore.read(spark, dir, schema, "json")
      .filter(col("p_date") === lit(day.toString).cast("date"))
      .drop("p_date")
    RawStore.swapDay(spark, fs, dir, m0, day, survivors, "json")
    assert(values(RawStore.read(spark, dir, schema, "json")).size == 5)
    // shape 1: replayed ingest writes into the retired-but-unreaped dir —
    // the rogue file's mtime is pinned 10 s past the retirement so the
    // "newer than retiredAt" comparison is unambiguous
    val batch = java.nio.file.Paths.get(dir, "p_date=2024-01-01", "batch_id=99")
    Files.createDirectories(batch)
    val rogue = batch.resolve("part-rogue.json")
    Files.writeString(rogue,
      """{"series":"cpu","ts":"2024-01-01T07:00:00Z","value":7.0}""" + "\n")
    Files.setLastModifiedTime(rogue, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() + 10_000))
    intercept[IllegalStateException] { RawStore.read(spark, dir, schema, "json") }
    // shape 2: the dir reappears after its reap
    RawStore.reap(fs, dir, 0L)
    assert(values(RawStore.read(spark, dir, schema, "json")).size == 5)
    Files.createDirectories(batch)
    Files.writeString(batch.resolve("part-rogue.json"),
      """{"series":"cpu","ts":"2024-01-01T07:00:00Z","value":7.0}""" + "\n")
    intercept[IllegalStateException] { RawStore.read(spark, dir, schema, "json") }
  }

  test("gen-leg cache serves fresh data after a re-swap and evicts " +
      "superseded legs instead of accumulating them") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rawstore_cache").toString
    writeTable(dir)
    val fs = fsOf(dir)
    val day = java.time.LocalDate.parse("2024-01-01")
    def keysHere = RawStore.genCache.keySet.asScala
      .filter(k => k._1 == spark && k._2 == dir).map(_._3).toSet
    // first swap populates the cache on read
    var m = RawStore.swapDay(spark, fs, dir, RawStore.readManifest(fs, dir), day,
      Seq(("cpu", Timestamp.valueOf("2024-01-01 05:00:00"), 100.0, -1L))
        .toDF("series", "ts", "value", "batch_id"), "json")
    val g0 = m.active(day.toString)
    assert(values(RawStore.read(spark, dir, schema, "json")
      .filter(col("p_date") === lit(day.toString).cast("date"))) == Seq(100.0))
    assert(keysHere == Set(g0))
    // cache HIT: the same leg instance is reused across reads
    assert(RawStore.genCache.get((spark, dir, g0, schema, "json")) ne null)
    val leg0 = RawStore.genCache.get((spark, dir, g0, schema, "json"))
    RawStore.read(spark, dir, schema, "json")
    assert(RawStore.genCache.get((spark, dir, g0, schema, "json")) eq leg0)
    // re-swap the SAME day: the new generation's content must serve
    // (paths never reused → new key), and g0's entry must be evicted
    m = RawStore.swapDay(spark, fs, dir, m, day,
      Seq(("cpu", Timestamp.valueOf("2024-01-01 05:00:00"), 200.0, -1L))
        .toDF("series", "ts", "value", "batch_id"), "json")
    val g1 = m.active(day.toString)
    assert(g1 != g0)
    assert(values(RawStore.read(spark, dir, schema, "json")
      .filter(col("p_date") === lit(day.toString).cast("date"))) == Seq(200.0))
    assert(keysHere == Set(g1), s"expected only $g1 cached, got $keysHere")
    // safety valve: a flood of never-re-read tables stays bounded, and
    // a shed leg is just re-listed on its next read (content unchanged)
    val filler = spark.range(1).toDF
    (0 until RawStore.MaxGenLegs + 50).foreach(i =>
      RawStore.genCache.put((spark, s"/fake$i", ".gen/g0", schema, "json"), filler))
    RawStore.boundGenCache()
    assert(RawStore.genCache.size <= RawStore.MaxGenLegs)
    assert(values(RawStore.read(spark, dir, schema, "json")
      .filter(col("p_date") === lit(day.toString).cast("date"))) == Seq(200.0))
    RawStore.genCache.keySet.removeIf(k => k._2.startsWith("/fake"))
  }

  test("per-series retention takes the graceful path too") {
    import spark.implicits._
    val dir = Files.createTempDirectory("rawstore_perseries").toString
    val rows = Seq(
      ("cpu", Timestamp.valueOf("2024-01-01 05:00:00"), 1.0, 0L),
      ("mem", Timestamp.valueOf("2024-01-01 05:00:00"), 10.0, 0L),
      ("cpu", Timestamp.valueOf("2024-01-02 05:00:00"), 2.0, 1L),
      ("cpu", Timestamp.valueOf("2024-01-02 18:00:00"), 3.0, 1L),
      ("mem", Timestamp.valueOf("2024-01-02 05:00:00"), 20.0, 1L)
    ).toDF("series", "ts", "value", "batch_id")
      .withColumn("p_date", to_date(col("ts")))
    rows.write.mode("overwrite").partitionBy("p_date", "batch_id").json(dir)
    val inflight = RawStore.read(spark, dir, schema, "json")
    val (d, r) = Retention.enforcePerSeries(spark, dir, Map(
      "cpu" -> Timestamp.valueOf("2024-01-02 12:00:00"),
      "mem" -> Timestamp.valueOf("2024-01-01 00:00:00")),
      format = "json", grace = Some(3600_000L))
    // no day is before EVERY cutoff → no drops; both days mixed-rewritten
    assert(d == 0 && r == 2)
    assert(values(RawStore.read(spark, dir, schema, "json")) == Seq(3.0, 10.0, 20.0))
    assert(values(inflight) == Seq(1.0, 2.0, 3.0, 10.0, 20.0))
  }

  test("resolver preserves unparseable partition dirs that graceful " +
      "maintenance must never touch") {
    val dir = Files.createTempDirectory("rawstore_hive").toString
    writeTable(dir)
    // a null-ts row's day: present on disk, not a parseable date
    val hive = java.nio.file.Paths.get(dir, "p_date=__HIVE_DEFAULT_PARTITION__", "batch_id=9")
    Files.createDirectories(hive)
    Files.writeString(hive.resolve("part-0.json"),
      """{"series":"cpu","ts":null,"value":42.0}""" + "\n")
    val (d, r) = Retention.enforce(spark, dir,
      Timestamp.valueOf("2024-01-03 00:00:00"), format = "json",
      grace = Some(3600_000L))
    assert(d == 2 && r == 0)
    val read = RawStore.read(spark, dir, schema, "json")
    assert(values(read) == Seq(5.0, 42.0))
    assert(RawStore.readManifest(fsOf(dir), dir).retired.keySet ==
      Set("p_date=2024-01-01", "p_date=2024-01-02"))
  }
}
