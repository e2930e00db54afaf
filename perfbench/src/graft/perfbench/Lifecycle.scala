package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.{Collector, Compaction, RawStore, Retention, Rollup}
import Store._

/** Deterministic sample generator shared by the feeders and the output
  * checks. Slot `k` is the k-th file-sized slice of simulated time;
  * its `n` rows are spread evenly across the slot.
  */
final class SampleGen(seed: Long, val slotMs: Long, val n: Int) {
  def ts(slot: Long, i: Int): Long = SimStartMs + slot * slotMs + i.toLong * slotMs / n
  def rows(slot: Long): Iterator[(Int, Long, Int)] = Iterator.range(0, n).map { i =>
    (math.floorMod(i + slot * 7 + seed, Series.toLong).toInt, ts(slot, i),
      math.floorMod(slot * 31 + i * 17L + seed * 13, 97L).toInt)
  }
  def rowsOf(slots: Iterable[Long]): Iterator[(Int, Long, Int)] = slots.iterator.flatMap(rows)

  /** Rows among slots [0, slots) with ts >= cutoffMs. */
  def survivors(slots: Long, cutoffMs: Long): Long = {
    var total = 0L
    var s = 0L
    while (s < slots) {
      val start = SimStartMs + s * slotMs
      if (start >= cutoffMs) total += n
      else if (start + slotMs > cutoffMs) (0 until n).foreach(i => if (ts(s, i) >= cutoffMs) total += 1)
      s += 1
    }
    total
  }
}

/** The streams of one store: the collector into the raw sink and the
  * served day rollup, both reading one drop directory.
  */
final class Pipeline(ctx: Ctx, val root: String) {
  implicit val spark: SparkSession = ctx.spark
  val Seq(dropDir, stageDir, sinkDir, dayDir, dayServed) =
    dirs(root, "drop", "stage", "sink", "day", "day_served")
  private var streams = Seq.empty[StreamingQuery]

  private def register(q: StreamingQuery, layer: String): StreamingQuery = {
    StreamTags.register(q.id.toString, layer, ctx.tracer.nextId()); q
  }

  private def points: DataFrame = Collector.transform(
    spark.readStream.schema(Collector.rawSchema).option("maxFilesPerTrigger", 100).json(dropDir))

  def start(): Unit = {
    val c = register(Collector.startFromDropDir(spark, dropDir, sinkDir, s"$root/ck_c",
      sinkFormat = "parquet"), "Collector")
    val d = register(Rollup.startServed(spark, points, dayDir, dayServed, s"$root/ck_d"), "Rollup")
    streams = Seq(c, d)
  }

  def drain(): Unit = streams.foreach(_.processAllAvailable())
  def stop(): Unit = stopAll(streams)
  def collector: StreamingQuery = streams.head
  def fs = new Path(sinkDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
  def store: DataFrame = RawStore.read(spark, sinkDir, SinkSchema, "parquet")
}

/** One graceful maintenance pass: retention to `cutoffMs`, then
  * compaction of the days closed before `closedBefore`.
  */
final class Maintenance(ctx: Ctx, res: Result, p: Pipeline, graceMs: Long, maxFiles: Int) {
  implicit val spark: SparkSession = ctx.spark
  private val tr = ctx.tracer
  val retMs = new ConcurrentLinkedQueue[Double](); val compMs = new ConcurrentLinkedQueue[Double]()
  val passMs = new ConcurrentLinkedQueue[Double]()
  val dropped = new AtomicLong; val rewritten = new AtomicLong
  val compacted = new AtomicLong; val bytesRewritten = new AtomicLong
  val lastCutoff = new AtomicReference[Option[Long]](None)
  val failures = new AtomicLong

  def pass(cutoffMs: Long, closedBefore: java.time.LocalDate): Unit = {
    val t0 = System.nanoTime()
    try tr.span("Maintenance.pass", tr.newTrace()) {
      val (d, r) = tr.span("Retention.enforce")(Retention.enforce(spark, p.sinkDir,
        new java.sql.Timestamp(cutoffMs), format = "parquet", grace = Some(graceMs)))
      lastCutoff.set(Some(cutoffMs))
      val t1 = System.nanoTime()
      val fs = p.fs
      val before = RawStore.readManifest(fs, p.sinkDir).active
      val c = tr.span("Compaction.compact")(Compaction.compact(spark, p.sinkDir, format = "parquet",
        maxFiles = maxFiles, targetFiles = 1, closedBefore = Some(closedBefore), grace = Some(graceMs)))
      val t2 = System.nanoTime()
      val after = RawStore.readManifest(fs, p.sinkDir).active
      after.foreach { case (day, rel) =>
        if (!before.get(day).contains(rel))
          bytesRewritten.addAndGet(diskUsage(fs, s"${p.sinkDir}/$rel")._2)
      }
      dropped.addAndGet(d); rewritten.addAndGet(r); compacted.addAndGet(c)
      retMs.add((t1 - t0) / 1e6); compMs.add((t2 - t1) / 1e6); passMs.add((t2 - t0) / 1e6)
    } catch { case e: Throwable => failures.incrementAndGet(); res.note(s"maintenance pass failed: $e") }
    res.synchronized { res.attempted += 1; if (failures.get > 0) res.correct = false }
  }

  def report(): Unit = {
    res.layer("Retention.pass_ms_p50") = Stats.median(retMs.asScala.toSeq)
    res.layer("Retention.days_dropped") = dropped.get.toDouble
    res.layer("Retention.days_rewritten") = rewritten.get.toDouble
    res.layer("Compaction.pass_ms_p50") = Stats.median(compMs.asScala.toSeq)
    res.layer("Compaction.days_compacted") = compacted.get.toDouble
    res.layer("Compaction.bytes_rewritten") = bytesRewritten.get.toDouble
    res.layer("Maintenance.pass_ms_p50") = Stats.median(passMs.asScala.toSeq)
    res.failed += failures.get
  }
}

/** `ingest_lifecycle`: the write path under an open-loop feed, with
  * periodic maintenance and a light dashboard load contending with it.
  *
  * Simulated time runs at 1 wall second = 1 hour; the feeder lands
  * `FilesPerS` files a second, each one slot of `RowsPerS / FilesPerS` rows
  * over 20 series. Set-up lands `HistoryDays` days of history in two
  * rounds (two files per day), so the first maintenance pass already
  * drops, rewrites and compacts days.
  */
object Lifecycle {
  val FilesPerS = 4
  val RowsPerS = 500
  val ReqPerS = 2.0
  val HistoryDays = 4
  val KeepDays = 3L
  val MaintEveryMs = 2500L
  val GraceMs = 10000L

  def run(ctx: Ctx): Result = {
    implicit val spark: SparkSession = ctx.spark
    val gen = new SampleGen(ctx.seed, HourMs / FilesPerS, RowsPerS / FilesPerS)
    val slotsPerDay = (DayMs / gen.slotMs).toInt
    val histSlots = HistoryDays.toLong * slotsPerDay
    val res = new Result(ctx)

    def setUp(i: Int): Pipeline = {
      val p = new Pipeline(ctx, s"${ctx.workDir}/rep$i")
      (0 until 2).foreach { round =>
        (0 until HistoryDays).foreach { d =>
          val half = slotsPerDay / 2
          val first = d.toLong * slotsPerDay + round * half
          drop(p.stageDir, p.dropDir, f"h$round-$d%03d.json",
            jsonLines(gen.rowsOf(first until first + half)))
        }
        if (round == 0) p.start()
        p.drain()
      }
      p
    }
    val reps = (0 until ctx.setupReps).map { i =>
      val t0 = System.nanoTime()
      val p = setUp(i)
      val s = (System.nanoTime() - t0) / 1e9
      if (i < ctx.setupReps - 1) { p.stop(); deleteDir(p.root) }
      (p, s)
    }
    res.setupS = reps.map(_._2)
    val p = reps.last._1
    val maint = new Maintenance(ctx, res, p, GraceMs, maxFiles = 1)
    val serve = new ServeClient(ctx, res, p.sinkDir, p.dayServed)
    val fs = p.fs
    val seq0 = RawStore.versionStamp(fs, p.sinkDir) >>> 32
    val snap0 = Rollup.currentSnapshot(spark, p.dayServed)
    ctx.engine.foreach(_.reset())

    // ── the window ─────────────────────────────────────────────────────
    val landed = new AtomicLong(0L) // window slots landed
    val landMs = new ConcurrentLinkedQueue[(Long, Long)]() // (slot index, wall ms)
    val feederLate = new AtomicLong(0L)
    val stop = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    val t0Wall = System.currentTimeMillis()
    val windowNs = ctx.seconds * 1000000000L
    val feeder = new Thread(() => {
      var k = 0L
      while (k * 1000000000L / FilesPerS < windowNs) {
        val due = t0 + k * 1000000000L / FilesPerS
        val wait = due - System.nanoTime()
        if (wait > 0) java.util.concurrent.TimeUnit.NANOSECONDS.sleep(wait)
        feederLate.accumulateAndGet((System.nanoTime() - due) / 1000000L, math.max)
        drop(p.stageDir, p.dropDir, f"w$k%06d.json", jsonLines(gen.rows(histSlots + k)))
        landMs.add((k, System.currentTimeMillis()))
        k += 1
        landed.set(k)
      }
    }, "perfbench-feeder")
    def nowSimMs: Long = SimStartMs + (histSlots + landed.get) * gen.slotMs
    def committedDays: Seq[java.time.LocalDate] =
      Option(new java.io.File(p.sinkDir).list()).getOrElse(Array.empty[String]).toSeq
        .filter(_.startsWith("p_date="))
        .flatMap(n => scala.util.Try(java.time.LocalDate.parse(n.stripPrefix("p_date="))).toOption) ++
        RawStore.readManifest(fs, p.sinkDir).active.keys.map(java.time.LocalDate.parse)
    def maintPass(): Unit = {
      val days = committedDays
      if (days.nonEmpty) maint.pass(nowSimMs - KeepDays * DayMs, days.max.minusDays(1))
    }
    val maintThread = new Thread(() => {
      var j = 1L
      while (!stop.get()) {
        val due = t0 + j * MaintEveryMs * 1000000L
        while (!stop.get() && System.nanoTime() < due) Thread.sleep(20)
        if (!stop.get()) maintPass()
        j += 1
      }
    }, "perfbench-maintenance")

    // the dashboard cycles four panels: raw and downsampled over the
    // trailing two days, daily over the whole range, and the catalog
    val targets = (0 until 3).map(i => s"s$i")
    def check(r: Req)(body: String): Boolean =
      if (r.cls == "search") body.contains("\"s0\"")
      else body.startsWith("[{") && targets.forall(t => body.contains(s"""{"target":"$t","datapoints":"""))
    val nReq = (ctx.seconds * ReqPerS).toInt
    val schedule = (0 until nReq).map { j =>
      val off = (j * 1e9 / ReqPerS).toLong
      off -> ((due: Long) => {
        val now = nowSimMs
        val r = j % 4 match {
          case 0 => Req("raw1", req(targets, now - 2 * DayMs, now))
          case 1 => Req("daily", req(targets, SimStartMs, now))
          case 2 => Req("downsampled", req(targets, now - 2 * DayMs, now, 100))
          case _ => Req("search", req(Nil, SimStartMs, now))
        }
        serve.send(r, due, check(r))
      })
    }
    val loop = new OpenLoop(math.max(1, ctx.threads - 1))
    feeder.start(); maintThread.start()
    loop.run(schedule)
    feeder.join()
    val windowEnd = System.nanoTime()
    stop.set(true); maintThread.join(); loop.shutdown()
    res.windowS = (windowEnd - t0) / 1e9
    res.windowFromNs = t0
    res.windowToNs = windowEnd
    val windowEndWall = System.currentTimeMillis()
    p.drain()
    fileLags(res, p.collector.recentProgress.toSeq, t0Wall, windowEndWall, landMs.asScala.toSeq, gen.n)
    p.stop()
    // closing pass over the quiesced store: the checks and the disk
    // figures see the state retention and compaction leave behind
    maintPass()

    // ── output checks ──────────────────────────────────────────────────
    val slots = histSlots + landed.get
    val cutoff = maint.lastCutoff.get().getOrElse(Long.MinValue)
    val expected = gen.survivors(slots, cutoff)
    val stored = p.store.count()
    res.attempted += 1
    if (stored != expected) {
      res.failed += 1; res.correct = false
      res.note(s"stored rows $stored != generator survivors $expected (cutoff ${iso(cutoff)})")
    }
    val cutoffDay = java.time.Instant.ofEpochMilli(cutoff).atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    val sinkAgg = p.store.filter(col("p_date") > lit(cutoffDay)).groupBy("series", "p_date")
      .agg(count(lit(1)).as("s_cnt"), sum("value").as("s_total"))
    val rollAgg = spark.read.parquet(p.dayDir).filter(col("p_date") > lit(cutoffDay))
      .select("series", "p_date", "cnt", "total")
    val drift = sinkAgg.join(rollAgg, Seq("series", "p_date"), "full").filter(
      col("s_cnt").isNull || col("cnt").isNull || col("s_cnt") =!= col("cnt") ||
        abs(col("s_total") - col("total")) > 1e-6).count()
    res.attempted += 1
    if (drift != 0) { res.failed += 1; res.correct = false; res.note(s"rollup drift rows: $drift") }

    // ── per-layer figures ──────────────────────────────────────────────
    maint.report()
    serve.report()
    val (files, bytes) = diskUsage(fs, p.sinkDir)
    res.layer("RawStore.data_files") = files.toDouble
    res.layer("RawStore.bytes_on_disk") = bytes.toDouble
    res.layer("RawStore.bytes_per_row") = if (stored == 0) 0.0 else bytes.toDouble / stored
    res.layer("RawStore.manifest_commits") = ((RawStore.versionStamp(fs, p.sinkDir) >>> 32) - seq0).toDouble
    res.layer("Rollup.publishes") = (Rollup.currentSnapshot(spark, p.dayServed) - snap0).toDouble
    res.layer("loadgen.late_ms_max") = loop.lateMsMax.get.toDouble
    res.layer("feeder.late_ms_max") = feederLate.get.toDouble
    Pipelines.streamLayers(ctx, res, t0Wall, windowEndWall, landMs.asScala.toSeq, gen.n)
    readTimes(ctx, res)
    res.artifact("ingest") = Map(
      "slots_landed" -> landed.get, "stored" -> stored, "expected" -> expected,
      "cutoff" -> iso(cutoff), "maintenance_passes" -> maint.passMs.size)
    res
  }

  /** The workload's operations: each landed file, from landing to the
    * commit of the collector batch that holds it. Files land and are
    * picked up in order, so a batch that brings the cumulative row count
    * to c has committed the first c / n files; a batch commits at its
    * trigger start plus its trigger duration.
    */
  def fileLags(res: Result, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
               fromWall: Long, toWall: Long, lands: Seq[(Long, Long)], rowsPerFile: Int): Unit = {
    var cum = 0L
    val commits = progress.filter(_.numInputRows > 0)
      .filter(q => java.time.Instant.parse(q.timestamp).toEpochMilli >= fromWall)
      .sortBy(_.batchId).map { q =>
        cum += q.numInputRows
        (cum / rowsPerFile, java.time.Instant.parse(q.timestamp).toEpochMilli +
          q.durationMs.get("triggerExecution").longValue)
      }
    res.layer("Collector.rows_per_s") =
      commits.filter(_._2 <= toWall).map(_._1).maxOption.getOrElse(0L) * rowsPerFile /
        ((toWall - fromWall) / 1000.0)
    res.sloMs = 5000.0
    lands.sortBy(_._1).foreach { case (k, at) =>
      res.attempted += 1; res.sloAttempted += 1
      commits.find(_._1 > k) match {
        case Some((_, done)) =>
          val lag = (done - at).toDouble
          res.ops("file") = res.ops("file") :+ lag
          if (lag <= res.sloMs) res.sloOk += 1
        case None =>
          res.failed += 1; res.correct = false
          res.note(s"window file $k never committed")
      }
    }
  }

  def readTimes(ctx: Ctx, res: Result): Unit = {
    val reads = ctx.tracer.all.filter(_.name == "RawStore.read").map(s => (s.endNs - s.startNs) / 1e6)
    res.layer("RawStore.read_ms_p50") = Stats.median(reads)
    res.layer("RawStore.read_ms_tail") = Stats.tail(reads)._1
  }

  def deleteDir(d: String): Unit = {
    val f = new java.io.File(d)
    def rm(x: java.io.File): Unit = {
      Option(x.listFiles()).foreach(_.foreach(rm)); x.delete()
    }
    rm(f)
  }
}

/** Stream-layer figures from the progress listener (traced runs only). */
object Pipelines {
  def streamLayers(ctx: Ctx, res: Result, fromWall: Long, toWall: Long,
                   lands: Seq[(Long, Long)], rowsPerFile: Int): Unit =
    ctx.progress.foreach { pl =>
      val trig = pl.triggers.asScala.toSeq.filter(_.startMs >= fromWall).sortBy(_.startMs)
      val windowMs = (toWall - fromWall).toDouble
      def inWindow(layer: String) = trig.filter(t => t.layer.startsWith(layer) && t.startMs < toWall)
      val col = inWindow("Collector").filter(_.rows > 0)
      res.layer("Collector.batches") = col.size.toDouble
      res.layer("Collector.rows_in") = col.map(_.rows).sum.toDouble
      val colMs = col.map(_.durMs.toDouble)
      res.layer("Collector.trigger_ms_p50") = Stats.median(colMs)
      res.layer("Collector.trigger_ms_tail") = Stats.tail(colMs)._1
      res.layer("Collector.busy_frac") = inWindow("Collector").map(_.durMs).sum / windowMs
      val roll = inWindow("Rollup").filter(_.rows > 0)
      res.layer("Rollup.batches") = roll.size.toDouble
      res.layer("Rollup.trigger_ms_p50") = Stats.median(roll.map(_.durMs.toDouble))
      res.layer("Rollup.busy_frac") = inWindow("Rollup").map(_.durMs).sum / windowMs
      var cum = 0L
      val commits = trig.filter(t => t.layer == "Collector" && t.rows > 0).map { t =>
        cum += t.rows; (cum / rowsPerFile, t.startMs + t.durMs)
      }
      res.layer("Collector.backlog_files_max") = lands.map { case (k, at) =>
        (k + 1 - commits.filter(_._2 <= at).map(_._1).lastOption.getOrElse(0L)).toDouble
      }.maxOption.getOrElse(0.0)
    }
}
