package graft.perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.serve.{Grafana, SnapshotCache}
import graft.serve.Grafana.{QueryRequest, Target, TimeRange}
import graft.streaming.{RawStore, Rollup}

/** Open-loop request generator: every request has a due time fixed in
  * advance; one dispatcher hands each to a fixed pool of client threads
  * when it falls due, whether or not earlier requests have finished.
  */
final class OpenLoop(clients: Int) {
  private val pool = Executors.newFixedThreadPool(clients)
  val lateMsMax = new AtomicLong(0L)

  /** Runs `schedule` (due offset ns from now, body given its due time);
    * returns once every request has finished.
    */
  def run(schedule: Seq[(Long, Long => Unit)]): Unit = {
    val t0 = System.nanoTime()
    val futures = schedule.sortBy(_._1).map { case (off, body) =>
      val due = t0 + off
      val wait = due - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      lateMsMax.accumulateAndGet((System.nanoTime() - due) / 1000000L, math.max)
      pool.submit(new Runnable { def run(): Unit = body(due) })
    }
    futures.foreach(_.get())
  }

  def shutdown(): Unit = { pool.shutdown(); pool.awaitTermination(60, TimeUnit.SECONDS) }
}

/** A Grafana request as the load generator sends it. `cls` is the
  * request class; the cache key is the request itself.
  */
final case class Req(cls: String, req: QueryRequest)

/** The serving path under test: requests answered through the
  * production SnapshotCache over the raw store and the served rollup.
  * Each request counts as an attempted operation; its latency, timed
  * from its due time, is a per-layer figure.
  */
final class ServeClient(ctx: Ctx, res: Result, sinkDir: String, dayServed: String) {
  implicit val spark: SparkSession = ctx.spark
  private val tr = ctx.tracer
  val fs: FileSystem = new Path(sinkDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rawRead(): DataFrame =
    tr.span("RawStore.read")(RawStore.read(spark, sinkDir, Store.SinkSchema, "parquet"))

  // Traced, the caches are built from SnapshotCache's public constructor
  // with the same arguments the factories pass, so the resolve and
  // version calls can be timed from outside.
  val rawCache: SnapshotCache =
    if (!tr.enabled) SnapshotCache.forRawStore(spark, sinkDir, Store.SinkSchema, "parquet")
    else new SnapshotCache(() => tr.span("RawStore.version")(RawStore.versionStamp(fs, sinkDir)),
      _ => rawRead(), 64, persistPinned = false)
  val dayCache: SnapshotCache =
    if (!tr.enabled) SnapshotCache.forServedRollup(spark, dayServed)
    else new SnapshotCache(() => tr.span("Rollup.served.version")(Rollup.currentSnapshot(spark, dayServed)),
      v => tr.span("Rollup.served.resolve")(spark.read.parquet(s"$dayServed/snap=$v")), 64)

  val hits = new AtomicLong; val misses = new AtomicLong
  val hitMs = new ConcurrentLinkedQueue[Double](); val missMs = new ConcurrentLinkedQueue[Double]()
  val grafanaMs = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  val respBytes = new AtomicLong; val answered = new AtomicLong
  val versions = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Long)]()
  val latMs = new ConcurrentLinkedQueue[Double]()

  /** The Grafana call a request class makes, on the frame the cache hands it. */
  def answer(r: Req, df: DataFrame): String = r.cls match {
    case "raw1" | "raw5" => Grafana.query(df, r.req)
    case "downsampled" => Grafana.queryDownsampled(df, r.req)
    case "daily" => Grafana.queryDaily(df, r.req)
    case "search" => Grafana.search(df).mkString("[\"", "\",\"", "\"]")
  }

  private def grafanaClass(cls: String) = if (cls.startsWith("raw")) "raw" else cls

  private def cacheOf(r: Req): (SnapshotCache, String) =
    if (r.cls == "daily") (dayCache, "day") else (rawCache, "raw")

  private def version(tier: String): Long =
    if (tier == "day") Rollup.currentSnapshot(spark, dayServed)
    else RawStore.versionStamp(fs, sinkDir)

  val retries = new AtomicLong

  /** Send one request due at `dueNs`; `check` validates the body. A
    * request that throws is retried twice after 100 and 300 ms, as a
    * dashboard client does; the latency then includes the failed
    * attempts, and the retries are counted.
    */
  def send(r: Req, dueNs: Long, check: String => Boolean): Unit = {
    val (cache, tier) = cacheOf(r)
    def attempt(left: Int, pauseMs: Long): Boolean =
      try once(r, cache, tier, check)
      catch {
        case e: Throwable if left > 0 =>
          retries.incrementAndGet()
          res.note(s"${r.cls} request retried: $e")
          Thread.sleep(pauseMs)
          attempt(left - 1, pauseMs * 3)
        case e: Throwable => res.note(s"${r.cls} request failed: $e"); false
      }
    val ok = attempt(2, 100)
    latMs.add((System.nanoTime() - dueNs) / 1e6)
    res.synchronized {
      res.attempted += 1
      if (!ok) { res.failed += 1; res.correct = false }
    }
  }

  private def once(r: Req, cache: SnapshotCache, tier: String, check: String => Boolean): Boolean = {
    var invoked = false
    val t0 = System.nanoTime()
    val body = tr.span(s"request.${r.cls}", tr.newTrace()) {
      tr.span("SnapshotCache.render")(cache.render(r) { df =>
        invoked = true
        val g0 = System.nanoTime()
        val s = tr.span(s"Grafana.${grafanaClass(r.cls)}")(answer(r, df))
        grafanaMs.computeIfAbsent(grafanaClass(r.cls), _ => new ConcurrentLinkedQueue[Double]())
          .add((System.nanoTime() - g0) / 1e6)
        s
      })
    }
    val ms = (System.nanoTime() - t0) / 1e6
    versions.add((tier, version(tier)))
    if (invoked) { misses.incrementAndGet(); missMs.add(ms) }
    else { hits.incrementAndGet(); hitMs.add(ms) }
    respBytes.addAndGet(body.length.toLong); answered.incrementAndGet()
    check(body)
  }

  /** Per-layer serve metrics into `res.layer`. */
  def report(): Unit = {
    val h = hits.get; val m = misses.get
    res.layer("SnapshotCache.hit_frac") = if (h + m == 0) 0.0 else h.toDouble / (h + m)
    res.layer("SnapshotCache.hit_ms_p50") = Stats.median(hitMs.asScala.toSeq)
    res.layer("SnapshotCache.miss_ms_p50") = Stats.median(missMs.asScala.toSeq)
    res.layer("SnapshotCache.version_flips") =
      versions.asScala.groupBy(_._1).values.map(_.size - 1).sum.toDouble
    grafanaMs.asScala.foreach { case (c, xs) =>
      val s = xs.asScala.toSeq
      res.layer(s"Grafana.$c.ms_p50") = Stats.median(s)
      res.layer(s"Grafana.$c.ms_tail") = Stats.tail(s)._1
    }
    res.layer("Grafana.resp_bytes_mean") =
      if (answered.get == 0) 0.0 else respBytes.get.toDouble / answered.get
    res.layer("loadgen.retries") = retries.get.toDouble
    res.artifact("serve") = Map("hits" -> h, "misses" -> m,
      "latency_ms_p50" -> Stats.median(latMs.asScala.toSeq),
      "grafana_calls" -> grafanaMs.asScala.map { case (c, xs) => c -> xs.size }.toMap)
  }
}

/** Raw-store and feed helpers of the streaming workload. */
object Store {
  val SinkSchema = "series STRING, ts TIMESTAMP, value DOUBLE, p_date DATE, batch_id BIGINT"
  val SimStartMs: Long = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
  val HourMs: Long = 3600L * 1000
  val DayMs: Long = 24 * HourMs
  val Series = 20

  private val isoFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def iso(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC).toLocalDateTime.format(isoFmt)

  def req(targets: Seq[String], fromMs: Long, toMs: Long, maxPoints: Int = 200): QueryRequest =
    QueryRequest(targets.map(Target(_, "timeseries")), TimeRange(iso(fromMs), iso(toMs)), maxPoints)

  /** (data files, bytes) under `dir`, generation dirs included; hidden
    * sidecars and markers excluded.
    */
  def diskUsage(fs: FileSystem, dir: String): (Long, Long) = {
    var files = 0L; var bytes = 0L
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory) walk(st.getPath)
      else if (!n.startsWith("_") && !n.startsWith(".")) { files += 1; bytes += st.getLen }
    }
    if (fs.exists(new Path(dir))) walk(new Path(dir))
    (files, bytes)
  }

  /** Drop `body` as file `name` into `dropDir` by stage-then-rename, so
    * the file source never lists a half-written file.
    */
  def drop(stageDir: String, dropDir: String, name: String, body: String): Unit = {
    val staged = java.nio.file.Paths.get(stageDir, name)
    java.nio.file.Files.writeString(staged, body)
    java.nio.file.Files.move(staged, java.nio.file.Paths.get(dropDir, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Writes one raw JSON line per row: series, ISO instant, body. */
  def jsonLines(rows: Iterator[(Int, Long, Int)]): String = {
    val sb = new StringBuilder
    val fmt = java.time.format.DateTimeFormatter.ISO_INSTANT
    rows.foreach { case (s, ts, v) =>
      sb.append("{\"series\":\"s").append(s).append("\",\"ts\":\"")
        .append(fmt.format(java.time.Instant.ofEpochMilli(ts)))
        .append("\",\"body\":\"{\\\"count\\\": ").append(v).append(".0}\"}\n")
    }
    sb.toString
  }

  def dirs(work: String, names: String*): Seq[String] = names.map { n =>
    val d = s"$work/$n"; new java.io.File(d).mkdirs(); d
  }

  def stopAll(qs: Seq[org.apache.spark.sql.streaming.StreamingQuery]): Unit =
    qs.foreach(q => try q.stop() catch { case _: Throwable => () })
}
