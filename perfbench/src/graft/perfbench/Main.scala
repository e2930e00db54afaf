package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What a workload is run with. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val engine: Option[EngineListener], val progress: Option[ProgressListener],
                val seed: Long, val seconds: Int, val workDir: String,
                val goldensPath: String, val threads: Int) {
  /** Set-ups per run; `setup_s` is their median. */
  val setupReps = 3
}

/** What a workload measured. `ops` holds per-operation latencies (ms)
  * keyed by operation kind: a request class, or a query name.
  */
final class Result(ctx: Ctx) {
  var setupS: Seq[Double] = Nil
  var windowS = 0.0
  var attempted = 0L
  var failed = 0L
  var correct = true
  /** Operations answered correctly within the latency limit `sloMs`. */
  var sloOk = 0L
  var sloAttempted = 0L
  var sloMs = 1000.0
  var perPass = 1
  /** Percentiles over the per-kind medians instead of all samples (a
    * query's samples are repeats of one operation).
    */
  var opsAreKinds = false
  /** The timed window (nanoTime); the trace summary keeps spans starting in it. */
  var windowFromNs = Long.MinValue
  var windowToNs = Long.MaxValue
  val ops = mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
  val layer = mutable.Map.empty[String, Double]
  val artifact = mutable.Map.empty[String, Any]
  private val notes = mutable.ArrayBuffer.empty[String]
  def note(s: String): Unit = notes.synchronized {
    System.err.println(s"[perfbench] $s")
    if (notes.size < 50) notes += s
  }
  def allNotes: Seq[String] = notes.synchronized(notes.toList)
}

object Main {

  val Workloads = Seq("ingest_lifecycle", "batch_suite")

  private def peakRssMb(): Double = {
    val st = scala.io.Source.fromFile("/proc/self/status")
    try st.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally st.close()
  }

  /** Highest heap occupancy left after any collection: the memory the
    * program's live data needs, independent of how far the collector
    * lets the heap grow between collections (which is what peak RSS
    * mostly follows).
    */
  private val peakLiveBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private def watchGc(): Unit =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            peakLiveBytes.accumulateAndGet(used, math.max)
          }
        }, null, null)
      case _ => ()
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val recordTo = opts.get("record-goldens")
    require(Workloads.contains(workload) || recordTo.isDefined, s"unknown workload '$workload'")
    val traced = opts.getOrElse("trace", "0") == "1"
    val threads = opts.getOrElse("threads", Runtime.getRuntime.availableProcessors.toString).toInt
    val workDir = opts("work-dir")
    watchGc()
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$workDir/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(traced)
    val engine = if (traced) Some(new EngineListener(tracer)) else None
    val progress = if (traced) Some(new ProgressListener(tracer)) else None
    engine.foreach(spark.sparkContext.addSparkListener)
    progress.foreach(spark.streams.addListener)
    val ctx = new Ctx(spark, tracer, engine, progress,
      opts.getOrElse("seed", "1").toLong, opts.getOrElse("seconds", "10").toInt, workDir,
      opts.getOrElse("goldens", "perfbench/goldens.json"), threads)

    recordTo match {
      case Some(out) =>
        Batch.recordGoldens(ctx, out)
      case None =>
        val res = workload match {
          case "ingest_lifecycle" => Lifecycle.run(ctx)
          case "batch_suite" => Batch.run(ctx)
        }
        val spans = tracer.linkStreamJobs(tracer.all, StreamTags.spanIds)
          .filter(s => s.startNs >= res.windowFromNs && s.startNs <= res.windowToNs)
        val report = Report(ctx, res, spans, peakLiveBytes.get / 1048576.0, peakRssMb())
        java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("artifact")),
          Json(report.artifact) + "\n")
        println("PERFBENCH_RESULT " + Json(report.result))
    }
    spark.stop()
  }
}

/** Turns a workload's measurements into the metric set and artifact. */
final case class Report(result: Map[String, Any], artifact: Map[String, Any])

object Report {

  /** Every per-layer metric and its unit; a workload that leaves a layer
    * idle reports it as 0.
    */
  val LayerUnits: Seq[(String, String)] = {
    val fams = Batch.Families.map(_._1)
    Seq("Collector.batches" -> "count", "Collector.rows_in" -> "count",
      "Collector.trigger_ms_p50" -> "ms", "Collector.trigger_ms_tail" -> "ms",
      "Collector.busy_frac" -> "ratio", "Collector.backlog_files_max" -> "count",
      "Collector.rows_per_s" -> "rows/s",
      "Rollup.batches" -> "count", "Rollup.trigger_ms_p50" -> "ms",
      "Rollup.busy_frac" -> "ratio", "Rollup.publishes" -> "count",
      "Retention.pass_ms_p50" -> "ms", "Retention.days_dropped" -> "count",
      "Retention.days_rewritten" -> "count",
      "Compaction.pass_ms_p50" -> "ms", "Compaction.days_compacted" -> "count",
      "Compaction.bytes_rewritten" -> "B",
      "Maintenance.pass_ms_p50" -> "ms",
      "RawStore.read_ms_p50" -> "ms", "RawStore.read_ms_tail" -> "ms",
      "RawStore.manifest_commits" -> "count", "RawStore.data_files" -> "count",
      "RawStore.bytes_on_disk" -> "B", "RawStore.bytes_per_row" -> "B/row",
      "SnapshotCache.hit_frac" -> "ratio", "SnapshotCache.hit_ms_p50" -> "ms",
      "SnapshotCache.miss_ms_p50" -> "ms", "SnapshotCache.version_flips" -> "count") ++
      Seq("raw", "downsampled", "daily", "search").flatMap(c =>
        Seq(s"Grafana.$c.ms_p50" -> "ms", s"Grafana.$c.ms_tail" -> "ms")) ++
      Seq("Grafana.resp_bytes_mean" -> "B") ++
      fams.flatMap(f => Seq(s"$f.construct_s" -> "s", s"$f.action_s" -> "s",
        s"$f.jobs" -> "count", s"$f.tasks" -> "count",
        s"$f.shuffle_bytes" -> "B", s"$f.spill_bytes" -> "B")) ++
      Seq("engine.jobs" -> "count", "engine.tasks" -> "count", "engine.task_cpu_s" -> "s",
        "engine.shuffle_bytes" -> "B", "engine.spill_bytes" -> "B", "engine.gc_s" -> "s",
        "loadgen.late_ms_max" -> "ms", "loadgen.retries" -> "count", "feeder.late_ms_max" -> "ms")
  }

  val EndToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms",
    "op_geomean_ms" -> "ms", "op_total_s" -> "s", "op_slo_frac" -> "ratio",
    "peak_heap_mb" -> "MB")

  def apply(ctx: Ctx, res: Result, spans: Seq[Span], heapMb: Double, rssMb: Double): Report = {
    val kindMedians = res.ops.map { case (k, xs) => k -> Stats.median(xs) }
    val all = if (res.opsAreKinds) kindMedians.values.toSeq else res.ops.values.flatten.toSeq
    val (tail, tailQ) = Stats.tail(all)
    val e2e = Map(
      "setup_s" -> Stats.median(res.setupS),
      "op_p50_ms" -> Stats.median(all),
      "op_tail_ms" -> tail,
      "op_geomean_ms" -> Stats.geomean(kindMedians.values.toSeq),
      "op_total_s" -> kindMedians.values.sum / 1000.0,
      "op_slo_frac" -> (if (res.sloAttempted == 0) 0.0 else res.sloOk.toDouble / res.sloAttempted),
      "peak_heap_mb" -> heapMb)

    ctx.engine.foreach { eng =>
      eng.total.asMap.foreach { case (k, v) => res.layer(s"engine.$k") = v / res.perPass }
      Batch.Families.foreach { case (fam, _) =>
        Option(eng.byTag.get(fam)).foreach { c =>
          Seq("jobs", "tasks", "shuffle_bytes", "spill_bytes").foreach { k =>
            res.layer(s"$fam.$k") = c.asMap(k) / res.perPass
          }
        }
      }
    }
    val layer = LayerUnits.map { case (k, _) => k -> res.layer.getOrElse(k, 0.0) }.toMap
    val metrics = if (ctx.tracer.enabled) layer else e2e
    val units = (if (ctx.tracer.enabled) LayerUnits else EndToEndUnits).toMap
    val result = Map(
      "correct" -> res.correct, "attempted" -> res.attempted, "failed" -> res.failed,
      "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) })

    val traceSummary: Map[String, Any] =
      if (!ctx.tracer.enabled) Map.empty
      else {
        val layerSelf = ctx.tracer.layerSelfMs(spans)
        val total = layerSelf.values.sum
        Map("spans" -> spans.size,
          "self_ms_by_layer" -> layerSelf,
          "self_share_by_layer" -> layerSelf.map { case (k, v) => k -> (if (total > 0) v / total else 0.0) },
          "self_ms_by_span" -> ctx.tracer.selfByName(spans))
      }
    val artifact = Map(
      "seed" -> ctx.seed, "seconds" -> ctx.seconds, "traced" -> ctx.tracer.enabled,
      "threads" -> ctx.threads, "window_s" -> res.windowS,
      "setup_s_samples" -> res.setupS, "peak_rss_mb" -> rssMb, "tail_quantile" -> tailQ, "op_samples" -> all.size,
      "op_median_ms_by_kind" -> kindMedians.toMap, "op_count_by_kind" -> res.ops.map { case (k, v) => k -> v.size }.toMap,
      "end_to_end" -> e2e, "per_layer" -> layer, "notes" -> res.allNotes,
      "correct" -> res.correct, "attempted" -> res.attempted, "failed" -> res.failed,
      "trace" -> traceSummary) ++ res.artifact
    Report(result, artifact)
  }
}
