package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Order statistics over latency samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest of p99 / p90 that has at least ten samples beyond it;
    * below 100 samples, the quantile 1 - 10/n (so ten samples still lie
    * beyond it), and the maximum below 20 samples. Returns (value, q).
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    val q =
      if (n >= 1000) 0.99
      else if (n >= 100) 0.90
      else if (n >= 20) 1.0 - 10.0 / n
      else 1.0
    (quantile(xs, q), q)
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)
}

/** Minimal JSON rendering for the result line and the run artifact. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** One recorded interval. `trace` groups the spans of one request or
  * query; `parent` is the span that caused this one (0 = root).
  */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, every call is a plain pass-through
  * so the untraced run measures the program alone.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] // (span id, trace id)

  /** Local property carrying the caller's span id into Spark jobs. */
  val JobProp = "perfbench.span"

  def newTrace(): Long = if (enabled) ids.incrementAndGet() else 0L

  def record(s: Span): Unit = if (enabled) spans.add(s)

  def nextId(): Long = ids.incrementAndGet()

  /** Time `body` as span `name` under the thread's current span (or as a
    * root of `trace`). Spark jobs submitted inside are linked to it.
    */
  def span[T](name: String, trace: Long = 0L)(body: => T)
             (implicit spark: SparkSession): T =
    if (!enabled) body
    else {
      val outer = current.get()
      val id = ids.incrementAndGet()
      val tr = if (trace != 0L) trace else if (outer != null) outer._2 else id
      val parent = if (outer != null) outer._1 else 0L
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(JobProp)
      current.set((id, tr))
      sc.setLocalProperty(JobProp, s"$id:$tr:${name.takeWhile(_ != '.')}")
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, tr, name, t0, System.nanoTime()))
        current.set(outer)
        sc.setLocalProperty(JobProp, prevProp)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time of each span: its duration minus the union of the
    * intervals its children cover.
    */
  def selfMs(from: Seq[Span]): Map[Long, Double] = {
    val kids = from.groupBy(_.parent)
    from.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(p => p._2 > p._1).sortBy(_._1)
      var covered = 0L; var curS = 0L; var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE != Long.MinValue) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE != Long.MinValue) covered += curE - curS
      s.id -> math.max(0L, s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  /** Stream jobs are tagged with their stream's synthetic id while the
    * trigger span only exists once the trigger's progress arrives: hang
    * each such job under the progress part (or trigger) whose interval
    * holds the job's start.
    */
  def linkStreamJobs(from: Seq[Span], streamIds: Set[Long]): Seq[Span] = {
    val triggers = from.filter(s => s.parent == 0L && s.name.endsWith(".trigger"))
    val parts = from.groupBy(_.parent)
    from.map { s =>
      if (!streamIds.contains(s.parent)) s
      else {
        val layer = StreamTags.layerForSpan(s.parent)
        triggers.find(t => layer.exists(l => t.name == s"$l.trigger") &&
            t.startNs <= s.startNs && s.startNs <= t.endNs) match {
          case Some(t) =>
            val host = parts.getOrElse(t.id, Nil)
              .find(p => p.startNs <= s.startNs && s.startNs <= p.endNs).getOrElse(t)
            s.copy(parent = host.id, trace = t.trace)
          case None => s.copy(parent = 0L)
        }
      }
    }
  }

  /** Self time per layer: a span belongs to the layer named before the
    * first '.' of its name; engine jobs belong to the nearest
    * non-engine ancestor, so job time counts for the layer that caused
    * it.
    */
  def layerSelfMs(from: Seq[Span]): Map[String, Double] = {
    val byId = from.map(s => s.id -> s).toMap
    val self = selfMs(from)
    def layer(s: Span): String = {
      var cur = s
      var guard = 0
      while (cur.name.startsWith("engine.") && byId.contains(cur.parent) && guard < 64) {
        cur = byId(cur.parent); guard += 1
      }
      cur.name.takeWhile(_ != '.')
    }
    from.groupBy(layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  def selfByName(from: Seq[Span]): Map[String, Double] = {
    val self = selfMs(from)
    from.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }
}

/** Engine counters from the SparkListener, keyed by the benchmark span
  * (and so the layer or query family) that submitted each job.
  */
final class EngineListener(tracer: Tracer) extends SparkListener {
  final class Counters {
    val jobs = new AtomicLong; val tasks = new AtomicLong
    val cpuNs = new AtomicLong; val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong; val gcMs = new AtomicLong
    def asMap: Map[String, Double] = Map(
      "jobs" -> jobs.get.toDouble, "tasks" -> tasks.get.toDouble,
      "task_cpu_s" -> cpuNs.get / 1e9, "shuffle_bytes" -> shuffleBytes.get.toDouble,
      "spill_bytes" -> spillBytes.get.toDouble, "gc_s" -> gcMs.get / 1e3)
  }
  /** Counters per layer of the span that submitted the job. */
  @volatile var total = new Counters
  val byTag = new java.util.concurrent.ConcurrentHashMap[String, Counters]()

  /** Start counting afresh (at the start of the timed window). */
  def reset(): Unit = { total = new Counters; byTag.clear() }
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]()

  private def counters(tag: String): Counters =
    byTag.computeIfAbsent(tag, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val (parent, trace, tag) = props.flatMap(p => Option(p.getProperty(tracer.JobProp)))
      .map { v => val a = v.split(':'); (a(0).toLong, a(1).toLong, a(2)) }
      .orElse(props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .map(q => (StreamTags.spanFor(q), 0L,
          StreamTags.layerOf(q).getOrElse("other").takeWhile(_ != '.'))))
      .getOrElse((0L, 0L, "other"))
    e.stageIds.foreach(s => stageTag.put(s, tag))
    jobStart.put(e.jobId, (System.nanoTime(), parent, trace))
    total.jobs.incrementAndGet(); counters(tag).jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, parent, trace) =>
      if (tracer.enabled)
        tracer.record(Span(tracer.nextId(), parent, trace, "engine.job", t0, System.nanoTime()))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val tag = Option(stageTag.get(e.stageId)).getOrElse("other")
    Seq(total, counters(tag)).foreach { c =>
      c.tasks.incrementAndGet()
      if (m != null) {
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        c.gcMs.addAndGet(m.jvmGCTime)
      }
    }
  }
}

/** Stream id → layer name and the synthetic span id its jobs hang off. */
object StreamTags {
  private val names = new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()
  def register(queryId: String, layer: String, spanId: Long): Unit =
    names.put(queryId, (layer, spanId))
  def spanFor(queryId: String): Long = Option(names.get(queryId)).map(_._2).getOrElse(0L)
  def layerForSpan(id: Long): Option[String] =
    names.values.asScala.collectFirst { case (l, i) if i == id => l }
  def spanIds: Set[Long] = names.values.asScala.map(_._2).toSet
  def layerOf(queryId: String): Option[String] = Option(names.get(queryId)).map(_._1)
}

/** Per-trigger progress of each registered stream (read from the
  * StreamingQueryListener), turned into a trigger span with its
  * `durationMs` parts as children when tracing.
  */
final class ProgressListener(tracer: Tracer) extends StreamingQueryListener {
  final case class Trigger(layer: String, batchId: Long, startMs: Long,
                           durMs: Long, rows: Long, parts: Map[String, Long])
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  private val PartOrder = Seq("latestOffset", "getBatch", "queryPlanning",
    "addBatch", "walCommit", "commitOffsets")

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    StreamTags.layerOf(p.id.toString).foreach { layer =>
      val parts = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val dur = parts.getOrElse("triggerExecution", 0L)
      if (p.numInputRows > 0 || dur > 0) {
        val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
        triggers.add(Trigger(layer, p.batchId, startMs, dur, p.numInputRows, parts))
        if (tracer.enabled && p.numInputRows > 0) {
          // wall ms → nanoTime scale, anchored at the listener's clock
          val offNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
          val s0 = startMs * 1000000L + offNs
          val id = tracer.nextId()
          tracer.record(Span(id, 0L, id, s"$layer.trigger", s0, s0 + dur * 1000000L))
          var t = s0
          PartOrder.foreach { k =>
            parts.get(k).filter(_ > 0).foreach { ms =>
              tracer.record(Span(tracer.nextId(), id, id, s"$layer.$k", t, t + ms * 1000000L))
              t += ms * 1000000L
            }
          }
        }
      }
    }
  }
}
