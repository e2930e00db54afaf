package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — runs every declared query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver
  * (BENCH_r{N}.json).
  *
  * Each query is fully materialized through a `noop` write: unlike
  * `count()`, which lets Catalyst drop sorts/projections and answer from
  * statistics, the noop sink executes the complete physical plan — the
  * number measured is the number a real sink would see.
  *
  * Every query runs once untimed (codegen compilation, JIT, broadcast
  * thread-pool spin-up), then k >= 3 timed samples reporting the MEDIAN.
  * The k samples are INTERLEAVED round-robin across the whole query
  * list — k full sweeps, one sample per query per sweep — not k
  * back-to-back runs per query. The r8 record showed why back-to-back
  * sampling fails: this host freezes for multi-second windows, and k
  * consecutive runs of one query all fit inside one freeze, so the
  * median itself was stalled (official q89 median 4.7 s vs 0.44 s
  * isolated — ~10x). With sweeps, one freeze lands on k DIFFERENT
  * queries' single samples, each of which that query's median discards.
  * Per-query min/max ride along in a `spread` map so the artifact
  * itself shows how noisy each number was.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // partitions = cpus, locally and in the scale soak (the r9 scan
    // settled it: more partitions is slower at every decade on one JVM);
    // on a real cluster AQE owns this dial via runtime coalescing
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = localSession(cpus, parts)
    def run(name: String,
            fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable =>
        // name in the message: interleaved stderr from a 70-query sweep
        // must attribute the failure without waiting for the failed-list
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
      }
    // SPARK_GRAFT_ONLY=q81_...,q85_... restricts the sweep — the tool for
    // re-timing a spike in isolation (host stalls and long-JVM effects
    // land on single queries in a full sweep; see verify skill gotchas)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name must fail loudly — silently dropping it would run an
    // empty (or wrong) sweep that still exits 0 and reports a tiny total
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      if (unknown.nonEmpty) {
        System.err.println(
          s"[bench] unknown SPARK_GRAFT_ONLY names: ${unknown.toSeq.sorted.mkString(",")}")
        sys.exit(2)
      }
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    if (selected.isEmpty) {
      System.err.println("[bench] empty query selection")
      sys.exit(2)
    }
    // k timed samples per query (median reported). 3 is the floor for a
    // median to discard one stall; SPARK_GRAFT_BENCH_K raises it for
    // offline precision runs
    val k = math.max(3, sys.env.getOrElse("SPARK_GRAFT_BENCH_K", "3").toInt)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val okMap = scala.collection.mutable.Map(selected.map(_._1 -> true): _*)
    def timedRun(name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // a previous run's persisted subplans would satisfy this one via
      // plan-canonicalization cache lookup — clear so every timed run
      // pays for its own intermediates. RDD-level unpersist FIRST and
      // BLOCKING: catalog.clearCache alone drops blocks asynchronously,
      // and at soak scales the next run's broadcast builds raced a heap
      // still holding gigabytes of the previous run's cache (observed:
      // spurious "not enough memory to broadcast" + 8× GC-thrash
      // outliers at 26×)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      okMap(name) &= run(name, fn)
      (System.nanoTime() - t0) / 1e9
    }
    // warmup sweep (codegen/JIT); failure also logged by run()
    selected.foreach { case (name, fn) => run(name, fn) }
    // k full sweeps, one sample per query per sweep — a host freeze hits
    // k different queries' single samples, never all k of one query's
    val samples = scala.collection.mutable.Map(
      selected.map(_._1 -> Vector.empty[Double]): _*)
    for (_ <- 1 to k; (name, fn) <- selected)
      samples(name) = samples(name) :+ timedRun(name, fn)
    // residual insurance: after the sweeps, a query whose median is slow
    // AND whose samples disagree badly buys two more isolated samples —
    // at this point the sweeps have separated the samples in time, so
    // this only fires on genuine plan-level variance, not one freeze
    val results = selected.map { case (name, fn) =>
      var timed = samples(name)
      if (median(timed) > 2.0 && timed.max > 1.5 * timed.min)
        timed = timed ++ (1 to 2).map(_ => timedRun(name, fn))
      (name, median(timed), timed.min, timed.max, okMap(name))
    }
    spark.catalog.clearCache()
    // Locale.ROOT: a comma-decimal default locale would emit 0,123 —
    // invalid JSON
    def f(v: Double) = String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(v)) // ms precision keeps the line short
    // a failed query reports -1, not its fast-failure duration — a broken
    // query must stand out in the JSON rather than understate the total
    val qs = results.map { case (k, v, _, _, ok) =>
      "\"" + k + "\":" + (if (ok) f(v) else "-1")
    }.mkString("{", ",", "}")
    val spread = results.map { case (k, _, lo, hi, _) =>
      "\"" + k + "\":[" + f(lo) + "," + f(hi) + "]"
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, _, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, _, _, true) => v }.sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"failed":$failed,"sf":"$sfDir"}""")
    // short second line: the driver's tail capture can truncate the long
    // per-query line; this one always fits and always parses
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_failed":${results.count(!_._5)}}""")
    spark.stop()
  }
}
