package graft.serve

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Grafana SimpleJSON/JSON-datasource protocol shaping — the read path of
  * the reference (`/search`, `/query`, `/annotations`, `/tag-keys`,
  * `/tag-values`; reference index.js:64-181), minus the HTTP frame (the
  * driver notes the serving API itself isn't Spark-based; this object is
  * the engine-side request→plan→JSON contract a thin HTTP layer calls).
  *
  * Reference quirks deliberately FIXED here (SURVEY.md §1.4):
  *  1. unknown / inactive target ⇒ empty result, not a crash (§1.4.1-2);
  *  3. multiple table targets concatenate instead of last-wins (§1.4.3);
  *  5. no string-interpolated query text — column expressions only (§1.4.5);
  *  6. explicit `orderBy(ts)` under the limit (§1.4.6);
  *  7. `maxDataPoints` stays truncation (the declared baseline semantic;
  *     real downsampling is q70's time-bucket aggregation).
  */
object Grafana {

  final case class Target(target: String, targetType: String) // "timeseries" | "table"
  final case class TimeRange(fromIso: String, toIso: String)
  final case class QueryRequest(targets: Seq[Target], range: TimeRange,
                                maxDataPoints: Int)

  /** `/search` — the active-series catalog (reference index.js:74-84).
    * Engine side: DISTINCT over the series column (SURVEY.md §1.3).
    */
  def search(metrics: DataFrame): Seq[String] =
    metrics.select(col("series")).distinct()
      .orderBy(col("series")).collect().map(_.getString(0)).toSeq

  /** Executes ONE Spark action for a whole request: collects the
    * (series, value, t_ms) slice and groups rows driver-side. A
    * dashboard request with N targets previously ran N jobs, each
    * re-scanning the source (SURVEY §3.1 flags the reference's own
    * per-target loop, index.js:97-112, as the plan to avoid); one
    * `isin` scan does the same work reading the source once. Collected
    * volume stays bounded by targets × maxDataPoints (or bucket/rollup
    * cardinality) — the reference's own consumption point.
    *
    * Truncation limit → the bounded `earliest_k_agg` aggregate, NOT a
    * row_number window: the window form shuffled every matched row of
    * the range through one per-series sort before truncating, so a
    * wide range over a dense series paid its full volume into one
    * exchange. The aggregate's map-side partials discard beyond-k
    * points before the shuffle — the exchange carries ≤ limit points
    * per series per task however wide the range is.
    */
  /** The bounded truncation plan: first `n` points per series of a
    * (series, value, t_ms) frame. Package-visible so the no-window plan
    * shape is spec-gated (GrafanaSpec).
    */
  private[serve] def truncateEarliest(dps: DataFrame, n: Int): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(dps.sparkSession)
    dps.groupBy(col("series"))
      .agg(call_function(
        graft.functions.VectorExpressions.earliestKFnName,
        col("t_ms"), col("value"), lit(n)).as("pts"))
      .select(col("series"), explode(col("pts")).as("p"))
      .select(col("series"), col("p.value").as("value"),
        col("p.t_ms").as("t_ms"))
  }

  private def collectBySeries(dps: DataFrame, limit: Option[Int])
      : Map[String, IndexedSeq[(Double, Long)]] = {
    val limited = limit match {
      case Some(n) => truncateEarliest(dps, n)
      case None => dps
    }
    limited.orderBy(col("series"), col("t_ms")).collect()
      .groupBy(_.getString(0)) // scala groupBy keeps per-group encounter order
      .map { case (s, rows) =>
        s -> rows.toIndexedSeq.map(r => (r.getDouble(1), r.getLong(2)))
      }
  }

  /** Shared response assembly: timeseries objects in request order,
    * then the single concatenated table; targets absent from the
    * collected map (unknown/inactive, §1.4.1-2) answer with their
    * empty shape.
    */
  private def render(targets: Seq[Target],
      bySeries: Map[String, IndexedSeq[(Double, Long)]]): String = {
    val empty = IndexedSeq.empty[(Double, Long)]
    val ts = targets.filter(_.targetType != "table")
      .map(t => targetJson(t.target, bySeries.getOrElse(t.target, empty)))
    val table = tableJson(targets.filter(_.targetType == "table")
      .map(t => (t.target, bySeries.getOrElse(t.target, empty))))
    (ts ++ table).mkString("[", ",", "]")
  }

  /** `/query` — returns the JSON body (reference index.js:86-155):
    * timeseries targets → `{"target", "datapoints": [[value, epoch_ms]]}`
    * (value FIRST, reference index.js:121-129); table targets → one
    * concatenated fixed-schema table (Target, Value, Time). All
    * targets come from ONE inclusive-range `isin` scan (reference
    * index.js:106 semantics per target), per-series time order +
    * truncation limit.
    */
  def query(metrics: DataFrame, req: QueryRequest): String = {
    val names = req.targets.map(_.target).distinct
    val dps = metrics
      .filter(col("series").isin(names: _*) &&
        col("ts").between(
          to_timestamp(lit(req.range.fromIso)), to_timestamp(lit(req.range.toIso))))
      .filter(col("value").isNotNull) // schema allows null; getDouble must not NPE
      .select(col("series"), col("value"), unix_millis(col("ts")).as("t_ms"))
    render(req.targets, collectBySeries(dps, Some(req.maxDataPoints)))
  }

  /** Downsampling `/query` variant — what Grafana actually intends with
    * `maxDataPoints` (the reference truncates instead, quirk §1.4.7):
    * bucket the range into ≤ maxDataPoints equal time buckets and return
    * one averaged point per bucket (bucket-start epoch-ms as the time).
    */
  def queryDownsampled(metrics: DataFrame, req: QueryRequest): String = {
    // the bucket origin and width derive from the same session-zone
    // instants the range filter uses (constants the optimizer folds), so
    // bucket times never shift by a JVM-vs-session zone offset
    val from = to_timestamp(lit(req.range.fromIso))
    val to = to_timestamp(lit(req.range.toIso))
    val fromMs = unix_millis(from)
    // ceiling division + index clamp so bucket indices stay
    // < maxDataPoints (floor division could emit maxDataPoints+1 buckets:
    // the range is inclusive, so a row at exactly `to` lands one past the
    // end — it's clamped into the last bucket)
    val max = math.max(1, req.maxDataPoints).toLong
    val bucketMs = greatest(lit(1L), ceil((unix_millis(to) - fromMs) / max))
    val series = req.targets.filter(_.targetType != "table")
    val names = series.map(_.target).distinct
    // one isin scan + one (series, bucket) aggregation for the whole
    // request (see collectBySeries); output is ≤ maxDataPoints buckets
    // per series by the index clamp, so no further limit applies
    val dps = metrics
      .filter(col("series").isin(names: _*) && col("ts").between(from, to))
      .filter(col("value").isNotNull)
      .groupBy(col("series"),
        least(((unix_millis(col("ts")) - fromMs) / bucketMs).cast("long"),
          lit(max - 1)).as("bucket"))
      .agg(avg(col("value")).as("value"))
      .select(col("series"), col("value"),
        (col("bucket") * bucketMs + fromMs).as("t_ms"))
    val bySeries = collectBySeries(dps, None)
    val empty = IndexedSeq.empty[(Double, Long)]
    series.map(t => targetJson(t.target, bySeries.getOrElse(t.target, empty)))
      .mkString("[", ",", "]")
  }

  /** Rollup-backed `/query` for day-granularity ranges: serves per-day
    * averages (total/cnt) straight from [[graft.streaming.Rollup]]'s
    * maintained table instead of scanning raw points — the read path
    * whose cost is days × series regardless of raw corpus size (the
    * 100 TB dashboard answer). Datapoint time = day-start epoch-ms,
    * value = day mean; BOTH reference response shapes (timeseries and
    * table targets), same JSON layout as [[query]].
    */
  def queryDaily(rollup: DataFrame, req: QueryRequest): String =
    queryRollup(rollup, req, "p_date",
      iso => to_date(to_timestamp(lit(iso))),
      c => unix_millis(c.cast("timestamp")))

  /** [[queryDaily]] over the hour-granularity rollup table
    * (`p_hour` timestamp partitions, [[graft.streaming.Rollup]]'s
    * "hour" granularity): per-hour means, hour-start epoch-ms times.
    * Range bounds TRUNCATE DOWN to the hour before comparing (the same
    * convention as the day path's `to_date`): a `from` of 10:30 still
    * admits the 10:00 bucket — a bucket qualifies iff its start lies in
    * the truncated (inclusive) range, so the bucket containing `from`
    * is served rather than clipped.
    */
  def queryHourly(rollup: DataFrame, req: QueryRequest): String =
    queryRollup(rollup, req, "p_hour",
      iso => date_trunc("hour", to_timestamp(lit(iso))),
      c => unix_millis(c))

  /** Shared rollup read: filter the target's partitions in range (the
    * partition column is the scan's pruning key), project mean + bucket
    * start, assemble timeseries and table target shapes exactly like
    * [[query]].
    */
  private def queryRollup(rollup: DataFrame, req: QueryRequest,
                          partCol: String,
                          bound: String => Column,
                          toMs: Column => Column): String = {
    val names = req.targets.map(_.target).distinct
    val dps = rollup
      .filter(col("series").isin(names: _*) &&
        col(partCol).between(bound(req.range.fromIso), bound(req.range.toIso)))
      // Rollup filters null values at merge, but a foreign/hand-built
      // table may not — same getDouble-must-not-NPE guard as query()
      .filter(col("cnt") > 0 && col("total").isNotNull)
      .select(col("series"), (col("total") / col("cnt")).as("value"),
        toMs(col(partCol)).as("t_ms"))
    render(req.targets, collectBySeries(dps, Some(req.maxDataPoints)))
  }

  /** Shared timeseries-target assembly: value-FIRST datapoint pairs
    * (reference index.js:121-129) — one definition so the wire format
    * cannot diverge between the raw, downsampled, and rollup read paths.
    */
  private def targetJson(target: String, dps: Seq[(Double, Long)]): String = {
    val arr = dps.map { case (v, tMs) => s"[${jsNum(v)},$tMs]" }
      .mkString("[", ",", "]")
    s"""{"target":${jsStr(target)},"datapoints":$arr}"""
  }

  /** Shared table-target assembly: all table targets concatenate into
    * ONE fixed-schema (Target, Value, Time) table (reference
    * index.js:131-148, with §1.4.3's concatenation fix) — one definition
    * across the raw and rollup read paths. Emitted whenever table
    * TARGETS exist — zero matching rows still produce an empty table.
    * That is a deliberate DEVIATION from the reference (index.js only
    * appends the table object when rows exist), like the §1.4.3
    * concatenation fix: a requested target always answers with its
    * shape, so a dashboard panel can tell "no data" from "no table".
    */
  private def tableJson(parts: Seq[(String, Seq[(Double, Long)])]): Seq[String] =
    if (parts.isEmpty) Seq.empty
    else {
      val body = parts.flatMap { case (tg, dps) =>
        dps.map { case (v, tMs) => s"""[${jsStr(tg)},${jsNum(v)},$tMs]""" }
      }.mkString("[", ",", "]")
      Seq(
        s"""{"columns":[{"text":"Target","type":"string"},{"text":"Value","type":"number"},{"text":"Time","type":"time"}],"rows":$body,"type":"table"}""")
    }

  /** `/annotations`, `/tag-keys`, `/tag-values` — empty per the reference
    * stubs (index.js:159-181).
    */
  val annotations: String = "[]"
  val tagKeys: String = "[]"
  val tagValues: String = "[]"

  private def jsStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jsNum(d: Double): String =
    if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
