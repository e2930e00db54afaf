package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The collector — Spark-native write path of the reference
  * (reference index.js:225-284): poll sources on per-source cadence,
  * extract one numeric value per response, append to the metric store.
  *
  * Reference structure → Structured Streaming mapping:
  *  - 1 s scheduler tick (index.js:225, 284)  → `Trigger.ProcessingTime("1 second")`
  *  - per-source due-check `now > lastRun + interval` (index.js:238)
  *       → tick ⋈ broadcast(sources) filtered on `tick_s % interval == 0`
  *  - `axios(config)` fetch + `transformResponse` (index.js:242,
  *    config.js.dist:25-35) → a fetch function producing a JSON body +
  *    `from_json` extraction (declarative, not arbitrary JS)
  *  - header-echo series labeling (index.js:210-212, 243) → the series
  *    column carried through the plan
  *  - null guard (index.js:246) → validity filter: `TRY_CAST AS DOUBLE`
  *    must yield a finite value (strengthened per SURVEY.md §1.4.9: error
  *    payloads must not ingest)
  *  - `writePoints` (index.js:250-257) → `foreachBatch` idempotent write
  *    to a `p_date`-partitioned table (each batch overwrites its own
  *    `batch_id` subpartition, see [[writeBatch]]), with checkpointing —
  *    an exactly-once ledger the reference entirely lacks (its failed
  *    writes are logged and dropped, index.js:259-261)
  *
  * Retention (index.js:269-282) is [[Retention]]'s partition-drop job, not
  * a streaming concern.
  *
  * Scale: the stream is partitioned by series hash; the sink table is
  * date-partitioned so readers prune by time (SURVEY.md §1.3) and
  * retention is a metadata drop. State for windowed aggregation is bounded
  * by the watermark.
  */
object Collector {

  /** Per-source config — the Spark shape of config.js.dist:13-38
    * (FIXTURES.md §2). `valueExpr` is the per-source response transform
    * (the reference's arbitrary `transformResponse`, config.js.dist:25-35,
    * made declarative): a SQL expression over the string column `body`
    * that yields the sample's numeric value. Custom extractors must
    * convert with `TRY_CAST`, not `CAST`: under ANSI mode (Spark's
    * default) a `CAST` of one malformed payload throws, failing the
    * micro-batch on every replay and stopping the collector for good.
    */
  final case class SourceConfig(series: String, active: Boolean,
                                intervalS: Int, retainS: Long, url: String,
                                valueExpr: String = Collector.defaultValueExpr)

  /** Default response transform: the dist config's `{"count": N}` scrape. */
  val defaultValueExpr: String =
    "TRY_CAST(get_json_object(body, '$.count') AS DOUBLE)"

  /** Raw sample schema entering [[transform]]: (series, ts, body). */
  val rawSchema: StructType = StructType(Seq(
    StructField("series", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("body", StringType)))

  /** Extract + validate: JSON body → one double `value` per sample.
    * Declarative `transformResponse` (R2) + validity filter (R3) +
    * partition-date derivation for the sink layout. Works on both batch
    * and streaming DataFrames — the streaming tests and the batch oracle
    * share it.
    *
    * `extractors` maps series → per-source SQL extraction expression over
    * `body` (from [[SourceConfig.valueExpr]]); series without an entry use
    * [[defaultValueExpr]]. The per-series dispatch compiles to one CASE
    * expression — still a single codegen'd map stage, no per-source
    * branching in the stream graph.
    */
  def transform(raw: DataFrame,
                extractors: Map[String, String] = Map.empty): DataFrame = {
    val value =
      extractors.foldLeft(when(lit(false), lit(null))) {
        case (acc, (series, e)) => acc.when(col("series") === series, expr(e))
      }.otherwise(expr(defaultValueExpr))
    raw
      .withColumn("value", value.try_cast("double"))
      // keeps finite values only: nulls (parse errors, non-numerics) fail
      // the comparison, and so do ±Infinity and NaN (which Spark orders
      // above Infinity) — they have no JSON form and would poison every
      // rollup total. ONE reference to `value`: the filter is pushed
      // below the projection, so each reference re-parses the body
      .filter(abs(col("value")) < lit(Double.PositiveInfinity))
      .select(col("series"), col("ts"), col("value"),
        to_date(col("ts")).as("p_date"))
  }

  /** Watermarked tumbling aggregation over the collected stream — the
    * streaming form of q74 (batch analog in graft.ops.Windows). Late rows
    * beyond 10 minutes are dropped by the state store.
    */
  def watermarkedCounts(metrics: DataFrame): DataFrame =
    metrics
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("series"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_v"))

  /** Demo collector over the rate source (the dev/test stand-in SURVEY.md
    * §2.1 R1 prescribes; production swaps in a real HTTP fetch inside
    * `fetchBody`). One streaming query multiplexes ALL sources: each 1 s
    * tick cross-joins the broadcast source dimension and keeps sources
    * whose interval divides the tick — the Spark-native form of the
    * reference's due-check loop.
    */
  def start(spark: SparkSession, sources: Seq[SourceConfig], sinkDir: String,
            checkpointDir: String, sinkFormat: String,
            fetchBody: String => String = defaultFetch): StreamingQuery = {
    import spark.implicits._
    val dim = spark.createDataset(sources.filter(s => s.active && s.intervalS > 0)).toDF()
    val fetch = udf(fetchBody)
    val ticks = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    val due = ticks
      .withColumn("tick_s", unix_seconds(col("timestamp")))
      .crossJoin(broadcast(dim))
      .filter(col("tick_s") % col("intervalS") === 0)
      .select(col("series"), col("timestamp").as("ts"),
        fetch(col("url")).as("body"))
    val extractors = sources.map(s => s.series -> s.valueExpr).toMap
    sink(transform(due, extractors), sinkDir, checkpointDir, sinkFormat)
  }

  /** Write a transformed stream to the sink on a 1 s trigger. */
  private def sink(points: DataFrame, sinkDir: String, checkpointDir: String,
                   sinkFormat: String): StreamingQuery =
    points.writeStream
      .trigger(Trigger.ProcessingTime("1 second"))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, sinkDir, sinkFormat)
      }
      .start()

  /** Idempotent micro-batch append: each batch lands under its own
    * `batch_id=<id>` subpartition via dynamic partition OVERWRITE, so a
    * batch replayed after a failure between sink write and checkpoint
    * commit rewrites exactly its own output instead of appending
    * duplicates. Checkpointed source offsets + this idempotent write give
    * end-to-end exactly-once; a blind `mode(append)` here would only be
    * at-least-once.
    *
    * `format`: "json" mirrors the drop-dir lineage and stays
    * human-greppable; "parquet" is the AT-SCALE sink — columnar scan,
    * compression, and ts row-group pruning on the serving path's range
    * filters. Measured (composed lifecycle soak, 50k rows/s, SURVEY.md
    * §8.8 lifecycle table, runs 6 vs 8): parquet cuts raw-path query
    * p50/p95 2222/2578 → 785/1072 ms (~2.8×) at identical ingest, with the
    * retention/compaction cycle format-clean and reconciliation exact.
    * The store layer downstream (RawStore / Retention / Compaction /
    * Grafana) is already format-parametric.
    */
  private[graft] def writeBatch(batch: DataFrame, batchId: Long,
                                sinkDir: String,
                                format: String): Unit = {
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("p_date", "batch_id")
      .format(format).save(sinkDir)
    // append-visible version bump (r13): AFTER the data lands, so a
    // version reader never observes the new stamp with the batch still
    // writing — the raw tier's half of RawStore.versionStamp
    val root = new org.apache.hadoop.fs.Path(sinkDir)
    RawStore.bumpLastBatch(
      root.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration),
      sinkDir, batchId)
  }

  /** Deterministic stand-in for the HTTP GET (no egress in this
    * environment): value derived from the url hash. A real deployment
    * replaces this with an HTTP client call returning the response body.
    */
  private[streaming] def defaultFetch(url: String): String =
    s"""{"count": ${math.abs(url.hashCode % 1000)}.0}"""

  /** Drop-directory variant of the collector source (SURVEY.md §2.1 R1's
    * file-source stand-in): agents drop raw `{series, ts, body}` JSON
    * lines into `dropDir`; the stream picks files up, applies the same
    * extract/validate transform, and appends to the partitioned sink.
    * Exactly-once across restarts comes from the checkpointed file-source
    * offsets + idempotent batch tracking.
    *
    * `dedupWithin`: optional SAMPLE-level idempotence — a flaky agent
    * re-dropping the same `(series, ts)` sample in a NEW file is invisible
    * to source offsets (that only covers re-read files); with a delay set,
    * duplicates within the watermark are dropped with bounded state
    * (dropDuplicatesWithinWatermark — the ingest discipline of
    * [[StreamingDedup]] applied to the metric stream's natural key).
    */
  def startFromDropDir(spark: SparkSession, dropDir: String, sinkDir: String,
                       checkpointDir: String, sinkFormat: String,
                       dedupWithin: Option[String] = None): StreamingQuery = {
    val raw = spark.readStream
      .schema(rawSchema)
      .option("maxFilesPerTrigger", 100)
      .json(dropDir)
    val cleaned = dedupWithin.foldLeft(transform(raw)) { (df, delay) =>
      df.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark("series", "ts")
    }
    sink(cleaned, sinkDir, checkpointDir, sinkFormat)
  }
}
