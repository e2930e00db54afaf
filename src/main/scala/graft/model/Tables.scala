package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Test-table access + canonical schemas (FIXTURES.md §1).
  *
  * All declared queries read the driver-generated parquet tables under a
  * scale-factor directory (`/root/testdata/sf*`). At 100 TB the same loader
  * would point at a date-partitioned table root; Catalyst partition pruning
  * and parquet filter/column pushdown make the access path identical.
  */
object Tables {
  /** Load one test table from `sfDir`. Parquet → vectorized columnar scan;
    * filters/projections applied by callers are pushed into the scan by
    * Catalyst (SURVEY.md §4.1).
    *
    * `events.parquet` has shipped with two physical time encodings across
    * driver generations — TIMESTAMP(NANOS) (rejected outright by Spark's
    * reader, [PARQUET_TYPE_ILLEGAL], so read via `nanosAsLong` as a ns
    * BIGINT) and plain µs TIMESTAMP_NTZ. The loader reads the footer
    * first ([[ParquetSchema]]: no Spark job) and sets `nanosAsLong` on
    * the session only when `ts` really is TIMESTAMP(NANOS); both
    * generations surface the same two columns: `ts` (a
    * timestamp for bucketing/window/output use) and `ts_ns` (epoch-nanos
    * BIGINT, the declared ns projection domain). Range predicates belong
    * on the NATIVE scan column — `ts` for µs data (see [[tsLit]]),
    * `ts_ns` for nanos data — so the parquet scan prunes row groups.
    */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // The ts/ts_ns equivalences below (tsLit ≡ nsOf, the µs→ns derivation)
    // hold only under a UTC session; a misconfigured session would get a
    // silently shifted epoch-ns domain, so fail loudly instead.
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "graft.model.Tables requires spark.sql.session.timeZone=UTC " +
        s"(got '${spark.conf.get("spark.sql.session.timeZone")}')")
    val path = s"$sfDir/$name.parquet"
    val footer = ParquetSchema.footer(spark, path)
    if (name == "events") {
      if (ParquetSchema.isNanosTimestamp(footer, "ts"))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = ParquetSchema.read(spark, path, footer)
      raw.schema("ts").dataType match {
        case LongType => // TIMESTAMP(NANOS) generation, read as ns BIGINT
          raw.withColumnRenamed("ts", "ts_ns")
            .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
        case _ => // µs TIMESTAMP_NTZ generation: ts stays the untouched
          // scan column (filters on it push down); ts_ns is derived.
          // µs→ns multiplication is exact — the data has no sub-µs digits
          raw.withColumn("ts_ns",
            unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      }
    } else {
      // ms-timestamps surface as TIMESTAMP_NTZ. Deliberately NOT cast
      // here: filters on the native NTZ column push into the parquet
      // scan, while a wrapped cast(ntz as timestamp) defeats pushdown.
      // Use [[epochMs]] when projecting epoch millis.
      ParquetSchema.read(spark, path, footer)
    }
  }

  /** Epoch milliseconds of any timestamp flavor (TIMESTAMP or
    * TIMESTAMP_NTZ — identical instants under the forced UTC session).
    * Projection-side only; never wrap a filter column with this.
    */
  def epochMs(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unix_millis(c.cast(TimestampType))

  /** TIMESTAMP_NTZ literal for a UTC date/time — the pushdown domain of
    * the events `ts` scan column on µs-generation data. An NTZ-vs-NTZ
    * comparison reaches the parquet scan unwrapped; under the forced UTC
    * session it denotes the same instant as [[nsOf]] of the same string.
    */
  def tsLit(isoUtc: String): org.apache.spark.sql.Column =
    lit(java.time.LocalDateTime.parse(isoUtc.replace(' ', 'T')))

  /** Nanoseconds since epoch for a UTC date/time literal — the pushdown
    * domain of the events `ts_ns` column on nanos-generation data.
    */
  def nsOf(isoUtc: String): Long =
    java.time.LocalDateTime.parse(isoUtc.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC)
      .toEpochMilli * 1000000L

  /** Generation-aware inclusive time-range predicate for an events frame
    * loaded by [[apply]]. The predicate must sit on whichever column the
    * FILE natively carries — `ts` (TIMESTAMP_NTZ) on µs-generation data,
    * `ts_ns` (BIGINT) on nanos-generation data — or the parquet scan
    * can't prune row groups: the other column is derived per-row, and a
    * filter on a derived column never reaches `PushedFilters`. The two
    * forms select identical rows for whole-second bounds (exact in both
    * domains).
    *
    * Detection rides the loader's own output: µs-generation `ts` passes
    * through untouched as TIMESTAMP_NTZ, while the nanos path derives
    * `ts` via `timestamp_micros` (plain TIMESTAMP) — so the dtype of
    * `ts` identifies the generation without re-reading the footer.
    */
  def tsRange(events: DataFrame, fromIso: String, toIso: String): org.apache.spark.sql.Column =
    events.schema("ts").dataType match {
      case TimestampNTZType => col("ts").between(tsLit(fromIso), tsLit(toIso))
      case _ => col("ts_ns").between(lit(nsOf(fromIso)), lit(nsOf(toIso)))
    }

  /** Generation-aware `ts >= bound` (see [[tsRange]]). */
  def tsAtLeast(events: DataFrame, fromIso: String): org.apache.spark.sql.Column =
    events.schema("ts").dataType match {
      case TimestampNTZType => col("ts") >= tsLit(fromIso)
      case _ => col("ts_ns") >= lit(nsOf(fromIso))
    }
}
