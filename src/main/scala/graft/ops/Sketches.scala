package graft.ops

import graft.model.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate aggregates — the sketch tier a 100 TB profile/monitoring
  * pass runs where exact answers would force full shuffles of the key
  * domain (SURVEY.md §2.3 notes these are deliberately OUTSIDE the
  * oracle-checked inventory: approximate results cannot hash-match across
  * engines; their contract is an error bound, which the spec asserts
  * against the exact answer instead).
  *
  *  - [[approxDistinct]] — HyperLogLog++ (`approx_count_distinct`):
  *    fixed-size sketch per group, one narrow shuffle of sketch bytes vs
  *    the exact rollup's shuffle of every distinct key. `rsd` dials
  *    sketch size against precision (default 5%).
  *  - [[approxQuantiles]] — Greenwald-Khanna (`approx_percentile`):
  *    mergeable quantile summaries, same narrow-shuffle property;
  *    `accuracy` is the GK epsilon inverse.
  *
  * Both are Datasketches-style mergeable summaries: map-side partials
  * combine associatively, so the plan shape is identical to a plain
  * map-side-partial aggregation no matter the cluster size.
  */
object Sketches {

  /** Approximate distinct users per event type (exact form: q31). */
  def approxDistinct(s: SparkSession, dir: String, rsd: Double = 0.05): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"),
        count(lit(1)).as("cnt"))
      .orderBy(col("event_type"))

  /** Approximate price quartiles per return flag (exact form: q38). */
  def approxQuantiles(s: SparkSession, dir: String, accuracy: Int = 10000): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_extendedprice"), lit(0.25), lit(accuracy)).as("p25"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(accuracy)).as("p50"),
        percentile_approx(col("l_extendedprice"), lit(0.75), lit(accuracy)).as("p75"))
      .orderBy(col("l_returnflag"))

  /** Count-Min frequency sketch over document words — the third classic
    * summary next to HLL (distinct) and GK (quantiles): point-queryable
    * approximate term frequencies in `width × depth` counters, mergeable
    * (Spark's `stat.countMinSketch` aggregates partition sketches), with
    * the one-sided CM guarantee: estimate ≥ true count always, and
    * estimate ≤ true + eps·N with probability ≥ confidence. NOTE Spark's
    * parametrization differs from the Cormode–Muthukrishnan paper
    * constants: width = ceil(2/eps) and depth = ceil(ln(1−confidence) /
    * ln(0.5)) — size from eps/confidence, don't derive bounds from
    * width/depth via the e/width paper formulas. Returns the sketch;
    * callers point-query term counts driver-side (the sketch is
    * KB-sized). Not a stop-gram cap for q81/q95: the CM error is
    * absolute (≈ eps × total mass), so at soak scale it swamps a
    * tens-of-docs DF cap and every gram reads hot (SURVEY.md §8.11);
    * those queries keep the exact cap in [[Extensions.capJaccardPairs]].
    */
  def wordFrequencySketch(s: SparkSession, dir: String,
                          eps: Double = 0.001, confidence: Double = 0.99,
                          seed: Int = 42): org.apache.spark.util.sketch.CountMinSketch =
    Tables(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .stat.countMinSketch("w", eps, confidence, seed)
}
