package graft.ops

import graft.SparkSpec
import graft.model.Tables
import org.apache.spark.sql.functions._

/** Guards for the adaptive-bits corpus metadata (Similarity.embMeta)
  * and the generation-aware events time predicates (Tables.tsRange /
  * tsAtLeast). Both exist so the 100 TB dials — sign-bucket width, parquet
  * row-group pruning — derive from the DATA rather than literals.
  */
class AdaptiveBitsSpec extends SparkSpec {

  test("embMeta derives dim from the embeddings data, not a literal") {
    val (n, dim) = Similarity.embMeta(spark, sf())
    val expectedDim = Tables(spark, sf(), "embeddings")
      .select(size(col("embedding"))).head.getInt(0)
    assert(dim === expectedDim)
    assert(n === Tables(spark, sf(), "embeddings").count())
  }

  test("tsRange/tsAtLeast select the same rows as the derived-column forms") {
    val ev = Tables(spark, sf(), "events")
    val lo = "2024-01-05 00:00:00"; val hi = "2024-01-10 00:00:00"
    // whichever column the generation natively carries, the predicate on
    // the OTHER (derived) column must select the identical row set —
    // whole-second bounds are exact in both domains
    val viaRange = ev.filter(Tables.tsRange(ev, lo, hi)).count()
    val viaNs = ev.filter(
      col("ts_ns").between(lit(Tables.nsOf(lo)), lit(Tables.nsOf(hi)))).count()
    assert(viaRange === viaNs)
    assert(viaRange > 0, "empty range would vacuously pass")
    val atLeast = ev.filter(Tables.tsAtLeast(ev, lo)).count()
    val atLeastNs = ev.filter(col("ts_ns") >= lit(Tables.nsOf(lo))).count()
    assert(atLeast === atLeastNs)
  }

  test("q01's time predicate reaches the parquet scan (PushedFilters)") {
    val plan = graft.SparkEntry.queries("q01_range_scan_limit")(spark, sf())
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the native scan column differs by generation (ts vs ts_ns) but one
    // of them must appear inside a non-empty PushedFilters list
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).mkString(",")
    assert(pushed.contains("ts"), s"no time filter pushed; got [$pushed]")
  }
}
