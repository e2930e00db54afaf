package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{Dedup, Extensions, Multimodal, Reference, Relational,
  Similarity, TextAnalysis, TrainingPipeline, Windows}

/** Driver contract — see /root/repo/SURVEY.md §2.2 (the declared query
  * inventory) and §7 (build plan). Queries live in graft.ops.*, grouped by
  * operator family; this object is only the registry the driver calls.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1 shape (q30): full-scan hash aggregation — always non-empty.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q30_groupby_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.2.
    *
    * CACHE CONTRACT: a few queries (q79, q81, q95, q101, q103,
    * q108, q109, q112, q113, q115, q116, q117, q118, q120, q125)
    * `persist()`
    * a shared subplan because it feeds two consumers and Spark has no
    * automatic CTE reuse for DataFrame plans (q117's are the scored-
    * frequency table plus Windows.globalRowNumber's internal range-
    * partitioned frame; q115/q118 persist the combined tri+big+uni LM
    * aggregate via the factored trigramScores (r20: one tagged corpus
    * pass, the three tables filter from it), q118 plus the same
    * globalRowNumber frame via
    * ccnetBucket; q120 persists the type-segmentation cache via
    * bpeEncodeTokens). The returned DataFrame is lazy, so
    * the query function cannot unpersist it itself — the CALLER owns
    * cleanup: run the action, then `spark.catalog.clearCache()` (as
    * Bench and Verify do after every query) or track and unpersist the
    * cached plans via `spark.sharedState.cacheManager`. The composed
    * pipeline queries (q126–q133) leave no stage cache behind:
    * TrainingPipeline.prepare() releases its own before it returns, and
    * the survivor checkpoint the returned frame reads is freed with that
    * frame (q132 releases it in-query).
    *
    * EAGERNESS EXCEPTION: a few CONSTRUCTORS run Spark jobs. q75 builds
    * the train-gram bloom sketch and collects it driver-side (the
    * broadcast-bloom pattern requires the sketch as a literal before
    * the eval plan exists). The LM queries (q108, q112, q113, q115,
    * q116, q117, q118, q120 — the last two via their factored scorer/
    * encoder) run one
    * tiny aggregate per LM table to size-gate the broadcast-vs-shuffle
    * dispatch (TextAnalysis.joinLm) — the estimate pass doubles as
    * cache materialization of the persisted LM, so it adds no extra
    * corpus scan. The BPE queries (q114, q116) run the bounded
    * 20-round merge-learning loop at construction (one vocab-sized
    * aggregate + one LIMIT-1 collect per round); the batched variants
    * (q119, q120) run the 25-round batched loop (one k-row collect
    * per round), and the hot-partitioned variants (q121, q122) run
    * their round loops the same way (one <= k-row winner collect per
    * round). q123 and q124 run the Lloyd rounds at construction and
    * eagerly checkpoint the trained centroid frame (one tiny k × dim
    * job each). The composed pipeline queries (q126–q133) run
    * TrainingPipeline.prepare(), which materializes the survivors and
    * releases its stage caches before it returns.
    * No construction state outlives the call: every construction
    * pays its own estimate and learning jobs, so re-constructing a
    * query repeats them, and q125 re-learns q122's merge table even
    * right after q122. All other queries are construction-lazy.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Reference.queries ++ Relational.queries ++ Windows.queries ++
      Extensions.queries ++ Dedup.queries ++ TextAnalysis.queries ++
      Similarity.queries ++ Multimodal.queries ++ TrainingPipeline.queries

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. The one Spark-only query (q92 — DuckDB has
    * no gzip codec) is intentionally absent (SURVEY.md §2.2 "oracle = no").
    */
  def oracleSql: Map[String, String] =
    Reference.oracle ++ Relational.oracle ++ Windows.oracle ++
      Extensions.oracle ++ Dedup.oracle ++ TextAnalysis.oracle ++
      Similarity.oracle ++ TrainingPipeline.oracle
}
