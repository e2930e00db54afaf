package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming ingest deduplication — the streaming form of q80's exact
  * dedup (and the front door of a training-data pipeline: drop re-crawled
  * / re-delivered documents BEFORE they hit the corpus store, instead of
  * a full-corpus batch dedup after the fact).
  *
  * Two state disciplines, both watermark-aware:
  *
  *  - [[dedupExact]] — `dropDuplicates(key)`: state holds every key ever
  *    seen, so a duplicate is dropped no matter how late it arrives.
  *    Unbounded state: only for bounded key domains (e.g. a day's
  *    partition re-ingest).
  *  - [[dedupWithinWatermark]] — `dropDuplicatesWithinWatermark(key)`:
  *    state holds a key only until the watermark passes its event time
  *    + delay, giving bounded state at any corpus size — the 100 TB
  *    discipline.
  *    The contract matches the real-world duplicate source (retries,
  *    re-deliveries, crawler revisits cluster in time): duplicates
  *    farther apart than the watermark are left for the batch dedup
  *    pass (q80/q85) to catch.
  *
  * The dedup key is the content hash `md5(text)` — identical to q80's
  * batch key, so the streaming and batch passes agree on what "same
  * document" means.
  */
object StreamingDedup {

  /** Content-keyed exact streaming dedup (unbounded state — bounded key
    * domains only).
    */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.withColumn("content_key", md5(col("text")))
      .dropDuplicates("content_key")

  /** Content-keyed dedup with watermark-bounded state: duplicates within
    * `delay` of each other are dropped; state for a key is evicted once
    * the watermark (max event time − delay) passes the key's event time
    * + delay, so the state holds the keys of the newest two delays
    * (StreamingStateBoundSpec asserts the bound).
    */
  def dedupWithinWatermark(docs: DataFrame, delay: String = "1 hour"): DataFrame =
    docs.withColumn("content_key", md5(col("text")))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("content_key")
}
