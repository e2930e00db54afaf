package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Streaming state stays bounded on an unbounded stream: the state rows
  * each trigger's progress reports (`stateOperators.numRowsTotal`) are
  * read after every batch, and must stay under the bound each operator's
  * eviction rule promises.
  */
class StreamingStateBoundSpec extends SparkSpec {

  private def stateRows(p: StreamingQueryProgress): Long =
    p.stateOperators.map(_.numRowsTotal).sum

  /** Runs every available batch and returns the state rows of each
    * trigger it ran, no-data (eviction-only) triggers included.
    */
  private def drain(q: StreamingQuery, seenBatch: Long): (Seq[Long], Long) = {
    q.processAllAvailable()
    val fresh = q.recentProgress.filter(_.batchId > seenBatch)
    (fresh.map(stateRows).toSeq, fresh.map(_.batchId).maxOption.getOrElse(seenBatch))
  }

  test("watermark dedup: state never exceeds the keys of two delays plus one batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingDedup.dedupWithinWatermark(
      input.toDS().toDF("doc_id", "ts", "text"), delay = "10 minutes")
      .writeStream.outputMode("append")
      .format("noop").queryName("state_bound_dedup")
      .start()
    val perBatch = 40
    val batches = 10
    val stepMs = 5 * 60 * 1000L // two batches per 10-minute delay
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    try {
      var seen = -1L
      val rows = Seq.newBuilder[Long]
      for (b <- 0 until batches) {
        input.addData((0 until perBatch).map { j =>
          val id = b.toLong * perBatch + j
          (id, new Timestamp(t0 + b * stepMs + j * 1000L), s"doc $b $j")
        })
        val (r, last) = drain(q, seen)
        rows ++= r
        seen = last
      }
      val all = rows.result()
      assert(all.size >= batches)
      // A key lives until the watermark (newest event time − delay)
      // passes its own event time + delay, so after a trigger's eviction
      // the live keys are those within two delays of the newest event:
      // 2 × 10 min / 5 min = 4 batches. The trigger that brings a new
      // batch evicts by the watermark of the batches before it, so it
      // reports one batch more.
      val bound = (2 * 10 / 5 + 1) * perBatch
      assert(all.max <= bound, s"state rows per trigger: $all")
      // and eviction really ran: without it the state would hold every key
      assert(all.last < batches * perBatch, s"state rows per trigger: $all")
    } finally q.stop()
  }

  test("near-dup flagging: re-delivering a fixed population adds no state rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = StreamingNearDup.flagNearDups(input.toDS())
      .writeStream.outputMode("append")
      .format("noop").queryName("state_bound_neardup")
      .start()
    val population = (0 until 60).map { i =>
      (0 until 12).map(w => s"w${(i * 7919L + w * 104729L) % 1000003L}").mkString(" ")
    }
    val rounds = 6
    try {
      var seen = -1L
      val afterRound = (0 until rounds).map { r =>
        // fresh ids every round: the same texts, re-crawled
        input.addData(population.zipWithIndex.map { case (text, i) =>
          (r.toLong * population.size + i, text)
        })
        val (rows, last) = drain(q, seen)
        seen = last
        assert(rows.nonEmpty)
        rows.last
      }
      // state rows are (band, bucket) groups; the entry cap inside one
      // bucket is StreamingNearDupSpec's state-transition test
      assert(afterRound.head > 0)
      assert(afterRound.forall(_ == afterRound.head),
        s"state rows after each delivery: $afterRound")
    } finally q.stop()
  }
}
