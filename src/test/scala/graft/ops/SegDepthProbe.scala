package graft.ops

import org.apache.spark.sql.functions._

/** One-off measurement (r15 — r14 VERDICT #3's "measured merge-count
  * scaling row"): [[TextAnalysis.segmentTypes]] wall time at
  * 20/200/1000 merges over a real word-type table, exercising the
  * 32-per-stage chunked fold (1/7/32 plan stages respectively).
  *
  * Merges = the q119 batched learner's REAL merges for the corpus,
  * padded past their count with never-matching synthetic pairs — a
  * non-firing literal pattern still costs one full scan of every
  * type's symbol string, the same work class as a real merge that
  * fires rarely (most of a 30k-merge tokenizer's merges fire on few
  * types), so padding measures the fold's throughput shape without
  * learning 1000 real merges (125 driver rounds of no measurement
  * value). Each point runs twice; the min is reported (warm-JIT
  * convention of the soak protocol).
  *
  * Run outside sbt (verify-skill recipe) or via:
  *   sbt "Test/runMain graft.ops.SegDepthProbe /root/testdata/sf0.01"
  */
object SegDepthProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.model.Tables(spark, dir, "documents")
    val types = docs.select(explode(filter(split(col("text"), " "),
        w => w =!= "")).as("w")).distinct()
      .localCheckpoint(true)
    val nTypes = types.count()
    val real = TextAnalysis.learnBpeMergesBatched(docs,
      TextAnalysis.BpeBatchRounds, TextAnalysis.BpeBatchK)
      .map(m => (m._2, m._3))
    def merges(n: Int): Seq[(String, String)] =
      real.take(n) ++ (real.size until n).map(i => (s"pad$i", s"pad$i"))
    println(s"[segdepth] dir=$dir types=$nTypes realMerges=${real.size} " +
      s"chunk=${TextAnalysis.SegFoldChunk}")
    for (n <- Seq(20, 200, 1000)) {
      val m = merges(n)
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        // sums over both outputs force full evaluation of every stage
        TextAnalysis.segmentTypes(types, m)
          .agg(sum(length(col("sws"))), sum(col("n_sw"))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      val stages = (n + TextAnalysis.SegFoldChunk - 1) / TextAnalysis.SegFoldChunk
      println(f"[segdepth] merges=$n%4d stages=$stages%2d " +
        f"min=${times.min}%.2fs runs=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    // Phase 2 (r15 ADVICE close): the corpus vocabulary is 31 types, so
    // phase 1 measures stage overhead. Re-measure DATA-dominated: 100k
    // synthetic alphabetic types (deterministic base-26 encodings,
    // 8-14 chars) under the same padded merge lists — per-stage cost is
    // now 100k regexp scans, the regime a real corpus vocabulary
    // (Heaps, 10⁵-10⁸ types) runs in.
    val synth = spark.range(100000).selectExpr(
      """concat('w', translate(lpad(CAST(id AS STRING), 7, '0'),
        |'0123456789', 'abcdefghij'),
        |substring('abcdefghijklmnopqrstuvwxyz', 1 + CAST(id % 7 AS INT),
        |CAST(id % 7 AS INT))) AS w""".stripMargin).localCheckpoint(true)
    val nSynth = synth.count()
    println(s"[segdepth] phase2 synthetic types=$nSynth")
    for (n <- Seq(20, 200, 1000)) {
      val m = merges(n)
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        TextAnalysis.segmentTypes(synth, m)
          .agg(sum(length(col("sws"))), sum(col("n_sw"))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      val stages = (n + TextAnalysis.SegFoldChunk - 1) / TextAnalysis.SegFoldChunk
      println(f"[segdepth] synth merges=$n%4d stages=$stages%2d " +
        f"min=${times.min}%.2fs runs=${times.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
