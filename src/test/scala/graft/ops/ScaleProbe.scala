package graft.ops

import org.apache.spark.sql.functions._

/** Scale-soak probe (test-scoped main) — the measurement tool behind
  * SURVEY §8's scaling-decade table.
  *
  * Usage: `sbt "Test/runMain graft.ops.ScaleProbe <dirA> <dirB>"`,
  * where each dir holds `documents.parquet` / `embeddings.parquet`
  * (e.g. `/root/testdata/sf0.1` and a 10× corpus built from it).
  * Prints, for the dedup/similarity family, per-scale output row
  * counts (the construction-validation signal: linear outputs mean the
  * replicas don't cross-contaminate) and the connected-components
  * contraction round count (the O(log n) claim, measured).
  *
  * Timing lives in graft.Bench (`SPARK_GRAFT_ONLY=...`); this probe is
  * about WORK VOLUME, which bench times can't attribute.
  */
object ScaleProbe {
  private val DocsFamily = Seq(
    "q78_simhash_neardup", "q79_minhash_jaccard_est", "q81_shingle_jaccard",
    "q85_minhash_lsh", "q95_ngram_jaccard", "q99_knn_join", "q100_dup_clusters")

  // Relational/timeseries soak family (facts replicated ×N, dims fixed —
  // see [[ScaleCorpus]]). Expected row-count law under that construction:
  // "N" = output scales with the facts, "1" = fixed-cardinality grouping /
  // top-k whose row count must NOT move when the data does.
  private val RelFamily = Seq(
    "q12_inner_join" -> "N", "q16_join3_agg_topk" -> "1",
    "q19_range_join" -> "N", "q30_groupby_agg" -> "1",
    "q38_percentiles" -> "1", "q55_salted_agg" -> "1",
    "q62_math_fns" -> "N", "q01_range_scan_limit" -> "1",
    "q48_downsample" -> "1", "q49_rate" -> "N", "q70_tumbling_window" -> "1")

  // Round-12 additions: q101 (first canonical soak row — its r11 record
  // was the A/B strategy comparison, not a table row), q107 (one scrub
  // report row per doc), q108 (one score row per doc), q109 (top-50
  // vocab — fixed cardinality; the CJK replica blocks make each
  // replica's vocab disjoint, so the top-50 interleaves replicas but
  // never exceeds 50 rows).
  private val New12Family = Seq(
    "q101_near_exact_dup" -> "N", "q107_scrub_spans" -> "N",
    "q108_unigram_logprob" -> "N", "q109_vocab_topk" -> "<=50")

  // Round-13 additions, all exactly-N by construction: q110 emits one
  // redaction report row per doc (the planted-PII residues shift per
  // replica — ids offset by 10M ≢ 0 mod 3 — but that moves WHICH docs
  // get PII, never the row count), q111 one metric row per doc, q112
  // one score row per >= 2-token doc (each replica's empty doc is
  // excluded identically).
  private val New13Family = Seq(
    "q110_pii_redact" -> "N", "q111_gopher_rules" -> "N",
    "q112_bigram_logprob" -> "N",
    // one id-sequence row per >= 1-token doc
    "q113_tokenize" -> "N")

  // Round-14 additions: q114 always emits exactly BpeMerges rows (the
  // replicas' disjoint char domains N-plicate the pair-count multiset,
  // so the argmax sees N-way ties broken lexically — different WINNERS
  // per decade, same row count); q115 one score row per >= 3-token doc;
  // q116 one encoding row per doc (empty docs re-enter via the
  // reattach join).
  private val New14Family = Seq(
    "q114_bpe_merges" -> "20", "q115_trigram_logprob" -> "N",
    "q116_bpe_encode" -> "N",
    // one bucket row per >= 1-token doc (tercile labels shift per
    // decade as the replicas re-mix the score distribution — the row
    // count never does)
    "q117_ccnet_buckets" -> "N")

  // Round-15 additions: q118 one bucket row per >= 3-token doc (q115's
  // scorer domain); q119 emits a DATA-DEPENDENT count <= rounds*k (the
  // disjointness filter's kept-count shifts with each decade's tie
  // structure — the bound, not the value, is the law); q120 one
  // encoding row per doc (reattach join, like q116).
  private val New15Family = Seq(
    "q118_ccnet_trigram_buckets" -> "N", "q119_bpe_merges_batched" -> "<=200",
    "q120_bpe_encode_batched" -> "N")

  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: ScaleProbe <sfDir> [<sfDir2> ...]")
    // the sbt Test fork defaults to 8 GB (SPARK_DRIVER_MEM overrides);
    // the 100x corpus's cc stage OOMs below ~24 GB — say so up front
    // instead of dying 6 minutes in
    // compare in bytes with a margin (a deliberately sized -Xmx20g heap
    // reports ~1-2 GB less via maxMemory — survivor-space reserve — so a
    // GiB-truncated `< 20` check would warn spuriously); print rounded
    val heapBytes = Runtime.getRuntime.maxMemory
    if (heapBytes < (19L << 30))
      System.err.println(f"[scale-probe] WARNING: ${heapBytes / (1 << 30).toDouble}%.1f GB " +
        "heap; 100x-scale corpora need ~24 GB (SPARK_DRIVER_MEM=24g) or the cc stage OOMs")
    val family = sys.env.getOrElse("SPARK_GRAFT_FAMILY", "docs") match {
      case "docs"  => DocsFamily.map(_ -> "")
      case "rel"   => RelFamily
      case "new12" => New12Family
      case "new13" => New13Family
      case "new14" => New14Family
      case "new15" => New15Family
      case "all"   => DocsFamily.map(_ -> "") ++ RelFamily ++ New12Family ++
        New13Family ++ New14Family ++ New15Family
      case other   => sys.error(s"SPARK_GRAFT_FAMILY=$other (want docs|rel|new12|new13|new14|new15|all)")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    // soak protocol (settled by the r9 three-decade partition scan,
    // SURVEY §8 record): parts = CPUS = 16 at ALL decades — more partitions
    // measured slower at every scale (100×: 143.9 s @16 vs 199.6 @125),
    // because single-JVM "shuffle" spills to page cache while
    // per-partition fixed costs are real. Scaled dials (16×N, 1.25×N)
    // are refuted; the override below exists only for re-running that
    // scan, not as a protocol knob.
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = graft.localSession(cpus, parts)
    val counts = collection.mutable.Map.empty[(String, String), Long]
    for (dir <- args) {
      for ((q, law) <- family) {
        val n = graft.SparkEntry.queries(q)(spark, dir).count()
        counts((dir, q)) = n
        val lawNote = if (law.nonEmpty) s" law=$law" else ""
        println(s"[scale-probe] rows $dir $q $n$lawNote")
      }
      if (family.exists(_._1.startsWith("q78"))) {
        val pairs = graft.SparkEntry.queries("q78_simhash_neardup")(spark, dir)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs)
        println(s"[scale-probe] cc $dir rounds=$rounds members=${labels.count()} " +
          s"clusters=${labels.select("cluster").distinct().count()}")
      }
    }
    // multi-dir: print each query's count ratio vs the FIRST dir — the
    // construction-validation signal (law "N" must ratio ≈ N, law "1"
    // must ratio = 1; contamination breaks these loudly)
    for (base <- args.headOption if args.length > 1; dir <- args.tail;
         (q, law) <- family) {
      val r = counts((dir, q)).toDouble / counts((base, q)).max(1L)
      println(f"[scale-probe] ratio $dir $q $r%.2f${if (law.nonEmpty) s" law=$law" else ""}")
    }
    spark.stop()
  }
}
