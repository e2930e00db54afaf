package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** End-to-end composition contract of the training-data flow on the real
  * corpus: survivors a non-empty subset of the input, no exact-dup or
  * near-dup pair among them, contamination bounded, and token
  * conservation through chunk+pack.
  */
class TrainingPipelineSpec extends SparkSpec {

  test("pipeline invariants hold on sf0.001 (parity eval split)") {
    val docs = graft.model.Tables(spark, sf(), "documents")
    val train = docs.filter(col("doc_id") % 2 === 0)
    val eval_ = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    val res = TrainingPipeline.prepare(train, eval_)
    try {
      val survivors = res.survivors.persist()
      // every stage only drops rows, and something survives
      assert(survivors.select("doc_id")
        .exceptAll(train.select("doc_id")).isEmpty)
      assert(!survivors.isEmpty)
      // no exact dups among survivors
      assert(survivors.select("content_md5").distinct().count() == survivors.count())
      // no near-dup pair among survivors (greedy drop-doc_b guarantee)
      assert(Dedup.nearDupPairs(survivors, TrainingPipeline.MaxHam).isEmpty)
      // no survivor over the contamination threshold vs the eval grams
      val evalGrams = eval_
        .select(explode(expr("char_ngrams(text, 8)")).as("g")).distinct()
      val sGrams = survivors
        .select(col("doc_id"), explode(expr("char_ngrams(text, 8)")).as("g"))
        .distinct()
      val over = sGrams.groupBy("doc_id").agg(count(lit(1)).as("total"))
        .join(sGrams.join(evalGrams, Seq("g"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("hit")), Seq("doc_id"), "left")
        .filter(coalesce(col("hit"), lit(0L)).cast("double") / col("total")
          > TrainingPipeline.MaxContamRatio)
      assert(over.isEmpty)

      // token conservation: packed bins hold exactly the survivors'
      // chunk tokens (q97 geometry: ceil(n/40) chunks, windows of <= 50)
      val chunkTokens = survivors
        .select(size(filter(split(col("text"), " "), w => w =!= "")).cast("long").as("n"))
        .filter(col("n") > 0)
        .select(sum(expr(
          // Σ over chunks i of min(50, n - 40i) for i in 0..ceil(n/40)-1
          """aggregate(sequence(0, CAST(ceil(n / 40.0) AS INT) - 1), 0L,
            |  (acc, i) -> acc + least(50L, n - CAST(i AS BIGINT) * 40))""".stripMargin)))
        .head.getLong(0)
      val packedTokens = res.packed.agg(sum("tok_total")).head.getLong(0)
      assert(packedTokens == chunkTokens,
        s"packed $packedTokens != chunked $chunkTokens")
      // no bin except possibly each shard's last exceeds... every bin is
      // CLOSED at >= binTokens cumulative; bins may overshoot by one
      // chunk (standard greedy packing) but never start beyond it
      assert(res.packed.filter(
        col("tok_total") > TrainingPipeline.BinTokens + 50).isEmpty)
    } finally spark.catalog.clearCache()
  }

  test("keepBestQuality keeps exactly each near-dup cluster's best member") {
    val docs = graft.model.Tables(spark, sf(), "documents")
    // arrange the input so the pipeline's first two stages are identity:
    // non-empty docs at or above the q88 quality floor, exact dups
    // pre-collapsed keep-first — then the near-dup stage's input IS
    // `train` and the expectation is directly computable from the
    // library primitives it composes
    val qual = graft.SparkEntry.queries("q88_quality_score")(spark, sf())
      .select("doc_id", "quality")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val train = docs
      .filter(size(filter(split(col("text"), " "), x => x =!= "")) > 0)
      .join(qual.filter(col("quality") >= TrainingPipeline.MinQuality)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val evalEmpty = docs.filter(lit(false)).select("doc_id", "text")
    val res = TrainingPipeline.prepare(train, evalEmpty,
      TrainingPipeline.Config(keepBestQuality = true))
    try {
      val survivors = res.survivors.persist()
      // pairwise non-near-dup, same guarantee as the greedy mode
      assert(Dedup.nearDupPairs(survivors, TrainingPipeline.MaxHam).isEmpty)
      // expected drop set: per component, everything but the
      // max-quality (min doc_id tie-break) member
      val pairs = Dedup.nearDupPairs(train, TrainingPipeline.MaxHam)
      val labels = Dedup.connectedComponents(
        pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
      val keepPerCluster = labels.join(qual, "doc_id")
        .withColumn("k", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("cluster")
            .orderBy(col("quality").desc, col("doc_id"))))
        .filter(col("k") === 1).select("doc_id")
      val expectedDrops = labels.select("doc_id")
        .exceptAll(keepPerCluster)
      val actualDrops = train.select("doc_id")
        .exceptAll(survivors.select("doc_id"))
      assert(actualDrops.exceptAll(expectedDrops).isEmpty &&
        expectedDrops.exceptAll(actualDrops).isEmpty)
      // cluster mode dedups at least as hard as greedy (one survivor
      // per component vs one per doc_b-cover)
      val greedy = TrainingPipeline.prepare(train, evalEmpty)
      assert(survivors.count() <= greedy.survivors.count())
    } finally spark.catalog.clearCache()
  }

  test("domain mixing samples deterministically within per-source budgets") {
    val docs = graft.model.Tables(spark, sf(), "documents")
    val train = docs.filter(col("doc_id") % 2 === 0)
    val eval_ = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    val cfg = TrainingPipeline.Config(mixDomains = true)
    val res = TrainingPipeline.prepare(train, eval_, cfg)
    try {
      // strict shrinkage is only warranted when some source actually
      // clamps below rate 1.0 — assert that PRECONDITION separately
      // (from the unmixed pipeline's survivors, i.e. the mixing
      // stage's true input) so a fixture where every source fits the
      // budget fails here with a clear message, not inside the
      // sampling logic's assertion
      val unmixed = TrainingPipeline.prepare(train, eval_).survivors
      val st = unmixed.select(col("source"),
          size(filter(split(col("text"), " "), x => x =!= ""))
            .cast("long").as("n")).groupBy("source").agg(sum("n").as("tok"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val budgetPerSrc = st.values.sum * TrainingPipeline.MixFrac / st.size
      assert(st.values.exists(_ > budgetPerSrc),
        s"fixture precondition: no source exceeds the per-source budget " +
          s"($budgetPerSrc) — strict shrinkage below is meaningless: $st")
      val mixedN = res.survivors.count()
      assert(mixedN > 0 && mixedN < unmixed.count())
      // deterministic: a second run keeps the identical doc set
      val res2 = TrainingPipeline.prepare(train, eval_, cfg)
      val a = res.survivors.select("doc_id")
      val b = res2.survivors.select("doc_id")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
      // packing conserves the MIXED set's chunk tokens
      val chunkTokens = res.survivors
        .select(size(filter(split(col("text"), " "), x => x =!= ""))
          .cast("long").as("n"))
        .filter(col("n") > 0)
        .select(sum(expr(
          """aggregate(sequence(0, CAST(ceil(n / 40.0) AS INT) - 1), 0L,
            |  (acc, i) -> acc + least(50L, n - CAST(i AS BIGINT) * 40))""".stripMargin)))
        .head.getLong(0)
      assert(res.packed.agg(sum("tok_total")).head.getLong(0) == chunkTokens)
    } finally spark.catalog.clearCache()
  }

  test("export-order stage carries exactly the survivor set in a " +
      "deterministic per-shard order") {
    import spark.implicits._
    val docs = graft.model.Tables(spark, sf(), "documents")
    val train = docs.filter(col("doc_id") % 2 === 0)
    val eval_ = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    val cfg = TrainingPipeline.Config(exportOrder = true)
    val res = TrainingPipeline.prepare(train, eval_, cfg)
    try {
      val order = res.order.getOrElse(fail("exportOrder set but no order"))
      // membership: exactly the survivors, each exactly once
      val a = res.survivors.select("doc_id").as[Long].collect().sorted.toSeq
      val b = order.select("doc_id").as[Long].collect().sorted.toSeq
      assert(a == b && a.nonEmpty)
      // per-shard contiguity (the TrainOrderSpec law, on pipeline output)
      assert(order.groupBy("shard")
        .agg(count(lit(1)).as("n"), min("pos").as("lo"), max("pos").as("hi"))
        .filter(col("lo") =!= 1L || col("hi") =!= col("n")).isEmpty)
      // deterministic across independent prepares
      val res2 = TrainingPipeline.prepare(train, eval_, cfg)
      try {
        val o1 = order.as[(Long, Long, Long)].collect().sorted.toSeq
        val o2 = res2.order.get.as[(Long, Long, Long)].collect().sorted.toSeq
        assert(o1 == o2)
      } finally res2.release()
      // absent unless requested
      assert(TrainingPipeline.prepare(train, eval_).order.isEmpty)
    } finally { res.release(); spark.catalog.clearCache() }
  }

  test("bpeEncode stage: every survivor encoded, round-trip exact") {
    val docs = graft.model.Tables(spark, sf(), "documents")
    val train = docs.filter(col("doc_id") % 2 === 0)
    val eval_ = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    val res = TrainingPipeline.prepare(train, eval_,
      TrainingPipeline.Config(bpeEncode = true))
    try {
      val bpe = res.bpe.getOrElse(fail("bpe export missing"))
      // one encoding row per survivor with >= 1 token; subword
      // concatenation reconstructs the original words exactly (the
      // tokenizer learned on and applied to the SAME surviving text)
      val sv = res.survivors.select(col("doc_id"),
        concat_ws("", filter(split(col("text"), " "), w => w =!= ""))
          .as("orig"))
        .filter(length(col("orig")) > 0)
      val joined = sv.join(bpe, Seq("doc_id"), "left")
      assert(joined.filter(col("seq").isNull).isEmpty,
        "a tokenized survivor is missing from the bpe export")
      assert(joined.filter(
        regexp_replace(col("seq"), " ", "") =!= col("orig")).isEmpty,
        "bpe round-trip must reconstruct the survivor text's words")
      // absent unless requested
      assert(TrainingPipeline.prepare(train, eval_).bpe.isEmpty)
    } finally { res.release(); spark.catalog.clearCache() }
  }

  test("prepare() keeps only what its Result reads; release() drops it") {
    val docs = graft.model.Tables(spark, sf(), "documents")
    val train = docs.filter(col("doc_id") % 2 === 0)
    val eval_ = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    try {
      for (cfg <- Seq(TrainingPipeline.Config(),
          TrainingPipeline.Config(bpeEncode = true))) {
        spark.catalog.clearCache()
        val before = persisted
        val res = TrainingPipeline.prepare(train, eval_, cfg)
        val created = persisted -- before
        // survivors are lineage-truncated: downstream actions never
        // re-traverse the composed plan
        val checkpoint = res.survivors.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
          case p => fail(s"survivors must be a LogicalRDD, got ${p.nodeName}")
        }
        // every stage cache is already released: what is left is the
        // survivor checkpoint, plus the encode's type map with bpeEncode
        assert(created.contains(checkpoint) &&
          created.size == (if (cfg.bpeEncode) 2 else 1),
          s"$cfg left ${created.size} persistent RDDs")
        assert(res.survivors.count() > 0 && res.packed.count() > 0)
        res.bpe.foreach(b => assert(b.count() > 0))
        res.release()
        assert((persisted -- before).isEmpty,
          s"release must drop what prepare() left, left: ${persisted -- before}")
        res.release() // idempotent
      }
    } finally spark.catalog.clearCache()
  }

  test("the declared pipeline configs stay inside the oracle-expressible stage subset (drift tripwire)") {
    // pipelineChainSql models the mandatory chain plus one-pass md5
    // scrub, staged PII redaction, q103 mixing, and q104's
    // keep-best-quality selection; the order and BPE tails model the
    // export and the sequential learner at the shared dial constants.
    // Each declared config is pinned EXACTLY: a flipped switch (say,
    // the 20-round eager learner or the recursive-closure keep policy
    // turned on for another query) must trip here, not silently run a
    // stage at every verify/bench construction
    import TrainingPipeline._
    val c = Config()
    for ((name, got, want) <- Seq(
        ("q126", DeclaredCfg, c),
        ("q127", DeclaredScrubCfg, c.copy(scrubDupSpans = true, redactPii = true)),
        ("q128", DeclaredMixCfg, c.copy(mixDomains = true)),
        ("q129", DeclaredFullCfg,
          c.copy(scrubDupSpans = true, redactPii = true, mixDomains = true)),
        ("q130", DeclaredOrderCfg, c.copy(exportOrder = true)),
        ("q131", DeclaredBestCfg, c.copy(keepBestQuality = true)),
        ("q132", DeclaredBpeCfg,
          c.copy(scrubDupSpans = true, redactPii = true, bpeEncode = true)),
        ("q133", DeclaredOrderFullCfg, c.copy(scrubDupSpans = true,
          redactPii = true, mixDomains = true, exportOrder = true))))
      assert(got == want, s"$name stage wiring drifted from its declaration")
  }

  test("the oracle generators refuse configs outside their envelopes") {
    // the order tail needs the export stage, the bpe tail the encoder
    intercept[IllegalArgumentException] {
      TrainingPipeline.pipelineOrderOracleSql(TrainingPipeline.DeclaredCfg)
    }
    intercept[IllegalArgumentException] {
      TrainingPipeline.pipelineBpeOracleSql(TrainingPipeline.DeclaredCfg)
    }
  }
}
