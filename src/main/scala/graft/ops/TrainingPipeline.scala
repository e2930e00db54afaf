package graft.ops

import graft.model.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The composed end-to-end training-data flow — the product the operator
  * inventory exists FOR, wired as one pipeline over a raw document
  * corpus:
  *
  *   quality filter (q88 score) → exact dedup (q80/q73 keep-first) →
  *   SimHash near-dup removal (q78 pairs; optionally q104's
  *   cluster-keep-best-quality selection) → optional cross-doc span
  *   scrub (q107 semantics: cut repeated spans, keep the docs — the
  *   substring-granularity step doc dropping can't express) → optional
  *   PII redaction (q110 semantics: emails/phones/IPv4s → typed
  *   markers, docs kept) → eval
  *   decontamination (q76 semantics, roles swapped: drop TRAIN docs
  *   overrun by eval grams) → optional domain mixing (q103
  *   token-budget sampling) → chunk (q97 geometry) → pack into
  *   training bins (q58) → optional deterministic training-order
  *   export (q106's engine API over the survivors) → optional BPE
  *   tokenizer learn + corpus encode (q114/q116 over the survivors —
  *   the tokenizer trains on what the model will actually see).
  *
  * Every stage is the same formulation its oracle-checked query uses, so
  * the pipeline's correctness story rides on the per-operator gates; what
  * THIS module adds is the composition contract, spec-asserted end to
  * end (TrainingPipelineSpec):
  *
  *  - survivors carry no exact-dup pair (distinct md5 == count);
  *  - survivors carry no near-dup pair (re-running q78's pairing on the
  *    output is EMPTY — the greedy drop-doc_b rule guarantees it: any
  *    surviving pair would have a surviving doc_b, contradiction);
  *  - no surviving doc exceeds the eval-gram contamination ratio;
  *  - packed bins conserve tokens: Σ bin totals == Σ chunk tokens of
  *    surviving docs (nothing lost or double-packed).
  *
  * Scale shape: every stage is a hash agg / semi join / band groupBy
  * already audited at the per-query level; nothing here introduces a new
  * shuffle pattern. Packing stays shard-local (q58's per-shard windows),
  * so the pipeline's parallelism is the cluster's, end to end.
  */
object TrainingPipeline {

  /** The stage dials, one value each — every declared pipeline runs
    * them, and both the Spark stages and the oracle generators below
    * read them, so a value has exactly one home: q88's quality floor,
    * q78's hamming radius, the decontamination ratio, q58's bin size
    * and shard count, q103's mixing budget fraction, and q106's order
    * seed and shard count (the BPE depth is [[TextAnalysis.BpeMerges]]).
    * MaxContamRatio is effectively-full containment: on a real corpus
    * the eval set is tiny and organic 8-gram overlap is low (0.5-0.8
    * thresholds are sane there), but the synthetic testdata draws train
    * and eval from one generator vocabulary — measured train-doc
    * contamination runs 0.90-1.0 with median 0.96 — so only ~1.0
    * separates "the eval doc leaked" from "same vocabulary".
    */
  private[graft] val MinQuality = 0.05
  private[graft] val MaxHam = Dedup.maxHamDefault
  private[graft] val MaxContamRatio = 0.99
  private[graft] val BinTokens = 512
  private[graft] val Shards = 8
  private[graft] val MixFrac = 0.5
  private[graft] val OrderSeed = "42"
  private[graft] val ExportShards = 8

  /** The optional stages, each off by default. prepare() runs the
    * pipeline through the survivors and releases its stage caches
    * before it returns.
    */
  case class Config(
      // near-dup survivors chosen per CLUSTER (q104 semantics — keep
      // each component's max-quality member, min doc_id tie-break)
      // instead of the greedy drop-every-doc_b rule. Both guarantee
      // pairwise non-near-dup output (any surviving pair would be an
      // edge inside one component, which keeps exactly one member);
      // this one keeps the BEST text where greedy keeps the smallest id
      // — at the cost of the O(log n) component rounds
      keepBestQuality: Boolean = false,
      // q107's span scrub after near-dup removal — cross-doc repeated
      // spans (>= 50 chars of shared content-defined chunks) are CUT
      // from every non-canonical doc, one occurrence kept corpus-wide
      // (the Lee et al. 2022 substring step the doc-granular near-dup
      // stage cannot express: shared boilerplate inside otherwise-
      // distinct documents). Rows unchanged; `text` is rewritten (any
      // length-derived input column, e.g. n_chars, then describes the
      // ORIGINAL doc). Later stages — decontamination, mixing,
      // chunking, packing — all run on the scrubbed text.
      scrubDupSpans: Boolean = false,
      // q110's PII redaction (TextAnalysis.redactPii — emails/phones/
      // IPv4s → typed markers) rewrites `text` after near-dup removal /
      // span scrub and BEFORE decontamination, so eval-gram matching and
      // all later stages see the text a training run would. A pure
      // doc-local projection (three codegen'd regexes) — no persist
      // needed; downstream consumers re-evaluate it over the
      // already-cached survivors.
      redactPii: Boolean = false,
      // q103's domain mixing after decontamination — per-source token
      // budget = MixFrac·total/n_sources, deterministic md5-Bernoulli
      // accept. Requires a `source` column.
      mixDomains: Boolean = false,
      // the pipeline ends with q106's deterministic training-order
      // export over the survivors (Extensions.trainOrder at OrderSeed,
      // ExportShards shards) — the final step a pretraining run
      // actually consumes. Returned as Result.order; a writer follows
      // with Extensions.writeTrainOrder.
      exportOrder: Boolean = false,
      // the pipeline ends with the q114+q116 tokenizer chain over the
      // SURVIVORS — learn BpeMerges merges on the surviving corpus
      // (post-scrub/redaction/decontamination text, so the tokenizer
      // never memorizes content the pipeline dropped), then encode
      // every survivor (type-level application, size-gated map shipping
      // — q116's exact machinery). Returned as Result.bpe:
      // (doc_id, n_subwords, seq). EAGER: the learning loop runs 2
      // bounded jobs per merge round.
      bpeEncode: Boolean = false)

  /** Stage outputs over the materialized survivors. `release` drops
    * every block they read (the survivor checkpoint and, with
    * `bpeEncode`, the encode's type-map cache): idempotent, and only
    * after the last action on any Result frame.
    */
  case class Result(survivors: DataFrame, packed: DataFrame,
                    // the (shard, pos, doc_id) training order over the
                    // survivors — Some iff cfg.exportOrder
                    order: Option[DataFrame],
                    // (doc_id, n_subwords, seq) BPE encoding of the
                    // survivors — Some iff cfg.bpeEncode
                    bpe: Option[DataFrame],
                    release: () => Unit)

  private def words(c: Column): Column = filter(split(c, " "), w => w =!= "")

  /** Stage 4's contamination fragment — the doc_ids whose distinct
    * 8-grams are mostly present in the (persisted) eval gram set.
    * Factored out of [[prepare]] so PlanLintSpec can lint the dispatch
    * on the EXACT wiring the pipeline runs (no test-side copy to
    * drift): under the ceiling the eval-gram join must plan
    * BroadcastHashJoin; forced above it, pinned ShuffledHashJoin —
    * never a sort-merge of the corpus gram stream.
    */
  private[graft] def contamIds(train: DataFrame, evalGrams: DataFrame,
                               maxContamRatio: Double): DataFrame = {
    val trainGrams = train
      .select(col("doc_id"),
        explode(array_distinct(expr("char_ngrams(text, 8)"))).as("g"))
    // r20 (guide §2.3/§2.4): total and hit used to be TWO aggregations
    // over two regenerations of the corpus gram explode (total over the
    // raw stream, hit after a LEFT SEMI against the eval grams), glued
    // by a corpus-keyed doc_id join. Fused: distinct the eval grams
    // once (eval-sized exchange; the semi join deduped implicitly
    // before), LEFT-join the stream against them through the same
    // size-gated dispatcher with a match marker, and take both counts
    // in ONE aggregation — count(1) is the old total (the left join
    // preserves every gram row exactly once: egd is unique on g),
    // count(_eg) the old hit (0 when no gram matched, exactly the old
    // coalesce). One corpus gram pass instead of two, one aggregation
    // instead of two + a join; same contaminated-id set.
    // the estimate prices the persisted PRE-distinct evalGrams, not egd:
    // a deliberate upper bound on the build side (an overestimate can
    // only demote a broadcastable eval set to SHUFFLE_HASH, never the
    // reverse), and the pass doubles as evalGrams' materialization
    val egd = evalGrams.distinct().withColumn("_eg", lit(1))
    TextAnalysis.joinLm(trainGrams, egd, Seq("g"), "left",
        TextAnalysis.estimateLmBytes(evalGrams))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("total"), count(col("_eg")).as("hit"))
      .filter(col("hit").cast("double") / col("total") > maxContamRatio)
      .select("doc_id")
  }

  /** Run the flow. `docs`: (doc_id, text, lang, ...); `evalDocs`:
    * (doc_id, text) — the held-out set whose 8-grams must not leak into
    * training data.
    */
  def prepare(docs: DataFrame, evalDocs: DataFrame,
              cfg: Config = Config()): Result = {
    graft.functions.VectorExpressions.ensureRegistered(docs.sparkSession)
    // validate inputs against cfg BEFORE any job runs: a misconfigured
    // mix input would otherwise fail only at stage 4b
    val missing = (Seq("doc_id", "text") ++
      (if (cfg.mixDomains) Seq("source") else Nil))
      .filterNot(docs.columns.contains)
    require(missing.isEmpty,
      s"input docs lack required column(s) ${missing.mkString(", ")} " +
        s"(have: ${docs.columns.mkString(", ")})" +
        (if (missing.contains("source"))
          "; mixDomains requires a `source` column" else ""))
    require(evalDocs.columns.contains("text"),
      s"evalDocs lacks a `text` column (have: ${evalDocs.columns.mkString(", ")})")

    // 1. quality: q88's composite — including its final round(·, 4), so
    // threshold-boundary docs classify exactly as the declared score does
    val scored = docs
      .withColumn("ws", words(col("text")))
      .filter(size(col("ws")) > 0)
      .withColumn("q", round(
        round(size(array_distinct(col("ws"))).cast("double") / size(col("ws")), 4) *
          round(least(lit(1.0), size(col("ws")).cast("double") / 100), 4), 4))
      .filter(col("q") >= MinQuality)
      .drop("ws", "q")

    // 2. exact dedup, keep-first by doc_id (q73's row_number discipline
    // on q80's md5 key — dropDuplicates would keep an arbitrary row)
    val wMd5 = Window.partitionBy(col("content_md5")).orderBy(col("doc_id"))
    val exact = scored
      .withColumn("content_md5", md5(col("text")))
      .withColumn("rn", row_number().over(wMd5))
      .filter(col("rn") === 1).drop("rn")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 3. near-dup removal: q78's banded pairs (the shared
    // Dedup.nearDupPairs), then either greedily drop every doc_b or —
    // keepBestQuality — q104's cluster-canonical selection: connected
    // components of the pair graph, drop everything but each cluster's
    // max-quality member. Both ways survivors are pairwise non-near-dup
    // by construction. Persisted: feeds the gram explode AND the final
    // anti-join.
    val pairs = Dedup.nearDupPairs(exact, MaxHam)
    val dropIds =
      if (!cfg.keepBestQuality)
        pairs.select(col("doc_b").as("doc_id")).distinct()
      else {
        val labels = Dedup.connectedComponents(
          pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
        // q88's composite quality, the same rounding chain stage 1
        // thresholds on (recomputed doc-locally — cheaper than carrying
        // the column through the md5 dedup window)
        val qual = exact
          .select(col("doc_id"), words(col("text")).as("ws"))
          .select(col("doc_id"),
            size(col("ws")).cast("long").as("n_words"),
            size(array_distinct(col("ws"))).cast("long").as("n_uniq"))
          .select(col("doc_id"),
            round(
              when(col("n_words") > 0,
                round(col("n_uniq").cast("double") / col("n_words"), 4))
                .otherwise(lit(0.0)) *
                round(least(lit(1.0), col("n_words").cast("double") / 100), 4),
              4).as("quality"))
        labels.join(qual, "doc_id")
          .withColumn("rn", row_number().over(
            Window.partitionBy("cluster")
              .orderBy(col("quality").desc, col("doc_id"))))
          .filter(col("rn") > 1)
          .select("doc_id")
      }
    val nearDedupedRaw = exact.join(dropIds, Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 3b (optional). span scrub: q107's semantics (Dedup.scrubDupSpans)
    // — cut cross-doc repeated spans out of non-canonical docs, keep the
    // docs (row count UNCHANGED by construction). Persisted (it feeds
    // the decontamination gram explodes AND the final anti-join, same
    // diamond as the raw near-dedup set it replaces).
    val scrubbedOpt =
      if (!cfg.scrubDupSpans) None
      else Some(Dedup.scrubDupSpans(nearDedupedRaw)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val scrubbed = scrubbedOpt.fold(nearDedupedRaw)(
      _.withColumn("text", col("scrubbed")).drop("scrubbed", "n_spans_cut"))

    // 3c (optional). PII redaction: q110's shared redactPii, a doc-local
    // rewrite of `text` (rows unchanged, like 3b)
    val nearDeduped =
      if (!cfg.redactPii) scrubbed
      else scrubbed.withColumn("text", TextAnalysis.redactPii(col("text")))

    // 4. decontamination, q76's gram machinery with roles swapped: drop
    // TRAIN docs whose distinct 8-grams are mostly present in the eval
    // set (a leaked benchmark doc scores ~1.0; organic overlap stays
    // low). trainGrams NOT persisted (r11, same evidence as q75's
    // verdict, SURVEY.md §8.8): the per-doc-distinct gram set carries a
    // ~53× cross-doc duplication factor, and both consumers regenerate
    // it with one doc-local codegen explode over the ALREADY-CACHED
    // nearDeduped — rebuilding beat the gram cache at every soak decade.
    // per-doc distinct via array_distinct (doc-local, no exchange);
    // evalGrams feeds only a LEFT SEMI right side, which dedups by
    // construction — neither needs the global `.distinct()` exchange the
    // pre-r10 form paid (same rewrite as q75/q76).
    // r18 (VERDICT #2): the eval-gram join rides the SAME size-gated
    // dispatcher as every other small-table join in the repo
    // (TextAnalysis.joinLm) instead of trusting AQE to broadcast the
    // eval side — under the ceiling the eval grams broadcast and the
    // corpus-gram stream never shuffles to join; an over-ceiling eval
    // suite DEGRADES to one pinned SHUFFLE_HASH co-partitioned exchange
    // rather than silently sort-merging the full corpus gram set.
    // r20: total+hit fused into one aggregation over one gram pass —
    // see contamIds.
    // evalGrams is persisted because the size estimate and the join
    // both consume it (the estimate pass doubles as materialization —
    // one eager eval-sized job at every prepare() call, the q75
    // bloom-build precedent). Dispatch can never change RESULTS, only
    // plans — PlanLintSpec executes both regimes hash-equal.
    val evalGrams = evalDocs
      .select(explode(array_distinct(expr("char_ngrams(text, 8)"))).as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val contam = contamIds(nearDeduped, evalGrams, MaxContamRatio)
    val clean = nearDeduped.join(contam, Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 4b (optional). domain mixing: q103's machinery at budget fraction
    // MixFrac — per-source token totals, rate = min(1,
    // f·T/n_src / tokens_s), deterministic md5-Bernoulli accept. One
    // agg + a broadcast rate table back onto the cached survivors; the
    // semi-join keeps `clean`'s persisted plan as the only corpus scan.
    val mixed =
      if (!cfg.mixDomains) clean
      else {
        // `source` presence already validated at the top of prepare()
        val d = clean.select(col("doc_id"), col("source"),
          size(words(col("text"))).cast("long").as("n_tokens"))
        val st = d.groupBy("source").agg(sum("n_tokens").as("tokens_in"))
        val tot = st.agg(sum("tokens_in").as("t_all"),
          count(lit(1)).as("n_src"))
        // tokens_in can be ZERO when every surviving doc of a source
        // was scrubbed to empty text (q129 found it at sf0.01 — the
        // rewritten-text×mixing interaction the full config exists to
        // check): rate 1.0 keeps the source whole, which is bin-neutral
        // (empty docs chunk to nothing) and what the unguarded math
        // means at the limit; ANSI mode would otherwise DIVIDE_BY_ZERO
        // where DuckDB returns inf. Guarded IDENTICALLY in the oracle.
        val rates = st.crossJoin(broadcast(tot))
          .select(col("source"),
            when(col("tokens_in") > 0,
              least(lit(1.0),
                (col("t_all").cast("double") * MixFrac / col("n_src")) /
                  col("tokens_in").cast("double")))
              .otherwise(lit(1.0)).as("rate"))
        val keep = d.join(broadcast(rates), "source")
          .filter(col("rate") >= 1.0 ||
            substring(md5(col("doc_id").cast("string")), 1, 12) <
              lower(lpad(hex(floor(col("rate") * lit(281474976710656.0))), 12, "0")))
          .select("doc_id")
        clean.join(keep, Seq("doc_id"), "left_semi")
      }

    // LINEAGE TRUNCATION at the survivors boundary (r14, measured): the
    // composed logical tree (quality → dedup → near-dup → scrub →
    // redaction → decontamination → mix) is deep enough that EVERY
    // downstream action paid ~8-9 s of DRIVER-side overhead at sf0.1 —
    // with every upstream cache materialized and NO task stage over
    // 0.3 s (a per-action traversal of the nested cached plans, not
    // data work; 3 consumer actions ≈ 27 s of pure overhead, growing
    // with decade). localCheckpoint collapses the plan to a LogicalRDD:
    // post-truncation actions measured 0.1 s. Eager: its job is the one
    // pass that populates the stage caches, and nothing reads those
    // caches after it, so they are released here. Known localCheckpoint
    // caveat (same as q100/q114): blocks are not fault-tolerant — an
    // executor loss on a real cluster recomputes nothing; swap for
    // reliable checkpointing there.
    val survivors = mixed.localCheckpoint(eager = true)
    (Seq(exact, nearDedupedRaw, evalGrams, clean) ++ scrubbedOpt)
      .foreach(_.unpersist())

    // 5+6. chunk + pack: the SAME q97 geometry / q58 packing helpers the
    // oracle-checked queries run (Extensions.docChunks / packBins)
    val chunks = Extensions.docChunks(survivors)
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"))
    val packed = Extensions.packBins(chunks, BinTokens, Shards)
      .select("shard", "bin", "n_chunks", "tok_total")

    // 7 (optional). training-order export: q106's engine API over the
    // survivors — same seed ⇒ same (shard, pos) on any cluster, any day
    // (TrainOrderSpec's laws apply verbatim: exactly the survivor set,
    // per-shard contiguous positions)
    val order = if (!cfg.exportOrder) None else Some(
      Extensions.trainOrder(survivors.select(col("doc_id")), OrderSeed,
        ExportShards))

    // 8 (optional). tokenizer chain over the SURVIVORS: learn BPE
    // merges on what training will actually see (q114), encode every
    // survivor with them (q116's type-level machinery). Learning is
    // eager (bounded jobs per round, localCheckpoint-truncated); the
    // encode's seg cache is released with the survivors.
    val bpe = if (!cfg.bpeEncode) None else {
      val corpus = survivors.select(col("doc_id"), col("text"))
      val merges = TextAnalysis.learnBpeMerges(corpus, TextAnalysis.BpeMerges)
      Some(TextAnalysis.bpeEncodeTokens(corpus, merges))
    }

    val release = () => {
      TextAnalysis.releaseCheckpoints(survivors)
      bpe.foreach(_._2.unpersist())
      ()
    }
    Result(survivors, packed, order, bpe.map(_._1), release)
  }

  /** q126's pinned configuration: every optional stage (keep-best,
    * scrub, redaction, mixing, order export, BPE) off, with the greedy
    * near-dup drop rule — exactly the mandatory chain whose stages all
    * have proven oracle formulations. Each Declared*Cfg below switches
    * stages on; the dials are the shared constants above, so the
    * oracle generators and prepare() cannot disagree on a value.
    */
  private[graft] val DeclaredCfg = Config()

  /** q126/q127/q128's eval slice: every 10th doc_id of the raw table —
    * a planted leak (the slice is also pipeline input, so each surviving
    * slice member is ~fully contained in the eval set and
    * decontamination must drop it).
    */
  private[graft] val DeclaredEvalMod = 10

  /** q127's pinned configuration (r17 VERDICT #1): [[DeclaredCfg]] with
    * the two most-enabled real-world OPTIONAL stages switched on —
    * q107's cross-doc span scrub (md5 boundary, one pass — the
    * oracle-parity rule) and q110's PII redaction — wired between
    * near-dup removal and decontamination, exactly the composition the
    * per-stage oracles could not check.
    */
  private[graft] val DeclaredScrubCfg =
    DeclaredCfg.copy(scrubDupSpans = true, redactPii = true)

  /** q128's pinned configuration (r17 VERDICT #5): [[DeclaredCfg]] with
    * domain mixing enabled at [[MixFrac]] of the corpus token budget —
    * the remaining oracle-expressible optional stage, and the riskiest
    * composition still unchecked after q127 because mixing changes
    * survivor SETS (not just text) between decontamination and
    * chunking. Requires the documents table's `source` column.
    */
  private[graft] val DeclaredMixCfg = DeclaredCfg.copy(mixDomains = true)

  /** q129's pinned configuration (r18, self-set): ALL THREE
    * oracle-expressible optional stages composed at once — scrub,
    * redaction, AND mixing. Beyond "each option works", this is the
    * only declared config whose mixing stage consumes REWRITTEN text
    * (token counts over scrubbed+redacted docs) and whose oracle
    * exercises the generator's source join-back branch (`clean` joins
    * `nd` for the source column the scrub/redaction CTEs don't carry)
    * — dead text in q126/q127/q128.
    */
  private[graft] val DeclaredFullCfg =
    DeclaredCfg.copy(scrubDupSpans = true, redactPii = true,
      mixDomains = true)

  /** q130's pinned configuration (r18, self-set): the ORDER-EXPORT
    * stage composed under the hash gate — prepare() with exportOrder
    * ([[OrderSeed]], [[ExportShards]] shards), declared output =
    * Result.order (shard, pos, doc_id), the frame a pretraining loader
    * actually consumes. Unlike
    * q106 (which pins keyHexDigits=1 for its legacy oracle), this
    * covers trainOrder's production-default 12-hex shard key, AND the
    * wiring claim that the order runs over exactly the pipeline's
    * survivor set.
    */
  private[graft] val DeclaredOrderCfg = DeclaredCfg.copy(exportOrder = true)

  /** q131's pinned configuration (r18 VERDICT #1): [[DeclaredCfg]] with
    * `keepBestQuality = true` — the pipeline's only production-real
    * ALTERNATIVE keep policy (q104's keep-max-quality-per-cluster in
    * place of the greedy drop-doc_b rule), and the last
    * survivor-set-changing option that had no composed oracle. The
    * oracle splices q100's recursive-closure labels + q88's quality
    * rank (both long hash-green) where the greedy NOT IN sits.
    */
  private[graft] val DeclaredBestCfg = DeclaredCfg.copy(keepBestQuality = true)

  /** q132's pinned configuration (r18 VERDICT #2): the scrub+redact
    * chain (q127's config) ending with the q114+q116 tokenizer stage —
    * learn [[TextAnalysis.BpeMerges]] merges on the SURVIVING
    * post-scrub/redaction/decontamination text (the tokenizer never
    * memorizes content the pipeline dropped — the learn-on-clean-text
    * wiring claim) and encode every survivor. Declared output =
    * Result.bpe reattached over the survivor set in q116's
    * (doc_id, n_subwords, toks_md5) shape.
    */
  private[graft] val DeclaredBpeCfg = DeclaredScrubCfg.copy(bpeEncode = true)

  /** q133's pinned configuration (r18 VERDICT #4, the widened order
    * wiring): [[DeclaredFullCfg]]'s scrub + redaction + mixing chain
    * ending with the order export — the order runs over REWRITTEN,
    * mix-sampled survivors, the one order composition q130 (mandatory
    * chain only) left unexercised. Same seed and shard count as q130.
    */
  private[graft] val DeclaredOrderFullCfg =
    DeclaredFullCfg.copy(exportOrder = true)

  /** The shared composed-pipeline query body: run [[prepare]] at `cfg`
    * over the documents table, with the [[DeclaredEvalMod]] slice as
    * the eval set, so construction runs the pipeline and the returned
    * frames read the survivor checkpoint.
    */
  private def pipelineResult(s: org.apache.spark.sql.SparkSession,
                             dir: String, cfg: Config): Result = {
    val all = Tables(s, dir, "documents")
    val inCols = Seq(col("doc_id"), col("text")) ++
      (if (cfg.mixDomains) Seq(col("source")) else Nil)
    prepare(
      all.select(inCols: _*),
      all.filter(col("doc_id") % DeclaredEvalMod === 0)
        .select(col("doc_id"), col("text")),
      cfg)
  }

  /** q132's runner: the declared output checkpoints eagerly (three
    * narrow columns × survivor count — tiny), so the returned frame is
    * self-contained and the Result is released in-query.
    */
  private def bpeQuery(s: org.apache.spark.sql.SparkSession, dir: String,
                       cfg: Config): DataFrame = {
    val res = pipelineResult(s, dir, cfg)
    val out = TextAnalysis.bpeEncodeHashed(res.survivors, res.bpe.get)
      .localCheckpoint()
    res.release()
    out.orderBy("doc_id")
  }

  private def packQuery(s: org.apache.spark.sql.SparkSession, dir: String,
                        cfg: Config): DataFrame =
    pipelineResult(s, dir, cfg).packed.orderBy("shard", "bin")

  /** The composed-pipeline oracle queries (r16 VERDICT #4; widened by
    * r17 VERDICT #1/#5): the oracle re-expresses each composition as
    * chained CTEs REUSING the per-stage oracle formulations verbatim —
    * q88's quality chain, q73/q80's keep-first dedup, q78's simhash
    * pair chain ([[Dedup.simhashPairCtesFrom]], re-sourced at the
    * deduped CTE), q107's scrub chain ([[Dedup.scrubCtesFrom]],
    * re-sourced at the near-deduped CTE) and q110's staged redaction
    * when the config enables them, q76's gram machinery with the roles
    * swapped, q103's mixing CTEs when enabled, and q97/q58's chunk +
    * pack tail. The SQL is GENERATED from the same [[Config]] and dial
    * constants the Spark lambda runs ([[pipelineOracleSql]]), so a dial
    * edit retargets both engines together and the optional-stage wiring
    * has exactly one formulation per stage. Any stage diverging — or the composition
    * wiring them differently — moves bins and fails the hash.
    */
  val queries: Map[String, graft.Q] = Map(
    "q126_pipeline_pack" -> ((s, dir) => packQuery(s, dir, DeclaredCfg)),
    "q127_pipeline_scrub_redact" ->
      ((s, dir) => packQuery(s, dir, DeclaredScrubCfg)),
    "q128_pipeline_mix" -> ((s, dir) => packQuery(s, dir, DeclaredMixCfg)),
    "q129_pipeline_full" -> ((s, dir) => packQuery(s, dir, DeclaredFullCfg)),
    "q130_pipeline_order" -> ((s, dir) =>
      pipelineResult(s, dir, DeclaredOrderCfg).order.get.orderBy("shard", "pos")),
    "q131_pipeline_keepbest" ->
      ((s, dir) => packQuery(s, dir, DeclaredBestCfg)),
    // q132: Result.bpe gated in q116's declared shape — the SHARED
    // [[TextAnalysis.bpeEncodeHashed]] tail (md5 the subword sequence,
    // reattach zero-token — scrubbed-empty — docs over the SURVIVOR
    // set through the pinned SHUFFLE_HASH join)
    "q132_pipeline_bpe" -> ((s, dir) => bpeQuery(s, dir, DeclaredBpeCfg)),
    "q133_pipeline_order_full" -> ((s, dir) =>
      pipelineResult(s, dir, DeclaredOrderFullCfg).order.get
        .orderBy("shard", "pos"))
  )

  /** The shared CTE chain through the SURVIVOR relation — everything
    * from quality filtering to (optional) mixing, ending with a
    * trailing comma. Returns (ctes, survivorRelationName). Both oracle
    * tails (pack — [[pipelineOracleSql]]; order export —
    * [[pipelineOrderOracleSql]]) append to it, so the chain has ONE
    * formulation. exportOrder/bpeEncode are additive stages that never
    * move the chain; each tail checks what it consumes.
    */
  private def pipelineChainSql(c: Config): (String, String) = {
    // optional stage 3b/3c: scrub (q107's chain re-sourced at nd) then
    // redaction (q110's three regexp_replace stages, same fixed order);
    // `prepped` names whichever relation carries the stage-final text
    val scrubCtes =
      if (!c.scrubDupSpans) "" else s"${Dedup.scrubCtesFrom("nd", "sc_")},\n"
    val redCtes =
      if (!c.redactPii) ""
      else {
        val from = if (c.scrubDupSpans) "sc_scrubbed" else "nd"
        // generated from the SAME (pattern, marker) stage list
        // redactPii folds over — order and markers cannot drift
        val folded = TextAnalysis.PiiStages.foldLeft("text") {
          case (inner, (re, marker)) =>
            s"regexp_replace($inner, '$re', '$marker', 'g')"
        }
        s"""red AS MATERIALIZED (
           |  SELECT doc_id, $folded AS text
           |  FROM $from),
           |""".stripMargin
      }
    val prepped =
      if (c.redactPii) "red"
      else if (c.scrubDupSpans) "sc_scrubbed"
      else "nd"
    val mixOn = c.mixDomains
    // when mixing is on the upstream chain carries `source` through to
    // `clean` (prepare() carries every input column through its stages;
    // the scrub/redaction CTEs emit (doc_id, text) only, so `clean`
    // joins `nd` back for it — doc_id-preserving stages, total join)
    val srcCol = if (mixOn) ", source" else ""
    val cleanCte =
      if (!mixOn || prepped == "nd")
        s"""clean AS MATERIALIZED (
           |  SELECT doc_id, text$srcCol FROM $prepped
           |  WHERE doc_id NOT IN (SELECT doc_id FROM contam))"""
          .stripMargin
      else
        s"""clean AS MATERIALIZED (
           |  SELECT p.doc_id, p.text, n.source FROM $prepped p
           |  JOIN nd n USING (doc_id)
           |  WHERE p.doc_id NOT IN (SELECT doc_id FROM contam))"""
          .stripMargin
    // optional stage 4b: q103's mixing machinery at budget fraction
    // MixFrac — the rate expression mirrors prepare()'s Column chain
    // operation-for-operation (left-assoc * then /, one rounding per
    // step), and the md5-vs-hex accept test is q103's proven pairing
    val mixCtes = if (!mixOn) "" else
      s"""mixd AS MATERIALIZED (
         |  SELECT doc_id, source,
         |         CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_tokens
         |  FROM clean),
         |mixst AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tokens_in
         |          FROM mixd GROUP BY source),
         |mixtot AS (SELECT CAST(sum(tokens_in) AS BIGINT) AS t_all, count(*) AS n_src
         |           FROM mixst),
         |mixrates AS (
         |  SELECT source,
         |         CASE WHEN tokens_in > 0
         |              THEN least(1.0, (CAST(t_all AS DOUBLE) * $MixFrac / n_src)
         |                    / CAST(tokens_in AS DOUBLE))
         |              ELSE 1.0 END AS rate
         |  FROM mixst CROSS JOIN mixtot),
         |mixkeep AS (
         |  SELECT d.doc_id FROM mixd d JOIN mixrates USING (source)
         |  WHERE rate >= 1.0
         |     OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12)
         |        < printf('%012x', CAST(floor(rate * 281474976710656.0) AS BIGINT))),
         |mixed AS (
         |  SELECT doc_id, text FROM clean
         |  WHERE doc_id IN (SELECT doc_id FROM mixkeep)),
         |""".stripMargin
    val chSrc = if (mixOn) "mixed" else "clean"
    // stage-3 drop rule: greedy (drop every qualifying doc_b — q126's
    // declared rule) or — keepBestQuality — q104's cluster-canonical
    // selection, spliced in as the source-parameterized
    // [[Dedup.keepBestCtesFrom]] (ONE formulation with q104's oracle):
    // recursive closure labels, q88's quality rank over the exact-dedup
    // survivors (exactly as prepare() computes it), everything but each
    // cluster's rank-1 member drops. The closure needs WITH RECURSIVE,
    // so the prefix is config-dependent; the non-best texts stay
    // byte-identical to their r18 green forms.
    val kbqCtes =
      if (!c.keepBestQuality) ""
      else s"${Dedup.keepBestCtesFrom("ex", "kbq_", MaxHam)},\n"
    val ndBody =
      if (!c.keepBestQuality)
        s"""  SELECT doc_id, text$srcCol FROM ex
           |  WHERE doc_id NOT IN (
           |    SELECT doc_b FROM ham WHERE hamming <= $MaxHam)"""
          .stripMargin
      else
        s"""  SELECT doc_id, text$srcCol FROM ex
           |  WHERE doc_id NOT IN (SELECT doc_id FROM kbq_ranked WHERE rn > 1)"""
          .stripMargin
    val withKw = if (c.keepBestQuality) "WITH RECURSIVE" else "WITH"
    val ctes = s"""$withKw wq AS (
       |  SELECT doc_id, text$srcCol,
       |         list_filter(string_split(text, ' '), w -> w <> '') AS ws
       |  FROM documents),
       |qf AS (
       |  SELECT doc_id, text$srcCol FROM wq
       |  WHERE len(ws) > 0
       |    AND round(round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4)
       |        * round(least(1.0, CAST(len(ws) AS DOUBLE) / 100), 4), 4)
       |        >= $MinQuality),
       |ex AS MATERIALIZED (
       |  SELECT doc_id, text$srcCol FROM (
       |    SELECT doc_id, text$srcCol,
       |           row_number() OVER (PARTITION BY md5(text)
       |                              ORDER BY doc_id) AS rn
       |    FROM qf)
       |  WHERE rn = 1),
       |${Dedup.simhashPairCtesFrom("ex")},
       |${kbqCtes}nd AS MATERIALIZED (
       |$ndBody),
       |${scrubCtes}${redCtes}eg AS (
       |  SELECT DISTINCT g FROM (
       |    SELECT unnest(list_transform(range(1, len(text) - 6),
       |           i -> substr(text, i, 8))) AS g
       |    FROM documents
       |    WHERE doc_id % $DeclaredEvalMod = 0 AND len(text) >= 8)),
       |tg AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, g FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(text) - 6),
       |           i -> substr(text, i, 8))) AS g
       |    FROM $prepped WHERE len(text) >= 8)),
       |tot AS (SELECT doc_id, count(*) AS total FROM tg GROUP BY doc_id),
       |hits AS (
       |  SELECT doc_id, count(*) AS hit FROM tg
       |  WHERE g IN (SELECT g FROM eg) GROUP BY doc_id),
       |contam AS (
       |  SELECT t.doc_id FROM tot t LEFT JOIN hits h USING (doc_id)
       |  WHERE CAST(COALESCE(h.hit, 0) AS DOUBLE) / t.total
       |        > $MaxContamRatio),
       |$cleanCte,
       |$mixCtes""".stripMargin
    (ctes, chSrc)
  }

  /** Generate the DuckDB oracle for [[packQuery]] at `c` — the CTE
    * chain follows prepare()'s stage order literally: quality → exact
    * dedup → simhash near-dup → (scrub → redaction) → decontamination →
    * (mixing) → chunk → pack. Only the stages `c` enables are emitted;
    * with every option off this is byte-for-byte r17's q126 oracle.
    */
  private[graft] def pipelineOracleSql(c: Config): String = {
    val (ctes, survivors) = pipelineChainSql(c)
    s"""${ctes}cws AS (
       |  SELECT doc_id,
       |         list_filter(string_split(text, ' '), w -> w <> '') AS ws
       |  FROM $survivors),
       |ch AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(0, CAST(ceil(len(ws) / 40.0) AS INT)),
       |                i -> {'idx': i, 'n': len(ws[i*40+1 : i*40+50])})) AS e
       |  FROM cws WHERE len(ws) > 0),
       |chunks AS (
       |  SELECT doc_id, CAST(e.idx AS BIGINT) AS chunk_idx,
       |         CAST(e.n AS BIGINT) AS n_tokens,
       |         doc_id % $Shards AS shard
       |  FROM ch),
       |binned AS (
       |  SELECT shard, doc_id, chunk_idx, n_tokens,
       |         CAST(COALESCE(sum(n_tokens) OVER (
       |              PARTITION BY shard ORDER BY doc_id, chunk_idx
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum0
       |  FROM chunks)
       |SELECT shard, CAST(floor(cum0 / $BinTokens) AS BIGINT) AS bin,
       |       count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS tok_total
       |FROM binned GROUP BY shard, bin ORDER BY shard, bin""".stripMargin
  }

  /** The order-export tail (q130): q106's machinery at the PIPELINE's
    * parameters — trainOrder's full 12-hex-digit shard key over the
    * survivor set (q106's declared query pins keyHexDigits=1 for its
    * legacy oracle; THIS oracle covers the production-default key the
    * pipeline actually exports). The 12-hex parse is exact in DOUBLE
    * (digit·16^11 <= 15·2^44 < 2^53, sum < 2^48), so the
    * list_transform/power fold equals Spark's conv(…,16,10) BIGINT
    * bit-for-bit; the key is non-negative, so `%` equals pmod.
    */
  private[graft] def pipelineOrderOracleSql(c: Config): String = {
    require(c.exportOrder, "pipelineOrderOracleSql needs exportOrder")
    val (ctes, survivors) = pipelineChainSql(c)
    s"""${ctes}ord AS (
       |  SELECT doc_id, md5('$OrderSeed|' || CAST(doc_id AS VARCHAR)) AS rk
       |  FROM $survivors),
       |shd AS (
       |  SELECT doc_id, rk,
       |         CAST(CAST(list_sum(list_transform(range(1, 13),
       |              i -> (strpos('0123456789abcdef', substr(rk, CAST(i AS INT), 1)) - 1)
       |                   * power(16.0, 12 - i))) AS BIGINT) % $ExportShards AS BIGINT) AS shard
       |  FROM ord)
       |SELECT shard,
       |       CAST(row_number() OVER (PARTITION BY shard ORDER BY rk, doc_id) AS BIGINT) AS pos,
       |       doc_id
       |FROM shd ORDER BY shard, pos""".stripMargin
  }

  /** The tokenizer tail (q132): [[TextAnalysis.bpeSeqEncodeOracleTail]]
    * — the q114 sequential learner's unrolled merge rounds seeded from
    * the SURVIVOR relation's word frequencies, then the q116/q120/q125
    * application half over the same relation. One generator per stage,
    * shared verbatim with the per-stage oracles; only the source
    * relation differs (q114/q116 read it at src = "documents").
    *
    * Failure-mode asymmetry (r19 self-review #6, known and LOUD): if a
    * survivor corpus ever exhausts mergeable pairs before the declared
    * 20 rounds, the ENGINE fails fast (learnBpeMerges' round-count
    * `require`) while this SQL's per-round `LIMIT 1`
    * over an empty pair table silently collapses the vocab CTE to zero
    * rows and passes every word through whole. The mismatch cannot
    * produce a silent wrong-pass: the engine side errors, so the gate
    * reports a failed query, which is the correct signal that the
    * declared depth no longer fits the corpus.
    */
  private[graft] def pipelineBpeOracleSql(c: Config): String = {
    require(c.bpeEncode, "pipelineBpeOracleSql needs bpeEncode")
    val (ctes, survivors) = pipelineChainSql(c)
    s"$ctes${TextAnalysis.bpeSeqEncodeOracleTail(survivors)}"
  }

  val oracle: Map[String, String] = Map(
    "q126_pipeline_pack" -> pipelineOracleSql(DeclaredCfg),
    "q127_pipeline_scrub_redact" -> pipelineOracleSql(DeclaredScrubCfg),
    "q128_pipeline_mix" -> pipelineOracleSql(DeclaredMixCfg),
    "q129_pipeline_full" -> pipelineOracleSql(DeclaredFullCfg),
    "q130_pipeline_order" -> pipelineOrderOracleSql(DeclaredOrderCfg),
    "q131_pipeline_keepbest" -> pipelineOracleSql(DeclaredBestCfg),
    "q132_pipeline_bpe" -> pipelineBpeOracleSql(DeclaredBpeCfg),
    "q133_pipeline_order_full" -> pipelineOrderOracleSql(DeclaredOrderFullCfg)
  )

}
