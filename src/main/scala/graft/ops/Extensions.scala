package graft.ops

import graft.Q
import graft.model.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LLM-data-pipeline extensions — arrays/maps, exact & near dedup,
  * similarity search, text analysis, multimodal join (SURVEY.md §2.2
  * q64-q66, q80-q84).
  *
  * Scale notes (the 100 TB view):
  *  - q80 exact dedup: hash-groupBy on md5(text) — one shuffle on the hash,
  *    map-side partial counts; at scale this is the canonical first dedup
  *    pass.
  *  - q81 shingle Jaccard: per-doc-distinct shingles (array_distinct,
  *    doc-local) → skew-capped gram→doc-list aggregate → prefix-filtered
  *    candidates → exact array_intersect verify (see capJaccardPairs).
  *    Exact at every scale; the MinHash/LSH variant (q85, Dedup.scala)
  *    remains the approximate alternative.
  *  - q82 cosine top-k: brute force against ONE broadcast probe vector —
  *    O(n·d) map-side work, no shuffle until the final top-k. The bucketed
  *    ANN variant (q91) is the scale path for many probes.
  *  - Float math: the native cosine accumulates each row in one fixed
  *    sequential order — double addition is not associative and a
  *    parallel engine must not let reduction order leak into results
  *    (SURVEY.md §7.5.2).
  */
object Extensions {

  /** PPJoin-style PREFIX-FILTERED variant of [[capJaccardPairs]]
    * (Chaudhuri et al. ICDE'06; Xiao et al. PPJoin) — byte-identical
    * output, different candidate generation. Input contract as
    * [[capJaccardPairs]]: per-doc-distinct (doc_id, <gram>) rows.
    *
    * Idea: order each doc's kept grams by (df, gram) ascending — rarest
    * first under one global total order — and emit candidates only from
    * each doc's first L = n − ⌈t·n⌉ + 1 grams. Lemma (overlap form): if
    * |a∩b| ≥ α then the (|a|−α+1)- and (|b|−α+1)-prefixes share an
    * element — the α-th largest shared gram sits inside both; J(a,b) ≥ t
    * implies |a∩b| ≥ ⌈t·max(|a|,|b|)⌉, so the per-doc L above (its
    * weakest case) loses NO qualifying pair. Spurious pairs, by
    * contrast, share only common-ish grams, which the df-ascending order
    * pushes into suffixes. Candidates then verify EXACTLY via
    * array_intersect on the full per-doc gram arrays.
    *
    * MEASURED REFUTATION (r10, 1×/10×/100×, SURVEY.md §8.9;
    * RE-CONFIRMED r11 with fresh-JVM single-mode runs — the r10 113.6 s
    * vs 50.5 s headline came from the in-JVM interleaved A/B, whose own
    * 2.7× same-mode variance the r10 ADVICE flagged as too noisy to
    * carry the verdict alone): at the declared thresholds this path
    * LOSES to the plain inverted-index expansion at every decade. The
    * clean arrangement (one JVM per sample, modes alternated so no
    * stall window lands on one mode) measures at
    * 100×: expand 42.5-61.1 s over 4 samples vs prefix 69.5-105.8 s
    * over 3 (a 4th prefix sample, 236 s, carried a multi-second host
    * freeze) — prefix 1.6-1.9× slower however paired. Two causes,
    * both structural at t = 0.5: (a) the prefix keeps ⌈n/2⌉+1 of each
    * doc's grams, and this corpus' spurious pairs share several
    * mid-frequency grams, so the candidate cut saturates at 3.9×
    * (124M → 31.9M at 100×) instead of the 10-100× the PPJoin papers
    * see at t ≥ 0.8; (b) verification must carry each doc's FULL gram
    * array (~30 strings, ~750 B/row vs the expansion's 24 B pair rows)
    * through two joins — 3.9× fewer rows × ~30× heavier rows is a net
    * LOSS in exchange bytes. Prefix filtering is a high-threshold
    * technique; q81/q95 declare t = 0.3/0.5, so [[capJaccardPairs]]
    * (expansion) stays their production path.
    *
    * IN ITS OWN REGIME IT WINS — measured r11, same fresh-JVM
    * arrangement, t = 0.85: prefix beats expansion at BOTH soak decades
    * (10×: 16.0 s cold / 5.1 warm vs 18.8 / 6.8; 100×: 45.3 / 42.1 vs
    * 60.5 / 55.6 — ~1.3× at scale; the prefix keeps only ~0.15·n + 1
    * grams, so the candidate cut finally outruns the heavier verify
    * rows). This is therefore the PRODUCTION path of
    * q101_near_exact_dup (t = 0.85, oracle-checked); byte-equivalence
    * with the expansion is property-spec-covered
    * (GenerativePropertiesSpec); the t = 0.85 record is SURVEY.md §8.8.
    *
    * Stage shape:
    *  - gramDocs: ONE corpus-sized exchange — groupBy(gram) computing
    *    df = count AND the complete doc list via the k-bounded
    *    topk_min_agg (k = maxDf+1): partial buffers cap at maxDf+1 ids
    *    per gram per mapper, so a degenerate hot gram (df ~ corpus size
    *    at 100 TB) truncates map-side instead of flooding one reducer —
    *    the aggregate is skew-capped BY CONSTRUCTION. For under-cap
    *    grams (df ≤ maxDf < k) the truncation never fires and the list
    *    is exact.
    *  - docArr: per-doc sorted (df, gram) arrays + sizes; persisted — it
    *    feeds prefix generation and BOTH verify sides (callers own cache
    *    cleanup per the [[graft.SparkEntry.queries]] contract).
    *  - candidates: array_pairs over per-PREFIX-gram doc lists (groups
    *    still ≤ maxDf by construction), deduped.
    *  - verify: two SHUFFLE_HASH-pinned joins against docArr (broadcast
    *    stays banned — docArr is corpus-proportional, same lesson as the
    *    r8 dictionary blow-up), exact inter = |array_intersect|, then
    *    the threshold.
    */
  private[graft] def capJaccardPairsPrefix(docDistinctGrams: DataFrame, gram: String,
                                           maxDf: Int, minJac: Double): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(docDistinctGrams.sparkSession)
    val gramDocs = docDistinctGrams.groupBy(gram)
      .agg(count(lit(1)).as("df"),
        expr(s"transform(topk_min_agg('', doc_id, ${maxDf + 1}), x -> x.id)")
          .as("ds"))
      .filter(col("df") <= maxDf)
    // explode preserves the gram partitioning; no exchange before docArr
    val kept = gramDocs.select(col("df"), col(gram).as("gv"),
      explode(col("ds")).as("doc_id"))
    val docArr = kept.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("gv")))).as("gs"),
        count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // L = n − ⌈t·n⌉ + 1, nudged so a ~1-ulp-high t·n cannot round the
    // ceil UP and shorten the prefix (longer prefixes only add
    // candidates — never lose one)
    val prefLen = greatest(lit(1L), col("n") + 1L -
      ceil(col("n").cast("double") * lit(minJac) - lit(1e-9)).cast("long"))
    val prefix = docArr.select(col("doc_id"),
      explode(transform(slice(col("gs"), lit(1), prefLen.cast("int")),
        x => x.getField("gv"))).as("pg"))
    val cand = prefix.groupBy("pg")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .select(explode(expr("array_pairs(ds)")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
    val va = docArr.select(col("doc_id").as("a"),
      transform(col("gs"), x => x.getField("gv")).as("ga"), col("n").as("na"))
    val vb = docArr.select(col("doc_id").as("b"),
      transform(col("gs"), x => x.getField("gv")).as("gb"), col("n").as("nb"))
    val jac = col("inter").cast("double") /
      (col("na") + col("nb") - col("inter")).cast("double")
    cand.join(va.hint("SHUFFLE_HASH"), Seq("a"))
      .join(vb.hint("SHUFFLE_HASH"), Seq("b"))
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .filter(jac >= minJac)
      .select(col("a").as("doc_a"), col("b").as("doc_b"), col("inter"),
        round(jac, 4).as("jac"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Threshold-keyed dispatch between the two measured candidate
    * strategies (r13, VERDICT #6 — callers stop hand-picking): the
    * inverted-index EXPANSION ([[capJaccardPairs]]) wins the low
    * thresholds (t ≤ 0.5: prefix measured 1.6-1.9× SLOWER at 100×,
    * fresh-JVM); the PPJoin PREFIX ([[capJaccardPairsPrefix]]) wins the
    * high ones (t = 0.85: ~1.3× faster at 100×) — the two scaladocs
    * carry the full measurement provenance. The crossover is dispatched
    * at t ≥ 0.7: the prefix keeps ~0.3·n+1 grams there (vs ~0.5·n+1 at
    * the measured losing point and ~0.15·n+1 at the measured winning
    * point), the midpoint of the measured regimes; neither path has
    * been measured AT 0.7, so the cut sits where both extrapolations
    * stay safe. Dispatch can never change RESULTS, only plans — the two
    * paths are byte-equivalent by generative property spec
    * (GenerativePropertiesSpec) across thresholds 0.0-0.75.
    */
  private[graft] def capJaccardPairsAuto(docDistinctGrams: DataFrame, gram: String,
                                         maxDf: Int, minJac: Double): DataFrame =
    if (minJac >= 0.7) capJaccardPairsPrefix(docDistinctGrams, gram, maxDf, minJac)
    else capJaccardPairs(docDistinctGrams, gram, maxDf, minJac)

  /** Shared DF-capped set-Jaccard pipeline behind q81 (word shingles) and
    * q95 (char n-grams): inverted-index pair expansion over under-cap
    * grams, then per-pair intersection counts.
    * Input: (doc_id, <gram>) rows, PER-DOC DISTINCT — generate with
    * `explode(array_distinct(<generator>))`. The per-doc dedup is a
    * doc-local operation; the r10 rewrite moved it into the generator
    * column (array_distinct) and removed the internal `.distinct()`,
    * which paid a full corpus-sized (doc, gram) exchange + a
    * gram-domain-sized hash aggregate before anything useful ran — the
    * single largest stage of the r9 100× soak profile (~26-53 s of
    * q95's 86 s).
    *
    * Stage shape (each one chosen for the 100 TB case):
    *  - keep = groupBy(gram).count <= maxDf: map-side-combinable counts,
    *    never buffers a hot gram's doc list.
    *  - kept = grams LEFT SEMI keep on gram: both sides hash-partitioned
    *    on the gram; the join output stays partitioned on gram, so the
    *    pair-generation groupBy(gram) downstream needs NO further
    *    exchange.
    *  - pair expansion: per-gram sorted doc list → all a<b pairs via the
    *    native codegen'd array_pairs; group sizes are bounded by maxDf,
    *    so the expansion is ≤ maxDf(maxDf-1)/2 per gram by construction.
    *
    * Why not prefix filtering: [[capJaccardPairsPrefix]] implements the
    * published PPJoin alternative; measured 1.6-1.9× SLOWER at 100× at
    * the declared thresholds (r10 in-JVM A/B, re-confirmed r11 with
    * fresh-JVM single-mode runs) — see its scaladoc for the attribution.
    * This expansion form stays production for t ≤ ~0.5.
    */
  // Parameter name IS the contract (r10 ADVICE): rows must be per-doc
  // distinct — a caller passing raw gram occurrences would silently count
  // occurrence frequency as document frequency. GenerativePropertiesSpec
  // guards the contract with a duplicated-input counterexample.
  private[graft] def capJaccardPairs(docDistinctGrams: DataFrame, gram: String,
                                     maxDf: Int, minJac: Double): DataFrame = {
    val keep = docDistinctGrams.groupBy(gram).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(gram)
    // SHUFFLE_HASH, pinned: keep is the under-cap gram DICTIONARY — it
    // scales with the corpus (≈ the distinct-gram domain; the df cap
    // removes only the hot head), but it sits behind an agg + filter
    // whose size the planner can only guess, and the guess reads small.
    // The 26× soak caught the consequence: a broadcast plan whose build
    // blew past driver memory — at 100 TB the dictionary is a
    // non-starter to broadcast, ever.
    // kept feeds two consumers (sizes + pair-gen): persisted diamond;
    // callers own cache cleanup (see the contract note on
    // [[graft.SparkEntry.queries]])
    val kept = docDistinctGrams.join(keep.hint("SHUFFLE_HASH"), Seq(gram), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sz = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = kept.groupBy(gram)
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .select(explode(expr("array_pairs(ds)")).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val jac = col("inter").cast("double") /
      (col("sa.n") + col("sb.n") - col("inter")).cast("double")
    pairs
      .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .filter(jac >= minJac)
      .select(col("doc_a"), col("doc_b"), col("inter"), round(jac, 4).as("jac"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** One row per (doc, chunk): fixed 50-token windows at stride 40 over
    * the non-empty tokens — the SINGLE source of chunk geometry, consumed
    * by q97 (identity/stats) and q58 (packing). The q58-vs-q97
    * conservation invariant only means something because both read this
    * one definition.
    */
  private[ops] def docChunks(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        expr("filter(split(text, ' '), w -> w <> '')").as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, CAST(ceil(size(ws) / 40.0) AS INT) - 1),
          |  i -> named_struct('idx', i, 'chunk', slice(ws, i * 40 + 1, 50)))""".stripMargin))
        .as("e"))
      .select(col("doc_id"),
        col("e.idx").cast("long").as("chunk_idx"),
        col("e.chunk").as("chunk"))

  private def docChunks(s: SparkSession, dir: String): DataFrame =
    docChunks(Tables(s, dir, "documents"))

  /** q58's bin packing over any (doc_id, chunk_idx, n_tokens) chunk
    * DataFrame — also the packing stage of [[TrainingPipeline]]. Bins
    * fill by cumulative token count in (doc_id, chunk_idx) order WITHIN
    * doc_id%shards shards (per-shard windows, embarrassingly parallel —
    * no global single-task window).
    */
  private[ops] def packBins(chunks: DataFrame, binTokens: Int,
                            shards: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("doc_id"), col("chunk_idx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    chunks.withColumn("shard", pmod(col("doc_id"), lit(shards)))
      .withColumn("cum0", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", floor(col("cum0") / binTokens).cast("long"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).as("tok_total"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Deterministic training-order export over any DataFrame with a
    * `doc_id` column — the engine API behind q106 (which pins seed="42",
    * shards=8, keyHexDigits=1 for oracle byte-stability). shard = the
    * first `keyHexDigits` hex digits of md5(seed|doc_id), as an integer,
    * mod `shards`; pos = rank of the md5 key within the shard.
    * Content-independent and partitioning-independent: the same (seed,
    * shards) yields the same (shard, pos) for every document on any
    * cluster, any day — reproducible training runs.
    *
    * Laws (TrainOrderSpec): for ANY shard count the output carries
    * exactly the input's doc set once (shards only partition the order,
    * never the membership); per shard, pos is the contiguous 1..n_shard
    * ranking of the md5 keys; repeated invocation is bit-identical.
    *
    * Scale shape: per-SHARD windows, never a global one (the q58/q45
    * discipline) — each shard's rank is one partition-local sort, so a
    * 100 TB export sets shards in the thousands and every worker ranks
    * its own shards. `keyHexDigits` bounds shard-assignment skew: the
    * key prefix is uniform over 16^keyHexDigits values, so the modulo's
    * bucket-size bias is ≤ shards/16^keyHexDigits (the default 12 digits
    * = 2^48 key values — negligible for any realistic shard count, and
    * the largest width whose conv() stays exact in a Long without sign
    * concerns).
    */
  def trainOrder(docs: DataFrame, seed: String, shards: Int,
                 keyHexDigits: Int = 12): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    require(keyHexDigits >= 1 && keyHexDigits <= 12,
      s"keyHexDigits must be in [1, 12], got $keyHexDigits")
    val keyed = docs
      .select(col("doc_id"),
        md5(concat(lit(s"$seed|"), col("doc_id").cast("string"))).as("rk"))
      .withColumn("shard",
        pmod(conv(substring(col("rk"), 1, keyHexDigits), 16, 10).cast("long"),
          lit(shards.toLong)))
    val byShard = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("rk", "doc_id")
    keyed.withColumn("pos", row_number().over(byShard).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"))
  }

  /** The writer q106's scaladoc promises: materialize [[trainOrder]] as
    * one directory per shard with rows pos-ascending within every file —
    * the layout a training loader streams sequentially without a sort.
    * `repartition(shards, shard)` co-locates each shard's rows into one
    * task before `sortWithinPartitions(shard, pos)`, so each task writes
    * its shards' files already ordered (a task holding several shards
    * still writes each shard's file pos-ascending: the per-shard
    * subsequence of a (shard, pos)-sorted iterator is pos-ascending).
    * TrainOrderSpec reads the layout back file-by-file and proves both
    * the membership law and the within-file ordering.
    */
  def writeTrainOrder(docs: DataFrame, seed: String, shards: Int,
                      outDir: String, keyHexDigits: Int = 12): Unit =
    trainOrder(docs, seed, shards, keyHexDigits)
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)

  val queries: Map[String, Q] = Map(

    // ──────────────────────── arrays & maps ──────────────────────────────
    // Array ops (size/element_at/slice/transform) exercised, but the OUTPUT
    // is all scalars: the driver's harness cannot hash array-typed cells, so
    // the transformed slice is serialized with array_join.
    "q64_array_fns" -> ((s, dir) => {
      Tables(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 4).as("e_first"),
        round(element_at(col("embedding"), 64).cast("double"), 4).as("e_last"),
        // double→string renders scientific notation in Spark but not DuckDB;
        // a fixed-scale decimal cast makes the textual form identical.
        array_join(transform(slice(col("embedding"), 1, 3),
          x => round(x.cast("double"), 4).cast("decimal(10,4)").cast("string")), ",")
          .as("head3"))
        .orderBy(col("vec_id"))
    }),

    "q65_explode_unnest" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(20)
    }),

    // Map ops over JSON props; keys serialized to a CSV string (the
    // driver's harness cannot sort array cells). Oracle via DuckDB's json
    // extension (json_keys / json_extract — autoloaded offline).
    "q66_map_type" -> ((s, dir) => {
      Tables(s, dir, "events")
        .withColumn("m", from_json(col("props"), MapType(StringType, LongType)))
        .select(col("event_id"),
          array_join(array_sort(map_keys(col("m"))), ",").as("ks"),
          col("m").getItem("k").as("k_val"))
        .orderBy(col("event_id"))
    }),

    // ─────────────────────────── dedup ───────────────────────────────────
    // Exact duplicate groups by content hash (md5 in both engines).
    "q80_exact_dedup_docs" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("min_id"))
        .filter(col("cnt") > 1)
        .orderBy(col("h"))
    }),

    // 3-word shingle Jaccard near-dup over DF-capped shingle sets.
    //
    // Scale design (the part that must survive 100 TB):
    //  1. STOP-SHINGLE CAP — a shingle appearing in > MaxShingleDF docs is
    //     dropped (identically in the oracle CTE). Without the cap one hot
    //     shingle in M docs yields M²/2 candidate pairs — the quadratic
    //     blow-up that kills exact shingle joins at scale. With it,
    //     per-shingle fan-out is ≤ K(K-1)/2. Hot shingles carry no
    //     near-dup signal anyway (that's why MinHash banding — q85 — can
    //     also replace candidate generation outright).
    //  2. NO SELF-JOIN — candidates come from groupBy(shingle) →
    //     sorted doc list → pair expansion inside one codegen'd lambda:
    //     one shuffle on the shingle instead of a two-sided string join,
    //     and the cap bounds each group's expansion.
    //  3. DF via groupBy(sh).count() + LEFT SEMI back onto the shingle set
    //     (see capJaccardPairs): the count is map-side combinable (partial
    //     aggregation shrinks the shuffle to one row per distinct shingle
    //     per mapper) and nothing ever buffers a hot shingle's doc list
    //     before the cap filters it. The earlier count-window form sorted
    //     every (doc, shingle) row inside WindowExec — a per-partition
    //     sort the aggregate form simply doesn't have.
    //
    // text_shingles is the native codegen'd generator — the declarative
    // transform/concat_ws HOF form is always interpreted and was the
    // hottest interpreted path in the whole bench (docs with <3 words
    // yield an empty array, exploding to nothing — same rows as the
    // old size(ws)>=3 pre-filter).
    "q81_shingle_jaccard" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      val sh = Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(expr("text_shingles(text)"))).as("sh"))
      // maxDf = 50: stop-shingle bound, mirrored in the oracle HAVING.
      // Auto-dispatch (r13): t = 0.3 resolves to the expansion path.
      capJaccardPairsAuto(sh, "sh", maxDf = 50, minJac = 0.3)
    }),

    // Character n-gram Jaccard near-dup (the n-gram variant of q81:
    // robust to word-boundary edits — tokenization-free). Same scale
    // machinery: native char_ngrams generator, stop-gram DF cap (char
    // n-grams are far hotter than word shingles — the cap is what keeps
    // candidate fan-out bounded), compiled pair expansion. n=8 because
    // this corpus' vocabulary is tiny (char-5-grams all exceed the cap).
    "q95_ngram_jaccard" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      val sh = Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(expr("char_ngrams(text, 8)"))).as("g"))
      // Auto-dispatch (r13): t = 0.5 resolves to the expansion path.
      capJaccardPairsAuto(sh, "g", maxDf = 50, minJac = 0.5)
    }),

    // NEAR-EXACT duplicate pairs (t = 0.85): q95's semantics in the
    // high-threshold regime — the dedup pass that removes boilerplate
    // re-crawls and trivial edits before training. THE PRODUCTION CALLER
    // of capJaccardPairsPrefix: at t = 0.85 the PPJoin prefix keeps only
    // ~0.15·n + 1 grams per doc, and the r11 fresh-JVM A/B measured the
    // prefix path FASTER at both soak decades (10×: 16.0/5.1 s vs
    // expand's 18.8/6.8; 100×: 45.3/42.1 vs 60.5/55.6 — ~1.3× at scale),
    // inverting the t = 0.5 verdict exactly as the published analysis
    // predicts. Byte-identical to the expansion path by property spec
    // (GenerativePropertiesSpec) and probe equality check.
    "q101_near_exact_dup" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      val sh = Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(expr("char_ngrams(text, 8)"))).as("g"))
      // Auto-dispatch (r13): t = 0.85 resolves to the prefix path.
      capJaccardPairsAuto(sh, "g", maxDf = 50, minJac = 0.85)
    }),

    // ─────────────────────── similarity search ───────────────────────────
    // Brute-force cosine top-k against probe vec_id=0 (broadcast), on the
    // native codegen expression (graft.functions.FloatVecCosine): one
    // fused dot/norm/cosine loop inside whole-stage codegen, ~85× the
    // interpreted decimal-HOF chain. Per-row accumulation order is fixed
    // (sequential loop), so the 3-decimal rounding hash-matches the
    // decimal-exact oracle — verified at sf0.001/0.01.
    "q82_cosine_topk" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      val emb = Tables(s, dir, "embeddings")
      val probe = emb.filter(col("vec_id") === 0).select(col("embedding").as("p"))
      emb.crossJoin(broadcast(probe))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          round(expr("vec_cosine(embedding, p)"), 3).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(5)
    }),

    // ──────────────────── training-data shaping ──────────────────────────
    // Document chunking — fixed 50-token windows with 10-token overlap
    // (stride 40), the standard shaping step before tokenization/packing.
    // Chunk identity is carried as md5 of the chunk text (scalar outputs
    // only, per the harness rule). Map-side work that pipelines inside
    // the scan; per-doc chunk counts are tiny so the HOF expansion is
    // not a hot path.
    "q97_doc_chunks" -> ((s, dir) => {
      docChunks(s, dir)
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Sequence packing — the step after chunking: chunks fill fixed
    // 512-token training bins in a deterministic (doc_id, chunk_idx)
    // order, by cumulative token count. Packing is inherently sequential,
    // so it runs WITHIN shards (shard = doc_id mod 8): each shard's
    // cumulative-sum window is independent — embarrassingly parallel, no
    // global single-task window (the q45 lesson). At 100 TB the shard
    // count scales with the cluster and each worker packs its own shard
    // stream; a global packing order across shards is neither needed nor
    // wanted (any shard-local order is a valid training mix).
    "q58_pack_sequences" -> ((s, dir) => {
      val chunks = docChunks(s, dir)
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).cast("long").as("n_tokens"))
      packBins(chunks, binTokens = 512, shards = 8)
        .orderBy(col("shard"), col("bin"))
    }),

    // Deterministic stratified sampling — top-20 docs per language under
    // a content-independent md5 order: the reproducible-training-mix
    // sampler (same sample on any cluster, any partitioning, any day).
    // Scale shape: NOT a per-lang window (row_number sorts each
    // language's full membership to keep 20 rows — at 100 TB that sorts
    // the whole corpus for a sample). topk_min_agg is a bounded
    // TypedImperativeAggregate: map-side partials hold ≤ 20 (rk, doc_id)
    // entries per language per task, the shuffle carries those partials
    // only, and merge is an ordered union trimmed to 20 — identical rows
    // to the window form ((rk, doc_id) is a total order), corpus never
    // sorted. posexplode of the ascending array reproduces rn.
    "q98_stratified_sample" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      Tables(s, dir, "documents")
        .withColumn("rk",
          md5(concat(col("doc_id").cast("string"), lit("|"), col("lang"))))
        .groupBy(col("lang"))
        .agg(expr("topk_min_agg(rk, doc_id, 20)").as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), col("col.id").as("doc_id"),
          (col("pos") + 1).cast("long").as("rn"))
        .orderBy(col("lang"), col("rn"))
    }),

    // Domain-mixture token-budget sampling — the "data mixing" step of a
    // pretraining pipeline: given per-source token totals and a global
    // budget (here: half the corpus, split uniformly across sources),
    // accept each document by a deterministic content-independent
    // Bernoulli draw at its source's acceptance rate. The draw is
    // md5(doc_id) compared against the rate mapped into 48-bit hex —
    // engine-portable, reproducible on any cluster/partitioning/day
    // (the q98 sampler's discipline, applied per-group at a computed
    // rate). Output is the mixing report: per source, incoming docs and
    // tokens, the rate, and what survived. Scale shape: one token-count
    // agg (map-side partials), a 20-row rate table broadcast back onto
    // the corpus scan, one filtered re-agg — no corpus-sized shuffle at
    // any point, and the accept test is a codegen'd string compare.
    "q103_domain_sample" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(filter(split(col("text"), " "), w => w =!= ""))
            .cast("long").as("n_tokens"))
      // persisted (CACHE CONTRACT, SparkEntry scaladoc): st feeds both
      // the rate table and its own grand total, and Spark has no
      // DataFrame CTE reuse — uncached, the corpus token scan ran once
      // per consumer (three full scans in the executed plan). st is
      // n_src rows, so the cache is bytes; the corpus is scanned twice
      // total (here + the accept filter below), the minimum this
      // query's shape allows.
      val st = d.groupBy(col("source"))
        .agg(count(lit(1)).as("docs_in"), sum(col("n_tokens")).as("tokens_in"))
        .persist()
      val tot = st.agg(sum(col("tokens_in")).as("t_all"), count(lit(1)).as("n_src"))
      val rates = st.crossJoin(broadcast(tot))
        .select(col("source"), col("docs_in"), col("tokens_in"),
          least(lit(1.0),
            (col("t_all").cast("double") / (lit(2.0) * col("n_src"))) /
              col("tokens_in").cast("double")).as("rate"))
      // 2^48 = 281474976710656: the rate maps to a 12-hex-digit
      // threshold, compared against the first 12 hex chars of
      // md5(doc_id) — lexicographic compare of lowercase hex IS the
      // numeric compare, identically in both engines
      val kept = d.join(broadcast(rates.select(col("source"), col("rate"))), "source")
        .filter(col("rate") >= 1.0 ||
          substring(md5(col("doc_id").cast("string")), 1, 12) <
            lower(lpad(hex(floor(col("rate") * lit(281474976710656.0))), 12, "0")))
      val ks = kept.groupBy(col("source"))
        .agg(count(lit(1)).as("docs_kept"), sum(col("n_tokens")).as("tokens_kept"))
      // both sides are n_src rows; without the hint this 20-row join
      // planned as a sort-merge
      rates.join(broadcast(ks), Seq("source"), "left")
        .select(col("source"), col("docs_in"), col("tokens_in"), col("rate"),
          coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
          coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
        .orderBy(col("source"))
    }),

    // Deterministic training-order export — the LAST pipeline step: a
    // seeded global shuffle assigning every document a shard and a
    // position within it. The declared query pins the engine API's
    // parameters (seed="42", shards=8, keyHexDigits=1 — the original
    // first-hex-digit-mod-8 formula) for oracle byte-stability; the
    // parameterized trainOrder/writeTrainOrder below are the production
    // surface (thousands of shards at 100 TB, 12-hex keys).
    "q106_train_order" -> ((s, dir) =>
      trainOrder(Tables(s, dir, "documents").select(col("doc_id")),
        seed = "42", shards = 8, keyHexDigits = 1)
        .orderBy(col("shard"), col("pos"))),

    // Train/eval decontamination — per eval document, how many of its
    // distinct 8-grams also occur anywhere in the train split (deterministic
    // doc_id-parity split). The overlap scan every benchmark-eval pipeline
    // runs before trusting its numbers. Plan: two distinct gram sets, one
    // LEFT SEMI join on the gram (the probe side never widens), per-doc
    // counts. Scale: the semi join shuffles on the gram hash — skew-free
    // keys; at 100 TB the train gram set compresses into a broadcast
    // bloom filter for a shuffle-free first pass (exact semi join only on
    // the bloom hits). Ratio ships UNROUNDED (identical integer operands
    // → identical IEEE division; rounding would introduce divergence).
    // q76's exact semantics behind a broadcast BLOOM pre-pass — the
    // 100 TB shape q76's scale note promises. The train gram set becomes
    // ONE compact sketch (Spark's runtime-filter BloomFilterAggregate
    // over xxhash64, map-side combinable, 8M bits = 1 MB here), collected to
    // the driver like any broadcast small side. Eval grams are pruned
    // MAP-SIDE by bloom_contains64 before the shuffle, so the LEFT SEMI
    // confirm join — which kills the bloom's false positives, keeping the
    // result exact and oracle-matched — shuffles only the ~contaminated
    // sliver of the eval grams instead of all of them. At 100 TB that is
    // the difference between shuffling the whole eval corpus's gram set
    // and shuffling ~fpp of it.
    "q75_decontaminate_bloom" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      val docs = Tables(s, dir, "documents")
      // the train gram set feeds BOTH the sketch build and the confirm
      // join — and is NOT persisted (r11, SURVEY.md §8.8): per-doc
      // array_distinct leaves cross-doc duplicates, so the r10 cache
      // held a 52.8×-duplicate-inflated set (~1 GB payload at the 100×
      // soak) while regenerating it is one parquet scan through a
      // codegen'd generator; rebuilding beat the cache 1.5-1.8× at
      // EVERY decade (sf0.1: 0.94 vs 1.34 s; 10×: 1.00 vs 1.47;
      // 100×: 3.82 vs 6.36) — same lesson as q87's r10 rewrite: scans
      // are cheap, corpus-proportional caches are not.
      // Sketch sizing: est 1M items / 8M bits ≈ 0.6% fpp at capacity —
      // sizing scales with the train corpus, correctness never depends
      // on it (the confirm join kills false positives).
      // per-doc distinct only (array_distinct, doc-local): the bloom
      // aggregate is insert-idempotent and the confirm join is a LEFT
      // SEMI, so cross-doc duplicate grams cannot change the output
      val train = docs.filter(col("doc_id") % 2 === 0)
        .select(explode(array_distinct(expr("char_ngrams(text, 8)"))).as("g"))
      val bloom = train
        .agg(call_function(graft.functions.VectorExpressions.bloomAggFnName,
          col("g"), lit(1000000L), lit(8388608L)).as("b"))
        .head().getAs[Array[Byte]](0)
      // per-doc distinct via array_distinct (doc-local, no exchange) —
      // the old `.distinct()` here paid a corpus-sized shuffle to dedup
      // rows that never cross documents
      val evalG = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"),
          explode(array_distinct(expr("char_ngrams(text, 8)"))).as("g"))
      val tot = evalG.groupBy("doc_id").agg(count(lit(1)).as("total"))
      // null sketch = empty train split (never on this data; total-safety)
      val cand =
        if (bloom == null) evalG
        else evalG.filter(call_function(
          graft.functions.VectorExpressions.bloomContainsFnName,
          lit(bloom), col("g")))
      val con = cand.join(train, Seq("g"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("contaminated"))
      tot.join(con, Seq("doc_id"), "left")
        .select(col("doc_id"), col("total"),
          coalesce(col("contaminated"), lit(0L)).as("contaminated"),
          (coalesce(col("contaminated"), lit(0L)).cast("double") / col("total"))
            .as("contam_ratio"))
        .orderBy(col("doc_id"))
    }),

    "q76_decontaminate" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      // per-doc array_distinct (doc-local, free) first; the r20 fuse
      // below then needs train GLOBALLY unique on g (a left join must
      // preserve eval rows exactly once), and that distinct is an
      // aggregate whose partial phase collapses the cross-doc
      // duplication map-side — unlike the pre-r10 standalone-distinct
      // shape, it replaces the semi join's build-side dedup, not adds
      // to it
      val train = Tables(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
        .select(explode(array_distinct(expr("char_ngrams(text, 8)"))).as("g"))
      // per-doc distinct via array_distinct (doc-local): dedup never
      // crosses documents, so the corpus-sized `.distinct()` exchange the
      // pre-r10 form paid here was pure overhead
      val evalG = Tables(s, dir, "documents")
        .filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"),
          explode(array_distinct(expr("char_ngrams(text, 8)"))).as("g"))
      // r20 (guide §2.3/§2.4, the contamIds fuse): total and
      // contaminated used to be two aggregations over two regenerations
      // of the eval gram explode (total raw, contaminated after a LEFT
      // SEMI), glued by a doc_id join. Fused: distinct the train grams
      // (map-side combinable — the ~53× cross-doc gram duplication
      // collapses in the partial agg, and the distinct's output
      // partitioning feeds the join with no extra exchange), LEFT-join
      // the eval stream once with a match marker, and take both counts
      // in one aggregation. One eval gram pass instead of two, no
      // doc_id join; identical rows (count(marker) ≡ semi-join count,
      // 0 when nothing matched ≡ the old coalesce).
      val traind = train.distinct().withColumn("_tg", lit(1))
      evalG.join(traind, Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("total"), count(col("_tg")).as("contaminated"))
        .select(col("doc_id"), col("total"), col("contaminated"),
          (col("contaminated").cast("double") / col("total"))
            .as("contam_ratio"))
        .orderBy(col("doc_id"))
    }),

    // ─────────────────────── text analysis ───────────────────────────────
    "q83_text_stats" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("docs"),
          round(sum(col("n_chars").cast("decimal(18,2)")).cast("double")
            / count(lit(1)), 4).as("avg_chars"),
          countDistinct(col("source")).as("srcs"))
        .orderBy(col("lang"))
    }),

    // ─────────────────────── multimodal join ─────────────────────────────
    "q84_multimodal_join" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .join(Tables(s, dir, "embeddings"), col("doc_id") === col("vec_id"))
        .groupBy(col("lang"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang"), col("label"))
    })
  )

  val oracle: Map[String, String] = Map(
    // q103: rate = min(1, (T/2 / n_src) / tokens_s); accept iff the
    // first 12 hex chars of md5(doc_id) sort below the rate's 48-bit
    // hex threshold (printf %012x ≡ Spark's lower(lpad(hex(...))))
    "q103_domain_sample" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |st AS (SELECT source, count(*) AS docs_in, CAST(sum(n_tokens) AS BIGINT) AS tokens_in
        |       FROM d GROUP BY source),
        |tot AS (SELECT CAST(sum(tokens_in) AS BIGINT) AS t_all, count(*) AS n_src FROM st),
        |rates AS (
        |  SELECT source, docs_in, tokens_in,
        |         least(1.0, (CAST(t_all AS DOUBLE) / (2.0 * n_src)) / CAST(tokens_in AS DOUBLE)) AS rate
        |  FROM st CROSS JOIN tot),
        |kept AS (
        |  SELECT d.source, d.doc_id, d.n_tokens
        |  FROM d JOIN rates USING (source)
        |  WHERE rate >= 1.0
        |     OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12)
        |        < printf('%012x', CAST(floor(rate * 281474976710656.0) AS BIGINT)))
        |SELECT r.source, r.docs_in, r.tokens_in, r.rate,
        |       count(k.doc_id) AS docs_kept,
        |       CAST(coalesce(sum(k.n_tokens), 0) AS BIGINT) AS tokens_kept
        |FROM rates r LEFT JOIN kept k ON r.source = k.source
        |GROUP BY r.source, r.docs_in, r.tokens_in, r.rate
        |ORDER BY r.source""".stripMargin,
    "q106_train_order" ->
      """WITH r AS (
        |  SELECT doc_id, md5('42|' || CAST(doc_id AS VARCHAR)) AS rk FROM documents),
        |s AS (
        |  SELECT doc_id, rk,
        |         CAST((strpos('0123456789abcdef', substr(rk, 1, 1)) - 1) % 8 AS BIGINT) AS shard
        |  FROM r)
        |SELECT shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY rk, doc_id) AS BIGINT) AS pos,
        |       doc_id
        |FROM s ORDER BY shard, pos""".stripMargin,
    "q64_array_fns" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |       round(CAST(embedding[1] AS DOUBLE), 4) AS e_first,
        |       round(CAST(embedding[64] AS DOUBLE), 4) AS e_last,
        |       array_to_string(list_transform(embedding[1:3],
        |         x -> CAST(CAST(round(CAST(x AS DOUBLE), 4) AS DECIMAL(10,4)) AS VARCHAR)), ',') AS head3
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q65_explode_unnest" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE word <> '' GROUP BY word
        |ORDER BY cnt DESC, word LIMIT 20""".stripMargin,
    "q66_map_type" ->
      """SELECT event_id,
        |       array_to_string(list_sort(json_keys(props)), ',') AS ks,
        |       CAST(json_extract(props, '$.k') AS BIGINT) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,
    "q80_exact_dedup_docs" ->
      """SELECT md5(text) AS h, count(*) AS cnt, min(doc_id) AS min_id
        |FROM documents GROUP BY md5(text) HAVING count(*) > 1
        |ORDER BY h""".stripMargin,
    "q81_shingle_jaccard" ->
      """WITH ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE text <> ''),
        |sh AS (
        |  SELECT DISTINCT doc_id, sh FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(ws) - 1),
        |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |    FROM ws WHERE len(ws) >= 3)),
        |keep AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 50),
        |kept AS (SELECT s.doc_id, s.sh FROM sh s JOIN keep USING (sh)),
        |sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
        |pr AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b, inter,
        |       round(CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE), 4) AS jac
        |FROM pr JOIN sz sa ON pr.doc_a = sa.doc_id
        |        JOIN sz sb ON pr.doc_b = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q95_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(text) - 6),
        |                  i -> substr(text, i, 8))) AS g
        |    FROM documents WHERE len(text) >= 8)),
        |keep AS (SELECT g FROM sh GROUP BY g HAVING count(*) <= 50),
        |kept AS (SELECT s.doc_id, s.g FROM sh s JOIN keep USING (g)),
        |sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
        |pr AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b, inter,
        |       round(CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE), 4) AS jac
        |FROM pr JOIN sz sa ON pr.doc_a = sa.doc_id
        |        JOIN sz sb ON pr.doc_b = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q95's CTE at the near-exact threshold — the oracle is threshold-
    // agnostic, which is the point: the Spark side switches candidate
    // STRATEGY (prefix filter vs inverted-index expansion) on t while
    // the declared semantics stay one WHERE clause apart
    "q101_near_exact_dup" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id,
        |           unnest(list_transform(range(1, len(text) - 6),
        |                  i -> substr(text, i, 8))) AS g
        |    FROM documents WHERE len(text) >= 8)),
        |keep AS (SELECT g FROM sh GROUP BY g HAVING count(*) <= 50),
        |kept AS (SELECT s.doc_id, s.g FROM sh s JOIN keep USING (g)),
        |sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
        |pr AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b, inter,
        |       round(CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE), 4) AS jac
        |FROM pr JOIN sz sa ON pr.doc_a = sa.doc_id
        |        JOIN sz sb ON pr.doc_b = sb.doc_id
        |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.85
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q82_cosine_topk" ->
      """WITH pe AS (
        |  SELECT generate_subscripts(embedding, 1) AS i, unnest(embedding) AS v
        |  FROM embeddings WHERE vec_id = 0),
        |ee AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS v
        |  FROM embeddings),
        |dots AS (
        |  SELECT ee.vec_id,
        |         CAST(sum(CAST(CAST(ee.v AS DOUBLE) * CAST(pe.v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS dp,
        |         CAST(sum(CAST(CAST(ee.v AS DOUBLE) * CAST(ee.v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS na
        |  FROM ee JOIN pe USING (i) GROUP BY ee.vec_id),
        |pn AS (
        |  SELECT CAST(sum(CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS np
        |  FROM pe)
        |SELECT vec_id, round(dp / (sqrt(na) * sqrt(np)), 3) AS sim
        |FROM dots, pn WHERE vec_id <> 0
        |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin,
    "q58_pack_sequences" ->
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(0, CAST(ceil(len(ws) / 40.0) AS INT)),
        |                i -> {'idx': i, 'n': len(ws[i*40+1 : i*40+50])})) AS e
        |  FROM ws WHERE len(ws) > 0),
        |chunks AS (
        |  SELECT doc_id, CAST(e.idx AS BIGINT) AS chunk_idx,
        |         CAST(e.n AS BIGINT) AS n_tokens, doc_id % 8 AS shard
        |  FROM ch),
        |binned AS (
        |  SELECT shard, doc_id, n_tokens,
        |         CAST(COALESCE(sum(n_tokens) OVER (
        |              PARTITION BY shard ORDER BY doc_id, chunk_idx
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum0
        |  FROM chunks)
        |SELECT shard, CAST(floor(cum0 / 512) AS BIGINT) AS bin,
        |       count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS tok_total,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM binned GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,
    // the bloom is an exact-result pre-filter (FPs killed by the confirm
    // join), so the oracle is the same exact-semantics SQL as q76's
    "q75_decontaminate_bloom" ->
      """WITH tg AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(list_transform(range(1, len(text) - 6),
        |           i -> substr(text, i, 8))) AS g
        |    FROM documents WHERE doc_id % 2 = 0 AND len(text) >= 8)),
        |eg AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(text) - 6),
        |           i -> substr(text, i, 8))) AS g
        |    FROM documents WHERE doc_id % 2 = 1 AND len(text) >= 8)),
        |tot AS (SELECT doc_id, count(*) AS total FROM eg GROUP BY doc_id),
        |con AS (
        |  SELECT doc_id, count(*) AS contaminated
        |  FROM eg WHERE g IN (SELECT g FROM tg) GROUP BY doc_id)
        |SELECT t.doc_id, t.total,
        |       COALESCE(c.contaminated, 0) AS contaminated,
        |       CAST(COALESCE(c.contaminated, 0) AS DOUBLE) / t.total AS contam_ratio
        |FROM tot t LEFT JOIN con c USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    "q76_decontaminate" ->
      """WITH tg AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(list_transform(range(1, len(text) - 6),
        |           i -> substr(text, i, 8))) AS g
        |    FROM documents WHERE doc_id % 2 = 0 AND len(text) >= 8)),
        |eg AS (
        |  SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(text) - 6),
        |           i -> substr(text, i, 8))) AS g
        |    FROM documents WHERE doc_id % 2 = 1 AND len(text) >= 8)),
        |tot AS (SELECT doc_id, count(*) AS total FROM eg GROUP BY doc_id),
        |con AS (
        |  SELECT doc_id, count(*) AS contaminated
        |  FROM eg WHERE g IN (SELECT g FROM tg) GROUP BY doc_id)
        |SELECT t.doc_id, t.total,
        |       COALESCE(c.contaminated, 0) AS contaminated,
        |       CAST(COALESCE(c.contaminated, 0) AS DOUBLE) / t.total AS contam_ratio
        |FROM tot t LEFT JOIN con c USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    "q97_doc_chunks" ->
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(0, CAST(ceil(len(ws) / 40.0) AS INT)),
        |                i -> {'idx': i, 'chunk': ws[i*40+1 : i*40+50]})) AS e
        |  FROM ws WHERE len(ws) > 0)
        |SELECT doc_id, CAST(e.idx AS BIGINT) AS chunk_idx,
        |       CAST(len(e.chunk) AS BIGINT) AS n_tokens,
        |       md5(array_to_string(e.chunk, ' ')) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "q98_stratified_sample" ->
      """SELECT lang, doc_id, rn FROM (
        |  SELECT lang, doc_id,
        |         CAST(row_number() OVER (
        |           PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR) || '|' || lang), doc_id)
        |         AS BIGINT) AS rn
        |  FROM documents)
        |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin,
    "q83_text_stats" ->
      """SELECT lang, count(*) AS docs,
        |       round(CAST(sum(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_chars,
        |       CAST(count(DISTINCT source) AS BIGINT) AS srcs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q84_multimodal_join" ->
      """SELECT lang, label, count(*) AS cnt
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |GROUP BY lang, label ORDER BY lang, label""".stripMargin
  )
}
