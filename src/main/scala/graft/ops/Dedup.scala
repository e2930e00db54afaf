package graft.ops

import graft.Q
import graft.model.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection at corpus scale — MinHash+LSH, SimHash,
  * content fingerprinting (SURVEY.md §2.2 q85, q86, q90).
  *
  * These are the scale path for what q81 (shingle self-join) does exactly:
  * at 100 TB a full pairwise shingle join is infeasible, while MinHash/LSH
  * is linear in corpus size — each doc maps to a fixed-width signature, a
  * band join only compares docs that share a bucket, and the band buckets
  * shard evenly (hash keys) so the shuffle is skew-free.
  *
  * Cross-engine determinism trick: MinHash needs k independent hash
  * functions with a total order — md5 hex strings ARE totally ordered and
  * identical in Spark and DuckDB, so `min(md5(seed || '|' || shingle))`
  * gives an engine-portable MinHash with no integer-hash agreement needed.
  */
object Dedup {

  private val K = 16 // signature width (4 bands × 4 rows)
  private val BANDS = 4

  /** q78's near-dup threshold. With the 64-bit SimHash split into 4
    * 16-bit bands, any pair within hamming distance 3 differs in at most
    * 3 bands (pigeonhole), so it MUST collide exactly in at least one —
    * the banded candidate generation has FULL recall for d <= 3 and the
    * output is the complete near-dup pair set, not an approximation.
    */
  private val MAXHAM = 3

  /** distinct (doc_id, 3-word shingle) pairs; mirrors q81's generator
    * (the native codegen'd text_shingles — see graft.functions.TextShingles
    * for why the declarative HOF form is avoided on this hot path).
    */
  private def shingles(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(s)
    // per-doc distinct via array_distinct (doc-local): MinHash is
    // duplicate-insensitive (min over a multiset = min over its set),
    // but the dedup keeps the signature aggregate's input honest while
    // costing no exchange — the pre-r10 `.distinct()` here paid a full
    // (doc, shingle) shuffle BEFORE the signature aggregate, when the
    // aggregate's own map-side partials (explode output is doc-local)
    // already reduce each doc to one 16-slot row pre-exchange
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(expr("text_shingles(text)"))).as("sh"))
  }

  /** One row per doc: columns h0..h15 = the MinHash signature, computed
    * by the single native minhash_agg (graft.functions.MinHashAgg: one
    * compiled seed+md5+fold pass per row, 16×16-byte partial buffers
    * merged by elementwise min) instead of 16 separate
    * `min(md5(concat(seed, sh)))` aggregate columns. Same values — the
    * oracle SQL keeps the 16-column formulation.
    */
  private def signature(s: SparkSession, dir: String): DataFrame = {
    val sig = shingles(s, dir).groupBy(col("doc_id"))
      .agg(expr("minhash_agg(sh)").as("sig"))
    val cols: Seq[Column] = col("doc_id") +:
      (0 until K).map(i => element_at(col("sig"), i + 1).as(s"h$i"))
    sig.select(cols: _*)
  }

  /** Degenerate-bucket guard for banded pair expansion (q78/q79/q85).
    *
    * The band paths aggregate each LSH bucket into ONE row
    * (`sort_array(collect_list(e))`) and run the fused k(k-1)/2 pair
    * expansion inside a single expression call — one task does O(k²)
    * work with no bound on k. Real buckets are near-dup clusters and
    * stay small, but a DEGENERATE band value (templated/boilerplate
    * corpora collapsing one 16-bit band) grows with the corpus: the
    * 1.6k-doc mega-bucket observed at sf0.1 becomes a 160k-doc
    * single-task quadratic at 100×. This helper bounds that task
    * WITHOUT changing the output:
    *
    * Triangle split on the MATERIALIZED bucket. The bucket aggregates
    * exactly as before (one `sort_array(collect_list)` row — memory-
    * bounded: even a 160k-member signature bucket is tens of MB), and
    * m = ceil(k/target) derives from the array itself, so there is NO
    * size pre-pass: no second scan of the signature pipeline, no
    * broadcast size join (a prior draft did exactly that and re-ran
    * the whole upstream — ReuseExchange cannot dedup the branches
    * because join-key null filters break canonical subtree equality).
    * The sorted array splits into m contiguous slices; sub-row (i,j)
    * carries slice_i (i = j) or slice_i ++ slice_j (i < j), a
    * repartition spreads the m(m+1)/2 sub-rows across tasks, and the
    * fused pair expansion runs per sub-row — ≤ (2·target)²/2
    * comparisons per task. Slices are contiguous ranges of the sorted
    * array, so "pair (a,b) belongs to sub-row (i,j)" is the bounds
    * check a ≤ last(slice_i) ∧ b ≥ first(slice_j) (trivially true for
    * i = j): every qualifying pair of the original bucket is emitted
    * EXACTLY once — the declared outputs cannot move.
    *
    * Scale shape: one extra linear, skew-free exchange (the sub-row
    * repartition, every row ≤ 2·target members) replaces the
    * unbounded single-task quadratic; unsplit buckets (m = 1) pass
    * through it unchanged. Dial: spark.graft.bandBucketTarget
    * (default 4096, ~4× the observed sf0.1 p99 bucket); specs force
    * tiny targets to exercise real splitting.
    *
    * @param bands one row per (bucket key…, member)
    * @param keys  bucket key column names
    * @param idOf  extracts the long doc id from a member (identity
    *              for plain-id members, `.doc_id` for signature-
    *              carrying structs; ids are the sort order's first
    *              field, so slices are id ranges)
    * @param e     the member payload to collect
    * @param pairs fused pair expansion over a sorted member array;
    *              must emit struct rows with long fields `a` and `b`
    *              (the two doc ids, a < b)
    * @return one column `p` = the exploded qualifying pair structs
    */
  private[ops] def boundedPairs(bands: DataFrame, keys: Seq[String],
      idOf: Column => Column, e: Column,
      pairs: Column => Column): DataFrame = {
    val kcols = keys.map(col)
    val t = bands.sparkSession.conf
      .get("spark.graft.bandBucketTarget", "4096").toInt
    val bucketed = bands.groupBy(kcols: _*)
      .agg(sort_array(collect_list(e)).as("ds"))
    // Two branches off the SAME bucket aggregate (identical subtree →
    // one exchange, ReuseExchange dedups it): within-target buckets —
    // ALL buckets on a healthy corpus — expand in place with no further
    // shuffle; only oversized buckets pay the triangle split plus the
    // sub-row repartition that spreads their bounded chunks across
    // tasks. A prior form repartitioned every bucket unconditionally,
    // which billed the degenerate-case exchange (~0.4 s each at sf0.1)
    // to the common case.
    val small = bucketed.filter(size(col("ds")) <= t)
      .select(explode(pairs(col("ds"))).as("p"))
    val big = triangleSubRows(bucketed.filter(size(col("ds")) > t), keys, idOf)
      .repartition(kcols ++ Seq(col("_i"), col("_j")): _*)
      .select(col("_i"), col("_j"), col("_lx"), col("_fy"),
        explode(pairs(col("ds"))).as("p"))
      .filter(col("_i") === col("_j") ||
        (col("p.a") <= col("_lx") && col("p.b") >= col("_fy")))
      .select(col("p"))
    small.unionByName(big)
  }

  /** The slicing stage of [[boundedPairs]], separable for its spec:
    * one (keys…, ds) bucket row → its m(m+1)/2 triangle sub-rows
    * (_i, _j, ds = the ≤ 2·target-member sub-array, _lx/_fy = the
    * slice-boundary ids for the exactly-once pair filter).
    */
  private[ops] def triangleSubRows(bucketed: DataFrame, keys: Seq[String],
      idOf: Column => Column): DataFrame = {
    val t = bucketed.sparkSession.conf
      .get("spark.graft.bandBucketTarget", "4096").toInt
    val kcols = keys.map(col)
    bucketed
      .withColumn("_m",
        greatest(ceil(size(col("ds")) / lit(t.toDouble)), lit(1L)).cast("int"))
      .select(kcols :+ explode(expr(
        // the m = 1 fast path matters: the nested-transform triangle is
        // interpreted (HOFs never codegen), and paying its lambda/alloc
        // machinery per COMMON bucket row costs ~0.5 s at sf0.1; the IF
        // evaluates only the taken branch, so unsplit buckets build one
        // flat struct instead
        s"""IF(_m = 1,
           |   array(struct(0 AS i, 0 AS j, ds AS arr,
           |                element_at(ds, size(ds)) AS lastx,
           |                element_at(ds, 1) AS firsty)),
           |   flatten(transform(sequence(0, _m - 1), i ->
           |     transform(sequence(i, _m - 1), j ->
           |       struct(i AS i, j AS j,
           |         IF(i = j, slice(ds, i * $t + 1, $t),
           |                   concat(slice(ds, i * $t + 1, $t),
           |                          slice(ds, j * $t + 1, $t))) AS arr,
           |         element_at(ds, least((i + 1) * $t, size(ds))) AS lastx,
           |         element_at(ds, j * $t + 1) AS firsty)))))""".stripMargin))
        .as("_sub"): _*)
      .select(kcols ++ Seq(col("_sub.i").as("_i"), col("_sub.j").as("_j"),
        col("_sub.arr").as("ds"),
        idOf(col("_sub.lastx")).as("_lx"),
        idOf(col("_sub.firsty")).as("_fy")): _*)
  }

  /** q78's banded SimHash near-dup pairing over any (doc_id, text)
    * DataFrame — also the near-dup stage of [[TrainingPipeline]].
    * Per-doc signature via the simhash_agg aggregate, 4×16-bit bands,
    * then the fused hamming_pairs expression: sort_array orders bucket
    * members by doc_id (first struct field, unique), pairs emit a<b off
    * that order with expansion + hamming + threshold in one compiled
    * call (skewed mega-buckets never materialize non-qualifying
    * candidates); distinct collapses pairs colliding in several bands
    * (hamming is pair-determined, so it never splits a pair).
    */
  private[ops] def nearDupPairs(docs: DataFrame, maxHam: Int): DataFrame = {
    // per-doc distinct words via array_distinct (doc-local, no exchange
    // — the pre-r10 `.distinct()` shuffled every (doc, word) row before
    // the signature aggregate); "" survives array_distinct and drops in
    // the row filter, same set as dedup-after-filter
    val sig = docs
      .filter(col("text") =!= "")
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"))
      .agg(expr("simhash_agg(md5(w))").as("sh"))
    val bands = sig.select(explode(array(
      (0 until BANDS).map { b =>
        struct(lit(b).as("band"), substring(col("sh"), b * 4 + 1, 4).as("bv"),
          struct(col("doc_id"), col("sh")).as("e"))
      }: _*)).as("x"))
      .select(col("x.band").as("band"), col("x.bv").as("bv"), col("x.e").as("e"))
    boundedPairs(bands, Seq("band", "bv"), _.getField("doc_id"), col("e"),
      ds => call_function("hamming_pairs", ds, lit(maxHam)))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"),
        col("p.hamming").as("hamming"))
      .distinct()
  }

  /** Connected components of an undirected (a, b) edge DataFrame via
    * alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14):
    *
    *   large-star(u): every neighbor v > u re-points to
    *                  m = min(Γ(u) ∪ {u})       — emit (v, m)
    *   small-star(u): u and its smaller neighbors re-point to
    *                  m = min of the smaller set — emit those (v, m)
    *
    * Both steps preserve connectivity and only ever point nodes at
    * smaller ids, so the fixpoint is a star forest rooted at each
    * component's MINIMUM id — the same (doc_id, cluster = min) labels
    * HashMin propagation produces, but in O(log n) rounds instead of
    * O(component diameter): HashMin moves a label one hop per round,
    * so a 1000-link near-dup chain (mirrored/templated corpora) needs
    * ~500 rounds — tripping the loop guard below, a hard failure —
    * where star contraction needs single digits. Per-round shape is
    * the same Pregel-on-DataFrames discipline as before: a groupBy +
    * join per star step, localCheckpoint lineage truncation (the plan
    * otherwise compounds per iteration and OOMs the driver during
    * analysis), and a driver that holds no data.
    *
    * Round cost is job count × fixed stage overhead, not data volume
    * (r7 measured ~2 s/round at sf0.1 on 2.5k labels), so the round is
    * ONE action with no side jobs: the convergence probe rides the
    * large-star groupBy for free — a node u of the input forest with
    * min(Γ(u)) < u < max(Γ(u)) is both child and parent, so the input
    * was NOT a star forest; the marker is an accumulator tap on that
    * aggregate (already computing min; max is one more column).
    * Retried stages can only inflate a nonzero count, never fake a
    * zero, which is exactly the boolean the loop needs. The tap sees
    * the ROUND'S INPUT, so the loop pays one identity round after the
    * fixpoint — cheaper than the separate per-round left-semi probe it
    * replaces (2 exchanges + a join job every round). The per-round
    * `distinct` is gone too: duplicate (child, parent) rows are
    * harmless mid-loop (every consumer is a min aggregate or a
    * re-point join against a unique key, and row count stays bounded
    * by |edges| + |nodes| per round) and one distinct at label
    * extraction collapses them once.
    *
    * Nodes appear iff they appear in an edge (singletons are not dup
    * clusters).
    */
  private[ops] def connectedComponents(edges0: DataFrame): DataFrame =
    connectedComponentsWithRounds(edges0)._1

  /** [[connectedComponents]] plus the converged round count — the
    * O(log n) claim is spec-asserted on a long synthetic chain.
    */
  /** Per-round shuffle width: the cc rounds' data volume is the round's
    * own edge count, not the corpus — a 100× corpus's FIRST rounds carry
    * 100× edges while the LAST rounds carry a few labels, so neither the
    * session's global `spark.sql.shuffle.partitions` (sized for the
    * corpus-proportional stages) nor any fixed number fits every round.
    * Sizing from the count the loop already takes each round is the
    * AQE-per-stage behavior a cluster would give these exchanges (the
    * localCheckpoint materialization path doesn't get AQE coalescing —
    * measured: 10× q100 at a global 160 cost +50% over 16). Explicit
    * `repartition(p, key)` exchanges replace the aggregates' implicit
    * ones (the groupBy/join reuse the partitioning — same exchange
    * count, controlled width).
    */
  private def roundPartitions(edgeRows: Long): Int = {
    // ~64 MB of (long, long) rows per partition — AQE's advisory target,
    // the volume a cluster executor comfortably hashes in memory. The r9
    // three-decade partition scan showed per-partition TASK costs always
    // beat spill locally (16 parts won at 10×/26×/100×; the original
    // 250k-row target put 54 partitions under the 26× round-1 exchange
    // and cost q100 +36%), so the dial must not engage below millions of
    // rows per partition. The floor is a CONSTANT 16, deliberately not
    // defaultParallelism: cc round stages are fixed-cost-per-partition
    // dominated until the volume term takes over, and running them
    // cores-wide just multiplies that fixed cost — measured at CPUS=32,
    // 16-wide rounds beat 32-wide by 18% at both 1x (9.5 -> 7.8 s) and
    // 10x (20.8 -> 17.1 s), with the extra threads changing nothing
    // else. On a cluster a sub-volume round idles slots for the seconds
    // it runs, which is cheaper than paying width on every round;
    // billion-edge rounds still fan out through the volume term.
    val targetRowsPerPartition = 4000000L
    val p = math.ceil(edgeRows * 2.0 / targetRowsPerPartition).toInt
    math.min(2048, math.max(16, p))
  }

  /** Fire the output-side structural probe only when the round's input
    * violation count is already this small: below it, the round likely
    * finished the forest and the probe (2 small exchanges + a semi-join
    * on the output) is cheaper than discovering convergence one identity
    * round later (~1 full round of fixed stage cost). Above it, the
    * probe would almost always answer "not yet" and is skipped.
    * Measured at 10× (2.1M edges): per-round violations fall ~7× per
    * round (23195 → 3294 → 500 → 20); 64 lets only the genuinely-final
    * round pay the probe (500 would probe one round early and miss).
    */
  private val StarProbeMaxViolations = 64L

  private[ops] def connectedComponentsWithRounds(
      edges0: DataFrame): (DataFrame, Int) = {
    val sess = edges0.sparkSession
    // canonical orientation (a >= b) with self-loops KEPT, materialized
    // ONCE: both the node universe and the working edge set derive from
    // this cache, so the edge-generation subtree — for q100/q104 that
    // is the whole simhash + band + hamming pipeline — evaluates
    // exactly once instead of three times (the pre-r11b shape computed
    // edges0 for l's checkpoint AND once per union branch of `nodes`).
    // Self-loops stay so a (v, v)-only node still labels itself in the
    // output (they drop from `l` below, as before).
    //
    // r12 (ADVICE): canon is a plain PERSIST released as soon as both
    // derivations are checkpointed — the r11 shape checkpointed canon
    // eagerly and left its blocks to ContextCleaner GC, carrying the
    // full raw edge set in cache for the whole contraction. `nodes` is
    // now eagerly checkpointed too (one extra small job over canon's
    // cache) so nothing references canon after this block.
    //
    // CALLER CONTRACT: canon defers dedup to `l`, so the cached set
    // inflates by the caller's duplicate factor — pass already-distinct
    // canonical edges (true of every current caller: the pair
    // generators all end in a groupBy or distinct).
    val canon = edges0
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = canon.select(col("a").as("node"))
      .union(canon.select(col("b").as("node")))
      .distinct()
      .localCheckpoint(true)
    var l = canon
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    canon.unpersist()
    // l's eager checkpoint read canon's cached blocks (one cheap pass,
    // not a re-evaluation), so this count reads l's own cache — it
    // seeds the per-round width; every later round reuses its own
    // count action's result
    var edgeRows = l.count()
    var converged = false
    var rounds = 0
    // r20 (guide §1/§2, same discipline as the BPE learner loops): the
    // contraction rounds size their own exchanges (the explicit
    // repartition(p, a) below, p derived from the round's edge count),
    // so AQE contributes nothing inside the loop but materializes every
    // per-round exchange as its own driver-synchronous stage-job —
    // measured 4-6 jobs/round at fixed ~0.1 s each at gate settings.
    // Scope AQE off to the loop (label extraction and the callers'
    // corpus-sized stages outside keep it); width follows each round's
    // own p via the per-round conf set. Results are plan-independent
    // (oracle-gated); conf restores exception-safely.
    TextAnalysis.withLearnerConf(sess, roundPartitions(edgeRows)) {
    while (!converged) {
      rounds += 1
      // star contraction halves component height per round; needing
      // this many means the edge input is pathological — fail loudly
      // instead of looping the cluster forever
      require(rounds <= 50, "star contraction did not converge in 50 rounds")
      val p = roundPartitions(edgeRows)
      sess.conf.set("spark.sql.shuffle.partitions", p.toString)
      val viol = sess.sparkContext.longAccumulator(s"star-viol-$rounds")
      // the tap passes m through unchanged while counting the row; it
      // sits IN the data path (the violating branch's value), so the
      // optimizer can't eliminate it, and nondeterminism pins it in
      // place (no reorder, no dedup)
      val tap = udf { (m: Long) => viol.add(1); m }.asNondeterministic()
      // large-star: group the SYMMETRIC neighborhood of u; every
      // strictly-larger neighbor re-points to min(Γ(u) ∪ {u})
      val sym = l.union(l.select(col("b").as("a"), col("a").as("b")))
        .repartition(p, col("a"))
      val lsMin = sym.groupBy(col("a"))
        .agg(least(min(col("b")), col("a")).as("m0"), max(col("b")).as("_mx"))
        // the free convergence probe: u both child and parent of the
        // round's INPUT ⟺ min(Γ(u)) < u < max(Γ(u))
        .select(col("a"),
          when(col("m0") < col("a") && col("_mx") > col("a"),
            tap(col("m0"))).otherwise(col("m0")).as("m"))
      // no checkpoint mid-round: l is checkpointed each round so
      // within-round lineage is constant-depth; duplicate (v, m) rows
      // are harmless to small-star's min aggregate
      val ls = sym.filter(col("b") > col("a"))
        .join(lsMin, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .repartition(p, col("a"))
      // small-star: group u's smaller neighbors (orientation already
      // canonical); u and each of them re-point to the minimum
      val ssMin = ls.groupBy(col("a")).agg(min(col("b")).as("m"))
      // LAZY checkpoint + count: the count is the round's ONE action —
      // it materializes the pending local checkpoint, runs every
      // partition (the accumulator is complete when it returns), and
      // replaces the separate left-semi probe job entirely
      val next = ls.join(ssMin, "a")
        .select(col("b").as("a"), col("m").as("b"))
        .union(ssMin.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .localCheckpoint(false)
      edgeRows = next.count()
      converged = viol.value == 0L
      // threshold-gated OUTPUT probe: the accumulator sees the round's
      // INPUT, so plain viol==0 discovers the fixpoint one identity
      // round late. When the input was ALMOST a forest, ask the output
      // directly — star forest ⟺ no node is both child and parent —
      // and skip that trailing round
      if (!converged && viol.value <= StarProbeMaxViolations) {
        converged = next.select(col("b"))
          .join(next.select(col("a").as("b")).distinct(), Seq("b"), "left_semi")
          .isEmpty
      }
      l = next
    }
    }
    // star forest: every child row is (node, component-min root);
    // roots appear only on the parent side and label themselves.
    // distinct HERE, once: the per-round dedup was dropped, and a
    // duplicated (child, root) row would duplicate its label row
    val labels = nodes.as("n")
      .join(l.distinct().as("e"), col("n.node") === col("e.a"), "left")
      .select(col("n.node").as("doc_id"),
        coalesce(col("e.b"), col("n.node")).as("cluster"))
    (labels, rounds)
  }

  /** Cross-document repeated-span SCRUB — the REMOVAL step q102's
    * detection has no consumer for (r11 verdict #1): cut every
    * cross-doc repeated span of >= minSpan chars out of each
    * non-canonical document, keeping exactly one occurrence corpus-wide
    * (the Lee et al. 2022 move: cut the shared boilerplate, keep the
    * document — where the pipeline's near-dup stage drops whole docs).
    *
    * Semantics (q107's declared contract; w = 8, minSpan = 50):
    *  - each doc cuts into CONTENT-DEFINED chunks (native `cdc_chunks`:
    *    boundary after position i iff md5 of the trailing w-gram starts
    *    with hex '0'; forced final boundary at len; mean chunk ~16
    *    chars). Boundaries depend only on local content, never position
    *    — the phase invariance q102's stride sampling lacks: copies of
    *    a span chunk identically at ANY offsets.
    *  - a chunk is FOREIGN in doc d iff its hash occurs in >= 2 docs
    *    and d is not the min doc_id holding it (chunk-granular
    *    canonical keep — the min doc keeps its copy).
    *  - per doc, maximal runs of adjacent foreign chunks whose combined
    *    length >= minSpan are CUT; the scrubbed text is the ordered
    *    concatenation of what remains (non-span text byte-preserved).
    *
    * Output: the input rows with `scrubbed` (rewritten text) and
    * `n_spans_cut` appended — row count unchanged (a doc with no cut
    * carries its original text and 0).
    *
    * Scale shape: chunk generation is doc-local compiled codegen (scan →
    * project, like q59); the only corpus-wide exchanges are ONE hash
    * groupBy (count docs per chunk hash over per-doc-distinct rows —
    * map-side combinable) and ONE chunk⋈dup-hash join pinned SHUFFLE_HASH
    * (the dup-hash table is corpus-proportional in the worst case — the
    * r8 broadcast lesson); span merge and text rewrite are per-doc
    * windows/aggregations partitioned on doc_id. The chunker is
    * recomputed for its two consumers rather than persisted — the
    * corpus-proportional-cache lesson q75 measured (scans are cheap).
    *
    * KNOWN NON-IDEMPOTENT SHAPE (documented, spec-pinned): cutting a
    * middle span makes its two neighbors adjacent; if those neighbors
    * are themselves sub-minSpan foreign runs in two docs that cut the
    * SAME middle span, the re-joined runs can reach minSpan on a second
    * pass. One pass removes every span the contract declares (>= minSpan
    * of contiguous shared chunks in the ORIGINAL text); spans that only
    * form once a cut re-joins their neighbors are left for the next run.
    */
  private[graft] def scrubDupSpans(docs: DataFrame, w: Int = 8,
                                   minSpan: Int = 50): DataFrame = {
    val cuts = dupSpanRanges(docs, w, minSpan).groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("cs"), col("ce")))).as("cuts"),
        count(lit(1)).as("n_spans_cut"))
    // rewrite: walk the sorted non-overlapping cut list once, appending
    // the kept segment before each cut and the tail after the last
    // (aggregate HOF — interpreted, but it runs once per CUT doc over a
    // handful of spans, not on the per-position hot path)
    docs.join(cuts, Seq("doc_id"), "left")
      .withColumn("scrubbed", expr(
        """IF(cuts IS NULL, text,
          |  aggregate(cuts, named_struct('p', 1L, 'acc', ''),
          |    (a, c) -> named_struct('p', c.ce + 1L,
          |      'acc', concat(a.acc,
          |        substring(text, CAST(a.p AS INT), CAST(c.cs - a.p AS INT)))),
          |    a -> concat(a.acc, substring(text, CAST(a.p AS INT)))))"""
          .stripMargin))
      .withColumn("n_spans_cut", coalesce(col("n_spans_cut"), lit(0L)))
      .drop("cuts")
  }

  /** The DETECTION half of [[scrubDupSpans]]: the maximal cross-doc
    * repeated spans the scrub cuts — one row per (doc_id, cs, ce) with
    * 1-based inclusive code-point bounds.
    */
  private def dupSpanRanges(docs: DataFrame, w: Int,
                            minSpan: Int): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(docs.sparkSession)
    val base = docs.select(col("doc_id"), col("text"),
      expr(s"cdc_chunks(text, $w)").as("cs"))
    val chunks = base
      .select(col("doc_id"), explode(col("cs")).as("c"))
      .select(col("doc_id"), col("c.s").as("s"), col("c.e").as("e"),
        col("c.h").as("h"))
    // per-doc-distinct hashes doc-locally (array_distinct over the hash
    // projection): a plain count over these rows counts DOCS per hash —
    // no count-distinct two-phase agg, no pre-agg shuffle (q87/q102
    // discipline)
    val dh = base.select(col("doc_id"),
      explode(array_distinct(expr("transform(cs, c -> c.h)"))).as("h"))
    val mind = dh.groupBy(col("h"))
      .agg(count(lit(1)).as("nd"), min(col("doc_id")).as("md"))
      .filter(col("nd") >= 2)
      .select(col("h"), col("md"))
    val foreign = chunks.join(mind.hint("SHUFFLE_HASH"), Seq("h"))
      .filter(col("doc_id") =!= col("md"))
      .select(col("doc_id"), col("s"), col("e"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("s")
    foreign
      .withColumn("brk",
        when(col("s") - lag(col("e"), 1).over(byDoc) === 1, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("g", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("s")).as("cs"), max(col("e")).as("ce"))
      .filter(col("ce") - col("cs") + 1 >= minSpan)
      .select("doc_id", "cs", "ce")
  }

  val queries: Map[String, Q] = Map(

    // Cross-document repeated-span SCRUB — q102's detection turned into
    // the removal step (Lee et al. 2022: cut the duplicated substring,
    // keep the document), on phase-INVARIANT content-defined chunking
    // (see [[scrubDupSpans]] — q102's stride sampling only detects
    // offset-congruent copies; CDC boundaries cannot see offsets at
    // all). Output is the per-doc scrub report: original/scrubbed
    // lengths, spans cut, and the scrubbed text's md5 (the full rewrite
    // rides through the hash — any byte divergence from the oracle's
    // string_agg reconstruction fails the gate).
    "q107_scrub_spans" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      scrubDupSpans(Tables(s, dir, "documents"))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("orig_len"),
          length(col("scrubbed")).cast("long").as("scrub_len"),
          col("n_spans_cut"),
          md5(col("scrubbed")).as("scrub_md5"))
        .orderBy(col("doc_id"))
    }),

    // MinHash/LSH candidate pairs: docs sharing at least one of 4 bands
    // (band hash = md5 of its 4 signature rows). Output is the candidate
    // set an exact verifier (q81-style) would then refine.
    "q85_minhash_lsh" -> ((s, dir) => {
      val bands = signature(s, dir).select(col("doc_id"), explode(array(
        (0 until BANDS).map { b =>
          struct(lit(b).as("band"),
            md5(concat_ws("|", (0 until 4).map(r => col(s"h${b * 4 + r}")): _*)).as("bh"))
        }: _*)).as("e"))
        .select(col("doc_id"), col("e.band").as("band"), col("e.bh").as("bh"))
      // candidate pairs per band bucket via groupBy + compiled pair
      // expansion (array_pairs) — ONE shuffle on the bucket key instead
      // of a two-sided self-join (which would exchange the band table
      // twice and build a join hash side); degenerate buckets are
      // triangle-split so no task exceeds the bounded expansion (see
      // [[boundedPairs]])
      boundedPairs(bands, Seq("band", "bh"), identity, col("doc_id"),
        ds => call_function("array_pairs", ds))
        .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
        .agg(count(lit(1)).as("shared_bands"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // MinHash Jaccard ESTIMATE — the step between q85's candidates and an
    // exact q81-style verify: est_jac = fraction of agreeing signature
    // slots, the unbiased MinHash estimator of set Jaccard. At 100 TB the
    // exact verify re-reads the documents; this estimator needs only the
    // 16-slot signatures already shuffled for banding — so the signature
    // rides INTO the band bucket (q78's move, struct(doc_id, sig)) and
    // the fused minhash_pairs expression counts slot agreement during
    // pair expansion: NO join happens after the bucket groupBy (the
    // earlier form joined the signature table back onto the candidates
    // twice — two avoidable exchanges of data the bucket already held).
    // agree is pair-determined (a function of the two signatures alone),
    // so max() over a pair's band collisions is exact, not a tiebreak.
    // /16.0 is a power-of-two division — binary-exact in both engines,
    // no rounding rule needed.
    "q79_minhash_jaccard_est" -> ((s, dir) => {
      val sig = shingles(s, dir).groupBy(col("doc_id"))
        .agg(expr("minhash_agg(sh)").as("sig"))
      val bands = sig.select(explode(array(
        (0 until BANDS).map { b =>
          struct(lit(b).as("band"),
            md5(concat_ws("|",
              (0 until 4).map(r => element_at(col("sig"), b * 4 + r + 1)): _*)).as("bh"),
            struct(col("doc_id"), col("sig")).as("e"))
        }: _*)).as("x"))
        .select(col("x.band").as("band"), col("x.bh").as("bh"), col("x.e").as("e"))
      boundedPairs(bands, Seq("band", "bh"), _.getField("doc_id"), col("e"),
        ds => call_function("minhash_pairs", ds))
        .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
        .agg(count(lit(1)).as("shared_bands"), max(col("p.agree")).as("ag"))
        .select(col("doc_a"), col("doc_b"), col("shared_bands"),
          (col("ag").cast("double") / 16.0d).as("est_jac"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // SimHash: 64-bit fingerprint from the corpus's own md5 word hashes,
    // computed by the custom TypedImperativeAggregate simhash_agg
    // (graft.functions.SimHashAgg): each distinct word's hash folds into
    // a 64-slot ±1 vote buffer map-side, buffers merge by elementwise
    // add (order-independent), ONE shuffle of 256-byte partials. The
    // declarative form would explode every token row into 16 — a 16×
    // shuffle amplification this aggregate exists to avoid.
    "q86_simhash" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      // per-doc distinct words via array_distinct (doc-local) — same
      // rewrite as nearDupPairs: the signature aggregate's map-side
      // partials already reduce each doc to one row pre-exchange, so the
      // old `.distinct()` shuffle bought nothing
      Tables(s, dir, "documents")
        .filter(col("text") =!= "")
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("doc_id"))
        .agg(expr("simhash_agg(md5(w))").as("simhash"))
        .orderBy(col("doc_id"))
    }),

    // SimHash near-duplicate PAIRS — the pairing step q86's fingerprints
    // exist for: all doc pairs within hamming distance MAXHAM of each
    // other. Banded exactly like q85 (4 bands of 4 hex chars = 16 bits);
    // by pigeonhole the band join has full recall at d <= 3 (see MAXHAM),
    // so unlike MinHash-LSH this output is exact. The expansion + hamming
    // + threshold run FUSED inside the native hamming_pairs expression:
    // LSH buckets are skewed by construction (a near-dup mega-cluster is
    // one bucket — observed 1.6k docs / 1.3M of 2.4M raw pairs at sf0.1),
    // and the fused form never materializes non-qualifying candidates, so
    // the only shuffle after the bucket groupBy carries SURVIVING pairs.
    // The first formulation (array_pairs → distinct 2.4M pairs → join
    // signatures both sides → filter) timed 4.1 s at sf0.1; this one
    // carries the 16-byte signature into the bucket instead and drops
    // the distinct-then-join tail entirely.
    "q78_simhash_neardup" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      nearDupPairs(Tables(s, dir, "documents"), MAXHAM)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Winnowing (rolling-hash) fingerprints — the MOSS algorithm: hash
    // every 8-char gram, keep the MIN hash of each 4-gram sliding window,
    // fingerprint = the distinct set of window minima. Guarantees any
    // shared substring of length ≥ 8+4-1 produces a shared fingerprint,
    // robust to insertions/deletions elsewhere — the partial-overlap
    // detector that whole-document hashes (q80/q90) can't be. Emits the
    // fingerprint-set size and an order-insensitive set signature.
    // Scale: winnowing is document-LOCAL, so the whole gram-hash/
    // window-min/distinct pipeline runs inside the native codegen
    // winnow_fps expression — scan → project, no shuffle at all before
    // the final sort (the declarative explode + per-doc window form
    // would shuffle ~32 bytes per corpus character).
    "q59_winnowing_fp" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      Tables(s, dir, "documents")
        .select(col("doc_id"), expr("winnow_fps(text, 8, 4)").as("fps"))
        .filter(size(col("fps")) > 0)
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fps"),
          md5(array_join(sort_array(col("fps")), "")).as("fp_sig"))
        .orderBy(col("doc_id"))
    }),

    // Near-dup CLUSTER canonicalization — the step after q78's pairing:
    // connected components of the near-dup graph, each doc labeled with
    // its component's minimum doc_id (the canonical representative a
    // dedup keep-one pass retains). Pairing alone can't answer "which
    // doc do I keep" when dups chain (a~b, b~c but a!~c): components
    // make the keep-set well-defined and deterministic.
    //
    // Scale shape: alternating large-star/small-star contraction over
    // the pair graph (see [[connectedComponents]] — a groupBy + join
    // per star step, O(log n) rounds, lineage truncated per round).
    // The oracle computes the same labels via recursive transitive
    // closure.
    "q100_dup_clusters" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      connectedComponents(
        nearDupPairs(Tables(s, dir, "documents"), MAXHAM)
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
        .orderBy(col("doc_id"))
    }),

    // Cross-document repeated SPAN detection — dedup at SUBSTRING
    // granularity, the signal document-level dedup (q80/q90) and
    // near-dup pairing (q78/q85) both miss: two long documents sharing
    // one boilerplate paragraph are not near-dups, but a training
    // pipeline still wants that paragraph found (Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better", does
    // this with a suffix array — a global sorted structure a distributed
    // engine replaces with stride-sampled window hashes). Semantics:
    // 30-char windows at stride 10 per doc; a window is a HIT when its
    // md5 occurs in >= 2 distinct documents; per doc, hits within 30
    // chars of each other merge into maximal spans (start, end,
    // window count).
    //
    // DETECTION BOUND (corrected r12 — the r11 claim of phase-free
    // detection at length 49 was FALSE): windows sample only positions
    // ≡ 1 (mod 10) in each doc, so a shared substring is detected iff
    // its start offsets in the two docs are CONGRUENT mod the stride —
    // then any shared length >= W + 2*(S-1) + 1 = 49 guarantees an
    // aligned window pair. At incongruent phases (9 of 10 offset
    // pairings for non-periodic text) a shared substring is never
    // detected at ANY length. Phase-invariant detection is what
    // [[scrubDupSpans]]/q107 provide (content-defined chunk boundaries
    // — offset cannot enter the boundary decision); q102 stays the
    // cheap congruent-phase screen (e.g. shared doc PREFIXES, or
    // corpora whose duplication is copy-from-position-0 shaped).
    //
    // Scale shape: window generation is doc-local (scan → project, no
    // exchange); the shared-hash set is ONE map-side-combinable count
    // over per-doc-distinct hashes (array_distinct inside the generator
    // — the q87/r10 discipline, no pre-agg shuffle) + a LEFT SEMI back
    // onto the positioned hits; span merge is a per-doc window —
    // partitioned on doc_id, maximal parallelism, no task ever sees
    // more than one document's hits. The stride divides hash volume
    // 10× vs every-offset fingerprinting (q59 winnows instead — both
    // sub-linear in corpus bytes shuffled).
    "q102_dup_spans" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").filter(length(col("text")) >= 30)
      val wins = docs
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1L, CAST(length(text) - 29 AS BIGINT), 10L), " +
            "i -> named_struct('pos', i, 'h', md5(substring(text, CAST(i AS INT), 30))))"))
          .as("w"))
        .select(col("doc_id"), col("w.pos").as("pos"), col("w.h").as("h"))
      // per-doc-distinct hashes: count(*) over these rows counts DOCS
      // per hash, so no count-distinct two-phase agg is needed
      val dh = docs.select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1L, CAST(length(text) - 29 AS BIGINT), 10L), " +
          "i -> md5(substring(text, CAST(i AS INT), 30)))"))).as("h"))
      val shared = dh.groupBy(col("h"))
        .agg(count(lit(1)).as("nd")).filter(col("nd") >= 2).select(col("h"))
      val hits = wins.join(shared, Seq("h"), "left_semi")
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      val spans = hits
        .withColumn("brk",
          when(col("pos") - lag(col("pos"), 1).over(byDoc) <= 30, lit(0L))
            .otherwise(lit(1L)))
        .withColumn("g", sum(col("brk")).over(byDoc))
      spans.groupBy(col("doc_id"), col("g"))
        .agg(min(col("pos")).as("span_start"),
          (max(col("pos")) + lit(29L)).as("span_end"),
          count(lit(1)).as("n_windows"))
        .select(col("doc_id"), col("span_start"), col("span_end"),
          col("n_windows"))
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // Cluster canonical selection by QUALITY — the keep decision q100's
    // labels set up: a real dedup pass keeps each duplicate cluster's
    // BEST document, not its smallest id. Composes the q78 near-dup
    // graph + q100 components with q88's quality heuristic: per
    // cluster, keep the max-quality member (min doc_id among ties),
    // report its quality and the cluster size. Scale shape: labels
    // from star contraction (O(log n) rounds), one doc_id-keyed join
    // onto the doc-local quality projection (label side carries only
    // clustered docs — the join prunes the corpus to the dup set),
    // then per-cluster windows: the partition key is the cluster id,
    // sizes are component-bounded (thousands at worst, never
    // corpus-sized), so no task sorts more than one cluster.
    "q104_cluster_keep_quality" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      val docs = Tables(s, dir, "documents")
      val labels = connectedComponents(
        nearDupPairs(docs, MAXHAM)
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
      // q88's composite quality, value-identical (same rounding chain)
      val qual = docs
        .select(col("doc_id"),
          filter(split(col("text"), " "), w => w =!= "").as("ws"))
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
      val byCluster = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster")
      val ranked = labels.join(qual, "doc_id")
        .withColumn("rn", row_number().over(
          byCluster.orderBy(col("quality").desc, col("doc_id"))))
        .withColumn("n_members", count(lit(1)).over(byCluster))
      ranked.filter(col("rn") === 1)
        .select(col("cluster"), col("doc_id").as("kept_doc"),
          col("quality").as("best_quality"), col("n_members"))
        .orderBy(col("cluster"))
    }),

    // Content fingerprint: md5 of the sorted distinct word set — an
    // order- and repetition-insensitive dedup key (catches shuffled /
    // re-worded duplicates that exact md5(text) misses).
    "q90_fingerprint" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          md5(array_join(array_sort(array_distinct(
            filter(split(col("text"), " "), w => w =!= ""))), " ")).as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("min_id"))
        .orderBy(col("fp"))
    })
  )

  /** The declarative simhash PAIRING chain (q78's oracle formulation:
    * word md5s → nibble votes → 16-hex signature → 4×4 bands →
    * candidate pairs → exact hamming via the popcount lookup), CTEs
    * only, parameterized by the (doc_id, text) source relation so the
    * composed-pipeline oracle (q126) can run the IDENTICAL text over
    * its deduped-survivor CTE instead of the raw table — one
    * formulation, zero drift. Ends at `ham` (doc_a, doc_b, hamming);
    * the caller applies its own threshold (q78's is [[MAXHAM]]).
    */
  private[ops] def simhashPairCtesFrom(src: String): String =
    s"""${simhashCtesFrom(src)},
       |sig AS (
       |  SELECT doc_id, string_agg(ch, '' ORDER BY pos) AS sh
       |  FROM nibs GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, b AS band, substr(sh, CAST(4*b + 1 AS INT), 4) AS bv
       |  FROM sig, unnest([0,1,2,3]) AS t(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
       |ham AS (
       |  SELECT doc_a, doc_b,
       |         CAST(list_sum(list_transform(range(1, 17), p ->
       |           CAST(substr('0112122312232334',
       |             xor(strpos('0123456789abcdef', substr(sa.sh, CAST(p AS INT), 1)) - 1,
       |                 strpos('0123456789abcdef', substr(sb.sh, CAST(p AS INT), 1)) - 1) + 1, 1) AS INT))) AS BIGINT) AS hamming
       |  FROM cand JOIN sig sa ON cand.doc_a = sa.doc_id
       |            JOIN sig sb ON cand.doc_b = sb.doc_id)""".stripMargin

  /** The q78 pair threshold, shared with the q126 oracle generator. */
  private[ops] def maxHamDefault: Int = MAXHAM

  /** q104's cluster-keep-best CTE chain (qualifying edges over a
    * preceding `ham` CTE → symmetric closure → recursive transitive
    * closure → min-reachable-id component labels → q88's quality chain,
    * identical rounding, over `src` → the per-cluster
    * (quality DESC, doc_id) rank), CTEs only, parameterized by the
    * (doc_id, text) source relation, a name prefix, and the hamming
    * threshold so the composed-pipeline oracle (q131) can run the
    * IDENTICAL text over its exact-dedup-survivor CTE (q104 calls it
    * with src="documents", p="" — its r11 text byte-for-byte). Needs a
    * `WITH RECURSIVE` prelude and [[simhashPairCtesFrom]]'s `ham`
    * before it. Ends at `${p}ranked` (cluster, doc_id, quality, rn,
    * n_members): q104 keeps rn = 1, q131 drops rn > 1.
    */
  private[ops] def keepBestCtesFrom(src: String, p: String,
      maxHam: Int): String =
    s"""${p}edges AS (SELECT doc_a AS a, doc_b AS b FROM ham WHERE hamming <= $maxHam),
       |${p}sym AS (SELECT a, b FROM ${p}edges UNION SELECT b AS a, a AS b FROM ${p}edges),
       |${p}reach(src, dst) AS (
       |  SELECT a, b FROM ${p}sym
       |  UNION
       |  SELECT r.src, s.b FROM ${p}reach r JOIN ${p}sym s ON r.dst = s.a),
       |${p}labels AS (
       |  SELECT src AS doc_id, least(src, min(dst)) AS cluster
       |  FROM ${p}reach GROUP BY src),
       |${p}qual AS (
       |  SELECT doc_id,
       |         round(CASE WHEN n_words > 0
       |                    THEN round(CAST(n_uniq AS DOUBLE) / n_words, 4) ELSE 0.0 END
       |               * round(least(1.0, CAST(n_words AS DOUBLE) / 100), 4), 4) AS quality
       |  FROM (SELECT doc_id,
       |               CAST(len(ws) AS BIGINT) AS n_words,
       |               CAST(len(list_distinct(ws)) AS BIGINT) AS n_uniq
       |        FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
       |              FROM $src))),
       |${p}ranked AS (
       |  SELECT l.cluster, l.doc_id, q.quality,
       |         row_number() OVER (PARTITION BY l.cluster ORDER BY q.quality DESC, l.doc_id) AS rn,
       |         count(*) OVER (PARTITION BY l.cluster) AS n_members
       |  FROM ${p}labels l JOIN ${p}qual q USING (doc_id))""".stripMargin

  /** The declarative CDC span-scrub chain (q107's oracle formulation:
    * md5-8-gram chunk boundaries → chunk hashes → foreign chunks (hash
    * in >= 2 docs, this doc not the min holder) → adjacent runs >= 50
    * chars → cut-complement reconstruction), CTEs only, parameterized
    * by the (doc_id, text) source relation AND a name prefix so the
    * composed-pipeline oracle (q127) can run the IDENTICAL text over
    * its near-deduped-survivor CTE without colliding with its own
    * chunking CTE names — one formulation, zero drift (q107 calls this
    * with src="documents", p=""). Ends at `${p}scrubbed`
    * (doc_id, text): every source doc, scrubbed where spans were cut,
    * original otherwise. `${p}spans` (doc_id, cs, ce) stays visible for
    * q107's span-count report.
    */
  private[ops] def scrubCtesFrom(src: String, p: String = ""): String =
    s"""${p}ends0 AS (
       |  SELECT doc_id, unnest(list_filter(range(8, len(text) + 1),
       |         i -> substr(md5(substr(text, CAST(i AS INT) - 7, 8)), 1, 1) = '0')) AS e
       |  FROM $src WHERE len(text) >= 8),
       |${p}ends AS (
       |  SELECT DISTINCT doc_id, CAST(e AS BIGINT) AS e FROM (
       |    SELECT doc_id, e FROM ${p}ends0
       |    UNION ALL
       |    SELECT doc_id, len(text) AS e FROM $src WHERE len(text) >= 1)),
       |${p}ch AS (
       |  SELECT doc_id, e,
       |         COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1 AS s
       |  FROM ${p}ends),
       |${p}chunks AS MATERIALIZED (
       |  SELECT c.doc_id, c.s, c.e,
       |         md5(substr(d.text, CAST(c.s AS INT), CAST(c.e - c.s + 1 AS INT))) AS h
       |  FROM ${p}ch c JOIN $src d USING (doc_id)),
       |${p}mind AS (
       |  SELECT h, min(doc_id) AS md
       |  FROM (SELECT DISTINCT doc_id, h FROM ${p}chunks)
       |  GROUP BY h HAVING count(*) >= 2),
       |${p}frn AS (
       |  SELECT c.doc_id, c.s, c.e
       |  FROM ${p}chunks c JOIN ${p}mind m USING (h) WHERE c.doc_id <> m.md),
       |${p}brk AS (
       |  SELECT doc_id, s, e,
       |         CASE WHEN s = COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s), -42) + 1
       |              THEN 0 ELSE 1 END AS b
       |  FROM ${p}frn),
       |${p}grp AS (
       |  SELECT doc_id, s, e,
       |         sum(b) OVER (PARTITION BY doc_id ORDER BY s) AS g
       |  FROM ${p}brk),
       |${p}spans AS MATERIALIZED (
       |  SELECT doc_id, min(s) AS cs, max(e) AS ce
       |  FROM ${p}grp GROUP BY doc_id, g
       |  HAVING max(e) - min(s) + 1 >= 50),
       |${p}segs AS (
       |  SELECT doc_id,
       |         COALESCE(lag(ce) OVER (PARTITION BY doc_id ORDER BY cs), 0) + 1 AS ss,
       |         cs - 1 AS se
       |  FROM ${p}spans
       |  UNION ALL
       |  SELECT s.doc_id, max(s.ce) + 1 AS ss, len(d.text) AS se
       |  FROM ${p}spans s JOIN $src d USING (doc_id)
       |  GROUP BY s.doc_id, len(d.text)),
       |${p}scrub AS (
       |  SELECT g.doc_id,
       |         string_agg(substr(d.text, CAST(g.ss AS INT),
       |                    CAST(greatest(g.se - g.ss + 1, 0) AS INT)), '' ORDER BY g.ss) AS t2
       |  FROM ${p}segs g JOIN $src d USING (doc_id)
       |  GROUP BY g.doc_id),
       |${p}scrubbed AS MATERIALIZED (
       |  SELECT d.doc_id, COALESCE(sc.t2, d.text) AS text
       |  FROM $src d LEFT JOIN ${p}scrub sc USING (doc_id))""".stripMargin

  /** The simhash SIGNATURE chain (words → nibs), source-parameterized
    * — see [[simhashPairCtesFrom]].
    */
  private[ops] def simhashCtesFrom(src: String): String =
    s"""words AS (
       |  SELECT DISTINCT doc_id, md5(w) AS h FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |    FROM $src WHERE text <> '')
       |  WHERE w <> ''),
       |per_pos AS (
       |  SELECT doc_id, e.pos AS pos, e.v AS v
       |  FROM (SELECT doc_id,
       |               unnest(list_transform(range(1, 17), p ->
       |                 {'pos': p, 'v': strpos('0123456789abcdef', substr(h, CAST(p AS INT), 1)) - 1})) AS e
       |        FROM words)),
       |votes AS (
       |  SELECT doc_id, pos,
       |         CAST(sum(2 * ((v // 8) % 2) - 1) AS BIGINT) AS s3,
       |         CAST(sum(2 * ((v // 4) % 2) - 1) AS BIGINT) AS s2,
       |         CAST(sum(2 * ((v // 2) % 2) - 1) AS BIGINT) AS s1,
       |         CAST(sum(2 * (v % 2) - 1) AS BIGINT) AS s0
       |  FROM per_pos GROUP BY doc_id, pos),
       |nibs AS (
       |  SELECT doc_id, pos,
       |         substr('0123456789abcdef',
       |                8 * CAST(s3 > 0 AS INT) + 4 * CAST(s2 > 0 AS INT)
       |                + 2 * CAST(s1 > 0 AS INT) + CAST(s0 > 0 AS INT) + 1, 1) AS ch
       |  FROM votes)""".stripMargin

  val oracle: Map[String, String] = {
    val sigCols = (0 until K)
      .map(i => s"min(md5('$i|' || sh)) AS h$i").mkString(",\n         ")
    val bandStructs = (0 until BANDS).map { b =>
      val parts = (0 until 4).map(r => s"h${b * 4 + r}").mkString(" || '|' || ")
      s"{'band': $b, 'bh': md5($parts)}"
    }.mkString(", ")
    // the declarative simhash formulation (q86 + q78): distinct word md5s
    // → per-hex-position nibble votes → sign → hex char per position
    val simhashCtes = simhashCtesFrom("documents")
    // the shared MinHash CTE chain (q85 + q79): distinct 3-word shingles
    // → 16-column signature → 4 band hashes
    val minhashCtes =
      s"""ws AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE text <> ''),
         |sh AS (
         |  SELECT DISTINCT doc_id, sh FROM (
         |    SELECT doc_id,
         |           unnest(list_transform(range(1, len(ws) - 1),
         |                  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
         |    FROM ws WHERE len(ws) >= 3)),
         |sig AS (
         |  SELECT doc_id,
         |         $sigCols
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, e.band AS band, e.bh AS bh
         |  FROM (SELECT doc_id, unnest([$bandStructs]) AS e FROM sig))""".stripMargin
    val estSum = (0 until K)
      .map(i => s"CAST(sa.h$i = sb.h$i AS INT)").mkString(" + ")
    Map(
      "q85_minhash_lsh" ->
        s"""WITH $minhashCtes
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_bands
           |FROM bands a JOIN bands b
           |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
           |GROUP BY a.doc_id, b.doc_id
           |ORDER BY doc_a, doc_b""".stripMargin,
      // q79: q85's candidates + the signature-agreement Jaccard estimator
      // (sum of 16 slot equalities / 16.0 — power-of-two exact division)
      "q79_minhash_jaccard_est" ->
        s"""WITH $minhashCtes,
           |cand AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_bands
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
           |  GROUP BY a.doc_id, b.doc_id)
           |SELECT doc_a, doc_b, shared_bands,
           |       CAST($estSum AS DOUBLE) / 16.0 AS est_jac
           |FROM cand JOIN sig sa ON cand.doc_a = sa.doc_id
           |          JOIN sig sb ON cand.doc_b = sb.doc_id
           |ORDER BY doc_a, doc_b""".stripMargin,
      "q86_simhash" ->
        s"""WITH $simhashCtes
           |SELECT doc_id, string_agg(ch, '' ORDER BY pos) AS simhash
           |FROM nibs GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // q78: same simhash CTE chain as q86, then banded candidate pairs
      // (4×4-hex bands) + exact hamming via per-nibble xor and a 16-entry
      // popcount lookup table — integer-exact, engine-portable
      "q78_simhash_neardup" ->
        s"""WITH ${simhashPairCtesFrom("documents")}
           |SELECT doc_a, doc_b, hamming FROM ham
           |WHERE hamming <= $MAXHAM
           |ORDER BY doc_a, doc_b""".stripMargin,
      // q100: q78's qualifying pairs as an edge set, then connected
      // components via recursive transitive closure (UNION dedup bounds
      // the recursion); cluster = min reachable id (incl. self) — the
      // same labels star contraction converges to
      "q100_dup_clusters" ->
        s"""WITH RECURSIVE ${simhashPairCtesFrom("documents")},
           |edges AS (SELECT doc_a AS a, doc_b AS b FROM ham WHERE hamming <= $MAXHAM),
           |sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
           |reach(src, dst) AS (
           |  SELECT a, b FROM sym
           |  UNION
           |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a)
           |SELECT src AS doc_id, least(src, min(dst)) AS cluster
           |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
      // q102: 30-char windows at stride 10 (positions 1, 11, 21, …);
      // hashes shared by >= 2 docs mark hits; per-doc hits within 30
      // merge into maximal spans. CASE over the NULL first-row lag
      // falls through to ELSE 1 — same branch Spark's when().otherwise
      // takes, so group ids agree row-for-row.
      "q102_dup_spans" ->
        """WITH w AS (
          |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
          |         md5(substr(text, CAST(i AS INT), 30)) AS h
          |  FROM documents, unnest(range(1, len(text) - 28, 10)) AS u(i)
          |  WHERE len(text) >= 30),
          |dd AS (SELECT DISTINCT doc_id, h FROM w),
          |shared AS (SELECT h FROM dd GROUP BY h HAVING count(*) >= 2),
          |hits AS (SELECT w.doc_id, w.pos FROM w JOIN shared USING (h)),
          |brks AS (
          |  SELECT doc_id, pos,
          |         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 30
          |              THEN 0 ELSE 1 END AS brk
          |  FROM hits),
          |grps AS (
          |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
          |  FROM brks)
          |SELECT doc_id, min(pos) AS span_start, max(pos) + 29 AS span_end,
          |       count(*) AS n_windows
          |FROM grps GROUP BY doc_id, g ORDER BY doc_id, span_start""".stripMargin,
      // q107: the CDC scrub — chunk boundaries where md5 of the trailing
      // 8-gram starts with hex '0' (plus a forced end-of-doc boundary),
      // chunk hash = md5 of the chunk text; a chunk is foreign where its
      // hash occurs in >= 2 docs and this doc is not the min holder;
      // adjacent foreign runs >= 50 chars are cut; the scrubbed text is
      // rebuilt as the ordered complement segments (Spark rebuilds it
      // with an aggregate-HOF walk over the same cut list — identical
      // pieces, identical concatenation). COALESCE(-42) on the first-row
      // lag can never equal s - 1 (s >= 1), matching Spark's
      // when().otherwise NULL fall-through. The whole CTE chain is the
      // source-parameterized [[scrubCtesFrom]] — shared verbatim with
      // the composed-pipeline oracle (q127).
      "q107_scrub_spans" ->
        s"""WITH ${scrubCtesFrom("documents")},
          |nsp AS (SELECT doc_id, count(*) AS n FROM spans GROUP BY doc_id)
          |SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS orig_len,
          |       CAST(len(s.text) AS BIGINT) AS scrub_len,
          |       CAST(COALESCE(nsp.n, 0) AS BIGINT) AS n_spans_cut,
          |       md5(s.text) AS scrub_md5
          |FROM documents d JOIN scrubbed s USING (doc_id) LEFT JOIN nsp USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,
      // q104: q100's label chain + q88's quality formula (identical
      // rounding), then one row per cluster: the max-quality member
      // (min doc_id among ties) and the cluster size. The CTE chain is
      // the source-parameterized [[keepBestCtesFrom]] — shared verbatim
      // with the composed-pipeline oracle (q131).
      "q104_cluster_keep_quality" ->
        s"""WITH RECURSIVE ${simhashPairCtesFrom("documents")},
           |${keepBestCtesFrom("documents", "", MAXHAM)}
           |SELECT cluster, doc_id AS kept_doc, quality AS best_quality,
           |       CAST(n_members AS BIGINT) AS n_members
           |FROM ranked WHERE rn = 1 ORDER BY cluster""".stripMargin,
      "q59_winnowing_fp" ->
        """WITH g AS (
          |  SELECT doc_id, i AS pos, md5(substr(text, CAST(i AS INT), 8)) AS h
          |  FROM (SELECT doc_id, text, unnest(range(1, len(text) - 6)) AS i
          |        FROM documents WHERE len(text) >= 8)),
          |wm AS (
          |  SELECT doc_id,
          |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
          |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
          |  FROM g),
          |fps AS (SELECT DISTINCT doc_id, fp FROM wm)
          |SELECT doc_id, count(*) AS n_fps,
          |       md5(string_agg(fp, '' ORDER BY fp)) AS fp_sig
          |FROM fps GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "q90_fingerprint" ->
        """SELECT fp, count(*) AS cnt, min(doc_id) AS min_id
          |FROM (SELECT doc_id,
          |             md5(array_to_string(list_sort(list_distinct(
          |                  list_filter(string_split(text, ' '), w -> w <> ''))), ' ')) AS fp
          |      FROM documents)
          |GROUP BY fp ORDER BY fp""".stripMargin
    )
  }
}
