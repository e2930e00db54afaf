package graft.ops

import graft.Q
import graft.model.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search over the embedding column
  * (SURVEY.md §2.2 q91) — the scale path next to q82's brute force.
  *
  * Sign-bucket ANN (a deterministic IVF/LSH hybrid): every vector gets a
  * coarse bucket from the sign bits of its first 8 dimensions (a fixed,
  * data-independent set of 8 axis-aligned hyperplanes → 256 buckets).
  * Probes only compare against vectors in their own bucket, so the
  * candidate set shrinks ~256× while same-orthant neighbors — the ones
  * with high cosine — stay together. At 100 TB the bucket id becomes the
  * shuffle/partition key and each bucket's candidates fit one task.
  *
  * Cosines run on the native codegen expression (graft.functions.
  * FloatVecCosine).
  */
object Similarity {

  /** Unrolled Lloyd rounds for q123 — a declared constant because the
    * oracle unrolls them as MATERIALIZED stages (the q114 discipline).
    * 2-3 rounds is where spherical k-means does most of its centroid
    * moving from a reasonable init; the production path (IvfIndex.
    * build) iterates MLlib k-means to convergence instead.
    */
  private[graft] val LloydRounds = 2

  /** embeddings + sign bucket: `bits` chars of '0'/'1' from the leading
    * dimensions — 2^bits buckets.
    *
    * Bucket-count scaling (the 100 TB knob): with N vectors and a target
    * of ~B candidates per bucket, choose `bits ≈ log2(N / B)` — e.g.
    * 10^10 vectors at ~10^5 per bucket → 17 bits. A FIXED bucket count is
    * not a scale design: at 100 TB each of 256 buckets would hold ~400 GB
    * and the per-bucket join blows up — and the r8 soak MEASURED it (the
    * 10×→26× segment priced q99's fixed 8-bit fill at exponent 1.6,
    * quadratic showing through). The default is therefore the dial
    * itself: bits = clamp(ceil(log2(N / 64)), 8, dim), from the parquet
    * metadata row count (one cheap count job). The floor of 8 keeps the
    * declared oracle contract byte-stable at every testdata scale
    * (N ≤ 2k → 8 bits); the cap is the embedding dimensionality (16) —
    * a corpus big enough to exhaust it needs q96-style banding over
    * MORE projections, not more sign bits of the same 16. For higher
    * recall at large `bits`, band the code like q85's LSH (split the
    * bits into b bands and join on any matching band) instead of
    * requiring all bits equal. Pass `bits` explicitly to pin a layout
    * (e.g. to match a stored index).
    */
  /** (row count, embedding dimensionality) of `dir`'s embeddings table.
    * Two small jobs per call (q91/q94/q99 each pay them). Dim comes from
    * the data (one row), not a literal — a fixture with a different
    * embedding width changes the adaptive-bits cap instead of silently
    * mismatching `slice`.
    */
  private[ops] def embMeta(s: SparkSession, dir: String): (Long, Int) = {
    val emb = Tables(s, dir, "embeddings")
    val dim = emb.select(size(col("embedding")).as("d")).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(8)
    (emb.count().max(1L), dim.max(1))
  }

  /** The adaptive width, all-integer (r12): b = clamp(ceil_log2(⌈n/64⌉),
    * 8, dim). Mathematically identical to the old ceil(log2(n/64.0)) —
    * for x > 1, ceil(log2 x) = ceil_log2(⌈x⌉) — but exact in integer
    * arithmetic, so the DuckDB oracles can replay it bit-for-bit at ANY
    * corpus size (length(bin(t-1)) is the same ceil_log2; the old float
    * form risked a 1-ulp log divergence exactly at power-of-two corpus
    * sizes, where the two engines' widths would silently split).
    */
  private[ops] def adaptiveBits(n: Long, dim: Int): Int = {
    val t = (math.max(n, 1L) + 63L) / 64L
    val cl2 = if (t <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(t - 1L)
    math.min(dim, math.max(8, cl2))
  }

  private[ops] def bucketed(s: SparkSession, dir: String, bits: Int = 0): DataFrame = {
    val emb = Tables(s, dir, "embeddings")
    val b =
      if (bits > 0) bits
      else {
        val (n, dim) = embMeta(s, dir)
        adaptiveBits(n, dim)
      }
    emb.withColumn("bucket",
      expr(s"array_join(transform(slice(embedding, 1, $b), x -> CAST(CAST(x >= 0 AS INT) AS STRING)), '')"))
  }

  /** q57's deterministic centroid INIT: the md5-ordered corpus sample —
    * oracle-replayable, and the seed [[lloydCentroids]] trains from.
    */
  private[graft] def md5Centroids(emb: DataFrame, k: Int): DataFrame =
    emb.withColumn("crk", md5(col("vec_id").cast("string")))
      .orderBy(col("crk"), col("vec_id")).limit(k)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))

  /** Each vector's argmax-cosine centroid: (vec_id, cell, csim,
    * embedding). The argmax is max_by over struct(csim, -c_id) — unique
    * by the tiebreak, so the aggregate IS q57's window semantics
    * WITHOUT the window's sort exchange: partial max_by combines
    * map-side, the only shuffle is the aggregate's own, and at 100 TB
    * it collapses into the scan. The embedding RIDES THROUGH the
    * aggregate (r17 ADVICE close: every group's rows carry the same
    * vector — the crossJoin only fans out centroids — so first() is
    * deterministic here), which is what lets [[ivfSearch]] and every
    * [[lloydCentroids]] round consume the assignment WITHOUT joining
    * the corpus back on vec_id: one corpus shuffle per assignment
    * instead of two (aggregate + join), hashes unchanged.
    */
  private[graft] def assignCells(emb: DataFrame, cent: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("c_id"), col("embedding"),
        round(expr("vec_cosine(embedding, c_emb)"), 3).as("csim"))
      .groupBy("vec_id")
      .agg(max_by(struct(col("c_id").as("cell"), col("csim")),
        struct(col("csim"), (-col("c_id")).as("nc"))).as("best"),
        first(col("embedding")).as("embedding"))
      .select(col("vec_id"), col("best.cell").as("cell"),
        col("best.csim").as("csim"), col("embedding"))

  /** `rounds` unrolled Lloyd iterations of spherical k-means from the
    * md5-sample init (r15 VERDICT #3): per round one broadcast-centroid
    * assignment ([[assignCells]]) and one per-cell elementwise mean —
    * DECIMAL(28,12) accumulation (order-independent, so the mean is
    * partitioning-proof), rounded to 6 dp and cast back to float so
    * both engines carry bit-identical centroids into the next round.
    * Cells that lose every member drop out (both engines). EAGER: the
    * result is localCheckpoint(true) — one tiny (k × dim) job — so the
    * probe phase's consumers never re-run the training lineage.
    * Training MONOTONICALLY improves the quantizer objective (mean
    * assignment cosine: 0.19 sampled → 0.26 trained on the testdata
    * embeddings — IvfIndexSpec law, the same statistic IvfIndex.Meta
    * tracks for drift). NOTE the honest negative: on THIS corpus
    * (unit-norm, near-isotropic — mean pairwise cosine 0.0 ± 0.125)
    * better cells do NOT mean better small-nprobe recall; with no
    * cluster structure, recall@3 at nprobe = 2 over the 3 declared
    * probes measured 0.22 trained vs 0.56 sampled (9 truth pairs —
    * noise-level, and structureless data has no signal for training to
    * find). The recall CLAIM for trained quantizers needs clustered
    * data; the invariant that holds on any data is exactness: probing
    * all k cells recovers brute force bit-for-bit (IvfIndexSpec).
    */
  private[graft] def lloydCentroids(emb: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    var cent = md5Centroids(emb, k)
    for (_ <- 1 to rounds) {
      // the assignment carries the embedding through its aggregate, so
      // the per-cell mean needs NO corpus re-join (r17 — one corpus
      // shuffle per Lloyd round instead of two)
      cent = assignCells(emb, cent)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy("cell", "i")
        .agg(sum(col("x").cast("double").cast("decimal(28,12)")).as("sx"),
          count(lit(1)).as("n"))
        .withColumn("v",
          expr("CAST(round(CAST(sx AS DOUBLE) / n, 6) AS FLOAT)"))
        .groupBy("cell")
        .agg(expr(
          "transform(sort_array(collect_list(struct(i, v))), t -> t.v)")
          .as("c_emb"))
        .select(col("cell").as("c_id"), col("c_emb"))
    }
    cent.localCheckpoint(true)
  }

  /** The IVF probe machinery over ANY centroid frame — q57's exact
    * shape, factored (r15's trigramScores discipline) so q123 and the
    * IvfIndexSpec laws drive the IDENTICAL code: assign every vector to
    * its nearest cell, probes (vec_id < 3) visit their `nprobe` nearest
    * cells, exact top-`topK` cosine inside the probed cells.
    *
    * r16 VERDICT #1 (what's-wrong): the assignment rides
    * [[assignCells]]'s map-side-combinable max_by aggregate — the
    * SAME round(·,3)-desc, min-c_id argmax the old per-vector
    * row_number window derived, but with no N×K cosine frame
    * materialized and nothing persisted (the old code
    * MEMORY_AND_DISK-persisted all N·K vector-centroid cosines — 8×
    * the corpus spilled to disk at 100 TB — solely so the probe branch
    * could re-read the `vec_id < probeMax` sliver; the probe branch
    * now computes its own csims over the probe vectors only, a
    * probeMax×K frame). And because the assignment aggregate carries
    * the embedding through (see [[assignCells]]), the assigned frame
    * needs no corpus re-join either — the probe phase costs ONE
    * corpus shuffle total. Tiebreak identity proven by unchanged
    * q57/q123/q124 oracle hashes at all three scales plus
    * IvfIndexSpec's window-vs-aggregate law.
    */
  private[graft] def ivfSearch(emb: DataFrame, cent: DataFrame,
      nprobe: Int, topK: Int, probeMax: Int = 3): DataFrame = {
    val assigned = assignCells(emb, cent)
      .select("vec_id", "cell", "embedding")
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("csim").desc, col("c_id"))
    val probeCells = emb.filter(col("vec_id") < probeMax)
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("c_id"), col("embedding"),
        round(expr("vec_cosine(embedding, c_emb)"), 3).as("csim"))
      .withColumn("crn", row_number().over(wA))
      .filter(col("crn") <= nprobe)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p"),
        col("c_id").as("cell"))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
    assigned.join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(expr("vec_cosine(embedding, p)"), 3).as("sim"))
      .withColumn("rn", row_number().over(wR).cast("long"))
      .filter(col("rn") <= topK)
      .select("probe_id", "vec_id", "sim", "rn")
      .orderBy(col("probe_id"), col("rn"))
  }

  /** The q124 PLANTED clustered-embedding fixture, as ONE SQL
    * expression valid VERBATIM in both engines (the q122
    * RichVocabWordSql discipline applied to vectors): 400 vectors in
    * 8 anisotropic clusters — cluster c = vec_id % 8, dimension d of
    * vector i is center(c, d) + spread(i) · h(i + 1000, d), with
    * h(a, d) = ((a·1009 + d·9176 + 17) mod 1000)/1000 − 0.5 and
    * spread 0.2 for the 10 probe vectors (near-center — their true
    * neighbors are cluster-mates) vs 2.0 for the rest (edge-heavy —
    * a SAMPLED corpus point is a poor cluster representative, which
    * is exactly what gives Lloyd training something to fix). All
    * integer arithmetic + one double add + CAST AS FLOAT — both
    * engines produce bit-identical vectors. The per-dimension formula
    * [[PlantedDimSql]] is ONE text; only the array-builder wrapper
    * differs by engine (Spark `transform(sequence(…))`, DuckDB
    * `list_transform(generate_series(…))` — the engines' lambda
    * syntaxes agree, their list constructors don't). The r16 design
    * sims: at these dials, sampled-centroid recall@3 over the 10
    * probes' 30 truth pairs is 0.80 and 1-or-2-round-trained recall
    * is 1.00, stable across the parameter neighborhood (N 320-480,
    * spread 1.6-2.4).
    */
  private[graft] val PlantedDimSql: String =
    """CAST((CAST((vec_id % 8) * 1009 + d * 9176 + 17 AS BIGINT) % 1000) / 1000.0 - 0.5
      | + (CASE WHEN vec_id < 10 THEN 0.2 ELSE 2.0 END)
      |   * ((CAST((vec_id + 1000) * 1009 + d * 9176 + 17 AS BIGINT) % 1000) / 1000.0 - 0.5)
      | AS FLOAT)""".stripMargin.replaceAll("\n", " ")

  /** The planted frame: the first 400 vec_ids (present at every test
    * scale) carrying the [[PlantedDimSql]] vectors.
    */
  private[graft] def plantedEmbeddings(s: SparkSession,
      dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .filter(col("vec_id") < 400)
      .select(col("vec_id"),
        expr(s"transform(sequence(0, 15), d -> $PlantedDimSql)")
          .as("embedding"))

  /** The ROUND-SEPARATING fixture (r16 VERDICT #3): q124's planted law
    * saturates — both 1 and 2 Lloyd rounds reach recall 1.0 on its
    * fixture, so that law cannot detect a regression that silently
    * stops after round 1. THIS fixture's dials were scanned with the
    * engine-exact design sim (tools/planted_sim.py --scan: same md5
    * init, round(·,3) min-c_id argmax with the SAMPLED-VEC_ID ids,
    * 6 dp decimal means, nprobe=1 probe tail) until recall@3 over 20
    * probes is STRICTLY monotone in training rounds and below the
    * ceiling: sampled 0.800 < 1-round 0.917 < 2-round 0.950 < 1.0.
    * The deltas from q124's dials: 9 clusters against k = 8 (one cell
    * must absorb two clusters — round 2 has residual work), centers
    * damped ×0.45 (cluster overlap), probe spread 0.4, 20 probes (60
    * truth pairs — 1/60 recall granularity; the margins are 7, 2 and
    * 3 pairs wide). Spec-only (IvfIndexSpec pins the law) — q124 and
    * its oracle stay byte-stable behind their shipped dials. Recall
    * is NOT monotone in rounds in general — Lloyd optimizes the
    * quantizer objective, not recall: at these dials round 3 plateaus
    * at 0.950, and the cg = 0.5 neighbor REGRESSES round 2 → 3
    * (0.950 → 0.867 in the sim). The fixture is CHOSEN so rounds
    * 0 → 1 → 2 separate, which is exactly the tripwire
    * [[LloydRounds]] = 2 needs. Re-derive with the sim whenever the
    * dials change (its no-flag report prints both shipped fixtures;
    * --scan walks this fixture's dial neighborhood).
    */
  private[graft] val RoundSepDimSql: String =
    """CAST(0.45 * ((CAST((vec_id % 9) * 1009 + d * 9176 + 17 AS BIGINT) % 1000) / 1000.0 - 0.5)
      | + (CASE WHEN vec_id < 20 THEN 0.4 ELSE 2.0 END)
      |   * ((CAST((vec_id + 1000) * 1009 + d * 9176 + 17 AS BIGINT) % 1000) / 1000.0 - 0.5)
      | AS FLOAT)""".stripMargin.replaceAll("\n", " ")

  /** The round-separating frame: the first 300 vec_ids carrying the
    * [[RoundSepDimSql]] vectors.
    */
  private[graft] def roundSepEmbeddings(s: SparkSession,
      dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .filter(col("vec_id") < 300)
      .select(col("vec_id"),
        expr(s"transform(sequence(0, 15), d -> $RoundSepDimSql)")
          .as("embedding"))

  val queries: Map[String, Q] = Map(

    // The named showcase of the SparkSessionExtensions-registered native
    // cosine (q82 adopted the same expression once its 3-decimal rounding
    // was verified hash-identical to the decimal-exact formulation, so
    // this now shares q82's oracle).
    "q93_cosine_topk_native" -> ((s, dir) => {
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

    // Embedding-cosine near-duplicate pairs: all pairs sharing a sign
    // bucket with cosine ≥ 0.35 (the synthetic embeddings are near-orthogonal random vectors; real corpora would use ~0.9) — the vector-space analog of q85's LSH
    // (bucket join bounds the candidate pairs; exact decimal cosine
    // verifies). At 100 TB the bucket is the shuffle key and candidate
    // volume stays linear-ish in corpus size.
    "q94_embedding_neardup" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      val all = bucketed(s, dir)
      // native codegen cosine (order-fixed per-row accumulation; rounding
      // at 3 decimals hash-matches the decimal-exact oracle)
      val pairs = all.as("a")
        .join(all.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          round(expr("vec_cosine(a.embedding, b.embedding)"), 3).as("sim"))
      pairs
        .filter(col("sim") >= 0.35)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Semantic dedup — the keep/drop decision q94's pairs set up
    // (SemDeDup-shaped: embedding-space near-dup groups, one survivor
    // each): connected components over the cosine-threshold pair graph,
    // every non-canonical member listed with the doc that replaces it
    // (the component's min vec_id). The output is the DROP list a
    // pipeline anti-joins against the corpus. Scale shape: q94's
    // bucketed candidate join (bucket = shuffle key, candidates
    // linear-ish in corpus size) + star contraction's O(log n) rounds
    // — both stages are the measured 100 TB paths of their families
    // (q94, q100); no new plan shape, just the composition.
    "q105_semantic_dedup" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      val all = bucketed(s, dir)
      val edges = all.as("a")
        .join(all.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("a"), col("b.vec_id").as("b"),
          round(expr("vec_cosine(a.embedding, b.embedding)"), 3).as("sim"))
        .filter(col("sim") >= 0.35)
        .select(col("a"), col("b"))
      Dedup.connectedComponents(edges)
        .filter(col("doc_id") =!= col("cluster"))
        .select(col("doc_id").as("vec_id"), col("cluster").as("kept"))
        .orderBy(col("vec_id"))
    }),

    // Banded ANN near-dup — the recall-scaling variant the fixed-bucket
    // design (q94) can't reach: TWO independent 8-bit sign bands (dims
    // 1-8 and 9-16); a pair is a candidate if it collides in EITHER band
    // (union of two projections ≈ double the recall of one bucket at the
    // same per-bucket cost), then the native cosine verifies exactly.
    // At 100 TB: more/narrower bands trade shuffle volume for recall,
    // the same (b, r) dial as q85's MinHash banding.
    "q96_ann_banded" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      val emb = Tables(s, dir, "embeddings")
      def bandBits(from: Int) = expr(
        s"array_join(transform(slice(embedding, $from, 8), x -> CAST(CAST(x >= 0 AS INT) AS STRING)), '')")
      val keys = emb.select(col("vec_id"), explode(array(
        concat(lit("0|"), bandBits(1)),
        concat(lit("1|"), bandBits(9)))).as("bk"))
      val cand = keys.groupBy("bk")
        .agg(sort_array(collect_list(col("vec_id"))).as("ds"))
        .select(explode(expr("array_pairs(ds)")).as("p"))
        .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
        .distinct() // a pair may collide in both bands
      cand
        .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("ea")), "id_a")
        .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("eb")), "id_b")
        .select(col("id_a"), col("id_b"),
          round(expr("vec_cosine(ea, eb)"), 3).as("sim"))
        .filter(col("sim") >= 0.35)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Self k-NN join — EVERY vector's top-2 same-bucket neighbors (the
    // canonical retrieval shape of embedding dedup/clustering pipelines;
    // q91 is the few-probe special case). Candidates expand per bucket
    // with the compiled pair generator, then both directions of each
    // unordered pair are ranked per query vector. Scale: candidate count
    // is Σ_b c_b², controlled by the bucket-bits knob; the rank window
    // partitions on the query id — maximal parallelism.
    "q99_knn_join" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      val emb = Tables(s, dir, "embeddings")
      val pairs = bucketed(s, dir).groupBy("bucket")
        .agg(sort_array(collect_list(col("vec_id"))).as("ds"))
        .select(explode(expr("array_pairs(ds)")).as("p"))
      // each unordered bucket pair serves as a candidate in BOTH directions
      val cand = pairs.select(col("p.a").as("qid"), col("p.b").as("nid"))
        .unionAll(pairs.select(col("p.b").as("qid"), col("p.a").as("nid")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("sim").desc, col("nid"))
      cand
        .join(emb.select(col("vec_id").as("qid"), col("embedding").as("eq")), "qid")
        .join(emb.select(col("vec_id").as("nid"), col("embedding").as("en")), "nid")
        .select(col("qid"), col("nid"),
          round(expr("vec_cosine(eq, en)"), 3).as("sim"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2)
        .select("qid", "nid", "sim", "rn")
        .orderBy(col("qid"), col("rn"))
    }),

    // IVF ANN — the OTHER canonical scale path next to sign-bucket LSH
    // (q91/q96): a coarse quantizer partitions the corpus into K cells,
    // every vector joins its nearest centroid's inverted list, and a
    // probe searches only its `nprobe` nearest cells. Here the K=8
    // centroids are a deterministic md5-ordered sample of the corpus (the
    // stand-in for offline k-means — centroid TRAINING is a separate
    // batch job at scale; the ENGINE work is assignment + probe, which is
    // what this query exercises). Assignment is a broadcast nested-loop
    // over K centroids (N·K codegen cosines, no shuffle until the argmax
    // window); at 100 TB: K grows ~√N, the cell id becomes the partition
    // key of the stored inverted lists, and the argmax window collapses
    // into the map-side pass (per-row max over the broadcast centroid
    // array — no exchange at all). Ranking uses round(sim, 3) + id
    // tiebreaks so both engines resolve near-ties identically (§7.5.2).
    "q57_ivf_ann" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      val emb = Tables(s, dir, "embeddings")
      // r16: rewired through the factored machinery (md5Centroids +
      // ivfSearch — oracle hashes unchanged at all three scales), so a
      // probe-machinery fix reaches the untrained baseline and q123
      // alike — exactly what the r17 assignment-aggregate rework used
      ivfSearch(emb, md5Centroids(emb, 8), nprobe = 2, topK = 3)
    }),

    // IVF with a TRAINED coarse quantizer (r15 VERDICT #3 — replacing
    // q57's md5-sampled stand-in): the same deterministic md5-sample
    // INIT, then [[LloydRounds]] unrolled rounds of spherical k-means —
    // per round one broadcast-centroid assignment (N·K codegen cosines,
    // argmax via max_by's map-side-combinable aggregate, NO window
    // exchange) and one per-cell elementwise mean (DECIMAL(28,12)
    // accumulation: sums are order-independent, so the mean is
    // partitioning-proof; rounded to 6 dp and cast back to float so
    // both engines carry bit-identical centroids into the next round).
    // Then q57's exact probe machinery over the trained centroids
    // ([[ivfSearch]] — shared code, the r15 factoring discipline).
    // Cells that lose every member simply drop out (both engines).
    // q57 stays byte-stable as the untrained baseline — IvfIndexSpec's
    // laws compare the two: training improves the quantizer OBJECTIVE
    // (mean assignment cosine, the drift statistic IvfIndex.Meta
    // tracks), and probing all k cells recovers brute force exactly;
    // the honest small-nprobe recall measurement on this isotropic
    // corpus is recorded at [[lloydCentroids]]. At 100 TB: each
    // Lloyd round is one pass over the vectors with an 8×64-float
    // broadcast — the classic k-means-on-a-sample argument
    // (IvfIndex.build trains MLlib k-means on trainFraction for the
    // production path; THIS query is the oracle-checkable unrolled
    // form). EAGER: the trained centroid frame is localCheckpoint(true)
    // (one tiny job) so the probe-phase consumers don't re-run Lloyd;
    // nothing persists (r17 — ivfSearch's assignment is the max_by
    // aggregate, no shared csims frame remains).
    "q123_ivf_kmeans_ann" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      val emb = Tables(s, dir, "embeddings")
      ivfSearch(emb, lloydCentroids(emb, 8, LloydRounds), nprobe = 2,
        topK = 3)
    }),

    // Trained-IVF recall on the PLANTED clustered fixture (r16, closing
    // the round's own ADVICE #1): the corpus embeddings are isotropic,
    // so q123 can only assert the quantizer OBJECTIVE; THIS query runs
    // the identical machinery over [[plantedEmbeddings]] — 8
    // anisotropic clusters where a sampled corpus point is a poor cell
    // representative — at nprobe = 1 over 10 near-center probes, the
    // regime where training VISIBLY buys recall: 0.80 sampled → 1.00
    // trained recall@3 (IvfIndexSpec law over this exact fixture; the
    // oracle hash-gates the full trained search output). Same EAGER
    // centroid checkpoint as q123; nothing persists (r17 ivfSearch).
    "q124_ivf_planted_recall" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      val emb = plantedEmbeddings(s, dir)
      ivfSearch(emb, lloydCentroids(emb, 8, LloydRounds), nprobe = 1,
        topK = 3, probeMax = 10)
    }),

    // Top-3 same-bucket cosine neighbors for each probe (vec_id < 3).
    "q91_ann_bucketed" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      val all = bucketed(s, dir)
      val probes = all.filter(col("vec_id") < 3)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p"),
          col("bucket").as("p_bucket"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
      all.join(broadcast(probes),
          col("bucket") === col("p_bucket") && col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          round(expr("vec_cosine(embedding, p)"), 3).as("sim"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("probe_id", "vec_id", "sim", "rn")
        .orderBy(col("probe_id"), col("rn"))
    })
  )

  /** The unrolled trained-IVF oracle (q123/q124): `srcSql` supplies
    * the (vec_id, embedding) frame as the emb0 CTE; cent0 is the
    * md5-sample init; [[LloydRounds]] unrolled Lloyd stages; then
    * q57's probe tail at (`nprobe`, `probeMax`) dials. One generator,
    * two instantiations — the stage text cannot drift between the
    * corpus and planted variants.
    */
  private def ivfKmeansOracleSql(srcSql: String, nprobe: Int,
      probeMax: Int): String = {
    val rounds = (1 to LloydRounds).map { r =>
      s"""le$r AS MATERIALIZED (
         |  SELECT e.vec_id, c.c_id, unnest(e.embedding) AS x, unnest(c.c_emb) AS y
         |  FROM emb0 e CROSS JOIN cent${r - 1} c),
         |ld$r AS MATERIALIZED (
         |  SELECT vec_id, c_id,
         |         CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS dp,
         |         CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS nx,
         |         CAST(sum(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS ny
         |  FROM le$r GROUP BY vec_id, c_id),
         |la$r AS MATERIALIZED (
         |  SELECT vec_id, c_id AS cell FROM (
         |    SELECT vec_id, c_id,
         |           row_number() OVER (PARTITION BY vec_id
         |             ORDER BY round(dp / (sqrt(nx) * sqrt(ny)), 3) DESC, c_id) AS rn
         |    FROM ld$r) WHERE rn = 1),
         |lm$r AS MATERIALIZED (
         |  SELECT cell, i,
         |         CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS sx,
         |         count(*) AS n
         |  FROM (SELECT a.cell, generate_subscripts(e.embedding, 1) AS i,
         |               unnest(e.embedding) AS x
         |        FROM emb0 e JOIN la$r a ON e.vec_id = a.vec_id)
         |  GROUP BY cell, i),
         |cent$r AS MATERIALIZED (
         |  SELECT cell AS c_id, list(CAST(round(sx / n, 6) AS FLOAT) ORDER BY i) AS c_emb
         |  FROM lm$r GROUP BY cell)""".stripMargin
    }.mkString(",\n")
    s"""WITH emb0 AS MATERIALIZED (
       |  $srcSql),
       |cent0 AS (
       |  SELECT vec_id AS c_id, embedding AS c_emb
       |  FROM emb0 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
       |$rounds,
       |ae AS (
       |  SELECT e.vec_id, c.c_id, unnest(e.embedding) AS x, unnest(c.c_emb) AS y
       |  FROM emb0 e CROSS JOIN cent$LloydRounds c),
       |adots AS (
       |  SELECT vec_id, c_id,
       |         CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS dp,
       |         CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS nx,
       |         CAST(sum(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS ny
       |  FROM ae GROUP BY vec_id, c_id),
       |ranked AS (
       |  SELECT vec_id, c_id,
       |         row_number() OVER (PARTITION BY vec_id
       |           ORDER BY round(dp / (sqrt(nx) * sqrt(ny)), 3) DESC, c_id) AS rn
       |  FROM adots),
       |assigned AS (
       |  SELECT vec_id, c_id AS cell FROM ranked WHERE rn = 1),
       |pcells AS (
       |  SELECT vec_id AS probe_id, c_id AS cell
       |  FROM ranked WHERE vec_id < $probeMax AND rn <= $nprobe),
       |cand AS (
       |  SELECT p.probe_id, a.vec_id
       |  FROM pcells p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.probe_id),
       |ce AS (
       |  SELECT probe_id, cand.vec_id,
       |         unnest(ev.embedding) AS x, unnest(ep.embedding) AS y
       |  FROM cand JOIN emb0 ev ON cand.vec_id = ev.vec_id
       |            JOIN emb0 ep ON cand.probe_id = ep.vec_id),
       |cdots AS (
       |  SELECT probe_id, vec_id,
       |         CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS dp,
       |         CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS nx,
       |         CAST(sum(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS ny
       |  FROM ce GROUP BY probe_id, vec_id)
       |SELECT probe_id, vec_id, sim, rn FROM (
       |  SELECT probe_id, vec_id, round(dp / (sqrt(nx) * sqrt(ny)), 3) AS sim,
       |         CAST(row_number() OVER (PARTITION BY probe_id
       |           ORDER BY round(dp / (sqrt(nx) * sqrt(ny)), 3) DESC, vec_id) AS BIGINT) AS rn
       |  FROM cdots)
       |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // q93 computes exactly q82's contract on the native expression —
    // same decimal-exact oracle
    "q93_cosine_topk_native" ->
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
    "q99_knn_join" ->
      """WITH meta AS (
        |  SELECT least(min(len(embedding)), greatest(8,
        |    CASE WHEN CAST(ceil(count(*) / 64.0) AS BIGINT) <= 1 THEN 0
        |         ELSE length(bin(CAST(ceil(count(*) / 64.0) AS BIGINT) - 1)) END)) AS w
        |  FROM embeddings),
        |b AS (
        |  SELECT vec_id, embedding,
        |         array_to_string(list_transform(embedding[1:(SELECT w FROM meta)],
        |             x -> CAST(CAST(x >= 0 AS INT) AS VARCHAR)), '') AS bucket
        |  FROM embeddings),
        |cand AS (
        |  SELECT a.vec_id AS qid, c.vec_id AS nid
        |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
        |elems AS (
        |  SELECT qid, nid, unnest(eq.embedding) AS xq, unnest(en.embedding) AS xn
        |  FROM cand JOIN embeddings eq ON cand.qid = eq.vec_id
        |            JOIN embeddings en ON cand.nid = en.vec_id),
        |dots AS (
        |  SELECT qid, nid,
        |         CAST(sum(CAST(CAST(xq AS DOUBLE) * CAST(xn AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS dp,
        |         CAST(sum(CAST(CAST(xq AS DOUBLE) * CAST(xq AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS nq,
        |         CAST(sum(CAST(CAST(xn AS DOUBLE) * CAST(xn AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS nn
        |  FROM elems GROUP BY qid, nid),
        |sims AS (
        |  SELECT qid, nid, round(dp / (sqrt(nq) * sqrt(nn)), 3) AS sim FROM dots)
        |SELECT qid, nid, sim, rn FROM (
        |  SELECT qid, nid, sim,
        |         CAST(row_number() OVER (PARTITION BY qid
        |                                 ORDER BY sim DESC, nid) AS BIGINT) AS rn
        |  FROM sims)
        |WHERE rn <= 2 ORDER BY qid, rn""".stripMargin,
    "q96_ann_banded" ->
      """WITH b AS (
        |  SELECT vec_id, embedding,
        |         array_to_string(list_transform(embedding[1:8],
        |             x -> CAST(CAST(x >= 0 AS INT) AS VARCHAR)), '') AS b0,
        |         array_to_string(list_transform(embedding[9:16],
        |             x -> CAST(CAST(x >= 0 AS INT) AS VARCHAR)), '') AS b1
        |  FROM embeddings),
        |keys AS (
        |  SELECT vec_id, unnest(['0|' || b0, '1|' || b1]) AS bk FROM b),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
        |  FROM keys a JOIN keys c ON a.bk = c.bk AND a.vec_id < c.vec_id),
        |elems AS (
        |  SELECT id_a, id_b, unnest(ea.embedding) AS xa, unnest(eb.embedding) AS xb
        |  FROM cand JOIN embeddings ea ON cand.id_a = ea.vec_id
        |            JOIN embeddings eb ON cand.id_b = eb.vec_id),
        |dots AS (
        |  SELECT id_a, id_b,
        |         CAST(sum(CAST(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS dp,
        |         CAST(sum(CAST(CAST(xa AS DOUBLE) * CAST(xa AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS na,
        |         CAST(sum(CAST(CAST(xb AS DOUBLE) * CAST(xb AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS nb
        |  FROM elems GROUP BY id_a, id_b)
        |SELECT id_a, id_b, round(dp / (sqrt(na) * sqrt(nb)), 3) AS sim
        |FROM dots
        |WHERE round(dp / (sqrt(na) * sqrt(nb)), 3) >= 0.35
        |ORDER BY id_a, id_b""".stripMargin,
    "q94_embedding_neardup" ->
      """WITH meta AS (
        |  SELECT least(min(len(embedding)), greatest(8,
        |    CASE WHEN CAST(ceil(count(*) / 64.0) AS BIGINT) <= 1 THEN 0
        |         ELSE length(bin(CAST(ceil(count(*) / 64.0) AS BIGINT) - 1)) END)) AS w
        |  FROM embeddings),
        |b AS (
        |  SELECT vec_id, embedding,
        |         array_to_string(list_transform(embedding[1:(SELECT w FROM meta)],
        |             x -> CAST(CAST(x >= 0 AS INT) AS VARCHAR)), '') AS bucket
        |  FROM embeddings),
        |cand AS (
        |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
        |         a.embedding AS ea, b2.embedding AS eb
        |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
        |elems AS (
        |  SELECT id_a, id_b,
        |         unnest(ea) AS xa, unnest(eb) AS xb
        |  FROM cand),
        |dots AS (
        |  SELECT id_a, id_b,
        |         CAST(sum(CAST(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS dp,
        |         CAST(sum(CAST(CAST(xa AS DOUBLE) * CAST(xa AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS na,
        |         CAST(sum(CAST(CAST(xb AS DOUBLE) * CAST(xb AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS nb
        |  FROM elems GROUP BY id_a, id_b)
        |SELECT id_a, id_b, round(dp / (sqrt(na) * sqrt(nb)), 3) AS sim
        |FROM dots
        |WHERE round(dp / (sqrt(na) * sqrt(nb)), 3) >= 0.35
        |ORDER BY id_a, id_b""".stripMargin,
    // q105: q94's edge set (same bucket/threshold CTEs) + recursive
    // transitive closure; a row per DROPPED vector, kept = component min
    "q105_semantic_dedup" ->
      """WITH RECURSIVE meta AS (
        |  SELECT least(min(len(embedding)), greatest(8,
        |    CASE WHEN CAST(ceil(count(*) / 64.0) AS BIGINT) <= 1 THEN 0
        |         ELSE length(bin(CAST(ceil(count(*) / 64.0) AS BIGINT) - 1)) END)) AS w
        |  FROM embeddings),
        |b AS (
        |  SELECT vec_id, embedding,
        |         array_to_string(list_transform(embedding[1:(SELECT w FROM meta)],
        |             x -> CAST(CAST(x >= 0 AS INT) AS VARCHAR)), '') AS bucket
        |  FROM embeddings),
        |cand AS (
        |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
        |         a.embedding AS ea, b2.embedding AS eb
        |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
        |elems AS (
        |  SELECT id_a, id_b, unnest(ea) AS xa, unnest(eb) AS xb FROM cand),
        |dots AS (
        |  SELECT id_a, id_b,
        |         CAST(sum(CAST(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS dp,
        |         CAST(sum(CAST(CAST(xa AS DOUBLE) * CAST(xa AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS na,
        |         CAST(sum(CAST(CAST(xb AS DOUBLE) * CAST(xb AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS nb
        |  FROM elems GROUP BY id_a, id_b),
        |edges AS (
        |  SELECT id_a AS a, id_b AS b FROM dots
        |  WHERE round(dp / (sqrt(na) * sqrt(nb)), 3) >= 0.35),
        |sym AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
        |reach(src, dst) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a)
        |SELECT src AS vec_id, least(src, min(dst)) AS kept
        |FROM reach GROUP BY src
        |HAVING src <> least(src, min(dst))
        |ORDER BY vec_id""".stripMargin,
    "q57_ivf_ann" ->
      """WITH cent AS (
        |  SELECT vec_id AS c_id, embedding AS c_emb
        |  FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |ae AS (
        |  SELECT e.vec_id, c.c_id, unnest(e.embedding) AS x, unnest(c.c_emb) AS y
        |  FROM embeddings e CROSS JOIN cent c),
        |adots AS (
        |  SELECT vec_id, c_id,
        |         CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS dp,
        |         CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS nx,
        |         CAST(sum(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS ny
        |  FROM ae GROUP BY vec_id, c_id),
        |ranked AS (
        |  SELECT vec_id, c_id,
        |         row_number() OVER (PARTITION BY vec_id
        |           ORDER BY round(dp / (sqrt(nx) * sqrt(ny)), 3) DESC, c_id) AS rn
        |  FROM adots),
        |assigned AS (
        |  SELECT vec_id, c_id AS cell FROM ranked WHERE rn = 1),
        |pcells AS (
        |  SELECT vec_id AS probe_id, c_id AS cell
        |  FROM ranked WHERE vec_id < 3 AND rn <= 2),
        |cand AS (
        |  SELECT p.probe_id, a.vec_id
        |  FROM pcells p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.probe_id),
        |ce AS (
        |  SELECT probe_id, cand.vec_id,
        |         unnest(ev.embedding) AS x, unnest(ep.embedding) AS y
        |  FROM cand JOIN embeddings ev ON cand.vec_id = ev.vec_id
        |            JOIN embeddings ep ON cand.probe_id = ep.vec_id),
        |cdots AS (
        |  SELECT probe_id, vec_id,
        |         CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS dp,
        |         CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS nx,
        |         CAST(sum(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS ny
        |  FROM ce GROUP BY probe_id, vec_id)
        |SELECT probe_id, vec_id, sim, rn FROM (
        |  SELECT probe_id, vec_id, round(dp / (sqrt(nx) * sqrt(ny)), 3) AS sim,
        |         CAST(row_number() OVER (PARTITION BY probe_id
        |           ORDER BY round(dp / (sqrt(nx) * sqrt(ny)), 3) DESC, vec_id) AS BIGINT) AS rn
        |  FROM cdots)
        |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin,
    // q123's oracle: cent0 = q57's md5-sample init over the source
    // frame, then LloydRounds unrolled stages — per round the
    // decimal-exact assignment dots (le/ld), the argmax cell (la: the
    // row_number form of the query's max_by — identical by the unique
    // (csim desc, c_id) tiebreak), the per-(cell, i) DECIMAL component
    // sums (lm), and the re-assembled float centroid list (round 6
    // then CAST AS FLOAT — bit-identical to the query's). The tail is
    // q57's probe text reading cent{LloydRounds}. Generated by
    // [[ivfKmeansOracleSql]], shared with q124 (whose source is the
    // PLANTED frame and whose dials are nprobe=1 over 10 probes).
    "q123_ivf_kmeans_ann" -> ivfKmeansOracleSql(
      "SELECT vec_id, embedding FROM embeddings", nprobe = 2, probeMax = 3),
    // q124's oracle: the same machinery over the planted clustered
    // fixture — the per-dimension formula is [[PlantedDimSql]], the
    // IDENTICAL text the Spark declaration evaluates.
    "q124_ivf_planted_recall" -> ivfKmeansOracleSql(
      "SELECT vec_id, list_transform(generate_series(0, 15), d -> " +
        s"$PlantedDimSql) AS embedding FROM embeddings WHERE vec_id < 400",
      nprobe = 1, probeMax = 10),
    "q91_ann_bucketed" ->
      """WITH meta AS (
        |  SELECT least(min(len(embedding)), greatest(8,
        |    CASE WHEN CAST(ceil(count(*) / 64.0) AS BIGINT) <= 1 THEN 0
        |         ELSE length(bin(CAST(ceil(count(*) / 64.0) AS BIGINT) - 1)) END)) AS w
        |  FROM embeddings),
        |b AS (
        |  SELECT vec_id, embedding,
        |         array_to_string(list_transform(embedding[1:(SELECT w FROM meta)],
        |             x -> CAST(CAST(x >= 0 AS INT) AS VARCHAR)), '') AS bucket
        |  FROM embeddings),
        |probes AS (
        |  SELECT vec_id AS probe_id, embedding AS p, bucket AS p_bucket
        |  FROM b WHERE vec_id < 3),
        |cand AS (
        |  SELECT p.probe_id, a.vec_id, a.embedding, p.p
        |  FROM b a JOIN probes p
        |    ON a.bucket = p.p_bucket AND a.vec_id <> p.probe_id),
        |elems AS (
        |  SELECT probe_id, vec_id,
        |         generate_subscripts(embedding, 1) AS i,
        |         unnest(embedding) AS ev, unnest(p) AS pv
        |  FROM cand),
        |dots AS (
        |  SELECT probe_id, vec_id,
        |         CAST(sum(CAST(CAST(ev AS DOUBLE) * CAST(pv AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS dp,
        |         CAST(sum(CAST(CAST(ev AS DOUBLE) * CAST(ev AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS na,
        |         CAST(sum(CAST(CAST(pv AS DOUBLE) * CAST(pv AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS np
        |  FROM elems GROUP BY probe_id, vec_id),
        |sims AS (
        |  SELECT probe_id, vec_id, round(dp / (sqrt(na) * sqrt(np)), 3) AS sim
        |  FROM dots)
        |SELECT probe_id, vec_id, sim, rn FROM (
        |  SELECT probe_id, vec_id, sim,
        |         CAST(row_number() OVER (PARTITION BY probe_id
        |                                 ORDER BY sim DESC, vec_id) AS BIGINT) AS rn
        |  FROM sims)
        |WHERE rn <= 3 ORDER BY probe_id, rn""".stripMargin
  )
}
