package graft.ops

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Trained-IVF contract on the real embeddings: every vector lands in
  * exactly one of k cells; search results are exactly the brute-force
  * cosine top-k RESTRICTED to the probed cells (implementation
  * exactness — recall is the nprobe dial, not a correctness claim); and
  * raising nprobe to k recovers the full brute-force answer.
  */
class IvfIndexSpec extends SparkSpec {

  private def fsOf(store: String) = new org.apache.hadoop.fs.Path(store)
    .getFileSystem(spark.sessionState.newHadoopConf())

  /** The store's current (highest-numbered) meta file. */
  private def metaFile(store: String) =
    IvfIndex.metaPath(fsOf(store), store).get

  test("Lloyd training improves the quantizer objective vs the md5 sample (r15 VERDICT #3 law)") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val emb = graft.model.Tables(spark, sf(), "embeddings")
    def meanAssignCos(cent: org.apache.spark.sql.DataFrame): Double =
      Similarity.assignCells(emb, cent)
        .agg(avg(col("csim"))).head().getDouble(0)
    val sampled = meanAssignCos(Similarity.md5Centroids(emb, 8))
    val trained = meanAssignCos(
      Similarity.lloydCentroids(emb, 8, Similarity.LloydRounds))
    // the k-means objective — the SAME statistic IvfIndex.Meta records
    // as meanAssignCosine for drift detection — must improve under
    // training (Lloyd monotonicity, surviving the round-3/round-6
    // determinism rounding). Measured 0.19 → 0.26 at sf0.001.
    assert(trained > sampled,
      s"trained mean assign cosine $trained <= sampled $sampled")
    // Small-nprobe recall is NOT asserted, deliberately: this corpus is
    // unit-norm near-isotropic (pairwise cosine 0.0 ± 0.125), so cells
    // carry no neighbor structure for training to exploit — measured
    // recall@3 at nprobe = 2 over the 3 probes is 0.22 trained vs 0.56
    // sampled (9 truth pairs, noise-level). The honest record lives at
    // lloydCentroids' scaladoc; the any-data invariant is below.
  }

  test("on the planted clustered fixture, training IMPROVES recall@3 over the md5 sample (q124's claim)") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    // the fixture where the recall claim is provable: anisotropic
    // clusters whose sampled corpus points are edge-heavy poor
    // representatives (Similarity.PlantedDimSql — the q124 frame)
    val emb = Similarity.plantedEmbeddings(spark, sf())
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
    val truth = emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(expr("vec_cosine(embedding, p)"), 3).as("sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
    def recall(cent: org.apache.spark.sql.DataFrame): Double = {
      val got = Similarity.ivfSearch(emb, cent, nprobe = 1, topK = 3,
          probeMax = 10)
        .select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val sampled = recall(Similarity.md5Centroids(emb, 8))
    val trained = recall(
      Similarity.lloydCentroids(emb, 8, Similarity.LloydRounds))
    // design-sim values: 0.80 sampled, 1.00 trained (30 truth pairs).
    // The LAW is strict improvement; the floor is deliberately 0.95,
    // not equality (r16 ADVICE #3): a future fixture-dial tweak that
    // keeps trained > sampled but lands at e.g. 0.97 is not a
    // regression — re-derive the floor with the design sims
    // (tools/planted_sim.py) whenever the dials change.
    assert(trained > sampled,
      s"trained recall@3 $trained <= sampled $sampled on the planted fixture")
    assert(trained >= 0.95, s"trained recall@3 $trained < 0.95")
  }

  test("on the round-separating fixture, recall@3 is STRICTLY monotone in Lloyd rounds (r16 VERDICT #3)") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    // q124's fixture saturates (1 and 2 rounds both hit 1.0), so its
    // law cannot catch LloydRounds silently degrading to 1. THIS
    // fixture (Similarity.RoundSepDimSql — dials scanned with
    // tools/planted_sim.py until rounds 0/1/2 separate strictly below
    // the ceiling) can: sim-predicted recall@3 over 20 probes at
    // nprobe = 1 is 0.800 sampled, 0.917 after 1 round, 0.950 after 2.
    val emb = Similarity.roundSepEmbeddings(spark, sf())
    val probes = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
    val truth = emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(expr("vec_cosine(embedding, p)"), 3).as("sim"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
    def recall(rounds: Int): Double = {
      val cent =
        if (rounds == 0) Similarity.md5Centroids(emb, 8)
        else Similarity.lloydCentroids(emb, 8, rounds)
      val got = Similarity.ivfSearch(emb, cent, nprobe = 1, topK = 3,
          probeMax = 20)
        .select("probe_id", "vec_id").as[(Long, Long)].collect().toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val r = (0 to 2).map(recall)
    assert(r(0) < r(1) && r(1) < r(2) && r(2) < 1.0,
      s"recall@3 not strictly monotone below 1.0 across Lloyd rounds: " +
        s"sampled ${r(0)}, 1-round ${r(1)}, 2-round ${r(2)} " +
        "(re-derive the fixture with tools/planted_sim.py)")
  }

  test("assignCells' max_by argmax IS the per-vector window argmax (r17 ivfSearch rework's tiebreak identity)") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    val emb = graft.model.Tables(spark, sf(), "embeddings")
    val cent = Similarity.md5Centroids(emb, 8)
    // the OLD ivfSearch assignment: rank every vector's K cosines with
    // a row_number window ordered (csim desc, c_id) and keep rn = 1 —
    // the formulation the r17 rework replaced with assignCells'
    // map-side-combinable max_by. The orders are both unique (c_id
    // breaks every tie), so the two argmaxes must agree row for row;
    // this law is what lets the rework claim "hashes unchanged" by
    // construction rather than by luck.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("csim").desc, col("c_id"))
    val viaWindow = emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("c_id"),
        round(expr("vec_cosine(embedding, c_emb)"), 3).as("csim"))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("c_id"))
      .as[(Long, Long)].collect().toSet
    val viaAgg = Similarity.assignCells(emb, cent)
      .select("vec_id", "cell").as[(Long, Long)].collect().toSet
    assert(viaAgg == viaWindow,
      s"aggregate argmax diverged from window argmax: " +
        s"${viaAgg.diff(viaWindow)} vs ${viaWindow.diff(viaAgg)}")
  }

  test("probing all k cells with trained centroids recovers brute force exactly") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    val emb = graft.model.Tables(spark, sf(), "embeddings")
    val probes = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
    val truth = emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(expr("vec_cosine(embedding, p)"), 3).as("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("probe_id", "vec_id", "sim", "rn")
      .as[(Long, Long, Double, Long)].collect().toSet
    val cent = Similarity.lloydCentroids(emb, 8, Similarity.LloydRounds)
    val got = Similarity.ivfSearch(emb, cent, nprobe = 8, topK = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got == truth,
      s"all-cells IVF diverged from brute force:\n$got\nvs\n$truth")
  }

  test("build partitions the corpus; search is exact within probed cells") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    val emb = graft.model.Tables(spark, sf(), "embeddings")
    val n = emb.count()
    val store = Files.createTempDirectory("ivf_trained").toString
    val model = IvfIndex.build(emb, k = 8, store)

    // every vector stored exactly once, 8 cells on disk
    val stored = spark.read.parquet(store)
    assert(stored.count() == n)
    assert(stored.select("cell").distinct().count() <= 8)
    assert(stored.select("vec_id").distinct().count() == n)

    val probes = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("probe_id"), col("embedding"))

    val got = IvfIndex.search(spark, store, model, probes, nprobe = 2, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq

    // brute force over the SAME probed cells must agree row for row
    val cents = model.clusterCenters.zipWithIndex.toSeq
      .map { case (v, i) => (i, v.toArray.map(_.toFloat)) }
      .toDF("cell", "c_emb")
    val wCell = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("csim").desc, col("cell"))
    val probeCells = probes.crossJoin(cents)
      .select(col("probe_id"), col("embedding").as("p_emb"), col("cell"),
        expr("vec_cosine(embedding, c_emb)").as("csim"))
      .withColumn("crn", row_number().over(wCell))
      .filter(col("crn") <= 2)
      .select(col("probe_id"), col("p_emb"), col("cell"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
    val expect = stored.join(probeCells, Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        expr("vec_cosine(embedding, p_emb)").as("sim"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("probe_id"), col("rank"), col("vec_id"),
        round(col("sim"), 4).as("sim"))
      .as[(Long, Long, Long, Double)].collect().toSeq

    assert(got.sorted == expect.sorted && got.nonEmpty)

    // nprobe = k ⇒ the probed-cell restriction vanishes: must equal the
    // full-corpus brute-force top-k
    val full = IvfIndex.search(spark, store, model, probes, nprobe = 8, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
    val brute = emb.crossJoin(probes.select(col("probe_id"), col("embedding").as("p_emb")))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        expr("vec_cosine(embedding, p_emb)").as("sim"))
      .withColumn("rank", row_number().over(wAll).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("probe_id"), col("rank"), col("vec_id"),
        round(col("sim"), 4).as("sim"))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(full.sorted == brute.sorted)
  }

  test("append adds vectors into existing cells; search finds them; drift check fires on shifted data") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    val emb = graft.model.Tables(spark, sf(), "embeddings")
    val n = emb.count()
    val store = Files.createTempDirectory("ivf_append").toString
    val model = IvfIndex.build(emb, k = 8, store)

    // in-distribution batch: clones of existing vectors under fresh ids —
    // same distribution by construction, so no retrain recommendation
    val clones = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val rep = IvfIndex.append(clones, model, store)
    assert(rep.appended == 10)
    assert(spark.read.parquet(store).count() == n + 10)
    assert(!rep.retrainRecommended,
      s"clone batch flagged as drift: batch=${rep.meanAssignCosine} baseline=${rep.baselineMeanCosine}")

    // a clone is its original's exact cosine-1 twin: probing with the
    // original must surface the appended clone at rank 1
    val probe = emb.filter(col("vec_id") === 3)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val top = IvfIndex.search(spark, store, model, probe, nprobe = 2, topK = 1)
      .select("vec_id").as[Long].collect()
    assert(top.sameElements(Array(100003L)),
      s"expected the appended clone at rank 1, got ${top.mkString(",")}")

    // drifted batch: negated vectors — cos(-x, c) = -cos(x, c), so the
    // best-cell cosine flips to -min over centroids: far below baseline
    val negated = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + 200000L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    val drifted = IvfIndex.append(negated, model, store)
    assert(drifted.meanAssignCosine < drifted.baselineMeanCosine - 0.05)
    assert(drifted.retrainRecommended)

    // empty batch: valid no-op — nothing written, nothing recommended
    val before = spark.read.parquet(store).count()
    val empty = IvfIndex.append(emb.filter(col("vec_id") < 0)
      .select(col("vec_id"), col("embedding")), model, store)
    assert(empty.appended == 0 && !empty.retrainRecommended)
    assert(spark.read.parquet(store).count() == before)

    // a store without the drift baseline refuses BEFORE mutating: a
    // post-failure retry must not duplicate the batch
    val fs = fsOf(store)
    while (IvfIndex.metaPath(fs, store).nonEmpty)
      fs.delete(metaFile(store), false)
    val e = intercept[IllegalStateException] {
      IvfIndex.append(clones, model, store)
    }
    assert(e.getMessage.contains("rebuild"))
    assert(spark.read.parquet(store).count() == before,
      "failed append must not have written")
  }

  test("append refuses a model whose k disagrees with the store's recorded quantizer") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val emb = graft.model.Tables(spark, sf(), "embeddings")
    val store = Files.createTempDirectory("ivf_identity").toString
    IvfIndex.build(emb, k = 8, store)
    val n = spark.read.parquet(store).count()

    // a quantizer trained with a different k: appending under it would
    // mix two cell numberings in one store — must fail BEFORE writing
    val otherStore = Files.createTempDirectory("ivf_identity_other").toString
    val wrongModel = IvfIndex.build(emb, k = 4, otherStore)
    val batch = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 300000L).as("vec_id"), col("embedding"))
    val e = intercept[IllegalStateException] {
      IvfIndex.append(batch, wrongModel, store)
    }
    assert(e.getMessage.contains("mismatch") && e.getMessage.contains("k=8"))
    assert(spark.read.parquet(store).count() == n,
      "mismatched append must not have written")

    // the store's recorded identity round-trips through the versioned meta
    val meta = IvfIndex.readMeta(spark, store)
    assert(meta.version == 3 && meta.k == 8 && meta.dim > 0 && meta.trainN > 0)
    assert(meta.centroidSha.length == 64)
  }

  test("append refuses a reseeded model even when k and dim agree " +
      "(centroid identity, not shape, pins the cell numbering)") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val emb = graft.model.Tables(spark, sf(), "embeddings")
    val store = Files.createTempDirectory("ivf_sha").toString
    IvfIndex.build(emb, k = 8, store, seed = 42L)
    val n = spark.read.parquet(store).count()

    // same k, same dim, different seed — a k/dim-only identity check
    // would let this model interleave a foreign cell numbering
    val otherStore = Files.createTempDirectory("ivf_sha_other").toString
    val reseeded = IvfIndex.build(emb, k = 8, otherStore, seed = 43L)
    assert(IvfIndex.centroidSha(reseeded) !=
      IvfIndex.readMeta(spark, store).centroidSha,
      "fixture assumption: seeds 42/43 must train different centroids")
    val batch = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 500000L).as("vec_id"), col("embedding"))
    val e = intercept[IllegalStateException] {
      IvfIndex.append(batch, reseeded, store)
    }
    assert(e.getMessage.contains("centroid mismatch"))
    assert(spark.read.parquet(store).count() == n,
      "mismatched append must not have written")

    // pre-sha v2 meta (k/dim/trainN but no centroid_sha): identity falls
    // back to the shape check, so the reseeded append PROCEEDS — the
    // refusal above is exactly what v3 adds
    val p = metaFile(store)
    val fs = fsOf(store)
    val m = IvfIndex.readMeta(spark, store)
    val out = fs.create(p, true)
    try out.write(
      (s"""{"version": 2, "k": ${m.k}, "dim": ${m.dim}, """ +
        s""""train_n": ${m.trainN}, "mean_assign_cosine": ${m.meanAssignCosine}}""")
        .getBytes("UTF-8"))
    finally out.close()
    assert(IvfIndex.readMeta(spark, store).centroidSha.isEmpty)
    val rep = IvfIndex.append(batch, reseeded, store)
    assert(rep.appended == 5)
  }

  test("training is deterministic: same seed reproduces the exact " +
      "centroids; the sha certifies it") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val emb = graft.model.Tables(spark, sf(), "embeddings")
    val s1 = Files.createTempDirectory("ivf_det1").toString
    val s2 = Files.createTempDirectory("ivf_det2").toString
    val m1 = IvfIndex.build(emb, k = 8, s1, seed = 7L)
    val m2 = IvfIndex.build(emb, k = 8, s2, seed = 7L)
    // exact-bits equality (the sha hashes doubleToLongBits): a rebuild
    // with the same seed can append into either store
    assert(IvfIndex.centroidSha(m1) == IvfIndex.centroidSha(m2))
    assert(IvfIndex.readMeta(spark, s1).centroidSha ==
      IvfIndex.readMeta(spark, s2).centroidSha)
  }

  test("calibrate measures a monotone recall curve reaching exactly 1.0 " +
      "at nprobe = k, persists it (meta v4), and is deterministic") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val emb = graft.model.Tables(spark, sf(), "embeddings")
    val store = Files.createTempDirectory("ivf_calib").toString
    val model = IvfIndex.build(emb, k = 8, store)

    val rep = IvfIndex.calibrate(spark, store, model,
      nprobes = Seq(1, 2, 4, 8), topK = 3, sampleProbes = 20)
    assert(rep.topK == 3 && rep.probes == 20)
    assert(rep.curve.map(_._1) == Seq(1, 2, 4, 8))
    // monotone: widening the probed cells can only gain truth hits
    assert(rep.curve.map(_._2) == rep.curve.map(_._2).sorted)
    assert(rep.curve.forall { case (_, r) => r >= 0.0 && r <= 1.0 })
    // nprobe = k probes every cell: the candidate restriction vanishes,
    // so recall is exactly 1.0, not approximately
    assert(rep.curve.last == (8, 1.0))

    // persisted round-trip
    val meta = IvfIndex.readMeta(spark, store)
    assert(meta.version == 4 && meta.recallTopK == 3)
    assert(meta.recallCurve == rep.curve)
    // identity fields survive the v4 rewrite
    assert(meta.k == 8 && meta.centroidSha.length == 64)

    // bit-identical re-measurement (total orders + integer hit counts)
    val rep2 = IvfIndex.calibrate(spark, store, model,
      nprobes = Seq(1, 2, 4, 8), topK = 3, sampleProbes = 20)
    assert(rep2.curve == rep.curve)
  }

  test("searchAtRecall resolves a target through the calibrated curve; " +
      "uncalibrated stores refuse") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    val emb = graft.model.Tables(spark, sf(), "embeddings")
    val store = Files.createTempDirectory("ivf_target").toString
    val model = IvfIndex.build(emb, k = 8, store)

    // before calibration: fail loudly, never guess an nprobe
    val probes = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val e = intercept[IllegalStateException] {
      IvfIndex.searchAtRecall(spark, store, model, probes,
        recallTarget = 0.9, topK = 3)
    }
    assert(e.getMessage.contains("calibrate"))

    val rep = IvfIndex.calibrate(spark, store, model,
      nprobes = Seq(1, 2, 4, 8), topK = 3, sampleProbes = 20)
    // minimal nprobe meeting the target; unreachable target → best effort
    assert(IvfIndex.nprobeFor(spark, store, 0.0) == 1)
    assert(IvfIndex.nprobeFor(spark, store, 1.0) ==
      rep.curve.find(_._2 >= 1.0).get._1)
    assert(IvfIndex.nprobeFor(spark, store, 1.1) == 8)
    val midTarget = rep.curve(1)._2 // exactly the nprobe=2 measured recall
    assert(IvfIndex.nprobeFor(spark, store, midTarget) <= 2)

    // the dial is sugar over search: identical rows at the resolved nprobe
    val byTarget = IvfIndex.searchAtRecall(spark, store, model, probes,
        recallTarget = midTarget, topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val byNprobe = IvfIndex.search(spark, store, model, probes,
        nprobe = IvfIndex.nprobeFor(spark, store, midTarget), topK = 3)
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    assert(byTarget == byNprobe && byTarget.nonEmpty)
  }

  test("calibrate refuses a foreign model and leaves the meta unwritten") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val emb = graft.model.Tables(spark, sf(), "embeddings")
    val store = Files.createTempDirectory("ivf_calib_id").toString
    IvfIndex.build(emb, k = 8, store, seed = 42L)
    val otherStore = Files.createTempDirectory("ivf_calib_id_other").toString
    val reseeded = IvfIndex.build(emb, k = 8, otherStore, seed = 43L)
    val e = intercept[IllegalStateException] {
      IvfIndex.calibrate(spark, store, reseeded, topK = 3, sampleProbes = 10)
    }
    assert(e.getMessage.contains("centroid mismatch"))
    val meta = IvfIndex.readMeta(spark, store)
    assert(meta.version == 3 && meta.recallCurve.isEmpty,
      "a refused calibration must not have rewritten the meta")
  }

  test("legacy v1 meta (mean only) still reads and append proceeds without the identity check") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val emb = graft.model.Tables(spark, sf(), "embeddings")
    val store = Files.createTempDirectory("ivf_legacy").toString
    val model = IvfIndex.build(emb, k = 8, store)

    // rewrite the meta in the pre-identity single-field shape
    val p = metaFile(store)
    val fs = fsOf(store)
    val baseline = IvfIndex.readMeta(spark, store).meanAssignCosine
    val out = fs.create(p, true)
    try out.write(s"""{"mean_assign_cosine": $baseline}""".getBytes("UTF-8"))
    finally out.close()

    val meta = IvfIndex.readMeta(spark, store)
    assert(meta.version == 1 && meta.k == -1 && meta.dim == -1 && meta.trainN == -1L)
    assert(meta.meanAssignCosine == baseline)

    // identity unknown ⇒ the drift contract still applies, nothing refuses
    val batch = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 400000L).as("vec_id"), col("embedding"))
    val rep = IvfIndex.append(batch, model, store)
    assert(rep.appended == 5 && !rep.retrainRecommended)
  }

  test("a pre-rename store's stale .crc sidecar never poisons the meta " +
      "(r13 ADVICE: checksum-created meta + rename rewrite)") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val emb = graft.model.Tables(spark, sf(), "embeddings")
    val store = Files.createTempDirectory("ivf_crc").toString
    val model = IvfIndex.build(emb, k = 4, store)

    // a meta created through the CHECKSUMMED fs drops a .crc sidecar
    // next to it; rewriting the bytes through the raw fs then leaves
    // that sidecar stale
    val p = metaFile(store)
    val fs = fsOf(store)
    val before = IvfIndex.readMeta(spark, store)
    val body = {
      val in = graft.streaming.NumberedFiles.rawFs(fs).open(p)
      val bos = new java.io.ByteArrayOutputStream()
      try {
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      bos.toByteArray
    }
    val out = fs.create(p, true) // checksummed create → .crc sidecar
    try out.write(body ++ "   ".getBytes("UTF-8")) finally out.close()
    val crc = new org.apache.hadoop.fs.Path(store, s".${p.getName}.crc")
    assert(fs.exists(crc), "precondition: checksummed create left a sidecar")
    val raw = graft.streaming.NumberedFiles.rawFs(fs).create(p, true)
    try raw.write(body) finally raw.close()
    // the raw-fs read never verifies the stale sidecar
    assert(IvfIndex.readMeta(spark, store) == before)

    // calibrate commits the next numbered meta; the store stays readable
    IvfIndex.calibrate(spark, store, model,
      nprobes = Seq(1, 4), topK = 2, sampleProbes = 5)
    val meta = IvfIndex.readMeta(spark, store) // must not ChecksumException
    assert(meta.recallCurve.nonEmpty && meta.version == 4)
  }

  test("a reader racing writeMeta reads the old or the new meta, never an error") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val emb = graft.model.Tables(spark, sf(), "embeddings")
    val store = Files.createTempDirectory("ivf_meta_race").toString
    IvfIndex.build(emb, k = 4, store)
    val base = IvfIndex.readMeta(spark, store)
    val writes = 300
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val reader = new Thread(() =>
      while (!done.get()) {
        try seen.add(IvfIndex.readMeta(spark, store).trainN)
        catch { case t: Throwable => failures.add(t) }
      })
    reader.start()
    try (1 to writes).foreach(i =>
      IvfIndex.writeMeta(spark, store, base.copy(trainN = base.trainN + i)))
    finally { done.set(true); reader.join() }
    assert(failures.isEmpty,
      s"${failures.size} reads failed, first: ${failures.peek()}")
    import scala.jdk.CollectionConverters._
    val ks = seen.asScala.toSeq
    assert(ks.nonEmpty && ks.zip(ks.drop(1)).forall { case (a, b) => a <= b })
    assert(IvfIndex.readMeta(spark, store).trainN == base.trainN + writes)
  }
}
