package graft.ops

import graft.model.ParquetSchema
import graft.streaming.NumberedFiles
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Real IVF (inverted-file) ANN index — the production form of q57's
  * coarse quantizer. q57's declared query stands in deterministic
  * md5-sampled centroids so the DuckDB oracle can replay it; HERE the
  * quantizer is actually TRAINED (MLlib KMeans, fixed seed) and the
  * inverted lists are materialized cell-partitioned, which is the layout
  * that makes ANN work at 100 TB:
  *
  *  - train on a sample (k-means over every vector is never needed — the
  *    quantizer only has to shape cells, `trainFraction` bounds the cost);
  *  - assign = one broadcast-model `transform` pass, embarrassingly
  *    parallel, no shuffle beyond the partitioned write;
  *  - store partitioned BY CELL: a probe reads `nprobe` cell directories
  *    via partition pruning (SimilarityStoreSpec proves the pruning
  *    mechanics; IvfIndexSpec proves them for this trained index) —
  *    query cost scales with nprobe/k of the corpus, not the corpus;
  *  - search = broadcast the k centroid vectors (k × dim floats), rank
  *    cells per probe, exact `vec_cosine` top-k inside the probed cells
  *    only. Recall is the standard IVF trade (raise nprobe); every
  *    returned distance is exact.
  */
object IvfIndex {

  /** Outcome of one incremental [[append]]: how the new batch fits the
    * EXISTING quantizer. `meanAssignCosine` is the batch's mean exact
    * cosine to its assigned centroids; `baselineMeanCosine` is the same
    * statistic at build time (from the store's meta file).
    * `retrainRecommended` fires when the batch sits more than
    * `driftTolerance` below the baseline — cells no longer shaped like
    * the data, so nprobe recall quietly degrades until a rebuild.
    */
  final case class AppendReport(appended: Long, meanAssignCosine: Double,
                                baselineMeanCosine: Double,
                                retrainRecommended: Boolean)

  // '_' prefix: invisible to parquet listing
  private val MetaPrefix = "_ivf_meta.json."

  /** The store's identity + drift baseline, persisted as versioned JSON
    * in `_ivf_meta.json.<n>` (the highest n is current). k/dim/trainN
    * identify the quantizer the store was laid out under — [[append]]
    * refuses a model that disagrees BEFORE writing (a wrong KMeansModel
    * would otherwise assign the batch into another store's cell
    * numbering silently, poisoning every later probe). v3 adds
    * `centroid_sha` — a hash of the exact centroid bits in cell
    * order — because k/dim equality is NOT
    * quantizer identity: two models trained with different seeds (or a
    * retrained model after drift) can share k and dim while numbering
    * cells completely differently, and a k/dim-only check would let them
    * interleave silently. Legacy v1 files (mean only) read as
    * k = dim = trainN = -1 and empty sha; v2 files read with empty sha
    * (identity check falls back to k/dim). v4 adds the MEASURED recall
    * curve ([[calibrate]]): `recall_topk` and `recall_curve` =
    * [[nprobe, recall@topk], ...] sorted by nprobe — what turns
    * [[searchAtRecall]]'s target into an nprobe instead of a hand dial.
    * A store written before the numbered files (one `_ivf_meta.json`)
    * reads as having no meta: rebuild it.
    */
  final case class Meta(version: Int, k: Int, dim: Int, trainN: Long,
                        meanAssignCosine: Double, centroidSha: String = "",
                        recallTopK: Int = -1,
                        recallCurve: Seq[(Int, Double)] = Nil)

  /** Outcome of one [[calibrate]] run: the measured recall@topK per
    * nprobe (sorted by nprobe), over `probes` store-sampled probes. */
  final case class CalibrationReport(topK: Int, probes: Int,
                                     curve: Seq[(Int, Double)])

  /** Hex SHA-256 over the centroid doubles' exact bits, in cell order —
    * the quantizer's identity. Any training difference (seed, data,
    * iterations) that moves ANY centroid by one ulp changes it.
    */
  private[ops] def centroidSha(model: KMeansModel): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(8)
    for (c <- model.clusterCenters; v <- c.toArray) {
      bb.clear(); bb.putLong(java.lang.Double.doubleToLongBits(v))
      md.update(bb.array())
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Train the coarse quantizer and write cell-partitioned inverted
    * lists. Returns the trained model (k centroid vectors live on the
    * driver — broadcast-sized by construction). Also records the
    * training-time mean assigned cosine in the store's meta file —
    * the drift baseline [[append]] compares against.
    */
  def build(emb: DataFrame, k: Int, store: String,
            trainFraction: Double = 1.0, seed: Long = 42L): KMeansModel = {
    val feat = emb.withColumn("features", array_to_vector(col("embedding")))
    val trainSet =
      if (trainFraction >= 1.0) feat else feat.sample(trainFraction, seed)
    val trainN = trainSet.count()
    val model = new KMeans()
      .setK(k).setSeed(seed).setFeaturesCol("features")
      .setPredictionCol("cell")
      // cosine BOTH here and in search's cell ranking: assigning cells by
      // Euclidean but probing by cosine would systematically exclude the
      // cell holding a probe's cosine-nearest neighbors (small-norm
      // vectors of all directions cluster Euclidean-near the origin),
      // degrading recall beyond the nprobe trade
      .setDistanceMeasure("cosine")
      .fit(trainSet)
    val assigned = model.transform(feat)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .persist()
    try {
      assigned.write.mode("overwrite").partitionBy("cell").parquet(store)
      writeMeta(assigned.sparkSession, store,
        Meta(3, model.clusterCenters.length, model.clusterCenters.head.size,
          trainN, meanAssignedCosine(assigned, model), centroidSha(model)))
    } finally assigned.unpersist()
    model
  }

  /** Incremental maintenance: assign a new batch with the EXISTING model
    * and append it into the cell partitions — no retrain, no rewrite of
    * existing files (the 100 TB growth path: corpus grows daily, the
    * quantizer retrains on drift, not on every arrival). The returned
    * report carries the drift check; on `retrainRecommended`, [[build]]
    * is the remedy (full re-layout — the cell assignment of OLD vectors
    * changes with the centroids, so there is no cheaper re-shard).
    */
  def append(emb: DataFrame, model: KMeansModel, store: String,
             driftTolerance: Double = 0.05): AppendReport = {
    val spark = emb.sparkSession
    // meta FIRST: a store without meta (not written by build, or meta
    // deleted) must fail BEFORE the batch lands — failing after the
    // write would leave the vectors in, and a retry post-repair would
    // silently duplicate every one of them in search results
    val meta = readMeta(spark, store)
    val baseline = meta.meanAssignCosine
    // identity check, same fail-before-write rule: a model whose k or
    // dimensionality disagrees with the store's recorded quantizer
    // would append under another layout's cell numbering
    requireModelMatches(meta, model, store)
    val assigned = model.transform(
        emb.withColumn("features", array_to_vector(col("embedding"))))
      .select(col("vec_id"), col("embedding"), col("cell"))
      .persist()
    try {
      val n = assigned.count()
      // empty batch: a valid daily-ingest outcome — no-op, no write, no
      // drift signal (NaN mean; NaN < x is false, so no recommendation)
      if (n == 0) return AppendReport(0L, Double.NaN, baseline,
        retrainRecommended = false)
      val meanCos = meanAssignedCosine(assigned, model)
      assigned.write.mode("append").partitionBy("cell").parquet(store)
      AppendReport(n, meanCos, baseline,
        retrainRecommended = meanCos < baseline - driftTolerance)
    } finally assigned.unpersist()
  }

  /** The fail-before-write identity gate shared by [[append]] and
    * [[calibrate]]: k/dim shape first (v2+ meta), then the exact
    * centroid-bits sha (v3+) — same k/dim does NOT mean same quantizer;
    * a reseeded or retrained model numbers cells completely differently,
    * and the hash is the only check that actually pins the layout.
    */
  private def requireModelMatches(meta: Meta, model: KMeansModel,
                                  store: String): Unit = {
    val (mk, mdim) = (model.clusterCenters.length, model.clusterCenters.head.size)
    if (meta.k >= 0 && (mk != meta.k || mdim != meta.dim))
      throw new IllegalStateException(
        s"model/store mismatch at $store: store was built with k=${meta.k} " +
          s"dim=${meta.dim} (train_n=${meta.trainN}), model has k=$mk dim=$mdim — " +
          "appending would mix cell numberings; rebuild the store with this " +
          "model or load the store's own model")
    if (meta.centroidSha.nonEmpty && centroidSha(model) != meta.centroidSha)
      throw new IllegalStateException(
        s"model/store centroid mismatch at $store: the model's centroids " +
          s"(k=$mk dim=$mdim) are not the ones this store was laid out " +
          "under (same shape, different training) — appending would mix " +
          "cell numberings; rebuild, or load the store's own model")
  }

  /** Measure the store's OWN recall@topK curve over the given nprobe
    * ladder and persist it into the store's meta (v4) — the measurement
    * that turns [[searchAtRecall]]'s recall target into an nprobe. Probes
    * are a deterministic md5-ordered sample of the store's own vectors
    * (salted differently from any centroid sampling; self-matches
    * excluded), ground truth is exact brute-force cosine top-k over the
    * whole store, and each ladder step runs the PRODUCTION [[search]] —
    * the curve measures exactly the machinery it later dials.
    *
    * Determinism: probe selection, truth and search all use total
    * orders ((sim desc, vec_id) tie-breaks), and recall is an integer
    * hit count over an integer denominator — two calibrations of the
    * same store write bit-identical curves (IvfIndexSpec).
    *
    * Monotonicity (also spec-proven): raising nprobe only widens each
    * probe's candidate cell set, and exact top-k over a superset can
    * only gain truth hits (any candidate outranking a truth member IS a
    * truth member), so the curve is non-decreasing and reaches exactly
    * 1.0 at nprobe = k.
    *
    * Cost: one store scan per ladder step plus one brute-force pass,
    * all bounded by `sampleProbes` — calibration is a build-time step,
    * run once per (re)build, not per query.
    */
  def calibrate(spark: SparkSession, store: String, model: KMeansModel,
                nprobes: Seq[Int] = Seq(1, 2, 4, 8),
                topK: Int = 10, sampleProbes: Int = 100): CalibrationReport = {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1),
      s"nprobes must be non-empty positives, got $nprobes")
    val meta = readMeta(spark, store)
    requireModelMatches(meta, model, store)
    val ladder = nprobes.distinct.sorted
    val stored = ParquetSchema.read(spark, store)
      .select(col("vec_id"), col("embedding")).persist()
    val probes = stored
      .withColumn("prk", md5(concat(col("vec_id").cast("string"), lit("|probe"))))
      .orderBy(col("prk"), col("vec_id")).limit(sampleProbes)
      .select(col("vec_id").as("probe_id"), col("embedding"))
      .persist()
    try {
      probes.count()
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
      val truth = stored
        .crossJoin(broadcast(probes.select(col("probe_id"),
          col("embedding").as("p_emb"))))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"),
          expr("vec_cosine(embedding, p_emb)").as("sim"))
        .withColumn("rn", row_number().over(wAll))
        .filter(col("rn") <= topK)
        .select("probe_id", "vec_id")
        .as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val denom = truth.valuesIterator.map(_.size).sum
      val curve = ladder.map { np =>
        val got = search(spark, store, model, probes, np, topK)
          .select("probe_id", "vec_id")
          .as[(Long, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val hits = truth.iterator.map { case (p, t) =>
          got.getOrElse(p, Set.empty[Long]).intersect(t).size
        }.sum
        np -> (if (denom == 0) 1.0 else hits.toDouble / denom)
      }
      writeMeta(spark, store,
        meta.copy(version = 4, recallTopK = topK, recallCurve = curve))
      CalibrationReport(topK, truth.size, curve)
    } finally { probes.unpersist(); stored.unpersist() }
  }

  /** The nprobe the store's calibrated curve prescribes for a recall
    * target: the SMALLEST measured nprobe whose recall@recall_topk meets
    * it, or the largest calibrated nprobe when the target exceeds the
    * best measured recall (best effort — widen [[calibrate]]'s ladder to
    * reach further). Fails loudly on an uncalibrated store: guessing an
    * nprobe would silently deliver unknown recall.
    */
  def nprobeFor(spark: SparkSession, store: String,
                recallTarget: Double): Int = {
    val meta = readMeta(spark, store)
    if (meta.recallCurve.isEmpty) throw new IllegalStateException(
      s"store $store has no recall curve — run IvfIndex.calibrate after " +
        "build to measure recall@k per nprobe; searchAtRecall refuses to " +
        "guess an nprobe for an unmeasured store")
    meta.recallCurve.find(_._2 >= recallTarget).map(_._1)
      .getOrElse(meta.recallCurve.last._1)
  }

  /** [[search]] with the nprobe dial replaced by a recall target,
    * resolved through the store's calibrated curve ([[nprobeFor]]).
    * The curve is measured at `recall_topk`; using a different `topK`
    * here is the standard approximation (recall@k curves move together
    * in k) — calibrate at the serving topK when the target is tight.
    */
  def searchAtRecall(spark: SparkSession, store: String, model: KMeansModel,
                     probes: DataFrame, recallTarget: Double,
                     topK: Int): DataFrame =
    search(spark, store, model, probes,
      nprobeFor(spark, store, recallTarget), topK)

  /** Mean exact cosine between vectors and their assigned centroids —
    * the cell-fit statistic behind the drift check. One broadcast join
    * against the k centroids, one avg; never shuffles the vectors.
    */
  private[ops] def meanAssignedCosine(assigned: DataFrame,
                                      model: KMeansModel): Double = {
    val spark = assigned.sparkSession
    graft.functions.VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    val cents = model.clusterCenters.zipWithIndex.toSeq
      .map { case (v, i) => (i, v.toArray.map(_.toFloat)) }
      .toDF("cell", "c_emb")
    assigned.join(broadcast(cents), Seq("cell"))
      .agg(avg(expr("vec_cosine(embedding, c_emb)")))
      .head().getDouble(0)
  }

  /** The store's current meta file: the highest-numbered one. */
  private[ops] def metaPath(fs: FileSystem, store: String): Option[Path] = {
    val root = new Path(store)
    NumberedFiles.list(fs, root, MetaPrefix).maxOption
      .map(n => new Path(root, s"$MetaPrefix$n"))
  }

  private[ops] def writeMeta(spark: SparkSession, store: String,
                             meta: Meta): Unit = {
    val root = new Path(store)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val curveJson =
      if (meta.recallCurve.isEmpty) ""
      else s""", "recall_topk": ${meta.recallTopK}, "recall_curve": """ +
        meta.recallCurve.map { case (np, r) => s"[$np,$r]" }
          .mkString("[", ",", "]")
    // calibrate rewrites the meta of a LIVE store: each version is a new
    // numbered file committed by exclusive rename, so a concurrent
    // readMeta always finds a complete one
    val n = NumberedFiles.list(fs, root, MetaPrefix).maxOption.fold(0L)(_ + 1)
    NumberedFiles.commit(fs, root, MetaPrefix, n,
      (s"""{"version": ${meta.version}, "k": ${meta.k}, "dim": ${meta.dim}, """ +
        s""""train_n": ${meta.trainN}, "mean_assign_cosine": ${meta.meanAssignCosine}, """ +
        s""""centroid_sha": "${meta.centroidSha}"$curveJson}""")
        .getBytes("UTF-8"))(
      s"meta $n already committed under $store — a concurrent build or " +
        "calibrate raced this one")
  }

  private[ops] def readMeta(spark: SparkSession, store: String): Meta = {
    val fs = new Path(store).getFileSystem(spark.sessionState.newHadoopConf())
    val p = metaPath(fs, store).getOrElse(throw new IllegalStateException(
      s"no $MetaPrefix<n> under $store — the store was not written by " +
        "IvfIndex.build (or the meta was deleted); rebuild to restore " +
        "the drift baseline"))
    // RAW fs open + read to EOF from one handle (the readManifest idiom):
    // metas are written sidecar-free, and pre-sizing from a separate
    // getFileStatus would be a TOCTOU the single handle avoids
    val in = graft.streaming.NumberedFiles.rawFs(fs).open(p)
    val bos = new java.io.ByteArrayOutputStream()
    try {
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    val json = new String(bos.toByteArray, "UTF-8")
    // flat single-object file written by writeMeta — a named-field
    // regex parse keeps this free of a JSON library dependency and,
    // unlike the old positional split, survives field additions
    def num(name: String): Option[Double] =
      ("\"" + name + "\"\\s*:\\s*(-?[0-9][0-9.eE+-]*)").r
        .findFirstMatchIn(json).map(_.group(1).toDouble)
    val mean = num("mean_assign_cosine").getOrElse(throw new IllegalStateException(
      s"$p has no mean_assign_cosine field: $json"))
    val sha = "\"centroid_sha\"\\s*:\\s*\"([0-9a-f]*)\"".r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    // v4 curve: the only nested array in the file — [nprobe, recall]
    // pairs after the recall_curve key, in written (nprobe-sorted) order
    val curve = json.indexOf("\"recall_curve\"") match {
      case -1 => Nil
      case i =>
        "\\[\\s*(\\d+)\\s*,\\s*(-?[0-9][0-9.eE+-]*)\\s*\\]".r
          .findAllMatchIn(json.substring(i))
          .map(m => (m.group(1).toInt, m.group(2).toDouble)).toSeq
    }
    Meta(num("version").map(_.toInt).getOrElse(1),
      num("k").map(_.toInt).getOrElse(-1),
      num("dim").map(_.toInt).getOrElse(-1),
      num("train_n").map(_.toLong).getOrElse(-1L), mean, sha,
      num("recall_topk").map(_.toInt).getOrElse(-1), curve)
  }

  /** Exact-cosine top-k search within the `nprobe` nearest cells of each
    * probe vector. `probes`: (probe_id, embedding). Output: one row per
    * (probe_id, rank) with the neighbor id and exact cosine.
    */
  def search(spark: SparkSession, store: String, model: KMeansModel,
             probes: DataFrame, nprobe: Int, topK: Int): DataFrame = {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    // k centroid vectors → a broadcast-joined literal table; cells rank
    // per probe by exact cosine on the centroid
    val cents = model.clusterCenters.zipWithIndex.toSeq
      .map { case (v, i) => (i, v.toArray.map(_.toFloat)) }
      .toDF("cell", "c_emb")
    val wCell = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("csim").desc, col("cell"))
    val probeCells = probes.crossJoin(broadcast(cents))
      .select(col("probe_id"), col("embedding").as("p_emb"), col("cell"),
        expr("vec_cosine(embedding, c_emb)").as("csim"))
      .withColumn("crn", row_number().over(wCell))
      .filter(col("crn") <= nprobe)
      .select(col("probe_id"), col("p_emb"), col("cell"))
    // the probe→cell list is small (|probes| × nprobe): broadcast it so
    // the inverted-list scan joins map-side; cell equality reaches the
    // parquet scan as a partition filter under dynamic pruning, or a
    // caller with one probe set can pre-filter cells explicitly
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("probe_id").orderBy(col("sim").desc, col("vec_id"))
    ParquetSchema.read(spark, store)
      .join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        expr("vec_cosine(embedding, p_emb)").as("sim"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("probe_id"), col("rank"), col("vec_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy(col("probe_id"), col("rank"))
  }
}
