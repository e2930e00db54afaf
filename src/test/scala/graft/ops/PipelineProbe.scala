package graft.ops

import org.apache.spark.sql.functions._

/** Composed-pipeline decade probe (test-scoped main) — wall-clock and
  * output volume for the r12 TrainingPipeline shape (span scrub,
  * domain mixing and training-order export ON) at corpus decades. The per-stage queries all have canonical soak
  * rows; THIS measures their composition — shared scans, cache
  * contracts, and stage interleaving included — which per-query rows
  * cannot attribute.
  *
  * Usage: sbt "Test/runMain graft.ops.PipelineProbe <sfDir> [...]"
  * (decade dirs built by [[ScaleCorpus]], documents table only).
  * Env: SPARK_GRAFT_CPUS (16). Non-audit mode (one lazy graph; the
  * probe's three actions — survivors, bins, order — are the
  * materialization a production run performs).
  *
  * Laws checked inline: order rows == survivor rows (the export stage
  * carries exactly the survivor set), bins non-empty, survivors > 0.
  */
object PipelineProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PipelineProbe <sfDir> [<sfDir> ...]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.localSession(cpus, cpus)
    graft.functions.VectorExpressions.ensureRegistered(spark)

    for (dir <- args) {
      val docs = graft.model.Tables(spark, dir, "documents")
      val train = docs.filter(col("doc_id") % 2 === 0)
      val eval_ = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
      // the r12 record's stage set (replayable baseline)
      val cfg = TrainingPipeline.Config(audit = false,
        scrubDupSpans = true, mixTokenBudgetFrac = Some(0.5),
        exportOrderSeed = Some("probe"), exportShards = 64)
      val t0 = System.nanoTime()
      val res = TrainingPipeline.prepare(train, eval_, cfg)
      val nSurv = res.survivors.count()
      val nBins = res.packed.count()
      val nOrder = res.order.get.count()
      val wall = (System.nanoTime() - t0) / 1e9
      res.cleanup()
      spark.catalog.clearCache()
      require(nOrder == nSurv,
        s"export law violated: order=$nOrder survivors=$nSurv")
      require(nSurv > 0 && nBins > 0, s"empty pipeline output at $dir")
      println(f"[pipeline-probe] $dir shape=r12 wall=$wall%.1fs " +
        f"survivors=$nSurv bins=$nBins order=$nOrder")
    }
    spark.stop()
  }
}
