package graft

import java.nio.file.{Files, Paths}

/** Dev harness: dump `.explain("formatted")` for declared queries to
  * plans/<round>/<query>_<suffix>.txt — the optimization rounds' plan
  * evidence (judge checks plan claims against these files).
  *
  *   sbt "runMain graft.PlanDump q81_shingle_jaccard q100_dup_clusters"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  * SPARK_GRAFT_PLAN_DIR (default plans/r19), SPARK_GRAFT_PLAN_SUFFIX
  * (default "before"). Queries whose CONSTRUCTION runs jobs (the pipeline
  * family, BPE learners — SparkEntry's EAGERNESS EXCEPTION) pay that cost
  * here too; their dumped plan is the declared output frame's.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r19")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = localSession(cpus, cpus)
    Files.createDirectories(Paths.get(outDir))
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      // r19 ADVICE: a mistyped name must log-and-skip, not abort the
      // whole dump run with NoSuchElementException
      SparkEntry.queries.get(name) match {
        case None =>
          System.err.println(s"[plandump] unknown query name: $name (skipped)")
        case Some(fn) =>
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
          spark.catalog.clearCache()
          try {
            val plan = fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
              plan.getBytes("UTF-8"))
            System.err.println(s"[plandump] wrote $name")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
