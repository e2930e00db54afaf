package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}

/** Dev harness: run a declared query (construction + one noop write) with a
  * listener that prints every Spark JOB's duration and call site — the
  * per-stage cost breakdown PlanDump can't show for queries whose cost is
  * construction-time (the pipeline family, BPE learners, CC loop).
  *
  *   runMain graft.JobTrace q126_pipeline_pack
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  * SPARK_GRAFT_SHUFFLE_PARTITIONS (default cpus). Output (stderr), per job:
  *   [job] id=N dur=S.sss stages=K tasks=T site=<callSite.short>
  * and per stage `[stage] job=N ...`, or `job=?` for a stage no job
  * listed at its start and none was running when it was submitted.
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = localSession(cpus, parts)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val taskCounts = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    val running = new java.util.concurrent.ConcurrentSkipListSet[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        starts.put(j.jobId, (System.nanoTime(), site, j.stageIds.size))
        running.add(j.jobId)
        j.stageIds.foreach(sid => stageToJob.put(sid, j.jobId))
      }
      // a stage no job listed at its start (a resubmission) books under
      // the newest running job
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (!stageToJob.containsKey(s.stageInfo.stageId) && !running.isEmpty)
          stageToJob.put(s.stageInfo.stageId, running.last())
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val jid = Option(stageToJob.get(s.stageInfo.stageId))
        jid.foreach(j => taskCounts.merge(j.intValue, Integer.valueOf(s.stageInfo.numTasks),
          (a, b) => Integer.valueOf(a.intValue() + b.intValue())))
        val dur = (for (a <- s.stageInfo.completionTime;
                        b <- s.stageInfo.submissionTime) yield (a - b) / 1e3)
          .getOrElse(-1.0)
        System.err.println(
          f"[stage] job=${jid.fold("?")(_.toString)}%-4s id=${s.stageInfo.stageId}%-4d dur=$dur%7.3f " +
            f"tasks=${s.stageInfo.numTasks}%-4d name=${s.stageInfo.name.take(90)}")
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        running.remove(e.jobId)
        Option(starts.get(e.jobId)).foreach { case (t0, site, nStages) =>
          val dur = (System.nanoTime() - t0) / 1e9
          val nt = taskCounts.getOrDefault(e.jobId, 0)
          System.err.println(
            f"[job] id=${e.jobId}%-4d dur=$dur%7.3f stages=$nStages%-3d tasks=$nt%-5d site=$site")
        }
      }
    })
    for (name <- args) {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      System.err.println(s"=== $name construction ===")
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      System.err.println(f"=== $name construction done in ${(t1 - t0) / 1e9}%.3f s; action ===")
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      System.err.println(f"=== $name total ${(t2 - t0) / 1e9}%.3f s (action ${(t2 - t1) / 1e9}%.3f s) ===")
    }
    spark.stop()
  }
}
