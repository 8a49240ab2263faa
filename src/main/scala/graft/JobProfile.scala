package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool: run one registry query (warmup + 1 timed rep) and print
  * every Spark job's wall time, stage count and task count — the
  * ground truth for "where does the per-round constant go" when
  * trimming iterative operators (VERDICT r8 item 7). Not part of the
  * shipped library surface; kept in main so `runMain` reaches it
  * without a test-scope detour.
  *
  * Usage: runMain graft.JobProfile <queryName> [sfDir]
  */
object JobProfile {

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q182_hits_scores")
    val sfDir =
      if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    val q = SparkEntry.queries(name)

    // warmup (codegen + JIT + parquet footers)
    q(spark, sfDir).count()
    Barrier.release(spark)
    spark.catalog.clearCache()

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        // stage names + task counts attribute the job to a plan step
        // (shuffle write site) far better than the empty callSite
        val st = js.stageInfos.map(si => s"${si.name.takeWhile(_ != ' ')}(${si.numTasks})")
          .mkString(",")
        jobs.put(js.jobId, (System.nanoTime(), s"$desc [$st]"))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.get(je.jobId)).foreach { case (t0, desc) =>
          done.add((je.jobId, (System.nanoTime() - t0) / 1e9, desc))
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val n = q(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let the listener bus drain
    spark.sparkContext.removeSparkListener(listener)
    println(f"== $name: rows=$n wall=$wall%.3f s, jobs=${done.size}, stages=${stages.get}, tasks=${tasks.get}")
    val rows = done.toArray(Array.empty[(Int, Double, String)]).sortBy(_._1)
    rows.foreach { case (id, sec, desc) =>
      println(f"  job $id%3d  $sec%7.3f s  ${desc.take(90)}")
    }
    println(f"  sum(job wall) = ${rows.map(_._2).sum}%.3f s (overlap possible)")
    Barrier.release(spark)
    spark.stop()
  }
}
