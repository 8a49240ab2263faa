package graft

/** Dev tool: run one registry query (warmup + 1 timed rep) and print
  * every Spark job's wall time, plus the run's completed stages and
  * tasks — the ground truth for "where does the per-round constant go"
  * when trimming iterative operators (VERDICT r8 item 7). "tasks" is
  * ended task attempts ([[RunCounters]]): retried and speculative
  * attempts count, tasks of skipped stages do not. Not part of the
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

    val counters = RunCounters.attach(spark.sparkContext)
    val t0 = System.nanoTime()
    val n = q(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    counters.settle()
    spark.sparkContext.removeSparkListener(counters)
    val rows = counters.jobs
    println(f"== $name: rows=$n wall=$wall%.3f s, jobs=${rows.size}, " +
      f"stages=${counters.stages.get}, tasks=${counters.tasks.get}")
    rows.foreach { case (id, sec, desc) =>
      println(f"  job $id%3d  $sec%7.3f s  ${desc.take(90)}")
    }
    println(f"  sum(job wall) = ${rows.map(_._2).sum}%.3f s (overlap possible)")
    Barrier.release(spark)
    spark.stop()
  }
}
