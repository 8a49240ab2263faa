package graft.tools

import java.io.PrintWriter
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: capture `.explain("formatted")` for a set of registry
  * queries into files — the before/after plan receipts an optimization
  * round commits under `plans/r<N>/` (the judge reads these instead of
  * running Spark). Each query is EXECUTED first so the formatted output
  * carries the AQE-final plan (`isFinalPlan=true` — join strategy
  * rewrites and coalesced reads included), not the tentative pre-run
  * plan.
  *
  * Usage: runMain graft.tools.PlanSnap <sfDir> <outDir> <suffix> <q1,q2,...>
  *   → writes <outDir>/<query>_<suffix>.txt per query.
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanSnap <sfDir> <outDir> <suffix> <q1,q2,...>")
    val Array(sfDir, outDir, suffix, qlist) = args.take(4)
    val names = qlist.split(",").map(_.trim).filter(_.nonEmpty)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // fixed local[8] shape, not the box's cores: plan receipts stay
    // comparable across rounds
    val spark = graft.LocalSession(
      "spark.master" -> "local[8]", "spark.sql.shuffle.partitions" -> "8")
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.count() // finalize AQE so the dump shows the executed plan
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val out = new PrintWriter(s"$outDir/${name}_$suffix.txt")
      try { out.println(s"== $name  (sf=$sfDir, explain formatted, AQE-final) ==\n"); out.println(txt) }
      finally out.close()
      graft.Barrier.release(spark)
      spark.catalog.clearCache()
      println(s"[plansnap] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
