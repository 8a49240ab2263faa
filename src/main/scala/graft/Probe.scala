package graft

import java.io.PrintWriter
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.operators.ExplainAdvisor

/** Dev probe over registry queries. Not part of the shipped library
  * surface; kept in main so `runMain` reaches it without a test-scope
  * detour.
  *
  *  - `jobs <query> [sfDir]`: one warm-up run, then one run that prints
  *    every Spark job's wall time plus the run's completed stages and
  *    tasks — the ground truth for "where does the per-round constant
  *    go" when trimming iterative operators. "tasks" is ended task
  *    attempts ([[RunCounters]]): retried and speculative attempts
  *    count, tasks of skipped stages do not. `sfDir` defaults to
  *    `SPARK_GRAFT_SF_DIR`, then sf0.1. Default session shape.
  *  - `plans <sfDir> <outDir> <suffix> <q1,q2,...>`: writes each query's
  *    AQE-final `explain("formatted")` to `<outDir>/<query>_<suffix>.txt`
  *    — the before/after plan receipts an optimization round commits
  *    under `plans/r<N>/`.
  *  - `plans`: regenerates PLANS.md — every registry query's AQE-final
  *    physical plan at sf0.001 under its [[Q.doc]] note, after the
  *    advisor's attribution-exemption table.
  *
  * Both plan modes run each query through [[ExplainAdvisor.executed]]
  * (the Dataset's own plan, so the dump is the executed plan with
  * `isFinalPlan=true`, join-strategy rewrites and coalesced reads
  * included) at a fixed `local[8]` shape, not the box's cores, so
  * plans stay comparable across rounds.
  */
object Probe {

  private val Usage =
    "usage: Probe jobs <query> [sfDir] | Probe plans [<sfDir> <outDir> <suffix> <q1,q2,...>]"

  def main(args: Array[String]): Unit = args.toList match {
    case "jobs" :: name :: sfDir if sfDir.size <= 1 =>
      jobs(name, sfDir.headOption.getOrElse(
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")))
    case "plans" :: Nil =>
      withPlanSession(plansMd)
    case "plans" :: sfDir :: outDir :: suffix :: qlist :: Nil =>
      val names = qlist.split(",").map(_.trim).filter(_.nonEmpty)
      Files.createDirectories(Paths.get(outDir))
      withPlanSession { spark =>
        names.foreach { name =>
          val path = s"$outDir/${name}_$suffix.txt"
          write(path, receipt(spark, name, sfDir))
          println(s"[probe] wrote $path")
        }
      }
    case _ => throw new IllegalArgumentException(Usage)
  }

  private def jobs(name: String, sfDir: String): Unit = {
    val spark = LocalSession()
    val q = SparkEntry.queries(name)

    // warmup (codegen + JIT + parquet footers)
    q(spark, sfDir).count()
    release(spark)

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

  private def withPlanSession(body: SparkSession => Unit): Unit = {
    val spark = LocalSession(
      "spark.master" -> "local[8]", "spark.sql.shuffle.partitions" -> "8")
    try body(spark) finally spark.stop()
  }

  /** Run `name` at `sfDir` and return its AQE-final formatted plan,
    * headed by one line naming query and scale. */
  def receipt(spark: SparkSession, name: String, sfDir: String): String = {
    val qe = ExplainAdvisor.executed(SparkEntry.queries(name)(spark, sfDir))
    val txt = qe.explainString(ExplainMode.fromString("formatted"))
    release(spark)
    s"== $name  (sf=$sfDir, explain formatted, AQE-final) ==\n\n$txt\n"
  }

  /** One PLANS.md section: the note, then the first 100 lines of the
    * AQE-final physical plan. */
  private def section(spark: SparkSession, q: Q, dir: String): String = {
    val p = ExplainAdvisor.executed(q.build(spark, dir)).executedPlan
    val fin = p match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case other => other
    }
    release(spark)
    val plan = fin.toString.linesIterator.take(100).mkString("\n").trim
    s"## ${q.name}\n\n${q.doc}\n\n```\n$plan\n```\n\n"
  }

  private def plansMd(spark: SparkSession): Unit = {
    val header =
      """# Final physical plans (sf0.001, AQE-finalized)
        |
        |Generated from `queryExecution.executedPlan` after execution: every
        |registry query's final plan under its `Q.doc` note (what it covers,
        |then how it scales). Regenerate with `graft.Probe plans`.
        |
        |""".stripMargin
    val sections = SparkEntry.registry.sortBy(_.name)
      .map(section(spark, _, "/root/testdata/sf0.001"))
    write("PLANS.md", header + advisorExemptions + "\n" + sections.mkString)
  }

  /** The advisor's named exemption table, rendered from the single
    * source of truth in [[ExplainAdvisor.attributionExemptions]] — the
    * same rows AdvisorSweep embeds machine-readably in ADVISOR_r*.json,
    * so prose and artifact cannot drift.
    */
  private def advisorExemptions: String = {
    // rows are appended after stripMargin, which would strip their "|"
    val rows = ExplainAdvisor.attributionExemptions
      .map { case (q, site, reason) => s"| $q | $site | $reason |\n" }
    """## Advisor attribution exemptions (the 11 `actual = -1` sites)
      |
      |`ExplainAdvisor` grades 264/275 join sites (96.0%, ADVISOR_r13.json) via
      |three attribution tiers (logicalLink / exact condition-exprId set /
      |unambiguous key-name set). The 11 residual sites, with verified reasons:
      |
      || query | site | reason |
      ||---|---|---|
      |""".stripMargin + rows.mkString
  }

  private def release(spark: SparkSession): Unit = {
    Barrier.release(spark)
    spark.catalog.clearCache()
  }

  private def write(path: String, text: String): Unit = {
    val out = new PrintWriter(path, "UTF-8")
    try out.print(text) finally out.close()
  }
}
