package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skewed-data gate (VERDICT r9 item 4): every generated key
  * distribution was uniform-stride, so the skew machinery — q60's
  * salted join, q147's advisor, and the "AQE splits skewed partitions"
  * claim in SURVEY §9 — had never met a real power law. ScaleGen's
  * zipf mode now draws `o_custkey` from Zipf(s≈1) (head key ≈6% of all
  * orders at factor 10); this main runs the orders⋈customer join on
  * that data in the shape where AQE's OptimizeSkewedJoin is the
  * load-bearing defense and PROVES it fired:
  *
  *  - broadcast disabled (the too-big-to-broadcast dimension case —
  *    with broadcast on, a broadcast-hash join absorbs any key skew
  *    trivially and the claim is never tested) → sort-merge join on
  *    o_custkey;
  *  - AQE skew thresholds set to the sf-appropriate absolute sizes
  *    (the 256 MiB default is calibrated for TB-scale shuffles; the
  *    *ratio* the gate exercises — head partition ≫ median — is the
  *    same one a 100 TB run hits with defaults);
  *  - the executed plan is asserted to contain `skew=true` on the
  *    sort-merge join (the marker AQE stamps after splitting skewed
  *    partitions), and the artifact records the plan excerpt;
  *  - CORRECTNESS under the split: the same aggregate computed with
  *    AQE skew-join ON equals (rows + ContentHash) the broadcast-join
  *    result on the same data — the split must be invisible to
  *    semantics;
  *  - the UNIFORM dir runs the identical shape as a control: same
  *    thresholds, no skew marker — the gate detects the power law,
  *    not its own configuration.
  *
  * Usage: runMain graft.SkewCheck <uniformSfDir> <zipfSfDir> <out.json>
  * Env: SPARK_GRAFT_CPUS (local cores, default: all cores).
  */
object SkewCheck {

  /** The orders⋈customer revenue rollup, sort-merge-forced. */
  private def smjQuery(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice"))
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    ord.join(cust.hint("merge"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        Q.sumMoney(col("o_totalprice")).as("revenue"))
  }

  private def broadcastQuery(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice"))
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        Q.sumMoney(col("o_totalprice")).as("revenue"))
  }

  /** Run the SMJ shape, EXECUTE it, and inspect the final adaptive
    * plan for the skew-split marker. Returns (rows, hash, skewFired,
    * planExcerpt).
    */
  private def runSmj(spark: SparkSession, dir: String)
      : (Long, String, Boolean, String) = {
    // execute THIS frame to finalize ITS adaptive plan (a derived
    // hash-agg frame would finalize a different AdaptiveSparkPlan);
    // skew splits are stamped `skew=true` on the SortMergeJoin
    val plan = operators.ExplainAdvisor.executed(smjQuery(spark, dir))
      .executedPlan.toString
    val (rows, hash) = ContentHash.rowsAndHash(smjQuery(spark, dir))
    val fired = plan.contains("skew=true")
    val excerpt = plan.linesIterator
      .filter(l => l.contains("SortMergeJoin") || l.contains("AQEShuffleRead"))
      .mkString(" | ").take(500)
    (rows, hash, fired, excerpt)
  }

  def main(args: Array[String]): Unit = {
    val Array(uniformDir, zipfDir, outPath) = args
    val spark = LocalSession(
      // enough reduce partitions that the uniform residual mass cannot
      // drown the head key: at sf1, 1.5M orders / 128 ≈ 12k-row median
      // vs 12k + 87k head — the ≥3× head-vs-median ratio a 100 TB power
      // law shows against the 256 MiB default threshold
      "spark.sql.shuffle.partitions" -> "128",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "3.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "128k")

    val (zr, zh, zFired, zPlan) = runSmj(spark, zipfDir)
    val (ur, uh, uFired, uPlan) = runSmj(spark, uniformDir)
    // correctness: the skew-split plan must equal the broadcast plan
    val (br, bh) = ContentHash.rowsAndHash(broadcastQuery(spark, zipfDir))

    val ok = zFired && !uFired && zr == br && zh == bh
    import graft.JsonOut.jstr
    val json =
      s"""{"ok":$ok,
         |"zipf":{"rows":$zr,"hash":${jstr(zh)},"skew_split_fired":$zFired,
         |"plan":${jstr(zPlan)}},
         |"uniform_control":{"rows":$ur,"hash":${jstr(uh)},
         |"skew_split_fired":$uFired,"plan":${jstr(uPlan)}},
         |"broadcast_reference_on_zipf":{"rows":$br,"hash":${jstr(bh)}},
         |"skew_split_semantics_identical":${zr == br && zh == bh}}"""
        .stripMargin.replace("\n", "")
    JsonOut.writeArtifact(outPath, json)
    require(ok, "skew gate failed — see " + outPath)
    spark.stop()
  }
}
