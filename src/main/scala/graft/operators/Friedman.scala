package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Friedman rank test (Friedman 1937) for segment effects on monthly
  * revenue — the nonparametric BLOCKED companion to q202's one-way
  * ANOVA: ANOVA compares segment means pooled across time and is
  * blind to the fact that months differ wildly (seasonality inflates
  * the within-group variance); Friedman ranks the k = 5 market
  * segments WITHIN each month block, so every month contributes only
  * its ordering and the month-to-month level cancels entirely. The
  * question answered: "does some segment consistently out-earn the
  * others, month after month?"
  *
  * Exactness: ranks ride as 2×rank integers (2·RANK() + ties − 1 =
  * twice the average rank, the q200 tie convention — exact even in
  * the measure-zero event of tied cent sums); rank sums and their
  * squares are exact longs; the χ² statistic
  * 3·ΣR₂ⱼ² / (n·k·(k+1)) − 3·n·(k+1) is ONE mirrored IEEE expression
  * of exact integers. Only complete blocks (all k segments present)
  * are ranked — required for the statistic to be defined.
  *
  * Scale shape: one broadcast dim join, one map-side-combinable
  * aggregate to |months|×k cells; the rank windows run per month
  * block on k-row frames; the report is k rows each carrying the
  * global χ².
  */
object Friedman {

  val K = 5

  val q237 = Q(
    "q237_friedman_test",
    (s, dir) => {
      import s.implicits._
      val cells = Tables.maybeBroadcast(Tables.load(s, dir, "customer"))
        .join(Tables.load(s, dir, "orders"), $"c_custkey" === $"o_custkey")
        .groupBy((year($"o_orderdate") * 12 + month($"o_orderdate")).as("blk"),
          $"c_mktsegment".as("seg"))
        .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
          .as("y"))
      val full = cells
        .withColumn("kcnt", count(lit(1)).over(Window.partitionBy($"blk")))
        .filter($"kcnt" === K)
      val ranked = full.withColumn("r2",
        lit(2L) * rank().over(Window.partitionBy($"blk").orderBy($"y"))
          + count(lit(1)).over(Window.partitionBy($"blk", $"y")) - lit(1L))
      val segsum = ranked.groupBy($"seg")
        .agg(count(lit(1)).as("n_blocks"), sum($"r2").as("r2_sum"))
      val chi = segsum.agg(max($"n_blocks").as("nb"),
        sum($"r2_sum" * $"r2_sum").as("ssq"))
        .select($"nb",
          ((lit(3L) * $"ssq").cast("double")
            / ($"nb" * K * (K + 1)).cast("double")
            - (lit(3L) * $"nb" * (K + 1)).cast("double")).as("friedman_chi2"))
      segsum.crossJoin(broadcast(chi))
        .select($"seg".as("c_mktsegment"), $"n_blocks", $"r2_sum",
          ($"r2_sum".cast("double") / (lit(2L) * $"n_blocks").cast("double"))
            .as("mean_rank"),
          $"friedman_chi2", lit(K - 1).cast("long").as("df"))
        .orderBy($"c_mktsegment")
    },
    Some(s"""WITH cells AS (
      |  SELECT EXTRACT(year FROM o_orderdate) * 12
      |           + EXTRACT(month FROM o_orderdate) AS blk,
      |         c_mktsegment AS seg,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM customer JOIN orders ON c_custkey = o_custkey
      |  GROUP BY 1, 2),
      |full_blocks AS (
      |  SELECT * FROM (
      |    SELECT blk, seg, y, COUNT(*) OVER (PARTITION BY blk) AS kcnt
      |    FROM cells)
      |  WHERE kcnt = $K),
      |ranked AS (
      |  SELECT blk, seg,
      |         2 * RANK() OVER (PARTITION BY blk ORDER BY y)
      |           + COUNT(*) OVER (PARTITION BY blk, y) - 1 AS r2
      |  FROM full_blocks),
      |segsum AS (
      |  SELECT seg, COUNT(*) AS n_blocks, CAST(SUM(r2) AS BIGINT) AS r2_sum
      |  FROM ranked GROUP BY 1),
      |chi AS (
      |  SELECT MAX(n_blocks) AS nb,
      |         CAST(3 * SUM(r2_sum * r2_sum) AS DOUBLE)
      |           / CAST(MAX(n_blocks) * $K * ${K + 1} AS DOUBLE)
      |           - CAST(3 * MAX(n_blocks) * ${K + 1} AS DOUBLE) AS friedman_chi2
      |  FROM segsum)
      |SELECT seg AS c_mktsegment, n_blocks, r2_sum,
      |       CAST(r2_sum AS DOUBLE) / CAST(2 * n_blocks AS DOUBLE) AS mean_rank,
      |       chi.friedman_chi2, CAST($K - 1 AS BIGINT) AS df
      |FROM segsum, chi ORDER BY 1""".stripMargin),
    doc = s"stats: Friedman rank test of segment effects on monthly revenue ($K segments ranked within month blocks) — exact 2x-rank integers, one mirrored IEEE chi-square. " +
      "Friedman: broadcast dim join + map-side aggregate to |months|x5 cells; rank windows run per month block on 5-row frames; chi-square is a 1-row epilogue broadcast back to the 5-row report.")

  val all: Seq[Q] = Seq(q237)
}
