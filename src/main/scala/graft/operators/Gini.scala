package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Gini concentration of per-customer revenue (Gini 1912, via the
  * rank formula G = (2·Σᵢ i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted
  * values) — the one-number inequality statistic for "how concentrated
  * is our revenue/token/data mass", the business twin of q147's
  * join-key skew audit and q68's source-mixture shares.
  *
  * Exactness: per-customer cents and the rank-weighted sum R = Σ i·xᵢ
  * are exact longs (R < 2⁶³ past 10¹⁶ cent-ranks); the single float
  * expression (2R − (n+1)S)/(n·S) runs on identical integers with
  * identical shape in both engines (the q151/q166 stance).
  *
  * Scale shape: the corpus collapses to per-customer totals in one
  * groupBy; the ascending GLOBAL ranking runs through
  * [[DistributedRank.withRowNumber]] (range sort + per-partition
  * offsets — never a one-task window); the fold is one aggregate.
  */
object Gini {

  /** q167 — revenue concentration across customers. */
  val q167 = Q(
    "q167_gini_concentration",
    (s, dir) => {
      import s.implicits._
      val per = Tables.load(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
          .as("cents"))
      val ranked = DistributedRank.withRowNumber(
        per, Seq($"cents".asc, $"o_custkey".asc), out = "rk")
      ranked.agg(count(lit(1)).as("n"), sum($"cents").as("s"),
          sum($"rk" * $"cents").as("r"))
        .select($"n", $"s".as("total_cents"), $"r".as("rank_weighted_cents"),
          (((lit(2L) * $"r" - ($"n" + 1L) * $"s").cast("double")) /
            (($"n" * $"s").cast("double"))).as("gini"))
    },
    Some("""WITH per AS (
      |  SELECT o_custkey,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT cents,
      |         ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rk
      |  FROM per),
      |m AS (
      |  SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s,
      |         CAST(SUM(rk * cents) AS BIGINT) AS r
      |  FROM ranked)
      |SELECT n, s AS total_cents, r AS rank_weighted_cents,
      |       CAST(2 * r - (n + 1) * s AS DOUBLE) / CAST(n * s AS DOUBLE) AS gini
      |FROM m""".stripMargin),
    doc = "stats: Gini revenue concentration — DistributedRank global ranking, exact-integer core, one IEEE expression. " +
      "Per-customer cents aggregate, then Gini via the rank-weighted sum identity over a DistributedRank-ranked frame — no quadratic pair sum.")

  /** q169 — the Lorenz decile ledger behind q167's one number: revenue
    * share and cumulative share per ascending-revenue customer decile
    * (decile 10 = top spenders). Deciles are exact integer cuts of the
    * DistributedRank row number (((rk−1)·10) div n + 1), shares are
    * integer ppm, and the cumulative ride a 10-row window.
    */
  val q169 = Q(
    "q169_lorenz_deciles",
    (s, dir) => {
      import s.implicits._
      val per = Tables.load(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
          .as("cents"))
      val ranked = DistributedRank.withRowNumber(
        per, Seq($"cents".asc, $"o_custkey".asc), out = "rk")
      val n = ranked.agg(count(lit(1)).as("n"), sum($"cents").as("tot"))
      val dec = ranked.crossJoin(broadcast(n))
        .select(expr("((rk - 1) * 10) div n + 1").as("decile"), $"cents", $"tot")
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_customers"), sum($"cents").as("cents"),
          max($"tot").as("tot"))
      // decimal(38,0) BEFORE the ppm scale: under a power-law customer
      // distribution the top decile's cents approach the corpus total
      // (~2.3e13 at zipf-sf1), and cents·10⁶ crosses 2⁶³ — the
      // zipf-sf1 full-registry gate caught the long form overflowing
      // loudly (ANSI). IntegralDivide on decimals returns the same
      // exact long ppm.
      dec.select($"decile", $"n_customers",
          expr("(cast(cents as decimal(38,0)) * 1000000) div tot")
            .as("share_ppm"))
        .withColumn("cum_share_ppm",
          sum($"share_ppm").over(
            org.apache.spark.sql.expressions.Window.orderBy($"decile")
              .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                org.apache.spark.sql.expressions.Window.currentRow)))
        .orderBy($"decile")
    },
    Some("""WITH per AS (
      |  SELECT o_custkey,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rk
      |  FROM per),
      |nn AS (SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS tot FROM ranked),
      |dec AS (
      |  SELECT ((rk - 1) * 10) // nn.n + 1 AS decile,
      |         COUNT(*) AS n_customers,
      |         CAST(SUM(cents) AS BIGINT) AS cents, MAX(nn.tot) AS tot
      |  FROM ranked, nn GROUP BY 1)
      |SELECT decile, n_customers,
      |       CAST((CAST(cents AS HUGEINT) * 1000000) // tot AS BIGINT) AS share_ppm,
      |       CAST(SUM((CAST(cents AS HUGEINT) * 1000000) // tot) OVER (ORDER BY decile
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_share_ppm
      |FROM dec ORDER BY decile""".stripMargin),
    doc = "stats: Lorenz decile ledger — exact integer decile cuts over the DistributedRank ordering. " +
      "Decile assignment by exact integer rank arithmetic on the per-customer aggregate; cumulative shares ride a 10-row window in integer ppm.")

  val all: Seq[Q] = Seq(q167, q169)
}
