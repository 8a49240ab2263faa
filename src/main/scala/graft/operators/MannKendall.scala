package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Mann-Kendall trend test (Mann 1945; Kendall 1975) on the daily
  * revenue series — the SIGNIFICANCE companion to q209's Theil-Sen
  * estimator: Theil-Sen says how steep the robust trend is;
  * Mann-Kendall says whether a monotone trend exists at all, from the
  * same pairwise-comparison machinery, immune to outliers and to any
  * monotone transform of the values (the reason hydrology/ops
  * monitoring standardized on it over OLS-t).
  *
  * Exactness: S = Σ_{i<j} sgn(y_j − y_i) is an exact integer count
  * difference; the tie-corrected variance
  * Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)] / 18 has an exact
  * long numerator (n ≈ 2400 → ~2.8·10¹⁰); z applies the standard ±1
  * continuity correction and is one mirrored IEEE expression
  * (division + correctly-rounded sqrt).
  *
  * Scale shape: the corpus collapses map-side to calendar-bounded
  * daily cells; the pairwise comparison is a self-join on that
  * span-days frame (≤ ~3M pairs at ANY corpus size — bounded by the
  * calendar, not the data); tie groups are a second tiny aggregate;
  * 1 row out.
  */
object MannKendall {

  val q244 = Q(
    "q244_mann_kendall",
    (s, dir) => {
      import s.implicits._
      val daily = graft.Barrier(Tables.load(s, dir, "orders")
        .groupBy(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
          .cast("long").as("x"))
        .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
          .as("y")))
      val sS = daily.as("a").join(daily.as("b"), $"a.x" < $"b.x")
        .agg((count_if($"b.y" > $"a.y") - count_if($"b.y" < $"a.y")).as("s_stat"))
      val ties = daily.groupBy($"y").agg(count(lit(1)).as("t"))
        .filter($"t" > 1)
        .agg(coalesce(sum($"t" * ($"t" - 1) * (lit(2L) * $"t" + 5)), lit(0L))
          .as("tie_term"))
      val nRow = daily.agg(count(lit(1)).as("n_days"))
      sS.crossJoin(broadcast(nRow)).crossJoin(broadcast(ties))
        .select($"n_days", $"s_stat",
          (($"n_days" * ($"n_days" - 1) * (lit(2L) * $"n_days" + 5) - $"tie_term")
            .cast("double") / lit(18d)).as("var_s"))
        .select($"n_days", $"s_stat", $"var_s",
          when($"s_stat" > 0,
            ($"s_stat" - 1).cast("double") / sqrt($"var_s"))
            .when($"s_stat" < 0,
              ($"s_stat" + 1).cast("double") / sqrt($"var_s"))
            .otherwise(lit(0d)).as("z"))
    },
    Some("""WITH daily AS MATERIALIZED (
      |  SELECT CAST(date_diff('day', DATE '1995-01-01',
      |                        CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |s AS (
      |  SELECT CAST(COUNT(CASE WHEN b.y > a.y THEN 1 END)
      |            - COUNT(CASE WHEN b.y < a.y THEN 1 END) AS BIGINT) AS s_stat
      |  FROM daily a JOIN daily b ON a.x < b.x),
      |ties AS (
      |  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_term
      |  FROM (SELECT COUNT(*) AS t FROM daily GROUP BY y) WHERE t > 1),
      |n AS (SELECT COUNT(*) AS n_days FROM daily),
      |v AS (
      |  SELECT n_days, s_stat,
      |         CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS DOUBLE)
      |           / 18e0 AS var_s
      |  FROM s, ties, n)
      |SELECT n_days, s_stat, var_s,
      |       CASE WHEN s_stat > 0
      |              THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
      |            WHEN s_stat < 0
      |              THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
      |            ELSE 0e0 END AS z
      |FROM v""".stripMargin),
    doc = "stats: Mann-Kendall monotone-trend test on daily revenue — exact pairwise sign counts, tie-corrected variance, continuity-corrected IEEE z. " +
      "MK: corpus collapses map-side to calendar-bounded daily cells; the pairwise self-join is bounded by the CALENDAR squared (~3M pairs at any corpus size); tie groups a second tiny aggregate; 1 row out.")

  val all: Seq[Q] = Seq(q244)
}
