package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Wald–Wolfowitz runs test (Wald & Wolfowitz 1940) on the SIGNS of
  * the daily-revenue OLS residuals — the third rung of the trend
  * diagnostics ladder (q199 fit → q235 Durbin-Watson): DW sees only
  * lag-1 magnitude correlation; the runs test asks a blunter,
  * distribution-free question — do positive and negative residuals
  * CLUSTER (too few runs: the line misses a curve) or ALTERNATE (too
  * many: overdifferenced/negatively-coupled noise)?
  *
  * Exactness: residuals are the identical IEEE doubles in both
  * engines (q235's exact-moment fit, mirrored epilogue), so the signs
  * (e > 0) match bit-for-bit; run count, n₊, n₋ are exact integers
  * from one lag window; the z statistic
  * z = (R − μ)/√((μ−1)(μ−2)/(n−1)), μ = 2n₊n₋/n + 1 is one mirrored
  * IEEE expression (sqrt is correctly rounded in both engines — the
  * engine's no-libm-except-sqrt stance).
  *
  * Scale shape: corpus → calendar-bounded daily cells map-side; fit
  * broadcasts back; one lag window + one count aggregate on the
  * span-days frame; 1 row out.
  */
object RunsTest {

  val q238 = Q(
    "q238_runs_test",
    (s, dir) => {
      import s.implicits._
      val daily = graft.Barrier(Tables.load(s, dir, "orders")
        .groupBy(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
          .cast("long").as("x"))
        .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
          .as("y")))
      val m = daily.agg(count(lit(1)).as("n"),
        sum($"x".cast("decimal(38,0)")).as("sx"),
        sum($"y".cast("decimal(38,0)")).as("sy"),
        sum(($"x" * $"x").cast("decimal(38,0)")).as("sxx"),
        sum(($"x" * $"y").cast("decimal(38,0)")).as("sxy"))
      val fit = m.select(
          ($"n".cast("double") * $"sxy".cast("double")
            - $"sx".cast("double") * $"sy".cast("double")).as("num"),
          ($"n".cast("double") * $"sxx".cast("double")
            - $"sx".cast("double") * $"sx".cast("double")).as("denx"),
          $"sx".cast("double").as("sxd"), $"sy".cast("double").as("syd"),
          $"n")
        .select(($"num" / $"denx").as("slope"),
          (($"syd" - ($"num" / $"denx") * $"sxd") / $"n".cast("double"))
            .as("intercept"))
      val sgn = daily.crossJoin(broadcast(fit))
        .select($"x",
          ($"y".cast("double") - ($"intercept" + $"slope" * $"x".cast("double"))
            > 0d).as("pos"))
      val agg = sgn
        .withColumn("pp", lag($"pos", 1).over(Window.orderBy($"x")))
        .agg(count(lit(1)).as("n_days"),
          count_if($"pos").as("n_pos"),
          count_if(!$"pos").as("n_neg"),
          (count_if($"pp".isNotNull && $"pp" =!= $"pos") + lit(1L)).as("runs"))
      agg.select($"n_days", $"n_pos", $"n_neg", $"runs",
        ((lit(2L) * $"n_pos" * $"n_neg").cast("double")
          / $"n_days".cast("double") + lit(1d)).as("mu"))
        .select($"n_days", $"n_pos", $"n_neg", $"runs", $"mu",
          (($"runs".cast("double") - $"mu") /
            sqrt(($"mu" - lit(1d)) * ($"mu" - lit(2d))
              / ($"n_days" - 1).cast("double"))).as("z"))
    },
    Some("""WITH daily AS MATERIALIZED (
      |  SELECT CAST(date_diff('day', DATE '1995-01-01',
      |                        CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS sx,
      |         SUM(CAST(y AS HUGEINT)) AS sy,
      |         SUM(CAST(x * x AS HUGEINT)) AS sxx,
      |         SUM(CAST(x * y AS HUGEINT)) AS sxy
      |  FROM daily),
      |fit AS (
      |  SELECT (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
      |         (CAST(sy AS DOUBLE)
      |            - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
      |              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
      |  FROM m),
      |sgn AS (
      |  SELECT d.x,
      |         (CAST(d.y AS DOUBLE)
      |            - (f.intercept + f.slope * CAST(d.x AS DOUBLE)) > 0e0) AS pos
      |  FROM daily d, fit f),
      |agg AS (
      |  SELECT COUNT(*) AS n_days,
      |         CAST(COUNT(CASE WHEN pos THEN 1 END) AS BIGINT) AS n_pos,
      |         CAST(COUNT(CASE WHEN NOT pos THEN 1 END) AS BIGINT) AS n_neg,
      |         CAST(COUNT(CASE WHEN pp IS NOT NULL AND pp <> pos THEN 1 END)
      |              + 1 AS BIGINT) AS runs
      |  FROM (SELECT pos, LAG(pos, 1) OVER (ORDER BY x) AS pp FROM sgn)),
      |mu AS (
      |  SELECT n_days, n_pos, n_neg, runs,
      |         CAST(2 * n_pos * n_neg AS DOUBLE) / CAST(n_days AS DOUBLE)
      |           + 1e0 AS mu
      |  FROM agg)
      |SELECT n_days, n_pos, n_neg, runs, mu,
      |       (CAST(runs AS DOUBLE) - mu)
      |         / sqrt((mu - 1e0) * (mu - 2e0) / CAST(n_days - 1 AS DOUBLE)) AS z
      |FROM mu""".stripMargin),
    doc = "stats: Wald-Wolfowitz runs test on daily-revenue OLS residual signs — distribution-free clustering/alternation diagnostic, exact run counts, one mirrored IEEE z. " +
      "Runs test: daily cells map-side; 1-row exact-moment fit broadcasts back; one lag window + one count aggregate on the span-days frame; 1 row out.")

  val all: Seq[Q] = Seq(q238)
}
