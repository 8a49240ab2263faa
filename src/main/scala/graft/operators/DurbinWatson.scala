package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Durbin-Watson autocorrelation test (Durbin & Watson 1950) on the
  * residuals of the daily-revenue OLS trend — the diagnostic q199's
  * fit owes its reader: a trend line over a time series is only as
  * honest as its residuals are independent, and serially-correlated
  * residuals (DW far from 2) mean the reported R² and any naive
  * slope confidence are overstated. DW ≈ 2(1−ρ̂₁), so the report
  * carries the implied lag-1 residual autocorrelation too.
  *
  * Exactness: the fit reuses q199's ladder — exact decimal/HUGEINT
  * moment sums, one mirrored IEEE slope/intercept epilogue — so every
  * per-day residual e_t is the IDENTICAL double in both engines. The
  * two residual sums Σ(e_t − e_{t−1})² and Σe_t² are sums of DOUBLES,
  * so each runs as an ordered LEFT-FOLD over the day-sorted term list
  * (the q222/q228 discipline: Spark `aggregate(sort_array(...), 0D,
  * +)` ↔ DuckDB `list_reduce(list(... ORDER BY x), +)` — 0+t₁ ≡ t₁),
  * never a shuffle-order-dependent SUM.
  *
  * Scale shape: the corpus collapses map-side to calendar-bounded
  * daily cells; the lag window and both folds run over that span-days
  * frame (corpus-independent size); output is one row.
  */
object DurbinWatson {

  val q235 = Q(
    "q235_durbin_watson",
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
      val fit = m.select($"n",
          ($"n".cast("double") * $"sxy".cast("double")
            - $"sx".cast("double") * $"sy".cast("double")).as("num"),
          ($"n".cast("double") * $"sxx".cast("double")
            - $"sx".cast("double") * $"sx".cast("double")).as("denx"),
          $"sx".cast("double").as("sxd"), $"sy".cast("double").as("syd"))
        .select($"n".as("n_days"), ($"num" / $"denx").as("slope"),
          (($"syd" - ($"num" / $"denx") * $"sxd") / $"n".cast("double"))
            .as("intercept"))
      val r = daily.crossJoin(broadcast(fit))
        .select($"n_days", $"slope", $"intercept", $"x",
          ($"y".cast("double") - ($"intercept" + $"slope" * $"x".cast("double")))
            .as("e"))
      val t = r
        .withColumn("ep", lag($"e", 1).over(Window.orderBy($"x")))
        .select($"n_days", $"slope", $"intercept", $"x",
          ($"e" * $"e").as("t0"),
          when($"ep".isNull, lit(0d))
            .otherwise(($"e" - $"ep") * ($"e" - $"ep")).as("t1"))
      t.groupBy($"n_days", $"slope", $"intercept")
        .agg(
          expr("aggregate(sort_array(collect_list(struct(x, t0))), 0D, (acc, s) -> acc + s.t0)").as("den"),
          expr("aggregate(sort_array(collect_list(struct(x, t1))), 0D, (acc, s) -> acc + s.t1)").as("nm"))
        .select($"n_days", $"slope".as("slope_cents_per_day"),
          $"intercept".as("intercept_cents"), ($"nm" / $"den").as("dw"))
        .withColumn("rho_lag1", lit(1d) - $"dw" / lit(2d))
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
      |parts AS (
      |  SELECT n,
      |         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
      |         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
      |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM m),
      |fit AS (
      |  SELECT n AS n_days, num / denx AS slope,
      |         (syd - (num / denx) * sxd) / CAST(n AS DOUBLE) AS intercept
      |  FROM parts),
      |r AS (
      |  SELECT f.n_days, f.slope, f.intercept, d.x,
      |         CAST(d.y AS DOUBLE) - (f.intercept + f.slope * CAST(d.x AS DOUBLE)) AS e
      |  FROM daily d, fit f),
      |t AS (
      |  SELECT n_days, slope, intercept, x, e * e AS t0,
      |         CASE WHEN LAG(e, 1) OVER (ORDER BY x) IS NULL THEN 0e0
      |              ELSE (e - LAG(e, 1) OVER (ORDER BY x))
      |                 * (e - LAG(e, 1) OVER (ORDER BY x)) END AS t1
      |  FROM r),
      |f2 AS (
      |  SELECT n_days, slope, intercept,
      |         list_reduce(list(t0 ORDER BY x), (a, b) -> a + b) AS den,
      |         list_reduce(list(t1 ORDER BY x), (a, b) -> a + b) AS nm
      |  FROM t GROUP BY 1, 2, 3)
      |SELECT n_days, slope AS slope_cents_per_day, intercept AS intercept_cents,
      |       nm / den AS dw, 1e0 - (nm / den) / 2e0 AS rho_lag1
      |FROM f2""".stripMargin),
    doc = "stats: Durbin-Watson serial-correlation test on daily-revenue OLS residuals — exact-moment fit, ordered left-fold residual sums, implied lag-1 rho. " +
      "DW: corpus collapses map-side to calendar-bounded daily cells behind a Barrier; q199's exact-moment fit broadcasts back; the lag window + two ordered left-folds run on the span-days frame; 1 row out.")

  val all: Seq[Q] = Seq(q235)
}
