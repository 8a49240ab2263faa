package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rolling-origin backtest of the seasonal-naive forecaster
  * (ŷ_t = y_{t−7}) on daily revenue — the evaluation harness every
  * forecasting operator (q159 EWMA, q232 Holt) should be judged
  * against before anyone trusts it: seasonal-naive is the standard
  * no-skill baseline (Hyndman & Koehler 2006), and a model that can't
  * beat it on MASE has learned nothing beyond the weekly rhythm.
  *
  * Metrics, by exactness class:
  *   - MASE  = mean|e| / in-sample naive MAE — BOTH numerator and
  *     scale are sums of exact integer cents, so MASE reduces to one
  *     IEEE division of exact cross-products (|e|-sum · n_diffs vs
  *     |d1|-sum · n_forecasts). Hyndman's recommended scale-free
  *     headline, exact here.
  *   - WAPE  = Σ|e| / Σy — exact integer ratio, one IEEE division.
  *   - sMAPE = mean of per-day 2|e|/(y+ŷ) — genuinely a sum of
  *     DOUBLES, so it runs as an ordered left-fold over the
  *     day-sorted term list (the q222/q235 discipline).
  *
  * Scale shape: corpus collapses map-side to calendar-bounded daily
  * cells behind one Barrier; the lag-7 pairing is a self-equi-join on
  * the day index (calendar-size frames), the naive scale one lag
  * window; output is one row.
  */
object Backtest {

  val SeasonDays = 7

  val q236 = Q(
    "q236_seasonal_backtest",
    (s, dir) => {
      import s.implicits._
      val daily = graft.Barrier(Tables.load(s, dir, "orders")
        .groupBy(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
          .cast("long").as("x"))
        .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
          .as("y")))
      val fc = daily.join(
        daily.select(($"x" + SeasonDays.toLong).as("x"), $"y".as("yhat")), "x")
      val ferr = fc.select($"x", $"y", $"yhat",
        abs($"y" - $"yhat").as("ae"),
        (lit(2d) * abs($"y" - $"yhat").cast("double") /
          ($"y" + $"yhat").cast("double")).as("st"))
      val fagg = ferr.agg(count(lit(1)).as("n_forecasts"),
        sum($"ae").as("sae"), sum($"y").as("sy"),
        expr("aggregate(sort_array(collect_list(struct(x, st))), 0D, (acc, s) -> acc + s.st)")
          .as("ssm"))
      val scale = daily
        .withColumn("yp", lag($"y", 1).over(Window.orderBy($"x")))
        .filter($"yp".isNotNull)
        .agg(count(lit(1)).as("nd"), sum(abs($"y" - $"yp")).as("sad"))
      fagg.crossJoin(broadcast(scale))
        .select($"n_forecasts",
          ($"sae".cast("double") / $"n_forecasts".cast("double")).as("mae_cents"),
          (lit(100d) * $"sae".cast("double") / $"sy".cast("double")).as("wape_pct"),
          (($"sae" * $"nd").cast("double") / ($"sad" * $"n_forecasts").cast("double"))
            .as("mase"),
          (lit(100d) * $"ssm" / $"n_forecasts".cast("double")).as("smape_pct"))
    },
    Some(s"""WITH daily AS MATERIALIZED (
      |  SELECT CAST(date_diff('day', DATE '1995-01-01',
      |                        CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |fc AS (
      |  SELECT c.x, c.y, p.y AS yhat
      |  FROM daily c JOIN (SELECT x + $SeasonDays AS x, y FROM daily) p
      |    ON p.x = c.x),
      |ferr AS (
      |  SELECT x, y, yhat, abs(y - yhat) AS ae,
      |         2e0 * CAST(abs(y - yhat) AS DOUBLE) / CAST(y + yhat AS DOUBLE) AS st
      |  FROM fc),
      |fagg AS (
      |  SELECT COUNT(*) AS n_forecasts, CAST(SUM(ae) AS BIGINT) AS sae,
      |         CAST(SUM(y) AS BIGINT) AS sy,
      |         list_reduce(list(st ORDER BY x), (a, b) -> a + b) AS ssm
      |  FROM ferr),
      |scale AS (
      |  SELECT COUNT(*) AS nd, CAST(SUM(ad) AS BIGINT) AS sad FROM (
      |    SELECT abs(y - LAG(y, 1) OVER (ORDER BY x)) AS ad FROM daily)
      |  WHERE ad IS NOT NULL)
      |SELECT n_forecasts,
      |       CAST(sae AS DOUBLE) / CAST(n_forecasts AS DOUBLE) AS mae_cents,
      |       100e0 * CAST(sae AS DOUBLE) / CAST(sy AS DOUBLE) AS wape_pct,
      |       CAST(sae * nd AS DOUBLE) / CAST(sad * n_forecasts AS DOUBLE) AS mase,
      |       100e0 * ssm / CAST(n_forecasts AS DOUBLE) AS smape_pct
      |FROM fagg, scale""".stripMargin),
    doc = "forecast-eval: rolling-origin seasonal-naive (lag-7) backtest of daily revenue — exact-integer MASE/WAPE/MAE plus ordered-fold sMAPE. " +
      "Backtest: daily cells behind a Barrier reused by the lag-7 self-equi-join AND the naive-scale lag window; integer metric sums are map-side-combinable, sMAPE is one ordered fold; 1 row out.")

  val all: Seq[Q] = Seq(q236)
}
