package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classical additive seasonal decomposition (Persons 1919 /
  * Macaulay 1931 — the method behind X-11 and the textbook
  * "decompose()"): a centered 12-month moving-average trend, detrend,
  * then per-calendar-month seasonal indices normalized to sum to
  * zero. Complements q256 (Holt-Winters FITS a seasonal model
  * forward) and q236 (backtests one): this DESCRIBES the seasonality
  * the data already has, the first chart every demand planner draws.
  *
  * Determinism: monthly revenue is exact cents; the centered MA-12
  * rides as a ×24-scaled exact integer (y_{t−6} + 2·Σ_{t−5..t+5} y +
  * y_{t+6}), so detrended values are EXACT LONGS (24y − num24) and
  * the only doubles are the final per-month means and their
  * normalization — the 12-term mean folds in explicit month order
  * (the q202 collect_list ↔ list_reduce pattern). Edge months with an
  * incomplete ±6 window are excluded by an exact row-count guard, not
  * a NULL-propagation accident.
  *
  * Scale shape: the corpus collapses to the |months| frame (~84 rows)
  * in ONE map-side-combinable aggregate; every window after runs on
  * that calendar-bounded frame (the q209/q176 bounded-frame stance —
  * a century of months is 1200 rows, unconditionally one task's
  * work). Row-based lags assume the month series is contiguous —
  * true whenever every month has at least one order; both engines
  * evaluate the same row-based definition either way.
  */
object Decompose {

  val q273 = Q(
    "q273_seasonal_decomposition",
    (s, dir) => {
      import s.implicits._
      val monthly = Tables.load(s, dir, "orders")
        .groupBy(date_trunc("month", $"o_orderdate").cast("date").as("m"))
        .agg(sum((graft.Q.money($"o_totalprice") * 100).cast("long")).as("y"))
      val ord = Window.orderBy($"m")
      val w11 = ord.rowsBetween(-5, 5)
      val detr = monthly
        .withColumn("s11", sum($"y").over(w11))
        .withColumn("c11", count($"y").over(w11))
        .withColumn("lag6", lag($"y", 6).over(ord))
        .withColumn("lead6", lead($"y", 6).over(ord))
        .filter($"c11" === 11 && $"lag6".isNotNull && $"lead6".isNotNull)
        .select(month($"m").as("mon"),
          (lit(24L) * $"y" - (lit(2L) * $"s11" + $"lag6" + $"lead6"))
            .as("d24"))
      val sm = detr.groupBy($"mon")
        .agg(count(lit(1)).as("n_obs"),
          sum($"d24".cast("decimal(38,0)")).as("sd24"))
        .withColumn("sd", expr(
          "cast(sd24 as double) / (24D * cast(n_obs as double))"))
      sm
        .agg(collect_list(struct($"mon", $"n_obs", $"sd")).as("ts"))
        .withColumn("k", size($"ts"))
        .withColumn("msum", expr(
          "aggregate(sort_array(ts), cast(0 as double), (acc, x) -> acc + x.sd)"))
        .select(explode($"ts").as("x"), $"msum", $"k")
        .select($"x.mon".as("mon"), $"x.n_obs".as("n_obs"),
          expr("x.sd - msum / cast(k as double)").as("seasonal_index_cents"))
        .orderBy($"mon")
    },
    Some("""WITH monthly AS (
      |  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |win AS (
      |  SELECT m, y,
      |         SUM(y) OVER (ORDER BY m ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS s11,
      |         COUNT(y) OVER (ORDER BY m ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS c11,
      |         LAG(y, 6) OVER (ORDER BY m) AS lag6,
      |         LEAD(y, 6) OVER (ORDER BY m) AS lead6
      |  FROM monthly),
      |detr AS (
      |  SELECT month(m) AS mon,
      |         24 * y - (2 * s11 + lag6 + lead6) AS d24
      |  FROM win
      |  WHERE c11 = 11 AND lag6 IS NOT NULL AND lead6 IS NOT NULL),
      |sm AS (
      |  SELECT mon, CAST(COUNT(*) AS BIGINT) AS n_obs,
      |         CAST(SUM(CAST(d24 AS HUGEINT)) AS DOUBLE)
      |           / (24e0 * CAST(COUNT(*) AS DOUBLE)) AS sd
      |  FROM detr GROUP BY 1),
      |tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |         list_reduce(list(sd ORDER BY mon), (a, b) -> a + b) AS msum
      |  FROM sm)
      |SELECT mon, n_obs,
      |       sd - msum / CAST(k AS DOUBLE) AS seasonal_index_cents
      |FROM sm CROSS JOIN tot
      |ORDER BY mon""".stripMargin),
    doc = "timeseries: classical additive seasonal decomposition of monthly revenue — x24-scaled exact centered MA-12 trend, exact-long detrend, zero-sum month indices via ordered 12-term fold. " +
      "Corpus collapses to the |months| frame in ONE aggregate; MA-12/lag/lead windows run on that calendar-bounded frame (~84 rows, a century is 1200); detrend stays exact x24-scaled longs; 12-term normalization folds in month order.")

  val all: Seq[Q] = Seq(q273)
}
