package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trend and seasonal strength (Wang, Smith & Hyndman 2006; the
  * `feasts` feature set) — ONE pair of numbers in [0,1] summarizing
  * q273's decomposition: F_T = max(0, 1 − Var(R)/Var(T+R)) and
  * F_S = max(0, 1 − Var(R)/Var(S+R)). These are the features a
  * forecasting router thresholds on ("is this series trended enough
  * for Holt, seasonal enough for Holt-Winters, or just noise —
  * q276's theta") and the standard time-series datasheet stat.
  *
  * Determinism: reuses q273's exact frames — cents series, ×24-scaled
  * exact centered MA-12, exact-long detrended values; seasonal
  * indices are per-month rationals; the residual/component variance
  * sums (value and value² per component) all fold in explicit month
  * order over the interior-month frame (collect_list + sorted
  * aggregate ↔ list_reduce ORDER BY m); variances use the
  * (nΣx²−(Σx)²)/n² identity on those folded doubles.
  *
  * Scale shape: identical to q273 — one corpus aggregate to the
  * |months| frame, calendar-bounded windows, then SIX ≤72-term folds
  * and a 1-row epilogue.
  */
object StlStrength {

  val q283 = Q(
    "q283_decomposition_strength",
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
        .select($"m", month($"m").as("mon"), $"y",
          (lit(24L) * $"y" - (lit(2L) * $"s11" + $"lag6" + $"lead6"))
            .as("d24"))
        .cache()
      val sm = detr.groupBy($"mon")
        .agg(count(lit(1)).as("n_obs"),
          sum($"d24".cast("decimal(38,0)")).as("sd24"))
        .withColumn("sd", expr(
          "cast(sd24 as double) / (24D * cast(n_obs as double))"))
      val norm = sm
        .agg(count(lit(1)).as("k"),
          collect_list(struct($"mon", $"sd")).as("ts"))
        .select($"k", expr(
          "aggregate(sort_array(ts), cast(0 as double), (acc, x) -> acc + x.sd)")
          .as("msum"))
      val si = sm.crossJoin(broadcast(norm))
        .select($"mon", expr("sd - msum / cast(k as double)").as("si"))
      val comp = detr.join(si, Seq("mon"))
        .select($"m",
          expr("cast(d24 as double) / 24D - si").as("r"),
          expr("cast(d24 as double) / 24D").as("sr"),
          expr("cast(y as double) - si").as("tr"))
      comp
        .agg(count(lit(1)).as("n_used"),
          collect_list(struct($"m", $"r", $"sr", $"tr")).as("ts"))
        .withColumn("s_r", expr("aggregate(sort_array(ts), cast(0 as double), (acc, x) -> acc + x.r)"))
        .withColumn("s_r2", expr("aggregate(sort_array(ts), cast(0 as double), (acc, x) -> acc + x.r * x.r)"))
        .withColumn("s_sr", expr("aggregate(sort_array(ts), cast(0 as double), (acc, x) -> acc + x.sr)"))
        .withColumn("s_sr2", expr("aggregate(sort_array(ts), cast(0 as double), (acc, x) -> acc + x.sr * x.sr)"))
        .withColumn("s_tr", expr("aggregate(sort_array(ts), cast(0 as double), (acc, x) -> acc + x.tr)"))
        .withColumn("s_tr2", expr("aggregate(sort_array(ts), cast(0 as double), (acc, x) -> acc + x.tr * x.tr)"))
        .withColumn("nd", $"n_used".cast("double"))
        .withColumn("var_r", expr("(nd * s_r2 - s_r * s_r) / (nd * nd)"))
        .withColumn("var_sr", expr("(nd * s_sr2 - s_sr * s_sr) / (nd * nd)"))
        .withColumn("var_tr", expr("(nd * s_tr2 - s_tr * s_tr) / (nd * nd)"))
        .select($"n_used", $"var_r".as("var_resid"),
          expr("greatest(0D, 1D - var_r / nullif(var_tr, 0D))").as("f_trend"),
          expr("greatest(0D, 1D - var_r / nullif(var_sr, 0D))").as("f_seasonal"))
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
      |  SELECT m, month(m) AS mon, y, 24 * y - (2 * s11 + lag6 + lead6) AS d24
      |  FROM win
      |  WHERE c11 = 11 AND lag6 IS NOT NULL AND lead6 IS NOT NULL),
      |sm AS (
      |  SELECT mon, CAST(COUNT(*) AS BIGINT) AS n_obs,
      |         CAST(SUM(CAST(d24 AS HUGEINT)) AS DOUBLE)
      |           / (24e0 * CAST(COUNT(*) AS DOUBLE)) AS sd
      |  FROM detr GROUP BY 1),
      |norm AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |         list_reduce(list(sd ORDER BY mon), (a, b) -> a + b) AS msum
      |  FROM sm),
      |si AS (
      |  SELECT mon, sd - msum / CAST(k AS DOUBLE) AS si FROM sm CROSS JOIN norm),
      |comp AS (
      |  SELECT detr.m,
      |         CAST(d24 AS DOUBLE) / 24e0 - si AS r,
      |         CAST(d24 AS DOUBLE) / 24e0 AS sr,
      |         CAST(y AS DOUBLE) - si AS tr
      |  FROM detr JOIN si USING (mon)),
      |folded AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
      |         list_reduce(list(r ORDER BY m), (a, b) -> a + b) AS s_r,
      |         list_reduce(list(r * r ORDER BY m), (a, b) -> a + b) AS s_r2,
      |         list_reduce(list(sr ORDER BY m), (a, b) -> a + b) AS s_sr,
      |         list_reduce(list(sr * sr ORDER BY m), (a, b) -> a + b) AS s_sr2,
      |         list_reduce(list(tr ORDER BY m), (a, b) -> a + b) AS s_tr,
      |         list_reduce(list(tr * tr ORDER BY m), (a, b) -> a + b) AS s_tr2
      |  FROM comp),
      |vars AS (
      |  SELECT n_used, CAST(n_used AS DOUBLE) AS nd,
      |         (CAST(n_used AS DOUBLE) * s_r2 - s_r * s_r)
      |           / (CAST(n_used AS DOUBLE) * CAST(n_used AS DOUBLE)) AS var_r,
      |         (CAST(n_used AS DOUBLE) * s_sr2 - s_sr * s_sr)
      |           / (CAST(n_used AS DOUBLE) * CAST(n_used AS DOUBLE)) AS var_sr,
      |         (CAST(n_used AS DOUBLE) * s_tr2 - s_tr * s_tr)
      |           / (CAST(n_used AS DOUBLE) * CAST(n_used AS DOUBLE)) AS var_tr
      |  FROM folded)
      |SELECT n_used, var_r AS var_resid,
      |       GREATEST(0e0, 1e0 - var_r / NULLIF(var_tr, 0e0)) AS f_trend,
      |       GREATEST(0e0, 1e0 - var_r / NULLIF(var_sr, 0e0)) AS f_seasonal
      |FROM vars""".stripMargin),
    doc = "timeseries: Wang-Smith-Hyndman trend/seasonal strength from the q273 decomposition — F_T and F_S in [0,1], six ordered month folds, exact MA-12 core. " +
      "q273's bounded shape: one corpus aggregate to the |months| frame, calendar-bounded MA/lag windows, then six <=72-term ordered folds and a 1-row variance epilogue.")

  val all: Seq[Q] = Seq(q283)
}
