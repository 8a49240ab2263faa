package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Theta-method forecast (Assimakopoulos & Nikolaou 2000) — the
  * method that WON the M3 forecasting competition and, per Hyndman &
  * Billah 2003, is simple exponential smoothing on the θ=2
  * "theta line" averaged with the linear-trend line: the θ=2 line
  * doubles local curvature (SES can track it), the θ=0 line IS the
  * regression trend, and their mean recovers the original series'
  * long-run drift with SES's short-run adaptivity. Completes the
  * smoothing ladder q159 (EWMA) → q232 (Holt) → q256 (Holt-Winters)
  * with the benchmark every forecasting paper still compares against.
  *
  * Determinism: the monthly series is exact cents and the regression
  * moments are exact decimal(38,0) ↔ HUGEINT over exact month indexes
  * (q199's closed form); the theta line Z_t = 2y_t − (a + b·t) is a
  * mirrored double chain; SES uses α = 1/2 (dyadic) and runs as an
  * ordered left-fold — Spark `aggregate` over the month-sorted array,
  * DuckDB `list_reduce` (single-field state is safe in list_reduce —
  * the q232 two-field aliasing bug cannot bite — and its
  * first-element init IS s₁ = Z₁, matching the Spark fold exactly).
  *
  * Scale shape: the corpus collapses map-side to (priority, month)
  * cells; the rank window, moments and fold all run on the
  * calendar-bounded per-priority month frame (~84 rows; a century is
  * 1200). Output is |priorities| rows with a 6-month-ahead forecast.
  */
object ThetaForecast {

  val HorizonMonths = 6

  val q276 = Q(
    "q276_theta_forecast",
    (s, dir) => {
      import s.implicits._
      val monthly = Tables.load(s, dir, "orders")
        .groupBy($"o_orderpriority".as("grp"),
          date_trunc("month", $"o_orderdate").cast("date").as("m"))
        .agg(sum((graft.Q.money($"o_totalprice") * 100).cast("long")).as("y"))
        .withColumn("t", row_number()
          .over(Window.partitionBy($"grp").orderBy($"m")).cast("long"))
      val moments = monthly.groupBy($"grp")
        .agg(count(lit(1)).as("n"),
          sum($"t".cast("decimal(38,0)")).as("st"),
          sum($"y".cast("decimal(38,0)")).as("sy"),
          sum(($"t" * $"t").cast("decimal(38,0)")).as("stt"),
          sum($"t".cast("decimal(38,0)") * $"y").as("sty"))
        .withColumn("b", expr(
          "(cast(n as double) * cast(sty as double) - cast(st as double) * cast(sy as double))"
            + " / (cast(n as double) * cast(stt as double) - cast(st as double) * cast(st as double))"))
        .withColumn("a", expr(
          "(cast(sy as double) - b * cast(st as double)) / cast(n as double)"))
      val z = monthly.join(moments.select($"grp", $"n", $"a", $"b"), Seq("grp"))
        .withColumn("z", expr("2D * cast(y as double) - (a + b * cast(t as double))"))
      z.groupBy($"grp")
        .agg(first($"n").as("n_months"), first($"a").as("a"), first($"b").as("b"),
          sort_array(collect_list(struct($"t", $"z"))).as("ser"))
        .withColumn("ses", expr(
          "aggregate(slice(ser, 2, size(ser) - 1), ser[0].z,"
            + " (acc, x) -> 0.5D * x.z + 0.5D * acc)"))
        .select($"grp".as("o_orderpriority"), $"n_months",
          $"b".as("lrl_slope_cents"), $"ses".as("ses_theta2"),
          expr(s"0.5D * (a + b * cast(n_months + $HorizonMonths as double)) + 0.5D * ses")
            .as("forecast6_cents"))
        .orderBy($"o_orderpriority")
    },
    Some(s"""WITH monthly AS (
      |  SELECT o_orderpriority AS grp, date_trunc('month', CAST(o_orderdate AS DATE)) AS m,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1, 2),
      |ser AS (
      |  SELECT grp, y,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY grp ORDER BY m) AS BIGINT) AS t
      |  FROM monthly),
      |moments AS (
      |  SELECT grp, COUNT(*) AS n,
      |         SUM(CAST(t AS HUGEINT)) AS st, SUM(CAST(y AS HUGEINT)) AS sy,
      |         SUM(CAST(t * t AS HUGEINT)) AS stt,
      |         SUM(CAST(t AS HUGEINT) * y) AS sty
      |  FROM ser GROUP BY 1),
      |ab AS (
      |  SELECT grp, n,
      |         (CAST(n AS DOUBLE) * CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))
      |           / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS b
      |  FROM moments),
      |ab2 AS (
      |  SELECT ab.grp, ab.n, ab.b,
      |         (CAST(m.sy AS DOUBLE) - ab.b * CAST(m.st AS DOUBLE)) / CAST(ab.n AS DOUBLE) AS a
      |  FROM ab JOIN moments m ON m.grp = ab.grp),
      |z AS (
      |  SELECT s.grp, ab2.n, ab2.a, ab2.b, s.t,
      |         2e0 * CAST(s.y AS DOUBLE) - (ab2.a + ab2.b * CAST(s.t AS DOUBLE)) AS z
      |  FROM ser s JOIN ab2 ON ab2.grp = s.grp),
      |folded AS (
      |  SELECT grp, MIN(n) AS n_months, MIN(a) AS a, MIN(b) AS b,
      |         list_reduce(list(z ORDER BY t), (acc, x) -> 0.5e0 * x + 0.5e0 * acc) AS ses
      |  FROM z GROUP BY 1)
      |SELECT grp AS o_orderpriority, n_months, b AS lrl_slope_cents, ses AS ses_theta2,
      |       0.5e0 * (a + b * CAST(n_months + $HorizonMonths AS DOUBLE)) + 0.5e0 * ses
      |         AS forecast6_cents
      |FROM folded ORDER BY o_orderpriority""".stripMargin),
    doc = "timeseries: Theta-method forecast (M3 winner; SES alpha=1/2 on the theta=2 line averaged with the exact-moment regression line) of monthly revenue per priority, 6-month horizon. " +
      "Corpus collapses map-side to (priority, month) cells; rank window, exact decimal regression moments and the SES left-fold all run on the calendar-bounded per-priority month frame (~84 rows).")

  val all: Seq[Q] = Seq(q276)
}
