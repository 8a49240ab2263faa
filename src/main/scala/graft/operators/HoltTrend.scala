package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Holt linear-trend exponential smoothing (Holt 1957, the two-state
  * form) of daily revenue per priority — the forecasting step q159's
  * EWMA stops short of: EWMA tracks LEVEL only and lags a trending
  * series forever; Holt carries an explicit trend state and can
  * extrapolate, which is what capacity/revenue planning actually asks
  * of the smoother ("where is this going", not "where has it been").
  *
  * Recursion (α = 1/2, β = 1/4, init l₁ = x₁, b₁ = 0):
  *   l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})
  *   b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}
  *       ≡ 0.125·(x_t − l_{t−1}) + 0.875·b_{t−1}   (exact dyadic
  * inlining of l_t — every coefficient a dyadic rational, so the
  * substitution is ALGEBRAICALLY exact in IEEE too). Both engines run
  * the inlined form with identical expressions.
  *
  * Exactness: a genuine serial float recurrence — no dyadic
  * truncation rescues it (q159's trick needs a finite kernel; the
  * trend state has none). Spark runs it as an ordered left-fold
  * (`aggregate` over the day-sorted array). The DuckDB oracle CANNOT
  * use `list_reduce` for two-field state: v1.0 aliases the
  * accumulator struct in place, so from the second step on the field
  * written first (l) is already overwritten when the second field's
  * expression reads acc.l — verified by hand-trace (3-element fold
  * returns b = 1.953125 where the true recursion gives 2.96875).
  * The oracle therefore unrolls the recursion as a RECURSIVE CTE over
  * row-numbered days, which evaluates each step from immutable
  * columns. Day-cent inputs are exact longs cast once to double.
  *
  * Scale shape: the corpus collapses map-side to (priority, day)
  * cells; the fold runs over one calendar-bounded array per priority
  * (span days, corpus-independent — the q231 minute-grid stance);
  * output is |priorities| rows with a 7-day-ahead extrapolation.
  */
object HoltTrend {

  val HorizonDays = 7

  val q232 = Q(
    "q232_holt_linear",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.load(s, dir, "orders")
        .groupBy($"o_orderpriority".as("grp"), to_date($"o_orderdate").as("d"))
        .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
          .cast("double").as("v"))
      daily.groupBy($"grp")
        .agg(sort_array(collect_list(struct($"d", $"v"))).as("ser"),
          count(lit(1)).as("n_days"))
        .withColumn("f", expr(
          "aggregate(" +
            "slice(ser, 2, size(ser) - 1), " +
            "named_struct('l', ser[0].v, 'b', 0.0D), " +
            "(acc, x) -> named_struct(" +
            "'l', 0.5D * x.v + 0.5D * (acc.l + acc.b), " +
            "'b', 0.125D * (x.v - acc.l) + 0.875D * acc.b))"))
        .select($"grp".as("o_orderpriority"), $"n_days",
          $"f.l".as("level_cents"), $"f.b".as("trend_cents_per_day"),
          ($"f.l" + lit(HorizonDays.toDouble) * $"f.b").as("forecast7_cents"))
        .orderBy($"o_orderpriority")
    },
    Some(s"""WITH RECURSIVE daily AS (
      |  SELECT o_orderpriority AS grp, CAST(o_orderdate AS DATE) AS d,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS DOUBLE) AS v
      |  FROM orders GROUP BY 1, 2),
      |ser AS MATERIALIZED (
      |  SELECT grp, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY d) AS rn, v
      |  FROM daily),
      |nd AS (SELECT grp, COUNT(*) AS n_days FROM ser GROUP BY 1),
      |rec AS (
      |  SELECT grp, rn, v AS l, CAST(0 AS DOUBLE) AS b FROM ser WHERE rn = 1
      |  UNION ALL
      |  SELECT s.grp, s.rn,
      |         0.5e0 * s.v + 0.5e0 * (r.l + r.b),
      |         0.125e0 * (s.v - r.l) + 0.875e0 * r.b
      |  FROM rec r JOIN ser s ON s.grp = r.grp AND s.rn = r.rn + 1)
      |SELECT rec.grp AS o_orderpriority, nd.n_days, rec.l AS level_cents,
      |       rec.b AS trend_cents_per_day,
      |       rec.l + ${HorizonDays}e0 * rec.b AS forecast7_cents
      |FROM rec JOIN nd ON nd.grp = rec.grp AND rec.rn = nd.n_days
      |ORDER BY 1""".stripMargin),
    doc = "timeseries: Holt linear-trend smoothing (alpha=1/2, beta=1/4) of daily revenue per priority via ordered left-fold — level + trend states and a 7-day-ahead forecast. " +
      "Holt: corpus collapses map-side to (priority, day) cells; the serial recurrence runs as ONE ordered left-fold per priority over a calendar-bounded array — no per-iteration shuffles; 5-row report.")

  val all: Seq[Q] = Seq(q232)
}
