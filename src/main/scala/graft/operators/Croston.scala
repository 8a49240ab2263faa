package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Croston's method (Croston 1972) with the Syntetos–Boylan
  * correction (SBA, 2005) for INTERMITTENT demand — the forecasting
  * family q232/q256 cannot serve: when most periods have zero demand,
  * exponential smoothing of the raw series chases zeros and spikes.
  * Croston smooths two separate series — the nonzero demand SIZES and
  * the INTERVALS between them — and forecasts their ratio; SBA
  * multiplies by (1 − α/2) to kill Croston's documented positive
  * bias. Run on a deterministic slow-mover slice of the part
  * catalogue (partkey ≡ 1 mod 997 — scale-proportional, so the series
  * stays sparse at every SF).
  *
  * Recursion (α = 1/2, z = size state, p = interval state; init
  * z₁ = x₁, p₁ = q₁ = first demand month − grid start + 1):
  *   z ← z/2 + x/2,   p ← p/2 + q/2   per demand event.
  *
  * Exactness: inter-demand gaps q are exact longs computed BEFORE the
  * fold (single-field lag, engine-identical); the two-state float
  * fold is Spark `aggregate` vs a DuckDB RECURSIVE CTE (the q232
  * multi-field list_reduce aliasing lesson); demand sizes are exact
  * centi-unit longs cast once.
  *
  * Scale shape: the filtered scan collapses map-side to ≤ |months|
  * demand cells; gaps, the fold, and the 1-row report are
  * calendar-bounded epilogue. 1 row out.
  */
object Croston {

  val Mod = 997L

  val q257 = Q(
    "q257_croston_sba",
    (s, dir) => {
      import s.implicits._
      val monthly = Tables.load(s, dir, "lineitem")
        .filter($"l_partkey" % Mod === 1)
        .select(((year(to_date($"l_shipdate")) - 1995) * 12
          + month(to_date($"l_shipdate")) - 1).cast("long").as("m"),
          expr("cast(cast(l_quantity as decimal(18,2)) * 100 as bigint)")
            .as("qty"))
        .groupBy($"m").agg(sum($"qty").as("x"))
      val start = Tables.load(s, dir, "lineitem")
        .agg(((year(min(to_date($"l_shipdate"))) - 1995) * 12
          + month(min(to_date($"l_shipdate"))) - 1).cast("long").as("m_start"))
      val events = monthly.crossJoin(broadcast(start))
        .select($"m", $"x", $"m_start")
      events
        .agg(sort_array(collect_list(struct($"m", $"x"))).as("ev"),
          count(lit(1)).as("n_events"), min($"m_start").as("m_start"),
          max($"m").as("m_last"))
        .filter($"n_events" > 0) // empty slice ⇒ 0 rows, matching the oracle
        .withColumn("gaps", expr(
          // q_i as exact longs: first gap from grid start (inclusive count),
          // then month differences between consecutive demand events.
          """transform(ev, (e, i) ->
            |  named_struct('x', cast(e.x as double),
            |    'q', cast(IF(i = 0, e.m - m_start + 1L, e.m - ev[i - 1].m) as double)))"""
            .stripMargin))
        .withColumn("f", expr(
          """aggregate(
            |  slice(gaps, 2, size(gaps) - 1),
            |  named_struct('z', gaps[0].x, 'p', gaps[0].q),
            |  (acc, e) -> named_struct(
            |    'z', 0.5D * acc.z + 0.5D * e.x,
            |    'p', 0.5D * acc.p + 0.5D * e.q))""".stripMargin))
        .select($"n_events", ($"m_last" - $"m_start" + 1).as("n_months"),
          $"f.z".as("size_state_cu"), $"f.p".as("interval_state_months"),
          ($"f.z" / $"f.p").as("croston_cu_per_month"),
          (lit(0.75d) * ($"f.z" / $"f.p")).as("sba_cu_per_month"))
    },
    Some(s"""WITH RECURSIVE monthly AS (
      |  SELECT (year(CAST(l_shipdate AS DATE)) - 1995) * 12
      |           + month(CAST(l_shipdate AS DATE)) - 1 AS m,
      |         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS x
      |  FROM lineitem WHERE l_partkey % $Mod = 1
      |  GROUP BY 1),
      |st AS (
      |  SELECT (year(MIN(CAST(l_shipdate AS DATE))) - 1995) * 12
      |           + month(MIN(CAST(l_shipdate AS DATE))) - 1 AS m_start
      |  FROM lineitem),
      |ev AS MATERIALIZED (
      |  SELECT ROW_NUMBER() OVER (ORDER BY m) AS rn, m,
      |         CAST(x AS DOUBLE) AS x,
      |         CAST(COALESCE(m - LAG(m) OVER (ORDER BY m),
      |                       m - (SELECT m_start FROM st) + 1) AS DOUBLE) AS q
      |  FROM monthly),
      |meta AS (
      |  SELECT COUNT(*) AS n_events,
      |         CAST(MAX(m) - (SELECT m_start FROM st) + 1 AS BIGINT) AS n_months
      |  FROM ev),
      |rec AS (
      |  SELECT CAST(1 AS BIGINT) AS rn, x AS z, q AS p FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT e.rn, 0.5e0 * r.z + 0.5e0 * e.x, 0.5e0 * r.p + 0.5e0 * e.q
      |  FROM rec r JOIN ev e ON e.rn = r.rn + 1)
      |SELECT meta.n_events, meta.n_months,
      |       rec.z AS size_state_cu, rec.p AS interval_state_months,
      |       rec.z / rec.p AS croston_cu_per_month,
      |       0.75e0 * (rec.z / rec.p) AS sba_cu_per_month
      |FROM rec, meta WHERE rec.rn = meta.n_events""".stripMargin),
    doc = "timeseries: Croston + Syntetos-Boylan intermittent-demand forecast for the slow-mover part slice (partkey = 1 mod 997) — two-state ordered fold over demand events, exact gap integers. " +
      "Croston: the mod-997 filtered scan collapses map-side to <=|months| demand cells; exact gaps precompute before the two-state fold; 1 row out.")

  val all: Seq[Q] = Seq(q257)
}
