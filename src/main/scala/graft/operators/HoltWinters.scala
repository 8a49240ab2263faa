package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Holt–Winters additive seasonal smoothing (Winters 1960) of monthly
  * revenue — the third rung of the q159→q232 smoothing ladder: EWMA
  * tracks level, Holt adds trend, Holt–Winters adds the 12-month
  * seasonal profile, which is what an annual-cycle revenue series
  * actually needs before its forecast means anything.
  *
  * Recursion (α = 1/2, β = 1/4, γ = 1/2, additive, m = 12), with the
  * seasonal state kept as a ROTATED 12-vector whose head is always
  * the CURRENT month's seasonal — so the update is "pop head, push
  * updated head" and never needs positional writes (which neither
  * engine's fold can express):
  *   l_t = α(x_t − s_head) + (1−α)(l + b)
  *   b_t = β(l_t − l) + (1−β) b
  *   s'  = tail(s) ++ [ γ(x_t − l_t) + (1−γ) s_head ]
  * Init from the first full season: l₀ = (Σ first 12 cents)/12 (exact
  * integer numerator), b₀ = 0, s₀ᵢ = xᵢ − l₀.
  *
  * Exactness: a serial float recurrence over a ZERO-FILLED contiguous
  * month grid (a missing month would silently rotate the seasonality
  * out of phase — the grid is derived from the observed min/max month
  * and zero-filled, and `n_zero_months` is reported so the fill is
  * visible). All coefficients are dyadic; Spark runs the ordered
  * left-fold, and the DuckDB oracle unrolls the identical expressions
  * as a RECURSIVE CTE carrying the list state (multi-field
  * `list_reduce` state is aliased-wrong in v1.0 — the q232 lesson).
  *
  * Scale shape: the corpus collapses map-side to ≤ |months| cells;
  * the fold and the 12-row forecast are calendar-bounded epilogue.
  */
object HoltWinters {

  val q256 = Q(
    "q256_holt_winters",
    (s, dir) => {
      import s.implicits._
      val monthly = Tables.load(s, dir, "orders")
        .select(((year(to_date($"o_orderdate")) - 1995) * 12
          + month(to_date($"o_orderdate")) - 1).cast("long").as("m"),
          expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")
            .as("cents"))
        .groupBy($"m").agg(sum($"cents").as("v"))
      val grid = monthly.agg(min($"m").as("m0"), max($"m").as("m1"))
        .select(explode(expr("sequence(m0, m1)")).as("m"))
      val ser = grid.join(monthly, Seq("m"), "left_outer")
        .select($"m", coalesce($"v", lit(0L)).as("v"))
        .agg(sort_array(collect_list(struct($"m", $"v"))).as("ser"),
          count(lit(1)).as("n_months"),
          sum(when($"v" === 0, 1L).otherwise(0L)).as("n_zero_months"))
      val lnew = "0.5D * (cast(x.v as double) - acc.s[0]) + 0.5D * (acc.l + acc.b)"
      val folded = ser
        .withColumn("l0",
          expr("cast(aggregate(slice(ser, 1, 12), 0L, (a, e) -> a + e.v) as double) / 12D"))
        .withColumn("f", expr(
          s"""aggregate(
             |  slice(ser, 13, size(ser) - 12),
             |  named_struct('l', l0, 'b', 0D,
             |    's', transform(slice(ser, 1, 12), e -> cast(e.v as double) - l0)),
             |  (acc, x) -> named_struct(
             |    'l', $lnew,
             |    'b', 0.25D * (($lnew) - acc.l) + 0.75D * acc.b,
             |    's', concat(slice(acc.s, 2, 11),
             |      array(0.5D * (cast(x.v as double) - ($lnew)) + 0.5D * acc.s[0]))))""".stripMargin))
      folded
        .select($"n_months", $"n_zero_months", $"f.l".as("l"), $"f.b".as("b"),
          posexplode($"f.s").as(Seq("h0", "seasonal_cents")))
        .select(($"h0" + 1).cast("int").as("h"), $"n_months", $"n_zero_months",
          $"l".as("level_cents"), $"b".as("trend_cents_per_month"),
          $"seasonal_cents",
          ($"l" + ($"h0" + 1).cast("double") * $"b" + $"seasonal_cents")
            .as("forecast_cents"))
        .orderBy($"h")
    },
    Some("""WITH RECURSIVE monthly AS (
      |  SELECT (year(CAST(o_orderdate AS DATE)) - 1995) * 12
      |           + month(CAST(o_orderdate AS DATE)) - 1 AS m,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
      |  FROM orders GROUP BY 1),
      |bounds AS (SELECT MIN(m) AS m0, MAX(m) AS m1 FROM monthly),
      |grid AS (SELECT UNNEST(range(m0, m1 + 1)) AS m FROM bounds),
      |ser AS MATERIALIZED (
      |  SELECT ROW_NUMBER() OVER (ORDER BY g.m) AS rn,
      |         CAST(COALESCE(mo.v, 0) AS DOUBLE) AS v,
      |         COALESCE(mo.v, 0) AS vi
      |  FROM grid g LEFT JOIN monthly mo ON mo.m = g.m),
      |meta AS (
      |  SELECT COUNT(*) AS n_months,
      |         CAST(SUM(CASE WHEN vi = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_months
      |  FROM ser),
      |init AS (
      |  SELECT CAST(SUM(vi) AS DOUBLE) / 12e0 AS l0
      |  FROM ser WHERE rn <= 12),
      |s0 AS (
      |  SELECT list(s.v - i.l0 ORDER BY s.rn) AS s
      |  FROM ser s, init i WHERE s.rn <= 12),
      |rec AS (
      |  SELECT 12 AS rn, i.l0 AS l, CAST(0 AS DOUBLE) AS b, s0.s AS s
      |  FROM init i, s0
      |  UNION ALL
      |  SELECT x.rn,
      |         0.5e0 * (x.v - r.s[1]) + 0.5e0 * (r.l + r.b),
      |         0.25e0 * ((0.5e0 * (x.v - r.s[1]) + 0.5e0 * (r.l + r.b)) - r.l)
      |           + 0.75e0 * r.b,
      |         r.s[2:12]
      |           || [0.5e0 * (x.v - (0.5e0 * (x.v - r.s[1]) + 0.5e0 * (r.l + r.b)))
      |               + 0.5e0 * r.s[1]]
      |  FROM rec r JOIN ser x ON x.rn = r.rn + 1),
      |fin AS (
      |  SELECT r.l, r.b, r.s FROM rec r, meta WHERE r.rn = meta.n_months)
      |SELECT CAST(h AS INT) AS h, meta.n_months, meta.n_zero_months,
      |       fin.l AS level_cents, fin.b AS trend_cents_per_month,
      |       fin.s[CAST(h AS INT)] AS seasonal_cents,
      |       fin.l + CAST(h AS DOUBLE) * fin.b + fin.s[CAST(h AS INT)] AS forecast_cents
      |FROM fin, meta, (SELECT UNNEST(range(1, 13)) AS h)
      |ORDER BY h""".stripMargin),
    doc = "timeseries: Holt-Winters additive seasonal smoothing (alpha=1/2, beta=1/4, gamma=1/2, m=12) of monthly revenue on a zero-filled contiguous grid — rotated seasonal vector, 12-month forecast. " +
      "HW: corpus collapses map-side to <=|months| cells; the zero-filled grid, the rotated-seasonal fold, and the 12-row forecast are calendar-bounded epilogue on a 1-row array frame.")

  val all: Seq[Q] = Seq(q256)
}
