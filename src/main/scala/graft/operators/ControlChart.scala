package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Shewhart p-chart over the monthly return rate (Shewhart 1931; the
  * SPC operator every operations dashboard runs): each month's
  * returned-line share is tested against the corpus-wide center line
  * ± 3σ binomial limits with that month's own sample size — the
  * statistically-correct way to ask "was this month's return rate
  * actually unusual", vs the naive fixed-threshold alert.
  *
  * Exactness: counts and ppm shares are exact integers; the 3σ limit
  * is ONE IEEE expression (3·√(p̄(1−p̄)/nᵢ)) over identical integer
  * inputs with identical shape in both engines (the q151/q166
  * stance), and the out-of-control flag compares doubles produced by
  * that same expression — no rounding negotiation.
  *
  * Scale shape: one map-side-combinable month aggregate (calendar
  * bounded frame); the center line rides a 1-row broadcast.
  */
object ControlChart {

  /** q168 — monthly return-rate p-chart. */
  val q168 = Q(
    "q168_return_pchart",
    (s, dir) => {
      import s.implicits._
      val m = Tables.load(s, dir, "lineitem")
        .groupBy(date_trunc("month", $"l_shipdate").cast("date").as("month"))
        .agg(count(lit(1)).as("n"),
          sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("r"))
      val center = m.agg(sum($"n").as("tn"), sum($"r").as("tr"))
      m.crossJoin(broadcast(center))
        .select($"month", $"n", $"r",
          expr("(r * 1000000) div n").as("p_ppm"),
          expr("(tr * 1000000) div tn").as("pbar_ppm"),
          (abs($"r".cast("double") / $"n".cast("double") -
            $"tr".cast("double") / $"tn".cast("double")) >
            lit(3.0) * sqrt(($"tr".cast("double") / $"tn".cast("double")) *
              (lit(1.0) - $"tr".cast("double") / $"tn".cast("double")) /
              $"n".cast("double"))).as("out_of_control"))
        .orderBy($"month")
    },
    Some("""WITH m AS (
      |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
      |         COUNT(*) AS n,
      |         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS r
      |  FROM lineitem GROUP BY 1),
      |c AS (SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(r) AS BIGINT) AS tr FROM m)
      |SELECT month, n, r,
      |       (r * 1000000) // n AS p_ppm,
      |       (tr * 1000000) // tn AS pbar_ppm,
      |       ABS(CAST(r AS DOUBLE) / CAST(n AS DOUBLE) -
      |           CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE)) >
      |         3.0 * SQRT((CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE)) *
      |           (1.0 - CAST(tr AS DOUBLE) / CAST(tn AS DOUBLE)) /
      |           CAST(n AS DOUBLE)) AS out_of_control
      |FROM m, c ORDER BY month""".stripMargin),
    doc = "SPC: monthly return-rate p-chart with per-month 3-sigma binomial limits. " +
      "Monthly (n, returns) cells collapse map-side (calendar-bounded); control limits are per-row IEEE epilogue on the month frame.")

  val all: Seq[Q] = Seq(q168)
}
