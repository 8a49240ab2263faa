package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exponentially-weighted moving average (Holt 1957 lineage; the
  * operational-monitoring smoother) over the daily revenue series —
  * the recency-weighted complement to q57's uniform rolling window
  * and q146's day-of-week baseline.
  *
  * Exactness: the classic recursion s_t = α·x_t + (1−α)·s_{t−1} is a
  * float accumulation whose value depends on the entire prefix — not
  * reproducible across engines bit-for-bit, and not parallelizable
  * without a prefix scan. This operator instead pins α = 1/2 and
  * TRUNCATES the kernel at 16 taps: weights 2⁻¹ … 2⁻¹⁶ are exact
  * dyadic rationals, so ewma·2¹⁶ = Σᵢ x_{t−i}·2^{15−i} is an exact
  * integer both engines compute identically (tail mass below 2⁻¹⁶ of
  * the oldest tap — under the cent grid for any realistic revenue).
  * The kernel is 16 windowed lag() terms — a FIXED-size expression,
  * embarrassingly parallel per partition key, no serial prefix scan.
  *
  * Scale shape: the corpus collapses to (priority, day) cells in one
  * map-side-combinable aggregate; the lag windows run per priority on
  * calendar-bounded frames (the q153 stance). Missing-day semantics:
  * lags step over OBSERVED days (the trading-day convention), so a
  * calendar gap does not zero the smoother.
  *
  * Long ceiling: day_cents·2¹⁵·16 — safe to ~10¹³ cents/day/group.
  */
object ExpSmoothing {

  private val Taps = 16

  /** q159 — dyadic-kernel EWMA of daily revenue per priority, last 15
    * observed days each.
    */
  val q159 = Q(
    "q159_ewma_revenue",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.load(s, dir, "orders")
        .groupBy($"o_orderpriority".as("grp"), to_date($"o_orderdate").as("d"))
        .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
          .as("day_cents"))
      val byDay = Window.partitionBy($"grp").orderBy($"d")
      val ewma = (0 until Taps)
        .map(i => coalesce(lag($"day_cents", i, 0L).over(byDay), lit(0L)) *
          lit(1L << (Taps - 1 - i)))
        .reduce(_ + _)
      val recent = daily
        .withColumn("ewma_x65536", ewma)
        .withColumn("rn", row_number().over(
          Window.partitionBy($"grp").orderBy($"d".desc)))
        .filter($"rn" <= 15)
      recent.select($"grp".as("o_orderpriority"), $"d".as("day"),
          $"day_cents", $"ewma_x65536")
        .orderBy($"o_orderpriority", $"day")
    },
    Some {
      val terms = (0 until Taps).map { i =>
        s"COALESCE(LAG(day_cents, $i, 0) OVER (PARTITION BY grp ORDER BY d), 0)" +
          s" * ${1L << (Taps - 1 - i)}"
      }.mkString(" + ")
      s"""WITH daily AS (
      |  SELECT o_orderpriority AS grp, CAST(o_orderdate AS DATE) AS d,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS day_cents
      |  FROM orders GROUP BY 1, 2),
      |sm AS (
      |  SELECT grp, d, day_cents,
      |         CAST($terms AS BIGINT) AS ewma_x65536,
      |         ROW_NUMBER() OVER (PARTITION BY grp ORDER BY d DESC) AS rn
      |  FROM daily)
      |SELECT grp AS o_orderpriority, d AS day, day_cents, ewma_x65536
      |FROM sm WHERE rn <= 15
      |ORDER BY o_orderpriority, day""".stripMargin
    },
    doc = "timeseries: 16-tap dyadic EWMA (alpha=1/2) of daily revenue — exact-integer recency smoothing. " +
      "Daily pre-aggregate first (calendar-bounded); the EWMA fold runs as a dyadic-kernel expression over the <=|days| frame per group — corpus contributes one map-side pass.")

  val all: Seq[Q] = Seq(q159)
}
