package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Order-to-ship lead-time SLA profile — the fulfillment metric every
  * operations review opens with: per priority class, the p50/p90/p99
  * of days from order to line shipment plus the share shipped within
  * the 7-day promise. The ops twin of q153's clinical survival curve
  * (same time-to-event data shape, the business-percentile view).
  *
  * Exactness: TYPE-1 (discrete) percentiles — the smallest day value
  * whose cumulative count reaches ⌈p·n⌉ — selected from the per-day
  * histogram with pure integer arithmetic (for integer cum,
  * cum·q ≥ p·n ⟺ cum ≥ ⌈(p/q)·n⌉: the ceiling needs no division at
  * all). Interpolated percentiles at 0.9/0.99 land
  * on arbitrary fractions whose doubled grid still ties at quarter
  * values, exactly where engine ulp could flip a round() — the
  * discrete form has no float anywhere (the q92 histogram-quantile
  * stance). The SLA share is integer ppm.
  *
  * Scale shape: one co-partitioned orders⋈lineitem join (the q02
  * shuffle) collapses to a per-(priority, day) histogram in one
  * map-side-combinable aggregate; the cumulative window and the
  * percentile selection run on the CALENDAR-bounded histogram
  * (≤ max-lead-days rows per priority), never on line rows.
  */
object LeadTime {

  /** q183 — per-priority lead-time SLA ledger. */
  val q183 = Q(
    "q183_leadtime_sla",
    (s, dir) => {
      import s.implicits._
      val lead = Tables.load(s, dir, "orders")
        .select($"o_orderkey", $"o_orderpriority", to_date($"o_orderdate").as("od"))
        .join(Tables.load(s, dir, "lineitem")
          .select($"l_orderkey".as("o_orderkey"),
            to_date($"l_shipdate").as("sd")), "o_orderkey")
        .select($"o_orderpriority".as("pri"),
          datediff($"sd", $"od").cast("long").as("days"))
      val hist = lead.groupBy($"pri", $"days").agg(count(lit(1)).as("c"))
      val byDay = Window.partitionBy($"pri").orderBy($"days") // calendar-bounded
      val cum = hist
        .withColumn("cum", sum($"c").over(
          byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum($"c").over(Window.partitionBy($"pri")))
        .withColumn("w7", sum(when($"days" <= 7L, $"c").otherwise(0L))
          .over(Window.partitionBy($"pri")))
      cum.groupBy($"pri")
        .agg(max($"n").as("n_lines"),
          // for integer cum: cum·q ≥ p·n ⟺ cum ≥ ⌈(p/q)·n⌉ — the
          // type-1 rank condition with no division at all
          min(when($"cum" * 2L >= $"n", $"days")).as("p50_days"),
          min(when($"cum" * 10L >= $"n" * 9L, $"days")).as("p90_days"),
          min(when($"cum" * 100L >= $"n" * 99L, $"days")).as("p99_days"),
          max($"w7").as("w7"))
        .select($"pri".as("o_orderpriority"), $"n_lines",
          $"p50_days", $"p90_days", $"p99_days",
          expr("(w7 * 1000000) div n_lines").as("sla_7d_ppm"))
        .orderBy($"o_orderpriority")
    },
    Some("""WITH lead AS (
      |  SELECT o.o_orderpriority AS pri,
      |         CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
      |                        CAST(l.l_shipdate AS DATE)) AS BIGINT) AS days
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |hist AS (
      |  SELECT pri, days, COUNT(*) AS c FROM lead GROUP BY 1, 2),
      |cum AS (
      |  SELECT pri, days, c,
      |         CAST(SUM(c) OVER (PARTITION BY pri ORDER BY days
      |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |         CAST(SUM(c) OVER (PARTITION BY pri) AS BIGINT) AS n,
      |         CAST(SUM(CASE WHEN days <= 7 THEN c ELSE 0 END)
      |           OVER (PARTITION BY pri) AS BIGINT) AS w7
      |  FROM hist)
      |SELECT pri AS o_orderpriority, MAX(n) AS n_lines,
      |       MIN(CASE WHEN cum * 2 >= n THEN days END) AS p50_days,
      |       MIN(CASE WHEN cum * 10 >= n * 9 THEN days END) AS p90_days,
      |       MIN(CASE WHEN cum * 100 >= n * 99 THEN days END) AS p99_days,
      |       (MAX(w7) * 1000000) // MAX(n) AS sla_7d_ppm
      |FROM cum GROUP BY pri ORDER BY o_orderpriority""".stripMargin),
    doc = "ops: order-to-ship lead-time SLA — exact type-1 percentiles from the calendar-bounded histogram + 7-day share. " +
      "Lead times collapse map-side to the calendar-bounded (<= max-lead-days) per-priority histogram; the cumulative window and percentile selection run on that frame, never on line rows.")

  val all: Seq[Q] = Seq(q183)
}
