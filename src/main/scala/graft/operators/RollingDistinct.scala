package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Trailing-window DISTINCT counting — the one windowed aggregate the
  * window-function family (q29/q57/q62) cannot express: COUNT(DISTINCT)
  * over a RANGE frame is unsupported in both engines' window operators
  * (and in Spark would be wrong under retraction anyway), so the
  * rolling "7-day active users" metric needs its own shape:
  *
  *  1. collapse the event stream to distinct (user, day) — the only
  *     corpus-sized aggregate, map-side combinable;
  *  2. enumerate report days (tiny — one row per day with activity);
  *  3. equi-theta join day ∈ [d−6, d] — the small side BROADCASTS, so
  *     each (user, day) row fans out to ≤ 7 report days map-side with
  *     no shuffle of the big side;
  *  4. one exact count-distinct per report day.
  *
  * At 100 TB the fan-out factor is the window length (constant), the
  * broadcast side is |days| rows, and the final aggregate keys on
  * (report_day, user) — AQE-splittable if one day is hot. The
  * HLL-sketch variant (q63/q151's algebra) replaces step 4 when
  * approximate is acceptable; this operator is the exact baseline.
  */
object RollingDistinct {

  val WindowDays = 7

  val q190 = Q(
    "q190_rolling_distinct",
    (s, dir) => {
      import s.implicits._
      val du = Tables.load(s, dir, "events")
        .select($"user_id", to_date($"ts").as("day")).distinct()
      val days = du.select($"day".as("report_day")).distinct()
      du.join(broadcast(days),
          $"day" >= date_sub($"report_day", WindowDays - 1) &&
            $"day" <= $"report_day")
        .groupBy($"report_day")
        .agg(countDistinct($"user_id").as("active_users"),
          count(lit(1)).as("user_days"))
        .orderBy($"report_day")
    },
    Some(s"""WITH du AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |days AS (SELECT DISTINCT day AS report_day FROM du)
      |SELECT d.report_day,
      |       COUNT(DISTINCT u.user_id) AS active_users,
      |       COUNT(*) AS user_days
      |FROM du u JOIN days d
      |  ON u.day BETWEEN d.report_day - ${WindowDays - 1} AND d.report_day
      |GROUP BY 1 ORDER BY 1""".stripMargin),
    doc = "window: exact trailing-7-day distinct active users (broadcast day fan-out — the COUNT DISTINCT no window frame can express). " +
      "Rolling 7-day distinct: corpus collapses to distinct (user, day) map-side; the |days|-row report frame broadcasts into a <=7x fan-out theta join; one exact count-distinct per report day (q63's HLL is the sketch variant).")

  val all: Seq[Q] = Seq(q190)
}
