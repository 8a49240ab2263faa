package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Last-touch revenue attribution — the marketing-analytics ledger
  * over an event stream: every `purchase` is credited to the user's
  * most recent preceding touch (`click` or `view`); purchases with no
  * prior touch in the stream are reported as `unattributed`, never
  * silently dropped (the funnel/q73 completeness stance).
  *
  * Operator shape: this is an AS-OF JOIN (q56/q150's family) expressed
  * as ONE pass — union touches and conversions into a single ordered
  * stream per user and carry the last non-null touch type forward with
  * `last(ignoreNulls) OVER (ROWS UNBOUNDED PRECEDING)`. No join at
  * all: the window scan replaces the per-purchase backward lookup,
  * which is exactly how a 100 TB attribution job should run — one
  * shuffle on user_id, one ordered pass per user, map-side final
  * aggregate. Ordering is total (ts, event_id), so same-timestamp
  * touch/purchase pairs cannot flip between engines.
  */
object Attribution {

  val q192 = Q(
    "q192_touch_attribution",
    (s, dir) => {
      import s.implicits._
      val e = Tables.load(s, dir, "events")
      val stream = e
        .filter($"event_type".isin("click", "view", "purchase"))
        .select($"user_id", $"ts", $"event_id", $"event_type",
          when($"event_type" =!= "purchase", $"event_type").as("touch_type"),
          $"value")
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      stream
        .withColumn("channel",
          coalesce(last($"touch_type", ignoreNulls = true).over(w),
            lit("unattributed")))
        .filter($"event_type" === "purchase")
        .groupBy($"channel")
        .agg(count(lit(1)).as("n_purchases"),
          countDistinct($"user_id").as("n_buyers"),
          Q.sumMoney($"value").as("revenue"))
        .orderBy($"channel")
    },
    Some(s"""WITH stream AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         CASE WHEN event_type <> 'purchase' THEN event_type END AS touch_type,
      |         value
      |  FROM events
      |  WHERE event_type IN ('click', 'view', 'purchase')),
      |carried AS (
      |  SELECT user_id, event_type, value,
      |         COALESCE(LAST_VALUE(touch_type IGNORE NULLS) OVER (
      |           PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |           'unattributed') AS channel
      |  FROM stream)
      |SELECT channel, COUNT(*) AS n_purchases,
      |       COUNT(DISTINCT user_id) AS n_buyers,
      |       ${Q.oSum("value")} AS revenue
      |FROM carried WHERE event_type = 'purchase'
      |GROUP BY channel ORDER BY channel""".stripMargin),
    doc = "events: last-touch revenue attribution as a single ordered window pass (join-free as-of credit assignment). " +
      "Last-touch attribution: NO as-of join — one user-keyed Exchange, one ordered window pass carrying last(ignoreNulls) forward, map-side final aggregate; total (ts, event_id) order kills same-timestamp nondeterminism.")

  val all: Seq[Q] = Seq(q192)
}
