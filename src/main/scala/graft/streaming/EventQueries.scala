package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-feed analytics (SURVEY.md §2.10). The reference's "real-time
  * clinical surveillance" is a batch query over current rows
  * (healthcare-sql-analytics.sql:442-518) — here each windowed
  * aggregation exists twice: the batch form below (DuckDB-verifiable)
  * and the true Structured Streaming job in [[EventStreamJob]] which
  * produces the identical frame via readStream+watermark (tested for
  * equality in EventStreamSpec).
  */
object EventQueries {

  private def events(s: SparkSession, dir: String) = Tables.load(s, dir, "events")

  /** q73 — ordered funnel: view → click → purchase, where each stage
    * must happen strictly AFTER the previous one for the same user
    * (ordering is the whole point — a purchase before any view is not a
    * conversion). Per-user stage times come from conditional min
    * aggregates over ONE shuffle: min(view), then min(click > first
    * view), then min(purchase > that click). Two-phase conditional
    * aggregation (min-per-stage, then recheck) replaces a 3-way
    * self-join — at scale the event table is scanned once and shuffled
    * once on user_id.
    */
  val q73 = Q(
    "q73_event_funnel",
    (s, dir) => {
      import s.implicits._
      val ev = events(s, dir)
        .select($"user_id", $"event_type", expr("unix_micros(ts)").as("us"))
      val v = ev.filter($"event_type" === "view")
        .groupBy($"user_id").agg(min($"us").as("t_view"))
      val c = ev.filter($"event_type" === "click")
        .join(v, Seq("user_id"))
        .filter($"us" > $"t_view")
        .groupBy($"user_id").agg(min($"us").as("t_click"))
      val p = ev.filter($"event_type" === "purchase")
        .join(c, Seq("user_id"))
        .filter($"us" > $"t_click")
        .groupBy($"user_id").agg(min($"us").as("t_purchase"))
      v.join(c, Seq("user_id"), "left_outer")
        .join(p, Seq("user_id"), "left_outer")
        .agg(
          count(lit(1)).as("n_viewed"),
          count($"t_click").as("n_clicked"),
          count($"t_purchase").as("n_purchased"),
          (count($"t_click") * 100.0 / count(lit(1))).as("view_to_click_pct"),
          (count($"t_purchase") * 100.0 / count(lit(1))).as("view_to_purchase_pct"))
    },
    Some("""WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |v AS (
      |  SELECT user_id, MIN(us) AS t_view FROM ev
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT ev.user_id, MIN(us) AS t_click
      |  FROM ev JOIN v ON ev.user_id = v.user_id
      |  WHERE event_type = 'click' AND us > t_view GROUP BY ev.user_id),
      |p AS (
      |  SELECT ev.user_id, MIN(us) AS t_purchase
      |  FROM ev JOIN c ON ev.user_id = c.user_id
      |  WHERE event_type = 'purchase' AND us > t_click GROUP BY ev.user_id)
      |SELECT COUNT(*) AS n_viewed,
      |       COUNT(t_click) AS n_clicked,
      |       COUNT(t_purchase) AS n_purchased,
      |       COUNT(t_click) * 100.0 / COUNT(*) AS view_to_click_pct,
      |       COUNT(t_purchase) * 100.0 / COUNT(*) AS view_to_purchase_pct
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |       LEFT JOIN p ON v.user_id = p.user_id""".stripMargin),
    doc = "ordered funnel view→click→purchase (stage-min aggregates, one event scan). " +
      "Funnel via min-timestamp-per-stage in one aggregate + ordered recheck — events scanned once, shuffled once on user_id; no 3-way self-join.")

  /** q36 — tumbling-window aggregation (1 hour). Spark `window()` starts
    * align to the epoch hour grid = date_trunc('hour') for a 1h tumble.
    * Output bucket as string (timestamp-representation-free compare).
    */
  val q36 = Q(
    "q36_event_tumbling",
    (s, dir) => {
      import s.implicits._
      events(s, dir)
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"),
             Q.avgMoney($"value").as("avg_value"),
             Q.sumMoney($"value").as("total_value"))
        .select(
          date_format($"window.start", "yyyy-MM-dd HH:mm").as("hour_start"),
          $"event_type", $"n", $"avg_value", $"total_value")
        .orderBy($"hour_start", $"event_type")
    },
    Some(s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_start,
      |       event_type, COUNT(*) AS n,
      |       ${Q.oAvg("value")} AS avg_value,
      |       ${Q.oSum("value")} AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_start, event_type""".stripMargin),
    doc = "streaming batch-equivalent: tumbling 1h window. " +
      "Tumbling window() is a per-row bucket projection + map-side-combinable aggregate — one narrow shuffle on (bucket, type).")

  /** q37 — sliding-window aggregation (1 hour window, 15 min slide).
    * Each event belongs to 4 overlapping windows; Spark's window()
    * start grid is floor(ts/15min)*15min - k*15min for k∈0..3. The
    * oracle reproduces the same window assignment by cross-joining the
    * 4 offsets — proving the sliding semantics, not just trusting them.
    */
  val q37 = Q(
    "q37_event_sliding",
    (s, dir) => {
      import s.implicits._
      events(s, dir)
        .groupBy(window($"ts", "1 hour", "15 minutes"), $"event_type")
        .agg(count(lit(1)).as("n"), Q.sumMoney($"value").as("total_value"))
        .select(
          date_format($"window.start", "yyyy-MM-dd HH:mm").as("window_start"),
          $"event_type", $"n", $"total_value")
        .orderBy($"window_start", $"event_type")
    },
    Some(s"""WITH slid AS (
      |  SELECT strftime(time_bucket(INTERVAL '15 minutes', ts)
      |                    - k.k * INTERVAL '15 minutes', '%Y-%m-%d %H:%M') AS window_start,
      |         event_type, value
      |  FROM events CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS k) k)
      |SELECT window_start, event_type, COUNT(*) AS n,
      |       ${Q.oSum("value")} AS total_value
      |FROM slid
      |GROUP BY window_start, event_type
      |ORDER BY window_start, event_type""".stripMargin),
    doc = "streaming batch-equivalent: sliding 1h/15min window. " +
      "Sliding window expands each event to its 4 overlapping buckets BEFORE the map-side combine — a bounded x4 fanout, not a join.")

  /** q38 — semi-structured JSON extraction from the props column
    * (events.props is a JSON string — FIXTURES.md §2; the reference has
    * no nested data, this is the engine extension for event payloads).
    * regexp-based so the oracle needs no JSON extension; the library
    * ALSO exposes from_json in EventStreamJob for the typed path.
    */
  val q38 = Q(
    "q38_event_json_extract",
    (s, dir) => {
      import s.implicits._
      events(s, dir)
        .withColumn("k", regexp_extract($"props", "\"k\":\\s*(\\d+)", 1).cast("long"))
        .filter($"k" > 50)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
             (sum($"k").cast("double") / count(lit(1))).as("avg_k"),
             max($"k").as("max_k"))
        .orderBy($"event_type")
    },
    Some("""WITH ex AS (
      |  SELECT event_type,
      |         CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k
      |  FROM events)
      |SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(k) AS DOUBLE) / COUNT(*) AS avg_k,
      |       MAX(k) AS max_k
      |FROM ex
      |WHERE k > 50
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin),
    doc = "JSON payload extraction (regexp; typed from_json in streaming job). " +
      "regexp_extract runs inside the scan stage; the k>50 filter prunes before the aggregate shuffle.")

  /** q39 — threshold surveillance (the reference's "real-time clinical
    * surveillance" Q5, healthcare-sql-analytics.sql:442-518: flag
    * currently-active entities whose vitals exceed thresholds).
    * Per-user sessionized activity: users whose hourly error count
    * exceeds a floor → alert rows.
    */
  val q39 = Q(
    "q39_event_alerts",
    (s, dir) => {
      import s.implicits._
      events(s, dir)
        .filter($"event_type" === "error")
        .groupBy($"user_id", date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm").as("hour_start"))
        .agg(count(lit(1)).as("n_errors"),
             Q.sumMoney($"value").as("error_value"))
        .filter($"n_errors" >= 2)
        .orderBy($"user_id", $"hour_start")
    },
    Some(s"""SELECT user_id,
      |       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_start,
      |       COUNT(*) AS n_errors,
      |       ${Q.oSum("value")} AS error_value
      |FROM events
      |WHERE event_type = 'error'
      |GROUP BY 1, 2
      |HAVING COUNT(*) >= 2
      |ORDER BY user_id, hour_start""".stripMargin),
    doc = "surveillance thresholds (streaming-alert batch equivalent). " +
      "event_type filter in PushedFilters; per-(user, hour) aggregate with a post-agg alert floor — alert frame is already tiny when it shuffles.")

  /** q54 — event sessionization (gaps-and-islands): consecutive events
    * of a user belong to one session while the inter-event gap is
    * ≤ 120 minutes. The declarative batch form: LAG to flag session
    * starts, running SUM to number islands, then a per-session rollup —
    * ONE shuffle by user key for all three window steps plus the final
    * aggregate (same partitioning reused). Gap math is exact integer
    * microseconds (unix_micros) so both engines agree at any timestamp
    * precision. The stateful streaming twin ([[EventStreamJob.sessionize]],
    * flatMapGroupsWithState) implements identical semantics and is
    * asserted equal in EventStreamSpec.
    */
  val q54 = Q(
    "q54_event_sessions",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val gapUs = EventStreamJob.SessionGapUs
      val byUser = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      val run = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select($"user_id", $"event_id", unix_micros($"ts").as("us"), $"value")
        .withColumn("new_sess",
          when(($"us" - lag($"us", 1).over(byUser)) <= gapUs, 0).otherwise(1))
        .withColumn("sess", sum($"new_sess").over(run))
        .groupBy($"user_id", $"sess")
        .agg(
          min($"us").as("start_us"),
          count(lit(1)).as("n_events"),
          Q.sumMoney($"value").as("total_value"),
          (max($"us") - min($"us")).as("duration_us"))
        .select($"user_id",
          date_format(timestamp_micros($"start_us"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          $"n_events", $"total_value", $"duration_us")
        .orderBy($"user_id", $"session_start")
    },
    Some(s"""WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
      |lagged AS (
      |  SELECT user_id, event_id, us, value,
      |         CASE WHEN us - LAG(us) OVER w <= ${EventStreamJob.SessionGapUs}
      |              THEN 0 ELSE 1 END AS new_sess
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |islands AS (
      |  SELECT user_id, us, value,
      |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
      |           ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM lagged)
      |SELECT user_id,
      |       strftime(make_timestamp(MIN(us)), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       COUNT(*) AS n_events,
      |       ${Q.oSum("value")} AS total_value,
      |       MAX(us) - MIN(us) AS duration_us
      |FROM islands
      |GROUP BY user_id, sess
      |ORDER BY user_id, session_start""".stripMargin),
    doc = "sessionization: 120-min-gap islands (window batch; stateful streaming twin). " +
      "Gap sessionization in ONE per-user window pass (lag -> gap flag -> cumulative session id); the mapGroupsWithState streaming twin is spec-asserted equal.")

  /** q76 — time-weighted average (the clinical-vitals aggregation the
    * plain AVG gets wrong: a reading standing for 6 hours must weigh 6×
    * one standing for an hour). Interval per reading = LAG to the next
    * event (total order per user), weight = µs duration; the weighted
    * sum runs in DECIMAL so shuffle order can't perturb the double.
    */
  val q76 = Q(
    "q76_time_weighted_avg",
    (s, dir) => {
      import s.implicits._
      // MILLISECOND durations, not µs: the pooled decimal·integer
      // weighted sum must stay under 2⁵³ units so its double conversion
      // is exact in both engines (µs sums crossed that line at sf0.001
      // and the engines' last-ulp decimal→double roundings diverged).
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ms", $"event_id")
      val spans = events(s, dir)
        .filter($"event_type" === "view")
        .select($"user_id", $"event_id", $"value", expr("unix_millis(ts)").as("ms"))
        .withColumn("next_ms", lead($"ms", 1).over(w))
        .filter($"next_ms".isNotNull)
        .withColumn("dur_ms", $"next_ms" - $"ms")
      // POOLED statistics, not mean-of-per-user-averages: a per-user
      // average is a double that would need re-rounding to aggregate
      // exactly, and double→DECIMAL rounding is half-mode-divergent
      // across engines on .xx5 boundaries (Q.scala's determinism note —
      // this query originally hit one at sf0.1). Pooled sums stay in
      // exact decimal·integer arithmetic until one final division.
      spans.agg(
        countDistinct($"user_id").as("n_users"),
        count(lit(1)).as("n_spans"),
        (sum(Q.money($"value") * $"dur_ms").cast("double") /
          sum($"dur_ms")).as("tw_avg_value"),
        (sum(Q.money($"value")).cast("double") / count(lit(1))).as("plain_avg"))
    },
    Some("""WITH spans AS (
      |  SELECT user_id, event_id, value,
      |         LEAD(epoch_ms(ts), 1) OVER w - epoch_ms(ts) AS dur_ms
      |  FROM events WHERE event_type = 'view'
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id))
      |SELECT COUNT(DISTINCT user_id) AS n_users,
      |       COUNT(*) AS n_spans,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2)) * dur_ms) AS DOUBLE)
      |         / SUM(dur_ms) AS tw_avg_value,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
      |         / COUNT(*) AS plain_avg
      |FROM spans WHERE dur_ms IS NOT NULL""".stripMargin),
    doc = "time-weighted average vs plain average (decimal-exact weighted sums). " +
      "LAG-to-next-event per-user window gives exact microsecond durations; the weighted sum accumulates in DECIMAL so shuffle order cannot perturb it.")

  /** q77 — event path analysis: each user's first three events in time
    * order form a path string; paths are ranked by user count. The
    * per-user sequence comes from ONE groupBy with an order-invariant
    * sort_array(collect_list(struct)) — no window sort of the full
    * event table, and collect_list's nondeterministic arrival order is
    * neutralized by the struct sort (total order: us, event_id).
    */
  val q77 = Q(
    "q77_event_paths",
    (s, dir) => {
      import s.implicits._
      events(s, dir)
        .select($"user_id",
          struct(expr("unix_micros(ts)").as("us"), $"event_id", $"event_type").as("e"))
        .groupBy($"user_id")
        .agg(sort_array(collect_list($"e")).as("es"))
        .select($"user_id",
          concat_ws(">", expr("transform(slice(es, 1, 3), x -> x.event_type)"))
            .as("path"))
        .groupBy($"path").agg(count(lit(1)).as("n_users"))
        .orderBy($"n_users".desc, $"path").limit(10)
    },
    Some("""WITH ordered AS (
      |  SELECT user_id, event_type,
      |         ROW_NUMBER() OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events),
      |paths AS (
      |  SELECT user_id,
      |         string_agg(event_type, '>' ORDER BY rn) AS path
      |  FROM ordered WHERE rn <= 3 GROUP BY user_id)
      |SELECT path, COUNT(*) AS n_users
      |FROM paths GROUP BY path
      |ORDER BY n_users DESC, path LIMIT 10""".stripMargin),
    doc = "event path analysis: first-3-event sequences ranked by user count. " +
      "Paths via sort_array(collect_list(struct)) — built inside the aggregate, no full-table window sort; collect_list's arrival nondeterminism neutralized by the struct sort.")

  /** q93 — key-less interval join via bucketing: every `error` event
    * opens a 10-minute incident window; count, per event type, the
    * events falling inside ANY window. Without an equi-key Spark plans
    * a raw `ts BETWEEN a AND b` join as BroadcastNestedLoopJoin — the
    * O(n·m) scale killer. The standard fix: quantize time into buckets
    * exactly one window long, explode each window onto the (at most
    * two) buckets it touches, equi-join on the bucket, then apply the
    * exact range as a residual filter. Each event lives in exactly one
    * bucket, so no pair is emitted twice; the join is a plain shuffled
    * equi-join that partitions by time — at 100 TB the shuffle carries
    * (bucket, µs) pairs, never the cross product.
    *
    * Bucket arithmetic is integer µs both engines (`div` ≡ `//`), so
    * the oracle — written as the naive range join DuckDB's IEJoin
    * executes happily at test scale — matches bit-for-bit.
    */
  val q93 = Q(
    "q93_interval_bucket_join",
    (s, dir) => {
      import s.implicits._
      val B = 600000000L // 10 min in µs — bucket length == window length
      val e = events(s, dir)
        .select($"event_id", $"event_type", expr("unix_micros(ts)").as("us"))
      val incidents = e.filter($"event_type" === "error")
        .select($"event_id".as("inc_id"), $"us".as("w0"))
        .withColumn("w1", $"w0" + B)
        .withColumn("bucket",
          explode(array(expr(s"w0 div $B"), expr(s"w0 div $B + 1"))))
      val probes = e.withColumn("bucket", expr(s"us div $B"))
      incidents.join(probes, Seq("bucket"))
        .filter($"us" >= $"w0" && $"us" < $"w1")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_pairs"),
             countDistinct($"event_id").as("n_events"),
             countDistinct($"inc_id").as("n_incidents"))
        .orderBy($"event_type")
    },
    Some("""WITH e AS (
      |  SELECT event_id, event_type, epoch_us(ts) AS us FROM events),
      |inc AS (
      |  SELECT event_id AS inc_id, us AS w0, us + 600000000 AS w1
      |  FROM e WHERE event_type = 'error')
      |SELECT e.event_type,
      |       COUNT(*) AS n_pairs,
      |       COUNT(DISTINCT e.event_id) AS n_events,
      |       COUNT(DISTINCT i.inc_id) AS n_incidents
      |FROM inc i JOIN e ON e.us >= i.w0 AND e.us < i.w1
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin),
    doc = "J-family scale path: key-less interval join via one-window-length time buckets (no BroadcastNestedLoopJoin). " +
      "Key-less interval join: windows exploded onto one-window-length time buckets, shuffled equi-join on the bucket + residual range filter — no BroadcastNestedLoopJoin (plan-asserted).")

  /** q130 — sessionization via Spark's NATIVE `session_window`
    * (SPARK-10816 merging-interval aggregation): the same
    * gaps-and-islands answer as q54, produced by the operator a
    * STREAMING sessionizer would run — `groupBy(user_id,
    * session_window(ts, gap))` compiles to UpdatingSessions +
    * MergingSessions over ONE user-keyed exchange (no window
    * functions, no LAG), and the identical expression works under
    * `readStream` + watermark where q54's batch windows cannot.
    *
    * SEMANTIC EDGE vs q54, deliberate and oracle-pinned: native
    * session windows merge only when event windows OVERLAP, so a gap
    * of EXACTLY the session timeout starts a new session (strict <),
    * while q54's LAG form keeps it (≤). The oracle mirrors the strict
    * form — the two queries agree everywhere except exact-boundary
    * gaps, and both conventions exist in production sessionizers.
    *
    * Scale: the merge is sort-based within each user partition —
    * state proportional to OPEN sessions, not events; skewed users
    * cost a sort, never a cross product.
    */
  val q130 = Q(
    "q130_native_session_window",
    (s, dir) => {
      import s.implicits._
      val mins = EventStreamJob.SessionGapUs / 60000000L
      events(s, dir)
        .select($"user_id", $"ts", expr("unix_micros(ts)").as("us"), $"value")
        .groupBy($"user_id", session_window($"ts", s"$mins minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          graft.Q.sumMoney($"value").as("total_value"),
          (max($"us") - min($"us")).as("duration_us"),
          min($"us").as("start_us"))
        .select($"user_id",
          date_format(timestamp_micros($"start_us"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          $"n_events", $"total_value", $"duration_us")
        .orderBy($"user_id", $"session_start")
    },
    Some(s"""WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
      |lagged AS (
      |  SELECT user_id, us, value,
      |         CASE WHEN us - LAG(us) OVER w < ${EventStreamJob.SessionGapUs}
      |              THEN 0 ELSE 1 END AS new_sess
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |islands AS (
      |  SELECT user_id, us, value,
      |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us
      |           ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM lagged)
      |SELECT user_id,
      |       strftime(make_timestamp(MIN(us)), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       COUNT(*) AS n_events,
      |       ${graft.Q.oSum("value")} AS total_value,
      |       MAX(us) - MIN(us) AS duration_us
      |FROM islands
      |GROUP BY user_id, sess
      |ORDER BY user_id, session_start""".stripMargin),
    doc = "sessionization: native session_window merging-interval aggregation (strict-gap convention), the streaming-capable operator form. " +
      "Native session windows: UpdatingSessions + MergingSessions over ONE user-keyed Exchange — state proportional to OPEN sessions, no LAG/running-sum window cascade; the identical expression runs under readStream + watermark.")

  /** q134 — time-grid resample + forward fill (LOCF): align each
    * user's event series to a daily grid between their first and last
    * event, carrying the last observation forward across gap days —
    * the alignment step a vitals/lab feed needs before any
    * fixed-frequency model sees it. Day indices are exact integer
    * `µs div 86400e6` (no timezone/date parsing to disagree about);
    * the per-day representative is the LAST event of the day
    * (max(struct(us, event_id)) election — event_id unique, no tie);
    * the fill is `last(v, ignoreNulls)` over the user-day window. The
    * report is per user: grid size, observed days, carried days, and
    * the exact decimal checksum of the filled series (the value a
    * downstream consumer would actually train on).
    *
    * Scale design: ONE shuffle by user key serves the per-day
    * election, the span aggregate, the grid explode, the fill window
    * and the final rollup (same partitioning reused); the grid is
    * |users|×|days| rows only between explode and rollup — never
    * wider than the series a resampler must materialize anyway, and
    * never on the driver.
    */
  val q134 = Q(
    "q134_resample_locf",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val DayUs = 86400000000L
      val e = events(s, dir).select($"user_id", $"event_id",
        expr("unix_micros(ts)").as("us"), $"value")
        .withColumn("day", expr(s"us div $DayUs"))
      val perDay = e.groupBy($"user_id", $"day")
        .agg(max(struct($"us", $"event_id", $"value")).as("w"),
          count(lit(1)).as("n_ev"))
        .select($"user_id", $"day", $"w.value".as("v_day"))
      val grid = e.groupBy($"user_id")
        .agg(min($"day").as("d0"), max($"day").as("d1"))
        .select($"user_id", explode(expr("sequence(d0, d1)")).as("day"))
      val w = Window.partitionBy($"user_id").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(perDay, Seq("user_id", "day"), "left_outer")
        .withColumn("v_fill", last($"v_day", ignoreNulls = true).over(w))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_days"),
          count($"v_day").as("n_observed"),
          (count($"v_fill") - count($"v_day")).as("n_carried"),
          graft.Q.sumMoney($"v_fill").as("filled_sum"))
        .orderBy($"user_id")
    },
    Some(s"""WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, value,
      |         epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |ranked AS (
      |  SELECT user_id, day, value,
      |         ROW_NUMBER() OVER (PARTITION BY user_id, day
      |           ORDER BY us DESC, event_id DESC) AS rn
      |  FROM e),
      |pd AS (SELECT user_id, day, value AS v_day FROM ranked WHERE rn = 1),
      |span AS (
      |  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM e GROUP BY 1),
      |grid AS (
      |  SELECT user_id, UNNEST(generate_series(d0, d1)) AS day FROM span),
      |f AS (
      |  SELECT g.user_id, g.day, pd.v_day,
      |         LAST_VALUE(pd.v_day IGNORE NULLS) OVER (
      |           PARTITION BY g.user_id ORDER BY g.day
      |           ROWS UNBOUNDED PRECEDING) AS v_fill
      |  FROM grid g LEFT JOIN pd ON g.user_id = pd.user_id AND g.day = pd.day)
      |SELECT user_id, COUNT(*) AS n_days,
      |       COUNT(v_day) AS n_observed,
      |       COUNT(v_fill) - COUNT(v_day) AS n_carried,
      |       ${graft.Q.oSum("v_fill")} AS filled_sum
      |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin),
    doc = "time series: daily-grid resample + last-observation-carried-forward per user, exact decimal checksum of the filled series. " +
      "Resample + LOCF: one user-keyed Exchange serves the per-day max-struct election, the span aggregate, the grid explode, the last(ignoreNulls) fill window and the final rollup; the users x days grid exists only between explode and rollup, never on the driver.")

  /** q135 — overlapping-interval merge (treatment episodes): each
    * event opens a 30-minute interval; overlapping/touching intervals
    * of one user merge into EPISODES (the interval-union gaps-and-
    * islands variant: a new episode starts exactly when an interval's
    * start exceeds the running max of prior ends). Reported per user:
    * episode count, total covered time and the longest episode — the
    * continuous-coverage ledger a monitoring feed needs. All exact
    * integer µs.
    *
    * Scale design: one user-keyed shuffle; the running-max and
    * island-sum windows and the two-level rollup all reuse it. No
    * interval self-join — the sweep is linear per user.
    */
  val q135 = Q(
    "q135_interval_merge",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val LenUs = 1800000000L // 30 min
      val byUser = Window.partitionBy($"user_id").orderBy($"us", $"event_id")
      val prior = byUser.rowsBetween(Window.unboundedPreceding, -1)
      val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select($"user_id", $"event_id", expr("unix_micros(ts)").as("us"))
        .withColumn("end_us", $"us" + LenUs)
        .withColumn("new_ep",
          when($"us" > max($"end_us").over(prior), 1).otherwise(0))
        .withColumn("ep", sum($"new_ep").over(run))
        .groupBy($"user_id", $"ep")
        .agg(min($"us").as("ep_start"), max($"end_us").as("ep_end"),
          count(lit(1)).as("n_ev"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_episodes"),
          sum($"ep_end" - $"ep_start").as("covered_us"),
          max($"ep_end" - $"ep_start").as("longest_us"),
          max($"n_ev").as("busiest_episode_events"))
        .orderBy($"user_id")
    },
    Some("""WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |         epoch_us(ts) + 1800000000 AS end_us
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, us, end_us,
      |         CASE WHEN us > MAX(end_us) OVER (
      |                PARTITION BY user_id ORDER BY us, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |              THEN 1 ELSE 0 END AS new_ep,
      |         event_id
      |  FROM e),
      |islands AS (
      |  SELECT user_id, us, end_us,
      |         SUM(new_ep) OVER (PARTITION BY user_id ORDER BY us, event_id
      |           ROWS UNBOUNDED PRECEDING) AS ep
      |  FROM flagged),
      |eps AS (
      |  SELECT user_id, ep, MIN(us) AS ep_start, MAX(end_us) AS ep_end,
      |         COUNT(*) AS n_ev
      |  FROM islands GROUP BY 1, 2)
      |SELECT user_id, COUNT(*) AS n_episodes,
      |       CAST(SUM(ep_end - ep_start) AS BIGINT) AS covered_us,
      |       CAST(MAX(ep_end - ep_start) AS BIGINT) AS longest_us,
      |       CAST(MAX(n_ev) AS BIGINT) AS busiest_episode_events
      |FROM eps GROUP BY user_id ORDER BY user_id""".stripMargin),
    doc = "intervals: overlapping 30-min windows merge to episodes per user (linear sweep, no self-join); coverage + longest-episode ledger. " +
      "Interval merge: linear per-user sweep (running max of prior ends -> island sum -> two-level rollup) on ONE user-keyed Exchange; no interval self-join at any width. Same operator as sessionize(gap = interval length) - spec-pinned.")

  val all: Seq[Q] =
    Seq(q36, q37, q38, q39, q54, q73, q76, q77, q93, q130, q134, q135)
}
