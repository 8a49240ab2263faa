package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Little's law concurrency audit (Little 1961): L = λ·W ties arrival
  * rate, mean session length, and average concurrency — the identity
  * capacity planning sizes fleets with. From the event feed's
  * 120-minute-gap sessions (q54's definition) this reports all three
  * measured INDEPENDENTLY — λ from session counts, W from durations,
  * time-average L from a minute-grid occupancy sweep — plus the peak
  * concurrency and its minute, which is what the fleet actually has
  * to survive. The l_timeavg ≈ λ·W agreement (identical up to IEEE
  * association; both from the same exact integers) is the built-in
  * sanity check that the sessionization is self-consistent.
  *
  * Exactness: sessions come from one user-keyed window pass with the
  * total (ts, event_id) order; session minute spans are integer
  * µs div arithmetic (the q146 stance); every count/sum is an exact
  * long; the three ratios are mirrored IEEE divisions. Peak ties
  * break to the EARLIEST minute (struct-max on (cnt, −minute)).
  *
  * Scale shape: the corpus collapses to session rows in one window
  * pass; the occupancy sweep explodes each session into its minute
  * span — Σ busy-minutes rows, compressed map-side onto the
  * CALENDAR-bounded minute grid (span minutes, corpus-independent);
  * the report is one row.
  */
object LittlesLaw {

  val GapMin = 120L
  val MinuteUs = 60000000L

  val q231 = Q(
    "q231_littles_law",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .select($"user_id", $"event_id",
          expr(s"unix_micros(ts) div $MinuteUs").as("mn"))
      val marked = ev
        .withColumn("prev", lag($"mn", 1).over(
          Window.partitionBy($"user_id").orderBy($"mn", $"event_id")))
        .withColumn("brk",
          when($"prev".isNull || $"mn" - $"prev" > GapMin, 1L).otherwise(0L))
        .withColumn("sid", sum($"brk").over(
          Window.partitionBy($"user_id").orderBy($"mn", $"event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val sessions = graft.Barrier(marked.groupBy($"user_id", $"sid")
        .agg(min($"mn").as("m0"), max($"mn").as("m1")))
      val span = sessions.agg(min($"m0").as("g0"), max($"m1").as("g1"))
      val occupancy = sessions
        .select(explode(expr("sequence(m0, m1)")).as("mn"))
        .groupBy($"mn").agg(count(lit(1)).as("cnt"))
      val peak = occupancy.agg(
        max(struct($"cnt", (-$"mn").as("negmn"))).as("pk"),
        sum($"cnt").as("busy"))
      val base = sessions.agg(count(lit(1)).as("n_sessions"),
        sum($"m1" - $"m0" + 1L).as("total_busy_min"))
      base.crossJoin(broadcast(span)).crossJoin(broadcast(peak))
        .select($"n_sessions", ($"g1" - $"g0" + 1L).as("span_min"),
          $"total_busy_min", $"pk.cnt".as("l_peak"),
          (-$"pk.negmn").as("peak_minute"))
        .select($"n_sessions", $"span_min", $"total_busy_min",
          ($"n_sessions".cast("double") / $"span_min".cast("double"))
            .as("lambda_per_min"),
          ($"total_busy_min".cast("double") / $"n_sessions".cast("double"))
            .as("w_mean_min"),
          ($"total_busy_min".cast("double") / $"span_min".cast("double"))
            .as("l_timeavg"),
          $"l_peak", $"peak_minute")
    },
    Some(s"""WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) // $MinuteUs AS mn
      |  FROM events),
      |marked AS (
      |  SELECT user_id, event_id, mn,
      |         CASE WHEN LAG(mn, 1) OVER (PARTITION BY user_id
      |                ORDER BY mn, event_id) IS NULL
      |              OR mn - LAG(mn, 1) OVER (PARTITION BY user_id
      |                ORDER BY mn, event_id) > $GapMin
      |              THEN 1 ELSE 0 END AS brk
      |  FROM ev),
      |sid AS (
      |  SELECT user_id, mn,
      |         SUM(brk) OVER (PARTITION BY user_id ORDER BY mn, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM marked),
      |sessions AS MATERIALIZED (
      |  SELECT user_id, sid, MIN(mn) AS m0, MAX(mn) AS m1
      |  FROM sid GROUP BY 1, 2),
      |span AS (SELECT MIN(m0) AS g0, MAX(m1) AS g1 FROM sessions),
      |occ AS (
      |  SELECT mn, COUNT(*) AS cnt FROM (
      |    SELECT UNNEST(generate_series(m0, m1)) AS mn FROM sessions)
      |  GROUP BY 1),
      |peak AS (
      |  SELECT cnt AS l_peak, mn AS peak_minute FROM occ
      |  ORDER BY cnt DESC, mn LIMIT 1),
      |base AS (
      |  SELECT COUNT(*) AS n_sessions,
      |         CAST(SUM(m1 - m0 + 1) AS BIGINT) AS total_busy_min
      |  FROM sessions)
      |SELECT n_sessions, CAST(g1 - g0 + 1 AS BIGINT) AS span_min,
      |       total_busy_min,
      |       CAST(n_sessions AS DOUBLE) / CAST(g1 - g0 + 1 AS DOUBLE)
      |         AS lambda_per_min,
      |       CAST(total_busy_min AS DOUBLE) / CAST(n_sessions AS DOUBLE)
      |         AS w_mean_min,
      |       CAST(total_busy_min AS DOUBLE) / CAST(g1 - g0 + 1 AS DOUBLE)
      |         AS l_timeavg,
      |       CAST(l_peak AS BIGINT) AS l_peak, peak_minute
      |FROM base, span, peak""".stripMargin),
    doc = "ops: Little's law concurrency audit over 120-min-gap sessions — independent lambda/W/time-average-L plus peak concurrency on the minute grid. " +
      "Little's law: one user-keyed window pass to session rows; the occupancy sweep compresses map-side onto the CALENDAR-bounded minute grid; report is 1 row with three independently-measured ratios.")

  val all: Seq[Q] = Seq(q231)
}
