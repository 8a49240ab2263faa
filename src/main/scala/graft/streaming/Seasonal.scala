package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Seasonality-adjusted anomaly detection over the event feed: a flat
  * daily threshold flags every weekend as an outage and every Monday
  * as an attack — the baseline has to be per-(event_type, day-of-week)
  * before a deviation means anything. The registry's other anomaly
  * tools are global (q24 z-score) or distributional (q117 PSI); this
  * is the calendar-profile one.
  *
  * Exactness: day = µs div 86400e6 (the q134 stance — no timezone or
  * date parsing), dow = (day + 4) % 7 (epoch day 0 was a Thursday;
  * both operands non-negative, so Spark's and DuckDB's `%` agree).
  * The expected-day count per dow inside the observed span is closed-
  * form integer arithmetic (first-matching-day + div), NOT a count
  * over a generated calendar — and it correctly includes zero-event
  * days that a "group by observed days" baseline would miss. Deviation
  * tests are cross-multiplications (n·D_dow vs 2·T_dow), ratios are
  * integer ppm; long ceiling: n·D_dow·10⁶ needs daily-count × span
  * < ~10¹² — past that, lift to decimal(38,0) (the q104 stance).
  *
  * Scale shape: one map-side day projection, one (type, day) count
  * aggregate (map-side combinable), a 1-row span broadcast, a
  * |types·7|-row baseline join, and a |types|-row report. Nothing
  * event-sized shuffles twice. Worst-day election is a struct-max
  * (ties resolve to the latest day).
  */
object Seasonal {

  private val DayUs = 86400000000L

  val q146 = Q(
    "q146_seasonal_anomaly",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.load(s, dir, "events")
        .select($"event_type", expr(s"unix_micros(ts) div $DayUs").as("day"))
        .groupBy($"event_type", $"day").agg(count(lit(1)).as("n"))
      val span = daily.agg(min($"day").as("a"), max($"day").as("b"))
      val d = graft.Barrier(daily.crossJoin(broadcast(span))
        .withColumn("dow", expr("(day + 4) % 7"))
        .withColumn("d0", expr("a + ((dow - (a + 4)) % 7 + 7) % 7"))
        .withColumn("dcnt", expr(
          "case when d0 <= b then (b - d0) div 7 + 1 else 0L end")))
      val t = d.groupBy($"event_type", $"dow").agg(sum($"n").as("t_dow"))
      val scored = d.join(t, Seq("event_type", "dow"))
        .withColumn("r_ppm", expr("n * dcnt * 1000000L div t_dow"))
      scored.groupBy($"event_type")
        .agg(count(lit(1)).as("n_days"),
          count_if(expr("n * dcnt > 2 * t_dow")).as("n_high"),
          count_if(expr("2 * n * dcnt < t_dow")).as("n_low"),
          max(struct($"r_ppm", $"day")).as("w"))
        .select($"event_type", $"n_days", $"n_high", $"n_low",
          $"w.day".as("worst_day"), $"w.r_ppm".as("worst_ratio_ppm"))
        .orderBy($"event_type")
    },
    Some(s"""WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // $DayUs AS day, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |span AS (SELECT MIN(day) AS a, MAX(day) AS b FROM daily),
      |d AS (
      |  SELECT event_type, day, n, (day + 4) % 7 AS dow,
      |         a + ((((day + 4) % 7) - (a + 4)) % 7 + 7) % 7 AS d0, a, b
      |  FROM daily CROSS JOIN span),
      |d2 AS (
      |  SELECT event_type, day, n, dow,
      |         CASE WHEN d0 <= b THEN (b - d0) // 7 + 1 ELSE 0 END AS dcnt
      |  FROM d),
      |t AS (
      |  SELECT event_type, dow, CAST(SUM(n) AS BIGINT) AS t_dow
      |  FROM d2 GROUP BY 1, 2),
      |scored AS (
      |  SELECT d2.event_type, d2.day, d2.n, d2.dcnt, t.t_dow,
      |         d2.n * d2.dcnt * 1000000 // t.t_dow AS r_ppm
      |  FROM d2 JOIN t ON d2.event_type = t.event_type AND d2.dow = t.dow),
      |worst AS (
      |  SELECT event_type, day, r_ppm,
      |         ROW_NUMBER() OVER (PARTITION BY event_type
      |           ORDER BY r_ppm DESC, day DESC) AS rn
      |  FROM scored)
      |SELECT s.event_type, COUNT(*) AS n_days,
      |       CAST(COUNT(CASE WHEN s.n * s.dcnt > 2 * s.t_dow THEN 1 END) AS BIGINT) AS n_high,
      |       CAST(COUNT(CASE WHEN 2 * s.n * s.dcnt < s.t_dow THEN 1 END) AS BIGINT) AS n_low,
      |       ANY_VALUE(w.day) AS worst_day,
      |       CAST(ANY_VALUE(w.r_ppm) AS BIGINT) AS worst_ratio_ppm
      |FROM scored s JOIN worst w
      |  ON s.event_type = w.event_type AND w.rn = 1
      |GROUP BY s.event_type ORDER BY s.event_type""".stripMargin),
    doc = "time series: day-of-week seasonal baseline + cross-multiplied deviation flags per event type. " +
      "Seasonal anomaly: one map-side day projection + one (type, day) count aggregate; span is a 1-row broadcast; baseline join is |types*7| rows; deviation flags and ppm ratios are in-row integer cross-products; worst-day election is max(struct).")

  val all: Seq[Q] = Seq(q146)
}
