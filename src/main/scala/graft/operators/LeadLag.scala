package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Lead-lag cross-correlation between the CLICK and PURCHASE event
  * series on an hourly axis — the "which signal moves first" scan
  * behind funnel forensics: corr(clicks(t), purchases(t+L)) for
  * L ∈ [−12, +12] hours. A peak at positive L means purchases FOLLOW
  * clicks by L hours (the conversion delay); at negative L the feed's
  * attribution is suspect. q176's autocorrelation is one series
  * against itself; this is the cross-series version, which is what
  * capacity planning and incident forensics actually ask for.
  *
  * Exactness: both series collapse to exact integer counts on a
  * shared epoch-hour axis (hour = µs div 3600·10⁶ — the q146 day
  * stance at hour resolution, no timezone parsing); per-lag moment
  * sums are exact decimal/HUGEINT; the Pearson r is the mirrored
  * IEEE epilogue. A lag's moments cover the hours OBSERVED (≥1 click
  * or purchase) at both t and t+L — zero counts inside observed hours
  * are real data points; n_hours is reported so thin overlaps are
  * visible.
  *
  * Scale shape: one map-side-combinable hourly aggregate collapses
  * the event scan onto a CALENDAR-bounded frame (span hours,
  * corpus-independent); the 25-lag scan is a constant 25× fanout of
  * that frame joined hour-to-hour, and the final frame is 25 rows.
  * Nothing corpus-sized survives the first aggregate.
  */
object LeadLag {

  val MaxLag = 12
  val HourUs = 3600000000L

  val q208 = Q(
    "q208_leadlag_xcorr",
    (s, dir) => {
      import s.implicits._
      val hourly = graft.Barrier(Tables.load(s, dir, "events")
        .filter($"event_type".isin("click", "purchase"))
        .groupBy(expr(s"unix_micros(ts) div $HourUs").as("hr"))
        .agg(count_if($"event_type" === "click").as("x"),
          count_if($"event_type" === "purchase").as("y")))
      val a = hourly.select($"hr", $"x")
      val b = hourly.select($"hr".as("bhr"), $"y")
      val lags = {
        import s.implicits._
        s.range(-MaxLag, MaxLag + 1).select($"id".as("lag"))
      }
      val joined = a.crossJoin(lags)
        .join(b, $"bhr" === $"hr" + $"lag")
      joined.groupBy($"lag")
        .agg(count(lit(1)).as("n_hours"),
          sum($"x".cast("decimal(38,0)")).as("sx"),
          sum($"y".cast("decimal(38,0)")).as("sy"),
          sum($"x".cast("decimal(38,0)") * $"y").as("sxy"),
          sum($"x".cast("decimal(38,0)") * $"x").as("sxx"),
          sum($"y".cast("decimal(38,0)") * $"y").as("syy"))
        .select($"lag", $"n_hours",
          (($"n_hours".cast("double") * $"sxy".cast("double")
            - $"sx".cast("double") * $"sy".cast("double"))
            / sqrt(($"n_hours".cast("double") * $"sxx".cast("double")
                - $"sx".cast("double") * $"sx".cast("double"))
              * ($"n_hours".cast("double") * $"syy".cast("double")
                - $"sy".cast("double") * $"sy".cast("double"))))
            .as("xcorr"))
        .orderBy($"lag")
    },
    Some(s"""WITH hourly AS (
      |  SELECT epoch_us(ts) // $HourUs AS hr,
      |         COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS x,
      |         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS y
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY 1),
      |a AS (SELECT hr, x FROM hourly),
      |b AS (SELECT hr AS bhr, y FROM hourly),
      |lags AS (SELECT CAST(UNNEST(range(-$MaxLag, ${MaxLag + 1})) AS BIGINT) AS lag),
      |joined AS (
      |  SELECT l.lag, a.x, b.y
      |  FROM a CROSS JOIN lags l
      |  JOIN b ON b.bhr = a.hr + l.lag),
      |m AS (
      |  SELECT lag, COUNT(*) AS n_hours,
      |         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |         SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |         SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |         SUM(CAST(y AS HUGEINT) * y) AS syy
      |  FROM joined GROUP BY 1)
      |SELECT lag, n_hours,
      |       (CAST(n_hours AS DOUBLE) * CAST(sxy AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |       / sqrt((CAST(n_hours AS DOUBLE) * CAST(sxx AS DOUBLE)
      |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |          * (CAST(n_hours AS DOUBLE) * CAST(syy AS DOUBLE)
      |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS xcorr
      |FROM m ORDER BY lag""".stripMargin),
    doc = s"timeseries: hourly lead-lag cross-correlation (lags -$MaxLag..+$MaxLag h) between click and purchase event series on the shared epoch-hour axis. " +
      "Lead-lag: one map-side hourly aggregate onto the calendar-bounded frame; 25-lag scan is a constant fanout of that frame joined hour-to-hour; final frame is 25 rows with exact decimal moments.")

  val all: Seq[Q] = Seq(q208)
}
