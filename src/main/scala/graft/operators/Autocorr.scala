package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lag autocorrelation of the daily order series (Box & Jenkins'
  * first diagnostic): Pearson r between (xₜ, xₜ₋ₗ) at lags 1, 7 and
  * 30 — the weekly-rhythm detector that tells q146's day-of-week
  * baseline WHETHER a weekly structure exists before assuming it,
  * and the stationarity smell test any forecast starts with.
  *
  * The daily series is built on a COMPLETE calendar grid (sequence()
  * between min and max date, zero-filled) — lag-7 on a gappy series
  * silently compares Monday to the wrong weekday, the classic
  * as-rows-not-as-calendar bug.
  *
  * Exactness: daily counts are exact longs on a calendar-bounded
  * frame; the five moment sums per lag are exact; r is ONE IEEE
  * expression over them (the q166 stance). The lagged pairing runs on
  * the tiny grid frame (≤ few-thousand rows) — the corpus is touched
  * by exactly one aggregate.
  */
object Autocorr {

  private val Lags = Seq(1, 7, 30)

  /** q176 — autocorrelation of daily order counts at fixed lags. */
  val q176 = Q(
    "q176_daily_autocorr",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.load(s, dir, "orders")
        .groupBy(to_date($"o_orderdate").as("d"))
        .agg(count(lit(1)).as("x"))
      val bounds = daily.agg(min($"d").as("d0"), max($"d").as("d1"))
      // Barrier: all three lag arms aggregate over this frame —
      // uncached, the corpus day-aggregate would run once per lag
      val grid = graft.Barrier(bounds
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
        .join(daily, Seq("d"), "left_outer")
        .select($"d", coalesce($"x", lit(0L)).as("x")))
      val byD = Window.orderBy($"d") // calendar-bounded frame
      val lagged = Lags.foldLeft(grid) { (df, l) =>
        df.withColumn(s"x_$l", lag($"x", l).over(byD))
      }
      val stats = Lags.map { l =>
        lagged.filter(col(s"x_$l").isNotNull)
          .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
            sum(col(s"x_$l")).as("sy"),
            sum($"x" * col(s"x_$l")).as("sxy"),
            sum($"x" * $"x").as("sxx"),
            sum(col(s"x_$l") * col(s"x_$l")).as("syy"))
          .select(lit(l).as("lag"), $"n",
            ((($"n" * $"sxy" - $"sx" * $"sy").cast("double")) /
              (sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
               sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double"))))
              .as("autocorr"))
      }
      stats.reduce(_.unionByName(_)).orderBy($"lag")
    },
    Some {
      val arms = Lags.map { l =>
        s"""  SELECT $l AS lag, COUNT(*) AS n,
           |         CAST(COUNT(*) * SUM(x * xl) - SUM(x) * SUM(xl) AS DOUBLE) /
           |           (SQRT(CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE)) *
           |            SQRT(CAST(COUNT(*) * SUM(xl * xl) - SUM(xl) * SUM(xl) AS DOUBLE))) AS autocorr
           |  FROM (SELECT x, LAG(x, $l) OVER (ORDER BY d) AS xl FROM grid)
           |  WHERE xl IS NOT NULL""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS x
      |  FROM orders GROUP BY 1),
      |b AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
      |grid AS (
      |  SELECT g.d, COALESCE(daily.x, 0) AS x
      |  FROM (SELECT UNNEST(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d FROM b) g
      |  LEFT JOIN daily ON daily.d = g.d)
      |SELECT * FROM (
      |$arms
      |) ORDER BY lag""".stripMargin
    },
    doc = "timeseries: daily-order autocorrelation at lags 1/7/30 on a complete calendar grid — exact moments, one IEEE r. " +
      "Corpus touched by exactly one day aggregate; the complete calendar grid (sequence + zero-fill) and all lag windows run on the calendar-bounded frame.")

  val all: Seq[Q] = Seq(q176)
}
