package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Theil-Sen robust trend (Theil 1950, Sen 1968) of daily order
  * revenue: the MEDIAN of all pairwise day-to-day slopes. q199's OLS
  * slope moves arbitrarily far under one corrupted day (a backfill
  * spike, a currency bug); the Theil-Sen estimator has a 29.3%
  * breakdown point — the robust answer to the same "is revenue
  * trending" question, reported side by side with the pair count and
  * the day span so the reader can see how much evidence backs it.
  *
  * Determinism: the series is the exact daily cents frame on the
  * epoch-day axis (the q208 collapse); each pair slope is ONE IEEE
  * division of exact integers (identical in both engines); the
  * median is TYPE-1 (lower median, rank ⌈n/2⌉ — stated, no
  * two-value averaging) under the total order (slope, day_a, day_b),
  * so even bit-equal slope ties select the same witness pair.
  *
  * Scale shape: the pair frame is CALENDAR-bounded — D(D−1)/2 pairs
  * for D distinct days (~2.9M at a 2400-day span), INDEPENDENT of
  * corpus size; the corpus itself is touched by one map-side
  * combinable daily aggregate. The median rank runs through
  * [[DistributedRank.withRowNumber]] (range sort + per-partition
  * offsets), never funneling the ~3M-row pair frame through the
  * single task an unpartitioned window would — unlike q200/q201's
  * ≤200-row domain windows, this frame is big enough to care.
  */
object TheilSen {

  val q209 = Q(
    "q209_theil_sen_trend",
    (s, dir) => {
      import s.implicits._
      val daily = graft.Barrier(Tables.load(s, dir, "orders")
        .groupBy(datediff($"o_orderdate", lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
        .agg(sum((graft.Q.money($"o_totalprice") * 100).cast("long"))
          .as("y")))
      val pairs = daily.as("a").join(daily.as("b"), $"a.day" < $"b.day")
        .select($"a.day".as("da"), $"b.day".as("db"),
          (($"b.y" - $"a.y").cast("double")
            / ($"b.day" - $"a.day").cast("double")).as("slope"))
      val n = pairs.agg(count(lit(1)).as("n_pairs"),
        min($"da").as("first_day"), max($"db").as("last_day"))
      DistributedRank
        .withRowNumber(pairs, Seq($"slope", $"da", $"db"), "rn")
        .crossJoin(broadcast(n))
        .filter($"rn" === expr("(n_pairs + 1) div 2"))
        .select($"n_pairs", $"first_day", $"last_day",
          $"slope".as("ts_slope_cents_per_day"),
          $"da".as("witness_day_a"), $"db".as("witness_day_b"))
    },
    Some("""WITH daily AS (
      |  SELECT CAST(date_diff('day', DATE '1970-01-01',
      |                        CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |                       AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |pairs AS (
      |  SELECT a.day AS da, b.day AS db,
      |         CAST(b.y - a.y AS DOUBLE)
      |           / CAST(b.day - a.day AS DOUBLE) AS slope
      |  FROM daily a JOIN daily b ON a.day < b.day),
      |n AS (SELECT COUNT(*) AS n_pairs, MIN(da) AS first_day,
      |             MAX(db) AS last_day FROM pairs),
      |ranked AS (
      |  SELECT da, db, slope,
      |         ROW_NUMBER() OVER (ORDER BY slope, da, db) AS rn
      |  FROM pairs)
      |SELECT n.n_pairs, n.first_day, n.last_day,
      |       r.slope AS ts_slope_cents_per_day,
      |       r.da AS witness_day_a, r.db AS witness_day_b
      |FROM ranked r, n WHERE r.rn = (n.n_pairs + 1) // 2""".stripMargin),
    doc = "stats: Theil-Sen robust daily-revenue trend — type-1 median of all calendar-bounded pairwise slopes with the witness pair. " +
      "Theil-Sen: corpus collapses to the daily frame map-side; the D(D-1)/2 pair frame (~2.9M at a 2400-day span) is CALENDAR-bounded, corpus-independent; type-1 median via one bounded single-partition rank window.")

  val all: Seq[Q] = Seq(q209)
}
