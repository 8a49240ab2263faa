package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Binary-segmentation changepoint detection (Scott & Knott 1974; the
  * one-split core of the binseg family) for a MEAN SHIFT in daily
  * revenue — the offline complement to q191's online CUSUM: CUSUM
  * raises a flag as data streams in; binary segmentation answers the
  * retrospective question "WHERE did the level change", by electing
  * the split that maximizes the between-segment sum of squares.
  *
  * Closed form: for a split after the t-th day (day order), the
  * between-SS is (S_t·n − t·T)² / (n·t·(n−t)) with S_t the prefix
  * revenue sum and T the total — so the whole scan is one prefix-sum
  * window over exact integers plus a per-row score.
  *
  * Exactness: S_t, T, t, n are exact longs (an INTEGER window sum is
  * segment-tree-safe, unlike doubles — the q222 boundary); the score
  * is the identical IEEE expression of those exact integers in both
  * engines (d = S_t·n − t·T stays under 2⁶³ to ~10¹⁶ total cents ·
  * days); argmax breaks ties to the EARLIEST split. Segment means are
  * mirrored IEEE divisions.
  *
  * Scale shape: corpus → calendar-bounded daily cells map-side; the
  * prefix window, scoring, and argmax run on the span-days frame;
  * 1 row out.
  */
object BinarySeg {

  val q245 = Q(
    "q245_binary_segmentation",
    (s, dir) => {
      import s.implicits._
      val daily = graft.Barrier(Tables.load(s, dir, "orders")
        .groupBy(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
          .cast("long").as("x"))
        .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
          .as("y")))
      val byX = Window.orderBy($"x")
      val pre = daily
        .withColumn("t", row_number().over(byX).cast("long"))
        .withColumn("st", sum($"y").over(
          byX.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = daily.agg(count(lit(1)).as("n"), sum($"y").as("tt"))
      val scored = pre.crossJoin(broadcast(tot))
        .filter($"t" < $"n")
        .select($"x", $"t", $"st", $"n", $"tt",
          (($"st" * $"n" - $"t" * $"tt").cast("double")
            * ($"st" * $"n" - $"t" * $"tt").cast("double")
            / ($"n" * $"t" * ($"n" - $"t")).cast("double")).as("score"))
      scored.orderBy($"score".desc, $"x").limit(1)
        .select($"x".as("split_after_day"), $"t".as("split_pos"), $"n".as("n_days"),
          ($"st".cast("double") / $"t".cast("double")).as("mean_before_cents"),
          (($"tt" - $"st").cast("double") / ($"n" - $"t").cast("double"))
            .as("mean_after_cents"),
          ((($"tt" - $"st").cast("double") / ($"n" - $"t").cast("double"))
            - ($"st".cast("double") / $"t".cast("double"))).as("shift_cents"),
          $"score".as("between_ss"))
    },
    Some("""WITH daily AS (
      |  SELECT CAST(date_diff('day', DATE '1995-01-01',
      |                        CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |pre AS (
      |  SELECT x,
      |         CAST(ROW_NUMBER() OVER (ORDER BY x) AS BIGINT) AS t,
      |         CAST(SUM(y) OVER (ORDER BY x
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS st
      |  FROM daily),
      |tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS tt
      |  FROM daily),
      |scored AS (
      |  SELECT x, t, st, n, tt,
      |         CAST(st * n - t * tt AS DOUBLE) * CAST(st * n - t * tt AS DOUBLE)
      |           / CAST(n * t * (n - t) AS DOUBLE) AS score
      |  FROM pre, tot WHERE t < n)
      |SELECT x AS split_after_day, t AS split_pos, n AS n_days,
      |       CAST(st AS DOUBLE) / CAST(t AS DOUBLE) AS mean_before_cents,
      |       CAST(tt - st AS DOUBLE) / CAST(n - t AS DOUBLE) AS mean_after_cents,
      |       CAST(tt - st AS DOUBLE) / CAST(n - t AS DOUBLE)
      |         - CAST(st AS DOUBLE) / CAST(t AS DOUBLE) AS shift_cents,
      |       score AS between_ss
      |FROM scored ORDER BY score DESC, x LIMIT 1""".stripMargin),
    doc = "stats: binary-segmentation changepoint for a daily-revenue mean shift — exact integer prefix sums, mirrored IEEE between-SS score, earliest-split tie-break. " +
      "BinSeg: daily cells behind a Barrier; INTEGER prefix-sum window (segment-tree-safe, unlike doubles) + per-row IEEE score on the span-days frame; argmax via TakeOrdered(1).")

  val all: Seq[Q] = Seq(q245)
}
