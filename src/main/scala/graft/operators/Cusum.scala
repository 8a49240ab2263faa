package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CUSUM changepoint estimation (Page 1954; the offline argmax form,
  * e.g. Taylor's cumulative-sum changepoint analysis): where did the
  * daily-revenue level SHIFT? The statistic is the cumulative sum of
  * deviations from the global mean, S_i = Σ_{j≤i}(x_j − x̄); the
  * changepoint estimate is argmax |S_i| and the before/after means
  * quantify the shift.
  *
  * Exactness: the textbook S_i needs x̄ = T/n (a rational) inside a
  * running sum — floats would drift, and decimal×integer products at
  * DECIMAL(38,2) silently widen past DuckDB's exact range (the q180
  * HUGEINT lesson). So the money enters as CENTS LONGS (per-row
  * decimal(18,2)·100 → long, summed as integers) and the statistic is
  * the scaled integer n·S_i = n·P_i − i·T — bounded by n_days·T ≈
  * 10¹⁶ at sf0.1, inside long/HUGEINT exactness on both engines. The
  * argmax is total-ordered by (|n·S_i| DESC, day ASC); the reported
  * stat and means are single IEEE divisions of exact integers (the
  * avgMoney stance).
  *
  * Scale shape: one day-level aggregate (map-side combinable) collapses
  * the corpus to |days| rows; the prefix sum, argmax, and split means
  * all run on that tiny frame — a single-partition window over |days|
  * rows, NOT over the corpus (the q159/q176 daily-series convention).
  */
object Cusum {

  val q191 = Q(
    "q191_cusum_changepoint",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.load(s, dir, "orders")
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum((Q.money($"o_totalprice") * 100).cast("long")).as("rev"))
      val tot = daily.agg(sum($"rev").as("t"), count(lit(1)).as("nd"))
      val w = Window.orderBy($"day")
      // n·S_i = nd·P_i − i·T in decimal(38,0): the cents-longs are
      // exact, but their PRODUCTS reach n_days·T ≈ 10¹⁹ past ~sf100 —
      // decimal(38,0) keeps the argmax exact to 10³⁸ (the oracle side
      // uses HUGEINT, never DECIMAL×DECIMAL — the q180 lesson)
      def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
      val scored = daily.crossJoin(broadcast(tot))
        .withColumn("i", row_number().over(w))
        .withColumn("p", sum($"rev").over(w))
        .withColumn("absns", abs(d38($"nd") * d38($"p") - d38($"i") * d38($"t")))
      val cp = scored.orderBy($"absns".desc, $"day").limit(1)
      cp.select($"day".as("change_day"), $"i".as("day_index"),
          $"nd".cast("long").as("n_days"),
          ($"absns".cast("double") /
            ($"nd" * $"nd" * 100L).cast("double")).as("cusum_stat"),
          ($"p".cast("double") / ($"i" * 100L).cast("double"))
            .as("mean_before"),
          (($"t" - $"p").cast("double") /
            (($"nd" - $"i") * 100L).cast("double")).as("mean_after"))
    },
    Some("""WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |                       AS BIGINT)) AS BIGINT) AS rev
      |  FROM orders GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(rev) AS HUGEINT) AS t, COUNT(*) AS nd FROM daily),
      |scored AS (
      |  SELECT day, nd, t,
      |         ROW_NUMBER() OVER (ORDER BY day) AS i,
      |         CAST(SUM(rev) OVER (ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS HUGEINT) AS p
      |  FROM daily, tot),
      |ns AS (
      |  SELECT day, nd, i, p, t, ABS(nd * p - i * t) AS absns
      |  FROM scored),
      |cp AS (SELECT * FROM ns ORDER BY absns DESC, day LIMIT 1)
      |SELECT day AS change_day, CAST(i AS INT) AS day_index,
      |       CAST(nd AS BIGINT) AS n_days,
      |       CAST(absns AS DOUBLE) / CAST(nd * nd * 100 AS DOUBLE) AS cusum_stat,
      |       CAST(p AS DOUBLE) / CAST(i * 100 AS DOUBLE) AS mean_before,
      |       CAST(t - p AS DOUBLE) / CAST((nd - i) * 100 AS DOUBLE) AS mean_after
      |FROM cp""".stripMargin),
    doc = "timeseries: CUSUM changepoint (argmax |n·S_i| in exact scaled cents-longs) + before/after level means. " +
      "CUSUM changepoint: corpus -> |days| rows in one map-side-combinable cents aggregate; prefix sum, scaled-integer argmax and split means all run on the tiny daily frame (single-partition window over |days|, never the corpus).")

  val all: Seq[Q] = Seq(q191)
}
