package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact WEIGHTED median — the quantile family's missing member
  * (q21 exact row percentiles, q92 sketch quantiles, q119 quantile
  * normalization are all unit-weight): "the price point at which half
  * the QUANTITY sits below" is a weighted median, and sketch-free
  * exactness needs the cumulative-weight walk, not percentile_approx.
  *
  * Determinism: rows collapse to (group, value) → summed weight FIRST
  * (so intra-value row order cannot matter), the cumulative sum runs
  * over the value order, and the median is the least value whose
  * cumulative weight reaches ⌈W/2⌉ = (W+1) div 2 — the type-1 (lower)
  * weighted median, integer arithmetic only.
  *
  * Scale shape: the per-(group, value) aggregate is map-side
  * combinable and collapses the corpus to |distinct values| rows; the
  * window runs per group over that collapsed frame. A group whose
  * distinct-value set alone overwhelms a partition is the
  * [[DistributedRank]] prefix-sum case — swap the window for
  * `withPrefixSum` keyed by group, same semantics.
  */
object WeightedMedian {

  val q193 = Q(
    "q193_weighted_median",
    (s, dir) => {
      import s.implicits._
      val byVal = Tables.load(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_extendedprice")
        .agg(sum($"l_quantity".cast("long")).as("w"))
      val wOrd = Window.partitionBy($"l_returnflag").orderBy($"l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy($"l_returnflag")
      byVal
        .withColumn("cumw", sum($"w").over(wOrd))
        .withColumn("total", sum($"w").over(wAll))
        .filter($"cumw" * 2 >= $"total" + 1)
        .groupBy($"l_returnflag")
        .agg(min($"l_extendedprice").as("weighted_median"),
          max($"total").as("total_weight"))
        .orderBy($"l_returnflag")
    },
    Some("""WITH byval AS (
      |  SELECT l_returnflag, l_extendedprice,
      |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |walk AS (
      |  SELECT l_returnflag, l_extendedprice, w,
      |         CAST(SUM(w) OVER (PARTITION BY l_returnflag
      |           ORDER BY l_extendedprice
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS BIGINT) AS cumw,
      |         CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS total
      |  FROM byval)
      |SELECT l_returnflag, MIN(l_extendedprice) AS weighted_median,
      |       CAST(MAX(total) AS BIGINT) AS total_weight
      |FROM walk WHERE cumw * 2 >= total + 1
      |GROUP BY 1 ORDER BY 1""".stripMargin),
    doc = "aggregate: exact type-1 weighted median (quantity-weighted price) via collapsed cumulative-weight walk. " +
      "Weighted median: per-(group, value) weight collapse FIRST (map-side combinable), cumulative-weight window on the collapsed frame, min-value election per group — integer arithmetic, no percentile_approx.")

  val all: Seq[Q] = Seq(q193)
}
