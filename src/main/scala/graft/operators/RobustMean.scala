package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trimmed and winsorized means (Tukey's robust location family) of
  * order value per market segment: drop — or clamp to — the extreme
  * 10% tails before averaging. The plain mean (q20/q22) is the
  * statistic a single fat-finger order corrupts; these are the two
  * standard robust replacements, reported together with the exact
  * tail boundaries so the analyst sees what was cut.
  *
  * Exactness: cents ride as exact longs; per-segment order statistics
  * come from ONE row_number pass (total order: cents, then orderkey —
  * bit-stable even under duplicate prices); k = ⌊n/10⌋ rows are
  * trimmed per tail (integer div, stated); the trimmed sum, and the
  * winsorized sum (interior sum + k·low_bound + k·high_bound), are
  * exact decimal/HUGEINT integers; each mean is one IEEE division.
  *
  * Scale shape: exact order statistics require a full per-group sort
  * — the q21 stance: this query IS the exactness baseline, and at
  * 100 TB the documented swap is the q92 integer-histogram estimate
  * (bounded bins, no sort) once tails only need bucket resolution.
  * The sort partitions by segment (5 groups), so skew is the
  * per-group sort itself, not a shuffle explosion; everything after
  * the rank pass is map-side-combinable aggregation.
  */
object RobustMean {

  val TrimPct = 10

  val q210 = Q(
    "q210_trimmed_winsorized_mean",
    (s, dir) => {
      import s.implicits._
      val o = Tables.maybeBroadcast(Tables.load(s, dir, "customer"))
        .join(Tables.load(s, dir, "orders"), $"c_custkey" === $"o_custkey")
        .select($"c_mktsegment".as("seg"), $"o_orderkey",
          (graft.Q.money($"o_totalprice") * 100).cast("long").as("y"))
      val w = Window.partitionBy($"seg").orderBy($"y", $"o_orderkey")
      val ranked = o.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy($"seg")))
        .withColumn("k", expr(s"n * $TrimPct div 100"))
      val agg = ranked.groupBy($"seg")
        .agg(max($"n").as("n"), max($"k").as("k"),
          sum(when($"rn" > $"k" && $"rn" <= $"n" - $"k",
            $"y".cast("decimal(38,0)")).otherwise(lit(0))).as("mid_sum"),
          max(when($"rn" === $"k" + 1L, $"y")).as("lo_bound"),
          max(when($"rn" === $"n" - $"k", $"y")).as("hi_bound"))
      agg.select($"seg", $"n", $"k",
          ($"lo_bound".cast("double") / 100.0).as("lo_bound_dollars"),
          ($"hi_bound".cast("double") / 100.0).as("hi_bound_dollars"),
          ($"mid_sum".cast("double")
            / ($"n" - $"k" * 2L).cast("double") / 100.0)
            .as("trimmed_mean_dollars"),
          (($"mid_sum" + $"k".cast("decimal(38,0)") * $"lo_bound"
            + $"k".cast("decimal(38,0)") * $"hi_bound").cast("double")
            / $"n".cast("double") / 100.0).as("winsorized_mean_dollars"))
        .orderBy($"seg")
    },
    Some(s"""WITH o AS (
      |  SELECT c_mktsegment AS seg, o_orderkey,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |  FROM customer JOIN orders ON c_custkey = o_custkey),
      |ranked AS (
      |  SELECT seg, y,
      |         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY y, o_orderkey) AS rn,
      |         COUNT(*) OVER (PARTITION BY seg) AS n
      |  FROM o),
      |kd AS (SELECT *, n * $TrimPct // 100 AS k FROM ranked),
      |agg AS (
      |  SELECT seg, CAST(MAX(n) AS BIGINT) AS n, CAST(MAX(k) AS BIGINT) AS k,
      |         SUM(CASE WHEN rn > k AND rn <= n - k
      |                  THEN CAST(y AS HUGEINT) ELSE 0 END) AS mid_sum,
      |         MAX(CASE WHEN rn = k + 1 THEN y END) AS lo_bound,
      |         MAX(CASE WHEN rn = n - k THEN y END) AS hi_bound
      |  FROM kd GROUP BY 1)
      |SELECT seg, n, k,
      |       CAST(lo_bound AS DOUBLE) / 100.0 AS lo_bound_dollars,
      |       CAST(hi_bound AS DOUBLE) / 100.0 AS hi_bound_dollars,
      |       CAST(mid_sum AS DOUBLE) / CAST(n - 2 * k AS DOUBLE) / 100.0
      |         AS trimmed_mean_dollars,
      |       CAST(mid_sum + CAST(k AS HUGEINT) * lo_bound
      |            + CAST(k AS HUGEINT) * hi_bound AS DOUBLE)
      |         / CAST(n AS DOUBLE) / 100.0 AS winsorized_mean_dollars
      |FROM agg ORDER BY seg""".stripMargin),
    doc = s"stats: exact $TrimPct%-trimmed and winsorized mean order value per segment with tail boundaries (one per-group rank pass). " +
      "Trimmed/winsorized: exact order statistics = one per-segment rank window (the q21 exactness-baseline stance; q92's histogram is the 100 TB swap); everything after the rank pass is map-side-combinable with exact decimal tail sums.")

  val all: Seq[Q] = Seq(q210)
}
