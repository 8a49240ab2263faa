package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Syntetos-Boylan-Croston demand classification (Syntetos, Boylan &
  * Croston 2005) — the quadrant scheme that decides WHICH forecaster
  * each SKU gets: plot mean inter-demand interval (ADI) against the
  * squared coefficient of variation of demand SIZES (CV²); the
  * published cutoffs ADI = 1.32 and CV² = 0.49 split smooth /
  * intermittent / erratic / lumpy. q220's ABC-XYZ ranks by value and
  * total variability; THIS is the routing table for the forecasting
  * ladder the engine now carries (smooth → q232/q256/q276,
  * intermittent → q257's Croston/SBA).
  *
  * Determinism: per-brand demand days, active spans and size moments
  * are exact integers/decimals; ADI and CV² are single IEEE divisions
  * of exact values, and the quadrant cutoffs compare as integer
  * cross-multiplications (ADI·100 vs 132, CV²-core·100 vs 49·denom —
  * no float-threshold coin flips at the boundary).
  *
  * Scale shape: one key join (part dim broadcast), ONE
  * map-side-combinable (brand, day) aggregate, then a 25-row brand
  * frame carries all classification algebra. No window, no sort
  * beyond the deterministic output order.
  */
object DemandClass {

  val q278 = Q(
    "q278_sbc_quadrant",
    (s, dir) => {
      import s.implicits._
      val daily = Tables.maybeBroadcast(
          Tables.load(s, dir, "part").select($"p_partkey", $"p_brand"))
        .join(Tables.load(s, dir, "lineitem")
          .select($"l_partkey", to_date($"l_shipdate").as("day"),
            $"l_quantity".cast("long").as("q")),
          $"p_partkey" === $"l_partkey")
        .groupBy($"p_brand", $"day").agg(sum($"q").as("z"))
      daily.groupBy($"p_brand")
        .agg(count(lit(1)).as("nd"),
          (datediff(max($"day"), min($"day")).cast("long") + 1L).as("span"),
          sum($"z".cast("decimal(38,0)")).as("sz"),
          sum(($"z" * $"z").cast("decimal(38,0)")).as("szz"))
        .withColumn("adi", expr("cast(span as double) / cast(nd as double)"))
        .withColumn("cv2", expr(
          "(cast(nd as double) * cast(szz as double) - cast(sz as double) * cast(sz as double))"
            + " / (cast(sz as double) * cast(sz as double))"))
        .withColumn("quadrant", expr(
          "case when span * 100L <= 132L * nd and"
            + " (cast(nd as decimal(38,0)) * szz - sz * sz) * 100L <= 49L * sz * sz"
            + " then 'smooth'"
            + " when span * 100L <= 132L * nd then 'erratic'"
            + " when (cast(nd as decimal(38,0)) * szz - sz * sz) * 100L <= 49L * sz * sz"
            + " then 'intermittent' else 'lumpy' end"))
        .select($"p_brand", $"nd".as("demand_days"), $"span", $"adi",
          $"cv2", $"quadrant")
        .orderBy($"p_brand")
    },
    Some("""WITH daily AS (
      |  SELECT p_brand, CAST(l_shipdate AS DATE) AS day,
      |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS z
      |  FROM part JOIN lineitem ON p_partkey = l_partkey
      |  GROUP BY 1, 2),
      |agg AS (
      |  SELECT p_brand, COUNT(*) AS nd,
      |         CAST(date_diff('day', MIN(day), MAX(day)) AS BIGINT) + 1 AS span,
      |         SUM(CAST(z AS HUGEINT)) AS sz,
      |         SUM(CAST(z AS HUGEINT) * z) AS szz
      |  FROM daily GROUP BY 1)
      |SELECT p_brand, nd AS demand_days, span,
      |       CAST(span AS DOUBLE) / CAST(nd AS DOUBLE) AS adi,
      |       (CAST(nd AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))
      |         / (CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)) AS cv2,
      |       CASE WHEN span * 100 <= 132 * nd AND
      |                 (CAST(nd AS HUGEINT) * szz - sz * sz) * 100 <= 49 * sz * sz
      |            THEN 'smooth'
      |            WHEN span * 100 <= 132 * nd THEN 'erratic'
      |            WHEN (CAST(nd AS HUGEINT) * szz - sz * sz) * 100 <= 49 * sz * sz
      |            THEN 'intermittent' ELSE 'lumpy' END AS quadrant
      |FROM agg ORDER BY p_brand""".stripMargin),
    doc = "inventory: Syntetos-Boylan-Croston forecastability quadrants (ADI 1.32 x CV^2 0.49) per brand — exact integer cutoff cross-multiplications, one (brand,day) aggregate. " +
      "Part dim broadcast; ONE (brand, day) map-side-combinable aggregate; all ADI/CV2 classification algebra on the 25-row brand frame with integer cross-multiplied cutoffs — no window, no corpus sort.")

  val all: Seq[Q] = Seq(q278)
}
