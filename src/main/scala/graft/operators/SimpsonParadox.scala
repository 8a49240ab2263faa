package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Simpson's-paradox scan (Simpson 1951) on the discount→quantity
  * relationship — the aggregation trap every segmented dashboard
  * walks into: a pooled OLS slope can carry the OPPOSITE sign from
  * every within-group slope when group sizes and baselines differ.
  * q217's CMH pools stratified 2×2 tables; this is the continuous
  * analog — fit the pooled slope and each supplier-nation's slope
  * from the same exact moments and flag the sign reversals, i.e. the
  * nations where "discounts move volume" reads backwards unless you
  * stratify.
  *
  * Exactness: x = discount in whole points (exact 0–10), y = quantity
  * centi-units — the five moment sums per nation are exact
  * decimal(38,0)/HUGEINT (the q199 discipline); pooled moments are
  * exact decimal SUMS of the per-nation moments (associative); slopes
  * are the identical IEEE expression of exact casts in both engines.
  *
  * Scale shape: ONE map-side-combinable aggregate over lineitem (with
  * a broadcast supplier hop) to 25 moment rows behind a Barrier;
  * pooling, the nation join, and the reversal flags are epilogue on
  * that frame. 25 rows out.
  */
object SimpsonParadox {

  val q255 = Q(
    "q255_simpson_slopes",
    (s, dir) => {
      import s.implicits._
      val pts = Tables.load(s, dir, "lineitem")
        .join(Tables.maybeBroadcast(Tables.load(s, dir, "supplier")
          .select($"s_suppkey", $"s_nationkey")), $"l_suppkey" === $"s_suppkey")
        .select($"s_nationkey".as("nk"),
          expr("cast(cast(l_discount as decimal(4,2)) * 100 as bigint)").as("x"),
          expr("cast(cast(l_quantity as decimal(18,2)) * 100 as bigint)").as("y"))
      val moments = graft.Barrier(pts.groupBy($"nk")
        .agg(count(lit(1)).as("n"),
          sum($"x".cast("decimal(38,0)")).as("sx"),
          sum($"y".cast("decimal(38,0)")).as("sy"),
          sum(($"x" * $"x").cast("decimal(38,0)")).as("sxx"),
          sum(($"x" * $"y").cast("decimal(38,0)")).as("sxy")))
      val pooled = moments.agg(sum($"n").as("pn"),
          sum($"sx").as("psx"), sum($"sy").as("psy"),
          sum($"sxx").as("psxx"), sum($"sxy").as("psxy"))
        .select((($"pn".cast("double") * $"psxy".cast("double")
          - $"psx".cast("double") * $"psy".cast("double"))
          / ($"pn".cast("double") * $"psxx".cast("double")
            - $"psx".cast("double") * $"psx".cast("double")))
          .as("pooled_slope"))
      val nat = Tables.maybeBroadcast(Tables.load(s, dir, "nation")
        .select($"n_nationkey".as("nk"), $"n_name"))
      moments
        .select($"nk", $"n",
          (($"n".cast("double") * $"sxy".cast("double")
            - $"sx".cast("double") * $"sy".cast("double"))
            / ($"n".cast("double") * $"sxx".cast("double")
              - $"sx".cast("double") * $"sx".cast("double"))).as("slope"))
        .crossJoin(broadcast(pooled))
        .join(nat, "nk")
        .select($"n_name", $"n", $"slope", $"pooled_slope",
          when($"slope" * $"pooled_slope" < 0, 1L).otherwise(0L).as("reversed"))
        .orderBy($"n_name")
    },
    Some("""WITH pts AS (
      |  SELECT s_nationkey AS nk,
      |         CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT) AS x,
      |         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
      |moments AS MATERIALIZED (
      |  SELECT nk, COUNT(*) AS n,
      |         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
      |         CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
      |         CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx,
      |         CAST(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS sxy
      |  FROM pts GROUP BY 1),
      |pooled AS (
      |  SELECT (CAST(SUM(n) AS DOUBLE) * CAST(SUM(sxy) AS DOUBLE)
      |          - CAST(SUM(sx) AS DOUBLE) * CAST(SUM(sy) AS DOUBLE))
      |         / (CAST(SUM(n) AS DOUBLE) * CAST(SUM(sxx) AS DOUBLE)
      |            - CAST(SUM(sx) AS DOUBLE) * CAST(SUM(sx) AS DOUBLE))
      |           AS pooled_slope
      |  FROM moments)
      |SELECT n_name, m.n,
      |       (CAST(m.n AS DOUBLE) * CAST(m.sxy AS DOUBLE)
      |        - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE))
      |       / (CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
      |          - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE)) AS slope,
      |       p.pooled_slope,
      |       CASE WHEN (CAST(m.n AS DOUBLE) * CAST(m.sxy AS DOUBLE)
      |                  - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE))
      |                 / (CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
      |                    - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE))
      |                 * p.pooled_slope < 0 THEN 1 ELSE 0 END AS reversed
      |FROM moments m
      |JOIN nation ON n_nationkey = m.nk
      |CROSS JOIN pooled p
      |ORDER BY n_name""".stripMargin),
    doc = "stats: Simpson's-paradox scan — pooled vs per-supplier-nation OLS slope of quantity on discount from exact decimal/HUGEINT moments; flags sign reversals. " +
      "Simpson: ONE map-side-combinable moment aggregate over lineitem (broadcast supplier hop) to 25 rows behind a Barrier; pooled moments are an exact decimal re-aggregate; slopes/flags are epilogue.")

  val all: Seq[Q] = Seq(q255)
}
