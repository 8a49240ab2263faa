package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Customer lifetime value, Gupta-Lehmann closed form (Gupta &
  * Lehmann 2003): with per-period margin m, retention rate r and
  * discount rate d, CLV = m·r/(1 + d − r) — the infinite-horizon
  * geometric-retention sum every "what's a customer worth" slide
  * quotes. q175's RFM segments customers by behavior; this prices
  * them: retention is measured as the pooled year-over-year re-order
  * rate, margin as mean annual revenue per active customer-year, at
  * d = 10%.
  *
  * Determinism: the (customer, year) activity grid, the retained /
  * base counts (a semi-join of the grid against itself shifted one
  * year) and the revenue sums are all exact integers/decimals; m, r
  * and the CLV formula are one mirrored IEEE epilogue; the geometric
  * denominator NULLIFs if r ≥ 1 + d (impossible for a true retention
  * ratio, cheap to guard).
  *
  * Scale shape: orders collapse map-side to the (segment, customer,
  * year) grid — the ONLY corpus-sized aggregate; the year-shift
  * semi-join runs on that grid (|customers|·|years|, dimension-scale);
  * the epilogue is a 5-row segment frame. No window, no corpus
  * self-join.
  */
object Clv {

  val DiscountPct = 10

  val q279 = Q(
    "q279_clv_gupta_lehmann",
    (s, dir) => {
      import s.implicits._
      val grid = Tables.load(s, dir, "orders")
        .select($"o_custkey".as("ck"), year($"o_orderdate").as("y"),
          (graft.Q.money($"o_totalprice") * 100).cast("long").as("cents"))
        .groupBy($"ck", $"y").agg(sum($"cents").as("rev"))
      val seg = Tables.maybeBroadcast(
        Tables.load(s, dir, "customer")
          .select($"c_custkey".as("ck"), $"c_mktsegment"))
      val g = grid.join(seg, Seq("ck")).cache()
      val maxY = g.agg(max($"y").as("max_y"))
      val nxt = g.select($"ck", ($"y" - 1).as("y"))
      val flagged = g.join(nxt, Seq("ck", "y"), "left_semi")
        .select($"ck", $"y", $"c_mktsegment", lit(1L).as("retained"))
      val base = g.crossJoin(broadcast(maxY))
        .filter($"y" < $"max_y")
        .join(flagged.select($"ck", $"y", $"retained"), Seq("ck", "y"), "left_outer")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("base_cy"),
          sum(coalesce($"retained", lit(0L))).as("retained_cy"))
      val margin = g.groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("cust_years"),
          sum($"rev".cast("decimal(38,0)")).as("srev"))
      margin.join(base, Seq("c_mktsegment"))
        .withColumn("m", expr("cast(srev as double) / cast(cust_years as double)"))
        .withColumn("r", expr("cast(retained_cy as double) / cast(base_cy as double)"))
        .select($"c_mktsegment", $"cust_years", $"base_cy", $"retained_cy",
          $"m".as("margin_cents_per_year"), $"r".as("retention"),
          expr(s"m * r / nullif(1D + cast($DiscountPct as double) / 100D - r, 0D)")
            .as("clv_cents"))
        .orderBy($"c_mktsegment")
    },
    Some(s"""WITH grid AS (
      |  SELECT o_custkey AS ck, year(CAST(o_orderdate AS DATE)) AS y,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
      |  FROM orders GROUP BY 1, 2),
      |g AS (
      |  SELECT grid.ck, grid.y, grid.rev, c.c_mktsegment
      |  FROM grid JOIN customer c ON c.c_custkey = grid.ck),
      |maxy AS (SELECT MAX(y) AS max_y FROM g),
      |base AS (
      |  SELECT g.c_mktsegment, COUNT(*) AS base_cy,
      |         CAST(SUM(CASE WHEN EXISTS (
      |             SELECT 1 FROM g g2 WHERE g2.ck = g.ck AND g2.y = g.y + 1)
      |           THEN 1 ELSE 0 END) AS BIGINT) AS retained_cy
      |  FROM g, maxy WHERE g.y < maxy.max_y
      |  GROUP BY 1),
      |margin AS (
      |  SELECT c_mktsegment, COUNT(*) AS cust_years,
      |         SUM(CAST(rev AS HUGEINT)) AS srev
      |  FROM g GROUP BY 1),
      |parts AS (
      |  SELECT m.c_mktsegment, m.cust_years, b.base_cy, b.retained_cy,
      |         CAST(m.srev AS DOUBLE) / CAST(m.cust_years AS DOUBLE) AS mm,
      |         CAST(b.retained_cy AS DOUBLE) / CAST(b.base_cy AS DOUBLE) AS r
      |  FROM margin m JOIN base b USING (c_mktsegment))
      |SELECT c_mktsegment, cust_years, base_cy, retained_cy,
      |       mm AS margin_cents_per_year, r AS retention,
      |       mm * r / NULLIF(1e0 + CAST($DiscountPct AS DOUBLE) / 100e0 - r, 0e0) AS clv_cents
      |FROM parts ORDER BY c_mktsegment""".stripMargin),
    doc = "economics: Gupta-Lehmann geometric-retention CLV per segment — exact (customer,year) activity grid, pooled YoY retention semi-join, m*r/(1+d-r) closed form at d=10%. " +
      "Orders collapse map-side to the (customer, year) grid — the only corpus-sized aggregate; the year-shift retention semi-join runs at grid (dimension) scale; 5-row segment epilogue.")

  val all: Seq[Q] = Seq(q279)
}
