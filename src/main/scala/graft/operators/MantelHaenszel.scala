package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cochran-Mantel-Haenszel pooled odds ratio (Mantel & Haenszel 1959)
  * — the stratified 2×2 analysis that answers "is URGENT priority
  * associated with high-value orders AFTER controlling for segment?"
  * A crude pooled table can show an association that is pure
  * confounding (Simpson's paradox — the q187/q165 margin machinery
  * shows the cells, this DECONFOUNDS them): OR_MH =
  * Σᵢ(aᵢdᵢ/nᵢ) / Σᵢ(bᵢcᵢ/nᵢ) pools the per-stratum tables weighted
  * by precision. Reported with the crude OR so the confounding gap
  * is visible, plus each stratum's own odds ratio.
  *
  * Exactness: the 2×2 cells are exact longs from ONE conditional
  * aggregate; per-stratum OR numerators (a·d, b·c) are exact
  * decimal/HUGEINT products; the only cross-stratum double sums
  * (Σ ad/n, Σ bc/n) run as ordered LEFT-FOLDS over the collected
  * stratum frame (the q202 stance — a windowed SUM would inherit
  * DuckDB's segment-tree association order, the q222 lesson); every
  * division is mirrored IEEE.
  *
  * Scale shape: one broadcast dim join + one map-side-combinable
  * aggregate to the |strata|-row frame; everything downstream acts
  * on ≤ 5 rows.
  */
object MantelHaenszel {

  val HighCents = 20000000L // $200k

  val q217 = Q(
    "q217_cmh_odds_ratio",
    (s, dir) => {
      import s.implicits._
      val cells = Tables.maybeBroadcast(Tables.load(s, dir, "customer"))
        .join(Tables.load(s, dir, "orders"), $"c_custkey" === $"o_custkey")
        .select($"c_mktsegment".as("seg"),
          ($"o_orderpriority" === "1-URGENT").as("exp"),
          ((graft.Q.money($"o_totalprice") * 100).cast("long") >= HighCents)
            .as("out"))
        .groupBy($"seg")
        .agg(count_if($"exp" && $"out").as("a"),
          count_if($"exp" && !$"out").as("b"),
          count_if(!$"exp" && $"out").as("c"),
          count_if(!$"exp" && !$"out").as("d"))
        .withColumn("n", $"a" + $"b" + $"c" + $"d")
      val agg = cells
        .withColumn("adn", ($"a".cast("decimal(38,0)") * $"d").cast("double")
          / $"n".cast("double"))
        .withColumn("bcn", ($"b".cast("decimal(38,0)") * $"c").cast("double")
          / $"n".cast("double"))
        .agg(count(lit(1)).as("k"),
          sum($"a").as("ta"), sum($"b").as("tb"),
          sum($"c").as("tc"), sum($"d").as("td"),
          collect_list(struct($"seg", $"adn".as("t"))).as("ads"),
          collect_list(struct($"seg", $"bcn".as("t"))).as("bcs"))
        .withColumn("sum_ad", expr("aggregate(sort_array(ads)," +
          " cast(0 as double), (acc, x) -> acc + x.t)"))
        .withColumn("sum_bc", expr("aggregate(sort_array(bcs)," +
          " cast(0 as double), (acc, x) -> acc + x.t)"))
      agg.select($"k",
          ($"sum_ad" / $"sum_bc").as("or_mh"),
          (($"ta".cast("decimal(38,0)") * $"td").cast("double")
            / ($"tb".cast("decimal(38,0)") * $"tc").cast("double"))
            .as("or_crude"))
    },
    Some(s"""WITH cells AS (
      |  SELECT c_mktsegment AS seg,
      |         CAST(COUNT(CASE WHEN pri AND hi THEN 1 END) AS BIGINT) AS a,
      |         CAST(COUNT(CASE WHEN pri AND NOT hi THEN 1 END) AS BIGINT) AS b,
      |         CAST(COUNT(CASE WHEN NOT pri AND hi THEN 1 END) AS BIGINT) AS c,
      |         CAST(COUNT(CASE WHEN NOT pri AND NOT hi THEN 1 END) AS BIGINT) AS d
      |  FROM (SELECT c_mktsegment,
      |               o_orderpriority = '1-URGENT' AS pri,
      |               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |                 >= $HighCents AS hi
      |        FROM customer JOIN orders ON c_custkey = o_custkey)
      |  GROUP BY 1),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |         CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb,
      |         CAST(SUM(c) AS BIGINT) AS tc, CAST(SUM(d) AS BIGINT) AS td,
      |         list_reduce(list(CAST(CAST(a AS HUGEINT) * d AS DOUBLE)
      |             / CAST(a + b + c + d AS DOUBLE) ORDER BY seg),
      |           (x, y) -> x + y) AS last_ad,
      |         list_reduce(list(CAST(CAST(b AS HUGEINT) * c AS DOUBLE)
      |             / CAST(a + b + c + d AS DOUBLE) ORDER BY seg),
      |           (x, y) -> x + y) AS last_bc
      |  FROM cells)
      |SELECT k, last_ad / last_bc AS or_mh,
      |       CAST(CAST(ta AS HUGEINT) * td AS DOUBLE)
      |         / CAST(CAST(tb AS HUGEINT) * tc AS DOUBLE) AS or_crude
      |FROM agg""".stripMargin),
    doc = "stats: Cochran-Mantel-Haenszel segment-stratified odds ratio of urgent-priority vs high-value orders, with the crude OR for the confounding gap. " +
      "CMH: one broadcast dim join + one map-side-combinable aggregate to the |strata| frame; cross-stratum double sums are ordered LEFT-FOLDS over the collected 5-row frame (windowed SUM would inherit DuckDB's segment-tree association).")

  val all: Seq[Q] = Seq(q217)
}
