package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** McNemar's test (McNemar 1947) of paired binary outcomes — did the
  * customer base's propensity to order CHANGE between 1996 and 1997?
  * The chi-square family (q180/q217) compares INDEPENDENT groups; here
  * each customer is their own control (ordered-in-96 vs ordered-in-97
  * on the SAME customer), and only the DISCORDANT pairs carry
  * information: the continuity-corrected statistic
  * (|n10 − n01| − 1)² / (n10 + n01) is the textbook before/after
  * marginal-homogeneity test (cf. the reference's year-over-year
  * utilization comparisons).
  *
  * Exactness: the 2×2 paired table is four exact longs from one
  * aggregate; the statistic and the discordant ratio are each ONE IEEE
  * expression of exact integers — bit-identical across engines.
  *
  * Scale shape: orders collapse map-side to per-customer year flags
  * (one groupBy on the natural key), the customer dimension joins on
  * its key, and the table is a 1-row aggregate. No corpus-sized
  * shuffle beyond the single flag groupBy.
  */
object McNemar {

  val YearA = 1996
  val YearB = 1997

  val q250 = Q(
    "q250_mcnemar",
    (s, dir) => {
      import s.implicits._
      val flags = Tables.load(s, dir, "orders")
        .select($"o_custkey".as("ck"), year(to_date($"o_orderdate")).as("y"))
        .filter($"y" === YearA || $"y" === YearB)
        .groupBy($"ck")
        .agg(max(when($"y" === YearA, 1L).otherwise(0L)).as("a"),
          max(when($"y" === YearB, 1L).otherwise(0L)).as("b"))
      Tables.load(s, dir, "customer").select($"c_custkey".as("ck"))
        .join(flags, Seq("ck"), "left_outer")
        .select(coalesce($"a", lit(0L)).as("a"), coalesce($"b", lit(0L)).as("b"))
        .agg(
          sum(when($"a" === 1 && $"b" === 1, 1L).otherwise(0L)).as("n_both"),
          sum(when($"a" === 1 && $"b" === 0, 1L).otherwise(0L)).as("n_y1_only"),
          sum(when($"a" === 0 && $"b" === 1, 1L).otherwise(0L)).as("n_y2_only"),
          sum(when($"a" === 0 && $"b" === 0, 1L).otherwise(0L)).as("n_neither"))
        .select(lit(YearA).as("year_a"), lit(YearB).as("year_b"),
          $"n_both", $"n_y1_only", $"n_y2_only", $"n_neither",
          // NULLIF the discordant denominators: zero discordant cells
          // (tiny or year-sparse inputs) must yield NULL in BOTH
          // engines, not a Spark-vs-DuckDB NaN/Inf coin flip.
          expr("(cast(abs(n_y1_only - n_y2_only) as double) - 1D) " +
            "* (cast(abs(n_y1_only - n_y2_only) as double) - 1D) " +
            "/ cast(nullif(n_y1_only + n_y2_only, 0) as double)").as("chi2_cc"),
          expr("cast(n_y1_only as double) / cast(nullif(n_y2_only, 0) as double)")
            .as("discordant_odds"))
    },
    Some(s"""WITH flags AS (
      |  SELECT o_custkey AS ck,
      |         MAX(CASE WHEN year(CAST(o_orderdate AS DATE)) = $YearA THEN 1 ELSE 0 END) AS a,
      |         MAX(CASE WHEN year(CAST(o_orderdate AS DATE)) = $YearB THEN 1 ELSE 0 END) AS b
      |  FROM orders
      |  WHERE year(CAST(o_orderdate AS DATE)) IN ($YearA, $YearB)
      |  GROUP BY 1),
      |paired AS (
      |  SELECT COALESCE(f.a, 0) AS a, COALESCE(f.b, 0) AS b
      |  FROM customer c LEFT JOIN flags f ON f.ck = c.c_custkey),
      |tab AS (
      |  SELECT CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
      |         CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_y1_only,
      |         CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_y2_only,
      |         CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neither
      |  FROM paired)
      |SELECT $YearA AS year_a, $YearB AS year_b,
      |       n_both, n_y1_only, n_y2_only, n_neither,
      |       (CAST(ABS(n_y1_only - n_y2_only) AS DOUBLE) - 1e0)
      |         * (CAST(ABS(n_y1_only - n_y2_only) AS DOUBLE) - 1e0)
      |         / CAST(NULLIF(n_y1_only + n_y2_only, 0) AS DOUBLE) AS chi2_cc,
      |       CAST(n_y1_only AS DOUBLE) / CAST(NULLIF(n_y2_only, 0) AS DOUBLE) AS discordant_odds
      |FROM tab""".stripMargin),
    doc = "stats: McNemar continuity-corrected test of paired 1996-vs-1997 order activity per customer — exact 2x2 paired table, discordant-pair statistic in one IEEE expression. " +
      "McNemar: orders collapse map-side to per-customer year flags (one natural-key groupBy); the customer join is key-local; the paired 2x2 table is a 1-row aggregate with an IEEE epilogue.")

  val all: Seq[Q] = Seq(q250)
}
