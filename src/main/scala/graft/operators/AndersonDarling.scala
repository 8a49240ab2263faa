package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-sample Anderson-Darling test (Scholz & Stephens 1987, the A²kN
  * rank form) of order quantity across the five order priorities —
  * the HIGH-POWER cousin of q201's KS and q268's Kruskal-Wallis: KS
  * sees only the single largest ECDF gap and KW only location shift;
  * AD integrates the squared ECDF discrepancy with 1/(B(N−B)) tail
  * weighting, so tail differences that KS/KW miss move the statistic.
  *
  * A²kN = (1/N) Σ_groups (1/n_i) Σ_{j<L} l_j (N·M_ij − n_i·B_j)²
  *        / (B_j (N − B_j))
  * over the L distinct values: l_j count at value j, M_ij cumulative
  * group-i count, B_j cumulative total.
  *
  * Determinism: every M_ij / B_j / l_j is an exact long off ONE
  * (group, value) aggregate; the inner numerator (N·M − n_i·B)² is an
  * exact decimal ↔ HUGEINT product; the double terms fold in explicit
  * (group, value) order — Spark sorted-struct aggregate ↔ DuckDB
  * list_reduce over ORDER BY (g, v) — the q202 stance squared.
  *
  * Scale shape: one key join + ONE map-side-combinable aggregate to
  * the ≤5·50-row (group, value) frame; cumulative windows run per
  * group over the ≤50-row value domain; the fold is ≤250 terms.
  */
object AndersonDarling {

  val q280 = Q(
    "q280_anderson_darling",
    (s, dir) => {
      import s.implicits._
      val cell = Tables.load(s, dir, "orders")
        .select($"o_orderkey", $"o_orderpriority".as("g"))
        .join(Tables.load(s, dir, "lineitem")
          .select($"l_orderkey", $"l_quantity".cast("int").as("v")),
          $"o_orderkey" === $"l_orderkey")
        .groupBy($"g", $"v").agg(count(lit(1)).as("c"))
        .cache()
      val tv = cell.groupBy($"v").agg(sum($"c").as("l"))
        .withColumn("b", sum($"l").over(
          Window.orderBy($"v").rowsBetween(Window.unboundedPreceding, 0)))
      val tot = tv.agg(max($"b").as("nn"))
      val grp = cell.groupBy($"g").agg(sum($"c").as("ng"))
      // complete (group, value) grid so M_ij is defined at every value
      val gridded = grp.crossJoin(tv.select($"v", $"l", $"b"))
        .join(cell, Seq("g", "v"), "left_outer")
        .withColumn("c", coalesce($"c", lit(0L)))
        .withColumn("m", sum($"c").over(
          Window.partitionBy($"g").orderBy($"v")
            .rowsBetween(Window.unboundedPreceding, 0)))
      val terms = gridded.crossJoin(broadcast(tot))
        .filter($"b" < $"nn") // j < L: the last value has N-B = 0
        .withColumn("core", expr(
          "(cast(nn as decimal(38,0)) * m - cast(ng as decimal(38,0)) * b)"))
        .withColumn("term", expr(
          "cast(l as double) * cast(core as double) * cast(core as double)"
            + " / (cast(ng as double)"
            + " * (cast(b as double) * (cast(nn as double) - cast(b as double))))"))
      terms
        .agg(first($"nn").as("n"), count(lit(1)).as("n_terms"),
          collect_list(struct($"g", $"v", $"term")).as("ts"))
        .withColumn("ssum", expr(
          "aggregate(sort_array(ts), cast(0 as double), (acc, x) -> acc + x.term)"))
        .select($"n", $"n_terms",
          expr("ssum / cast(n as double)").as("a2_kn"))
    },
    Some("""WITH cell AS (
      |  SELECT o_orderpriority AS g, CAST(l_quantity AS INT) AS v,
      |         CAST(COUNT(*) AS BIGINT) AS c
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2),
      |tv AS (
      |  SELECT v, CAST(SUM(c) AS BIGINT) AS l,
      |         CAST(SUM(SUM(c)) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS b
      |  FROM cell GROUP BY v),
      |tot AS (SELECT MAX(b) AS nn FROM tv),
      |grp AS (SELECT g, CAST(SUM(c) AS BIGINT) AS ng FROM cell GROUP BY 1),
      |gridded AS (
      |  SELECT grp.g, grp.ng, tv.v, tv.l, tv.b,
      |         CAST(SUM(COALESCE(cell.c, 0)) OVER (PARTITION BY grp.g ORDER BY tv.v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS m
      |  FROM grp CROSS JOIN tv
      |  LEFT JOIN cell ON cell.g = grp.g AND cell.v = tv.v),
      |terms AS (
      |  SELECT g, v, nn,
      |         CAST(l AS DOUBLE)
      |           * CAST(CAST(nn AS HUGEINT) * m - CAST(ng AS HUGEINT) * b AS DOUBLE)
      |           * CAST(CAST(nn AS HUGEINT) * m - CAST(ng AS HUGEINT) * b AS DOUBLE)
      |           / (CAST(ng AS DOUBLE)
      |              * (CAST(b AS DOUBLE) * (CAST(nn AS DOUBLE) - CAST(b AS DOUBLE)))) AS term
      |  FROM gridded CROSS JOIN tot WHERE b < nn),
      |folded AS (
      |  SELECT MIN(nn) AS n, CAST(COUNT(*) AS BIGINT) AS n_terms,
      |         list_reduce(list(term ORDER BY g, v), (a, x) -> a + x) AS ssum
      |  FROM terms)
      |SELECT n, n_terms, ssum / CAST(n AS DOUBLE) AS a2_kn
      |FROM folded""".stripMargin),
    doc = "stats: k-sample Anderson-Darling A2kN of quantity across order priorities — exact cumulative cores on the (group, value-domain) grid, tail-weighted ordered fold. " +
      "One key join + ONE (group, value) aggregate to the <=250-row grid; cumulative windows per group over the 50-value domain; exact decimal cores, <=250-term ordered fold — the corpus never sorts.")

  val all: Seq[Q] = Seq(q280)
}
