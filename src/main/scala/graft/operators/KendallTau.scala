package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Kendall's tau-b rank correlation (Kendall 1945, the tie-corrected
  * form) between line-item quantity and discount — the ordinal
  * association q170's Spearman rho approximates from ranks; tau-b is
  * the concordant-vs-discordant PAIR probability, the statistic of
  * record when both variables are coarse ordinal scales. Computed
  * exactly from the CONTINGENCY TABLE: with both domains bounded
  * (50 quantities × 11 discount grid points), every pairwise
  * comparison of N corpus rows collapses onto ≤ 550 cells, and
  * C/D/tie counts are cell-pair sums — the O(N²) definition at
  * O(cells²) = O(3·10⁵) cost, corpus-size-independent.
  *
  * Determinism: the discount grid index is round(l_discount·100) —
  * one correctly-rounded IEEE product and a half-away round identical
  * in both engines (the grid points are 0.00..0.10, far from .5 ulp
  * traps); C, D, and the tie terms are exact decimal/HUGEINT sums;
  * tau-b's final sqrt-ratio is the mirrored IEEE epilogue.
  *
  * Scale shape: ONE map-side-combinable aggregate builds the cell
  * frame; the cell-pair self-join and the row/column tie rollups run
  * on ≤ 550 rows. Pair counts reach N²/2 ≈ 10²⁰ at 100 TB — past
  * int64, which is why every pair count rides decimal(38,0)/HUGEINT
  * end to end.
  */
object KendallTau {

  val q205 = Q(
    "q205_kendall_tau_b",
    (s, dir) => {
      import s.implicits._
      val cells = graft.Barrier(Tables.load(s, dir, "lineitem")
        .groupBy($"l_quantity".cast("int").as("qi"),
          round($"l_discount" * 100).cast("int").as("di"))
        .agg(count(lit(1)).as("n")))
      val cd = cells.as("a").join(cells.as("b"),
          $"a.qi" < $"b.qi")
        .agg(
          sum(when($"b.di" > $"a.di",
            $"a.n".cast("decimal(38,0)") * $"b.n").otherwise(lit(0)))
            .as("c_pairs"),
          sum(when($"b.di" < $"a.di",
            $"a.n".cast("decimal(38,0)") * $"b.n").otherwise(lit(0)))
            .as("d_pairs"))
      val tot = cells.agg(sum($"n").as("n"))
      val rowTies = cells.groupBy($"qi").agg(sum($"n").as("t"))
        .agg(sum($"t".cast("decimal(38,0)") * ($"t" - 1L) / 2).as("tx"))
      val colTies = cells.groupBy($"di").agg(sum($"n").as("t"))
        .agg(sum($"t".cast("decimal(38,0)") * ($"t" - 1L) / 2).as("ty"))
      cd.crossJoin(broadcast(tot))
        .crossJoin(broadcast(rowTies))
        .crossJoin(broadcast(colTies))
        .select($"n", $"c_pairs".cast("long").as("c_pairs"),
          $"d_pairs".cast("long").as("d_pairs"),
          ($"n".cast("decimal(38,0)") * ($"n" - 1L) / 2).as("n0"),
          $"tx", $"ty")
        .select($"n", $"c_pairs", $"d_pairs",
          (($"c_pairs".cast("decimal(38,0)") - $"d_pairs").cast("double")
            / sqrt(($"n0" - $"tx").cast("double")
              * ($"n0" - $"ty").cast("double"))).as("tau_b"))
    },
    Some("""WITH cells AS (
      |  SELECT CAST(l_quantity AS INT) AS qi,
      |         CAST(round(l_discount * 100) AS INT) AS di,
      |         COUNT(*) AS n
      |  FROM lineitem GROUP BY 1, 2),
      |cd AS (
      |  SELECT SUM(CASE WHEN b.di > a.di
      |               THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS c_pairs,
      |         SUM(CASE WHEN b.di < a.di
      |               THEN CAST(a.n AS HUGEINT) * b.n ELSE 0 END) AS d_pairs
      |  FROM cells a JOIN cells b ON a.qi < b.qi),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n FROM cells),
      |row_ties AS (
      |  SELECT SUM(CAST(t AS HUGEINT) * (t - 1) // 2) AS tx
      |  FROM (SELECT CAST(SUM(n) AS BIGINT) AS t FROM cells GROUP BY qi)),
      |col_ties AS (
      |  SELECT SUM(CAST(t AS HUGEINT) * (t - 1) // 2) AS ty
      |  FROM (SELECT CAST(SUM(n) AS BIGINT) AS t FROM cells GROUP BY di))
      |SELECT n, CAST(c_pairs AS BIGINT) AS c_pairs,
      |       CAST(d_pairs AS BIGINT) AS d_pairs,
      |       CAST(c_pairs - d_pairs AS DOUBLE)
      |         / sqrt(CAST(CAST(n AS HUGEINT) * (n - 1) // 2 - tx AS DOUBLE)
      |             * CAST(CAST(n AS HUGEINT) * (n - 1) // 2 - ty AS DOUBLE))
      |         AS tau_b
      |FROM cd, tot, row_ties, col_ties""".stripMargin),
    doc = "stats: exact tie-corrected Kendall tau-b of quantity vs discount via the bounded contingency table (O(cells^2), corpus-size-independent). " +
      "Kendall tau-b: one map-side aggregate onto the <=550-cell contingency table; C/D are a cells^2 self-join (~3e5 pairs, corpus-size-independent); every pair count rides decimal/HUGEINT (N^2 > int64 at 100 TB).")

  val all: Seq[Q] = Seq(q205)
}
