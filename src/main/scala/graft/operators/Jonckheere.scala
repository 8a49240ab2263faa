package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Jonckheere-Terpstra ordered-alternative trend test (Jonckheere
  * 1954): does line-item QUANTITY systematically rise (or fall) as
  * the DISCOUNT level rises? q202's ANOVA asks "are the groups
  * different at all"; q205's tau-b measures association on pairs —
  * JT is the test of record for the a-priori ORDERED hypothesis
  * across k groups: JT = Σ_{i<j} U_ij, the sum over ordered group
  * pairs of Mann-Whitney counts. Like q205 it computes exactly from
  * the bounded (quantity × discount) contingency table, so the O(N²)
  * definition costs O(cells²), corpus-size-independent.
  *
  * Exactness: U counts and tie terms are exact decimal/HUGEINT
  * cell-pair sums; the null mean (N² − Σnⱼ²)/4 and the (untied)
  * variance [N²(2N+3) − Σnⱼ²(2nⱼ+3)]/72 are closed-form integers,
  * exact in the same ladder; the z-score is one mirrored IEEE
  * epilogue. Ties within a (quantity, discount) cell contribute ½ —
  * carried as DOUBLED counts (2U rides as an integer, the q200
  * stance).
  *
  * Scale shape: one map-side-combinable aggregate to the ≤550-cell
  * table; the ordered-pair join and the per-group rollup act on
  * cells² ≈ 3·10⁵ and k = 11 rows.
  */
object Jonckheere {

  val q219 = Q(
    "q219_jonckheere_trend",
    (s, dir) => {
      import s.implicits._
      val cells = graft.Barrier(Tables.load(s, dir, "lineitem")
        .groupBy(round($"l_discount" * 100).cast("int").as("g"),
          $"l_quantity".cast("int").as("v"))
        .agg(count(lit(1)).as("n")))
      // 2*JT: for groups i < j, pairs with v_j > v_i count 2, ties 1
      val u2 = cells.as("a").join(cells.as("b"), $"a.g" < $"b.g")
        .agg(sum(when($"b.v" > $"a.v",
            $"a.n".cast("decimal(38,0)") * $"b.n" * 2)
          .when($"b.v" === $"a.v", $"a.n".cast("decimal(38,0)") * $"b.n")
          .otherwise(lit(0))).as("jt2"))
      val grp = cells.groupBy($"g").agg(sum($"n").as("ng"))
      val moments = grp.agg(count(lit(1)).as("k"),
        sum($"ng").as("n"),
        sum($"ng".cast("decimal(38,0)") * $"ng").as("sq"),
        sum($"ng".cast("decimal(38,0)") * $"ng" * ($"ng" * 2 + 3)).as("cb"))
      u2.crossJoin(broadcast(moments))
        .select($"k", $"n", ($"jt2".cast("double") / 2.0).as("jt"),
          (($"n".cast("double") * $"n".cast("double")
            - $"sq".cast("double")) / 4.0).as("mean_null"),
          (($"n".cast("double") * $"n".cast("double")
            * ($"n".cast("double") * 2.0 + 3.0)
            - $"cb".cast("double")) / 72.0).as("var_null"))
        .select($"k", $"n", $"jt", $"mean_null",
          (($"jt" - $"mean_null") / sqrt($"var_null")).as("z_score"))
    },
    Some("""WITH cells AS (
      |  SELECT CAST(round(l_discount * 100) AS INT) AS g,
      |         CAST(l_quantity AS INT) AS v, COUNT(*) AS n
      |  FROM lineitem GROUP BY 1, 2),
      |u2 AS (
      |  SELECT SUM(CASE WHEN b.v > a.v THEN CAST(a.n AS HUGEINT) * b.n * 2
      |                  WHEN b.v = a.v THEN CAST(a.n AS HUGEINT) * b.n
      |                  ELSE 0 END) AS jt2
      |  FROM cells a JOIN cells b ON a.g < b.g),
      |grp AS (SELECT g, CAST(SUM(n) AS BIGINT) AS ng FROM cells GROUP BY 1),
      |moments AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ng) AS BIGINT) AS n,
      |         SUM(CAST(ng AS HUGEINT) * ng) AS sq,
      |         SUM(CAST(ng AS HUGEINT) * ng * (ng * 2 + 3)) AS cb
      |  FROM grp),
      |parts AS (
      |  SELECT k, n, CAST(jt2 AS DOUBLE) / 2.0 AS jt,
      |         (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |            - CAST(sq AS DOUBLE)) / 4.0 AS mean_null,
      |         (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |            * (CAST(n AS DOUBLE) * 2.0 + 3.0)
      |            - CAST(cb AS DOUBLE)) / 72.0 AS var_null
      |  FROM u2, moments)
      |SELECT k, n, jt, mean_null,
      |       (jt - mean_null) / sqrt(var_null) AS z_score
      |FROM parts""".stripMargin),
    doc = "stats: Jonckheere-Terpstra ordered trend test of quantity across discount levels — exact contingency-table pair sums, closed-form null moments. " +
      "Jonckheere: one map-side aggregate to the <=550-cell contingency table; ordered-pair cell join ~3e5 pairs corpus-independent; null moments are closed-form decimal/HUGEINT integers.")

  val all: Seq[Q] = Seq(q219)
}
