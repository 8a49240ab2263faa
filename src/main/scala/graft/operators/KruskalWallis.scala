package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Kruskal-Wallis H (Kruskal & Wallis 1952) — the k-group rank
  * generalization of q200's Mann-Whitney: are order quantities drawn
  * from the same distribution across all five order priorities? The
  * distribution-free complement to q202's ANOVA F (which assumes
  * normal equal-variance groups); with k = 2 it reduces exactly to
  * the Mann-Whitney test. Tie-corrected: quantities are heavily tied
  * (50 distinct values), so the C = 1 − Σ(t³−t)/(N³−N) correction is
  * load-bearing, not decorative.
  *
  * Determinism (the q200 stance, generalized to k groups): ranks ride
  * as 2×average-rank integers over the ≤50-row quantity-domain frame;
  * per-group rank sums are decimal(38,0) ↔ HUGEINT; the cross-group
  * Σ R_g²/n_g folds in EXPLICIT group order (collect_list + sorted
  * aggregate ↔ list_reduce over ORDER BY g — the q202 pattern); the
  * H/C epilogue is one mirrored IEEE expression. C = 0 (all values
  * identical) NULLIFs instead of dividing by zero.
  *
  * Scale shape: the only corpus-sized operations are the
  * lineitem⋈orders key join and ONE map-side-combinable (group,
  * value) aggregate; rank windows, tie sums and the group fold all
  * run on value-domain-bounded frames (≤50 and ≤5·50 rows) the
  * corpus cannot grow.
  */
object KruskalWallis {

  val q268 = Q(
    "q268_kruskal_wallis",
    (s, dir) => {
      import s.implicits._
      val cell = Tables.load(s, dir, "orders")
        .select($"o_orderkey", $"o_orderpriority".as("g"))
        .join(Tables.load(s, dir, "lineitem")
          .select($"l_orderkey", $"l_quantity".cast("int").as("v")),
          $"o_orderkey" === $"l_orderkey")
        .groupBy($"g", $"v").agg(count(lit(1)).as("c"))
      val tv = cell.groupBy($"v").agg(sum($"c").as("t"))
      val w = Window.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = tv
        .withColumn("cumt", coalesce(sum($"t").over(w), lit(0L)))
        .withColumn("rank2", lit(2L) * $"cumt" + $"t" + 1L)
      val ties = ranked.agg(
        sum($"t".cast("decimal(38,0)") * $"t" * $"t" - $"t").as("tie3"))
      val grp = cell.join(ranked.select($"v", $"rank2"), Seq("v"))
        .groupBy($"g")
        .agg(sum($"c").as("ng"),
          sum($"c".cast("decimal(38,0)") * $"rank2").as("r2g"))
        .withColumn("term", expr(
          "cast(r2g as double) * cast(r2g as double)"
            + " / (4D * cast(ng as double))"))
      grp
        .agg(count(lit(1)).as("k"), sum($"ng").as("n"),
          collect_list(struct($"g", $"term")).as("ts"))
        .withColumn("sterms", expr(
          "aggregate(sort_array(ts), cast(0 as double), (acc, x) -> acc + x.term)"))
        .crossJoin(broadcast(ties))
        .withColumn("nd", $"n".cast("double"))
        .withColumn("h", expr(
          "12D * sterms / (nd * (nd + 1D)) - 3D * (nd + 1D)"))
        .withColumn("tie_c", expr(
          "1D - cast(tie3 as double) / (nd * nd * nd - nd)"))
        .select($"k", $"n", $"h".as("h_stat"), $"tie_c",
          expr("h / nullif(tie_c, 0D)").as("h_adj"))
    },
    Some("""WITH cell AS (
      |  SELECT o_orderpriority AS g, CAST(l_quantity AS INT) AS v,
      |         CAST(COUNT(*) AS BIGINT) AS c
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY 1, 2),
      |tv AS (
      |  SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM cell GROUP BY 1),
      |ranked AS (
      |  SELECT v, t,
      |         2 * COALESCE(SUM(t) OVER (ORDER BY v
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           + t + 1 AS rank2
      |  FROM tv),
      |ties AS (
      |  SELECT SUM(CAST(t AS HUGEINT) * t * t - t) AS tie3 FROM ranked),
      |grp AS (
      |  SELECT g, CAST(SUM(c) AS BIGINT) AS ng,
      |         SUM(CAST(c AS HUGEINT) * rank2) AS r2g
      |  FROM cell JOIN ranked USING (v)
      |  GROUP BY 1),
      |folded AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ng) AS BIGINT) AS n,
      |         list_reduce(list(CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE)
      |             / (4e0 * CAST(ng AS DOUBLE)) ORDER BY g),
      |           (a, b) -> a + b) AS sterms
      |  FROM grp),
      |fin AS (
      |  SELECT k, n, sterms, CAST(n AS DOUBLE) AS nd, tie3
      |  FROM folded CROSS JOIN ties)
      |SELECT k, n,
      |       12e0 * sterms / (nd * (nd + 1e0)) - 3e0 * (nd + 1e0) AS h_stat,
      |       1e0 - CAST(tie3 AS DOUBLE) / (nd * nd * nd - nd) AS tie_c,
      |       (12e0 * sterms / (nd * (nd + 1e0)) - 3e0 * (nd + 1e0))
      |         / NULLIF(1e0 - CAST(tie3 AS DOUBLE) / (nd * nd * nd - nd), 0e0) AS h_adj
      |FROM fin""".stripMargin),
    doc = "stats: tie-corrected Kruskal-Wallis H of quantity across the five order priorities — 2x-rank integers on the 50-value domain frame, ordered cross-group fold, one IEEE epilogue. " +
      "Key join then ONE (group, value) map-side-combinable aggregate to a <=250-row frame; rank window, tie sums and the ordered cross-group fold all run on value-domain-bounded frames — the corpus never sorts.")

  val all: Seq[Q] = Seq(q268)
}
