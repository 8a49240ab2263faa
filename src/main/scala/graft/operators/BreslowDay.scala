package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Breslow-Day homogeneity test (Breslow & Day 1980, §IV.4) — the
  * mandatory companion to q217's Mantel-Haenszel pooled odds ratio:
  * CMH is only meaningful if the per-stratum odds ratios are
  * HOMOGENEOUS; Breslow-Day tests exactly that, comparing each
  * stratum's observed a-cell against its expectation under the
  * common OR ψ̂ = OR_MH. E(a|ψ) is the in-range root of the quadratic
  * (ψ−1)a² − [ψ(r+c) + n−r−c]·a + ψrc = 0 and V(a|ψ) the harmonic
  * mean of the four fitted cells; X² = Σ (a − E)²/V on k−1 df.
  *
  * Determinism: the 2×2 cells are q217's exact longs from ONE
  * conditional aggregate; ψ̂ is q217's exact-core CMH epilogue; each
  * stratum's quadratic root/variance/term is the IDENTICAL double
  * expression in both engines (arithmetic + one sqrt per stratum);
  * the cross-stratum sum folds in explicit stratum order. ψ̂ = 1
  * exactly (degenerate quadratic) NULLIFs — measure-zero on real
  * data, loud instead of wrong.
  *
  * Scale shape: identical to q217 — one broadcast dim join, one
  * map-side-combinable aggregate to the 5-stratum frame, constant
  * work after.
  */
object BreslowDay {

  val q281 = Q(
    "q281_breslow_day",
    (s, dir) => {
      import s.implicits._
      val cells = Tables.maybeBroadcast(Tables.load(s, dir, "customer"))
        .join(Tables.load(s, dir, "orders"), $"c_custkey" === $"o_custkey")
        .select($"c_mktsegment".as("seg"),
          ($"o_orderpriority" === "1-URGENT").as("exp"),
          ((graft.Q.money($"o_totalprice") * 100).cast("long")
            >= MantelHaenszel.HighCents).as("out"))
        .groupBy($"seg")
        .agg(count_if($"exp" && $"out").as("a"),
          count_if($"exp" && !$"out").as("b"),
          count_if(!$"exp" && $"out").as("c"),
          count_if(!$"exp" && !$"out").as("d"))
        .withColumn("n", $"a" + $"b" + $"c" + $"d")
        .cache()
      val psi = cells
        .withColumn("adn", ($"a".cast("decimal(38,0)") * $"d").cast("double")
          / $"n".cast("double"))
        .withColumn("bcn", ($"b".cast("decimal(38,0)") * $"c").cast("double")
          / $"n".cast("double"))
        .agg(collect_list(struct($"seg", $"adn".as("t"))).as("ads"),
          collect_list(struct($"seg", $"bcn".as("t"))).as("bcs"))
        .select((expr("aggregate(sort_array(ads), cast(0 as double), (acc, x) -> acc + x.t)")
          / expr("aggregate(sort_array(bcs), cast(0 as double), (acc, x) -> acc + x.t)"))
          .as("psi"))
      val terms = cells.crossJoin(broadcast(psi))
        .withColumn("r1", ($"a" + $"b").cast("double"))
        .withColumn("c1", ($"a" + $"c").cast("double"))
        .withColumn("nd", $"n".cast("double"))
        .withColumn("qa", expr("psi - 1D"))
        .withColumn("qb", expr("psi * (r1 + c1) + nd - r1 - c1"))
        .withColumn("ea", expr(
          "(qb - sqrt(qb * qb - 4D * qa * psi * r1 * c1)) / nullif(2D * qa, 0D)"))
        .withColumn("va", expr(
          "1D / (1D / ea + 1D / (r1 - ea) + 1D / (c1 - ea) + 1D / (nd - r1 - c1 + ea))"))
        .withColumn("term", expr(
          "(cast(a as double) - ea) * (cast(a as double) - ea) / va"))
      terms
        .agg(count(lit(1)).as("k"), first($"psi").as("or_mh"),
          collect_list(struct($"seg", $"term")).as("ts"))
        .withColumn("x2", expr(
          "aggregate(sort_array(ts), cast(0 as double), (acc, x) -> acc + x.term)"))
        .select($"k", ($"k" - 1L).as("df"), $"or_mh", $"x2".as("x2_breslow_day"))
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
      |                 >= ${MantelHaenszel.HighCents} AS hi
      |        FROM customer JOIN orders ON c_custkey = o_custkey)
      |  GROUP BY 1),
      |withn AS (SELECT seg, a, b, c, d, a + b + c + d AS n FROM cells),
      |psi AS (
      |  SELECT list_reduce(list(CAST(CAST(a AS HUGEINT) * d AS DOUBLE)
      |             / CAST(n AS DOUBLE) ORDER BY seg), (x, y) -> x + y)
      |         / list_reduce(list(CAST(CAST(b AS HUGEINT) * c AS DOUBLE)
      |             / CAST(n AS DOUBLE) ORDER BY seg), (x, y) -> x + y) AS psi
      |  FROM withn),
      |terms AS (
      |  SELECT seg, a, psi,
      |         (qb - sqrt(qb * qb - 4e0 * qa * psi * r1 * c1)) / NULLIF(2e0 * qa, 0e0) AS ea,
      |         r1, c1, nd
      |  FROM (SELECT seg, a, psi,
      |               CAST(a + b AS DOUBLE) AS r1, CAST(a + c AS DOUBLE) AS c1,
      |               CAST(n AS DOUBLE) AS nd,
      |               psi - 1e0 AS qa,
      |               psi * (CAST(a + b AS DOUBLE) + CAST(a + c AS DOUBLE))
      |                 + CAST(n AS DOUBLE) - CAST(a + b AS DOUBLE) - CAST(a + c AS DOUBLE) AS qb
      |        FROM withn CROSS JOIN psi)),
      |scored AS (
      |  SELECT seg, psi,
      |         (CAST(a AS DOUBLE) - ea) * (CAST(a AS DOUBLE) - ea)
      |           / (1e0 / (1e0 / ea + 1e0 / (r1 - ea) + 1e0 / (c1 - ea)
      |              + 1e0 / (nd - r1 - c1 + ea))) AS term
      |  FROM terms),
      |folded AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k, MIN(psi) AS or_mh,
      |         list_reduce(list(term ORDER BY seg), (x, y) -> x + y) AS x2
      |  FROM scored)
      |SELECT k, k - 1 AS df, or_mh, x2 AS x2_breslow_day FROM folded""".stripMargin),
    doc = "stats: Breslow-Day homogeneity of per-segment odds ratios around the CMH pooled psi — quadratic-root fitted cells, harmonic-mean variance, ordered stratum fold. " +
      "q217's shape exactly: broadcast dim join, one conditional aggregate to the 5-stratum frame; quadratic-root fitted cells and the X2 fold are constant-size double work on 5 rows.")

  val all: Seq[Q] = Seq(q281)
}
