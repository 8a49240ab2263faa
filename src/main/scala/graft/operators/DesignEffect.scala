package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Stratification design effect (Kish 1965) for estimating mean order
  * value: deff = Var(stratified estimator) / Var(SRS estimator) under
  * proportional allocation = Σ_h W_h·σ_h² / σ² — the one number that
  * says how much a segment-stratified sample (q103's operator) beats
  * simple random sampling for THIS population. deff < 1 quantifies
  * the win; the within/between variance decomposition is reported so
  * the reader sees why (stratification removes exactly the
  * between-segment component).
  *
  * Exactness: all variance pieces derive from the exact decimal
  * moment sums (n_h, S_h, Q_h) — Var formulas expand to
  * Σ n_h·Q_h-style integer products; the within-variance cross-group
  * sum runs as an ordered LEFT-FOLD over the 5-row stratum frame
  * (the q202/q222 stance); the final ratios are mirrored IEEE.
  *
  * Scale shape: one broadcast dim join + one map-side-combinable
  * per-stratum moment aggregate; everything downstream acts on 5
  * rows.
  */
object DesignEffect {

  val q228 = Q(
    "q228_design_effect",
    (s, dir) => {
      import s.implicits._
      val grp = Tables.maybeBroadcast(Tables.load(s, dir, "customer"))
        .join(Tables.load(s, dir, "orders"), $"c_custkey" === $"o_custkey")
        .select($"c_mktsegment",
          (graft.Q.money($"o_totalprice") * 100).cast("long").as("y"))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("ng"),
          sum($"y".cast("decimal(38,0)")).as("sg"),
          sum(($"y" * $"y").cast("decimal(38,0)")).as("qg"))
      // population variance within stratum h: (ng*Qg - Sg^2) / ng^2
      val agg = grp.withColumn("wvar",
          ($"ng".cast("double") * $"qg".cast("double")
            - $"sg".cast("double") * $"sg".cast("double"))
            / ($"ng".cast("double") * $"ng".cast("double")))
        .agg(count(lit(1)).as("k"), sum($"ng").as("n"),
          sum($"sg").as("s"), sum($"qg").as("q"),
          collect_list(struct($"c_mktsegment".as("g"),
            ($"ng".cast("double") * $"wvar").as("t"))).as("ws"))
        .withColumn("sum_nw", expr("aggregate(sort_array(ws)," +
          " cast(0 as double), (acc, x) -> acc + x.t)"))
      agg.select($"k", $"n",
          // population variance overall: (N*Q - S^2) / N^2
          (($"n".cast("double") * $"q".cast("double")
            - $"s".cast("double") * $"s".cast("double"))
            / ($"n".cast("double") * $"n".cast("double"))).as("var_total"),
          ($"sum_nw" / $"n".cast("double")).as("var_within"))
        .select($"k", $"n", $"var_total", $"var_within",
          ($"var_total" - $"var_within").as("var_between"),
          ($"var_within" / $"var_total").as("deff"))
    },
    Some("""WITH grp AS (
      |  SELECT c_mktsegment, COUNT(*) AS ng,
      |         SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |                       AS BIGINT) AS HUGEINT)) AS sg,
      |         SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |                       AS BIGINT) AS HUGEINT)
      |             * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |                    AS BIGINT)) AS qg
      |  FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY 1),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ng) AS BIGINT) AS n,
      |         SUM(sg) AS s, SUM(qg) AS q,
      |         list_reduce(list(
      |             CAST(ng AS DOUBLE)
      |               * ((CAST(ng AS DOUBLE) * CAST(qg AS DOUBLE)
      |                   - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
      |                  / (CAST(ng AS DOUBLE) * CAST(ng AS DOUBLE)))
      |             ORDER BY c_mktsegment),
      |           (x, y) -> x + y) AS sum_nw
      |  FROM grp),
      |parts AS (
      |  SELECT k, n,
      |         (CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
      |            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
      |           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var_total,
      |         sum_nw / CAST(n AS DOUBLE) AS var_within
      |  FROM agg)
      |SELECT k, n, var_total, var_within,
      |       var_total - var_within AS var_between,
      |       var_within / var_total AS deff
      |FROM parts""".stripMargin),
    doc = "stats: Kish design effect of segment stratification for mean order value — within/between variance split from exact moments, ordered left-fold. " +
      "Design effect: one broadcast dim join + per-stratum moment aggregate; within-variance cross-group sum via ordered left-fold on the 5-row frame; mirrored IEEE ratios.")

  val all: Seq[Q] = Seq(q228)
}
