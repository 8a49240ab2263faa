package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classifier-evaluation primitives — the two numbers every scoring
  * rule (a quality filter, a churn model, a fraud score) is asked for
  * before it gates data (cf. the reference's risk-score reporting over
  * patient cohorts, healthcare-sql-analytics.sql:365-430):
  *
  *   q264 — ROC AUC of an ordinal score against a binary outcome, the
  *          threshold-free ranking quality. AUC is EXACTLY the
  *          Mann-Whitney U statistic normalized by n1·n0 (Hanley &
  *          McNeil 1982), so the q200 tie-corrected rank machinery
  *          gives the exact tied-data AUC with no trapezoid sweep.
  *   q265 — Brier score with the Murphy (1973) decomposition
  *          reliability − resolution + uncertainty: not just HOW wrong
  *          the forecast probabilities are but WHY (miscalibration vs
  *          missing discrimination vs irreducible base-rate noise).
  *          Forecasts are fit on 1995 shipments and scored on 1996 —
  *          a real out-of-time calibration audit, not resubstitution.
  *
  * Determinism: scores live on the 11-level discount ladder
  * (`round(l_discount*100)`, the q221 convention), so every sufficient
  * statistic is an exact integer per level: positive/negative counts,
  * 2×average-ranks (ties carry doubled ranks — q200), and the
  * train/eval count pairs whose RATIOS are the forecast probabilities.
  * Cross-level sums of double terms fold in EXPLICIT level order
  * (collect_list + sorted aggregate ↔ DuckDB list_reduce over an
  * ORDER BY level list — the q202 stance), immune to shuffle order.
  *
  * Scale shape: each query is one map-side-combinable aggregate of the
  * fact scan down to an 11-row value-domain frame; rank windows and
  * folds run on that frame, never the corpus. The 1-row eval total
  * broadcasts back to the level frame (q265). No corpus-sized join,
  * window, or sort anywhere.
  */
object MlEval {

  /** q264 — exact tie-corrected ROC AUC of discount level predicting
    * line-item return, via the rank-sum identity
    * AUC = (R1 − n1(n1+1)/2) / (n1·n0) with average ranks on ties.
    */
  val q264 = Q(
    "q264_roc_auc",
    (s, dir) => {
      import s.implicits._
      val v = Tables.load(s, dir, "lineitem")
        .groupBy(round($"l_discount" * 100).cast("int").as("d"))
        .agg(count_if($"l_returnflag" === "R").as("c1"),
          count_if($"l_returnflag" =!= "R").as("c0"))
        .withColumn("t", $"c1" + $"c0")
      val w = Window.orderBy($"d")
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = v.withColumn("cumt", coalesce(sum($"t").over(w), lit(0L)))
        .withColumn("rank2", lit(2L) * $"cumt" + $"t" + 1L)
      ranked
        .agg(sum($"c1").as("n_pos"), sum($"c0").as("n_neg"),
          sum($"c1".cast("decimal(38,0)") * $"rank2").as("r1_2"))
        .withColumn("auc", expr(
          "cast(r1_2 - cast(n_pos as decimal(38,0)) * (n_pos + 1L) as double)" +
            " / (2D * cast(n_pos as double) * cast(n_neg as double))"))
        .select($"n_pos", $"n_neg", $"auc",
          expr("2D * auc - 1D").as("gini"))
    },
    Some("""WITH v AS (
      |  SELECT CAST(round(l_discount * 100) AS INT) AS d,
      |         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS BIGINT) AS c0
      |  FROM lineitem GROUP BY 1),
      |ranked AS (
      |  SELECT c1, c0,
      |         2 * COALESCE(SUM(c1 + c0) OVER (ORDER BY d
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           + (c1 + c0) + 1 AS rank2
      |  FROM v),
      |agg AS (
      |  SELECT CAST(SUM(c1) AS BIGINT) AS n_pos, CAST(SUM(c0) AS BIGINT) AS n_neg,
      |         SUM(CAST(c1 AS HUGEINT) * rank2) AS r1_2
      |  FROM ranked),
      |scored AS (
      |  SELECT n_pos, n_neg,
      |         CAST(r1_2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE)
      |           / (2e0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
      |  FROM agg)
      |SELECT n_pos, n_neg, auc, 2e0 * auc - 1e0 AS gini FROM scored""".stripMargin),
    doc = "ml-eval: exact tie-corrected ROC AUC (rank-sum identity) + Gini of discount level predicting returns — 11-row value-domain frame, one corpus aggregate. " +
      "Exact tie-corrected AUC via the rank-sum identity: ONE map-side-combinable aggregate to the 11-level discount frame, rank window + epilogue on 11 rows — the corpus never sorts, ranks never shuffle.")

  /** q265 — out-of-time Brier score with the Murphy decomposition:
    * per-level return probabilities fit on 1995 shipments, scored on
    * 1996; REL − RES + UNC recomposes the Brier identity exactly.
    */
  val q265 = Q(
    "q265_brier_decomposition",
    (s, dir) => {
      import s.implicits._
      // no Barrier: the level aggregate appears on both sides of the
      // tot broadcast with an IDENTICAL exchange subtree, so
      // ReuseExchange dedups the corpus scan for free — a persist here
      // costs a cache-build job the A/B gate priced at ~1.27× of this
      // sub-second query (the r8 shape, restored)
      val lvl0 = (Tables.load(s, dir, "lineitem")
        .select(round($"l_discount" * 100).cast("int").as("d"),
          year($"l_shipdate").as("yr"),
          when($"l_returnflag" === "R", 1L).otherwise(0L).as("pos"))
        .filter($"yr" === 1995 || $"yr" === 1996)
        .groupBy($"d")
        .agg(count_if($"yr" === 1995).as("b"),
          sum(when($"yr" === 1995, $"pos").otherwise(0L)).as("a"),
          count_if($"yr" === 1996).as("nk"),
          sum(when($"yr" === 1996, $"pos").otherwise(0L)).as("ok")))
      val li = lvl0.filter($"b" > 0 && $"nk" > 0)
      // Coverage ledger (ADVICE r8): the b > 0 gate silently shrank
      // the eval set — a 1996 discount level with no 1995 training
      // rows was dropped and the reported Brier covered only the
      // co-observed levels. The restriction is now IN the output:
      // k_dropped / n_eval_dropped report how many eval levels/rows
      // the score does NOT cover, so "brier over n_eval rows" is an
      // auditable claim instead of a silent one. The coverage totals
      // ride the SAME 1-row aggregate/broadcast as n_eval/o_eval —
      // the first cut gave them their own aggregate + crossJoin and
      // the A/B gate priced that extra tiny job at 1.27× the query.
      val kept = $"b" > 0 && $"nk" > 0
      val tot = lvl0.agg(
        sum(when(kept, $"nk")).as("n_eval"),
        sum(when(kept, $"ok")).as("o_eval"),
        count_if($"b" === 0 && $"nk" > 0).as("k_dropped"),
        coalesce(sum(when($"b" === 0, $"nk")), lit(0L)).as("n_eval_dropped"))
      val terms = li.crossJoin(broadcast(tot))
        .withColumn("rel_t", expr(
          "cast(nk as double) * (cast(a as double) / cast(b as double)" +
            " - cast(ok as double) / cast(nk as double))" +
            " * (cast(a as double) / cast(b as double)" +
            " - cast(ok as double) / cast(nk as double))"))
        .withColumn("res_t", expr(
          "cast(nk as double) * (cast(ok as double) / cast(nk as double)" +
            " - cast(o_eval as double) / cast(n_eval as double))" +
            " * (cast(ok as double) / cast(nk as double)" +
            " - cast(o_eval as double) / cast(n_eval as double))"))
      terms
        .agg(count(lit(1)).as("k"),
          first($"n_eval").as("n_eval"), first($"o_eval").as("o_eval"),
          first($"k_dropped").as("k_dropped"),
          first($"n_eval_dropped").as("n_eval_dropped"),
          collect_list(struct($"d", $"rel_t", $"res_t")).as("ts"))
        .withColumn("rel_sum", expr(
          "aggregate(sort_array(ts), cast(0 as double), (acc, x) -> acc + x.rel_t)"))
        .withColumn("res_sum", expr(
          "aggregate(sort_array(ts), cast(0 as double), (acc, x) -> acc + x.res_t)"))
        .withColumn("obar", expr("cast(o_eval as double) / cast(n_eval as double)"))
        .select($"k", $"n_eval", $"k_dropped", $"n_eval_dropped",
          expr("rel_sum / cast(n_eval as double)").as("reliability"),
          expr("res_sum / cast(n_eval as double)").as("resolution"),
          expr("obar * (1D - obar)").as("uncertainty"),
          expr("rel_sum / cast(n_eval as double) - res_sum / cast(n_eval as double)"
            + " + obar * (1D - obar)").as("brier"))
    },
    Some("""WITH lvl0 AS (
      |  SELECT CAST(round(l_discount * 100) AS INT) AS d,
      |         CAST(SUM(CASE WHEN year(CAST(l_shipdate AS DATE)) = 1995 THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |         CAST(SUM(CASE WHEN year(CAST(l_shipdate AS DATE)) = 1995 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |         CAST(SUM(CASE WHEN year(CAST(l_shipdate AS DATE)) = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS nk,
      |         CAST(SUM(CASE WHEN year(CAST(l_shipdate AS DATE)) = 1996 AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ok
      |  FROM lineitem
      |  WHERE year(CAST(l_shipdate AS DATE)) IN (1995, 1996)
      |  GROUP BY 1),
      |lvl AS (SELECT * FROM lvl0 WHERE b > 0 AND nk > 0),
      |dropped AS (
      |  SELECT CAST(COUNT(CASE WHEN b = 0 AND nk > 0 THEN 1 END) AS BIGINT) AS k_dropped,
      |         CAST(COALESCE(SUM(CASE WHEN b = 0 THEN nk END), 0) AS BIGINT) AS n_eval_dropped
      |  FROM lvl0),
      |tot AS (
      |  SELECT CAST(SUM(nk) AS BIGINT) AS n_eval, CAST(SUM(ok) AS BIGINT) AS o_eval FROM lvl),
      |terms AS (
      |  SELECT d, nk, n_eval, o_eval,
      |         CAST(nk AS DOUBLE) * (CAST(a AS DOUBLE) / CAST(b AS DOUBLE)
      |             - CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE))
      |           * (CAST(a AS DOUBLE) / CAST(b AS DOUBLE)
      |             - CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE)) AS rel_t,
      |         CAST(nk AS DOUBLE) * (CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE)
      |             - CAST(o_eval AS DOUBLE) / CAST(n_eval AS DOUBLE))
      |           * (CAST(ok AS DOUBLE) / CAST(nk AS DOUBLE)
      |             - CAST(o_eval AS DOUBLE) / CAST(n_eval AS DOUBLE)) AS res_t
      |  FROM lvl CROSS JOIN tot),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k, MIN(n_eval) AS n_eval, MIN(o_eval) AS o_eval,
      |         list_reduce(list(rel_t ORDER BY d), (a, b) -> a + b) AS rel_sum,
      |         list_reduce(list(res_t ORDER BY d), (a, b) -> a + b) AS res_sum
      |  FROM terms),
      |fin AS (
      |  SELECT k, n_eval, rel_sum, res_sum,
      |         CAST(o_eval AS DOUBLE) / CAST(n_eval AS DOUBLE) AS obar
      |  FROM agg)
      |SELECT k, n_eval, k_dropped, n_eval_dropped,
      |       rel_sum / CAST(n_eval AS DOUBLE) AS reliability,
      |       res_sum / CAST(n_eval AS DOUBLE) AS resolution,
      |       obar * (1e0 - obar) AS uncertainty,
      |       rel_sum / CAST(n_eval AS DOUBLE) - res_sum / CAST(n_eval AS DOUBLE)
      |         + obar * (1e0 - obar) AS brier
      |FROM fin CROSS JOIN dropped""".stripMargin),
    doc = "ml-eval: out-of-time Brier score with Murphy reliability/resolution/uncertainty decomposition — 1995-fit level probabilities scored on 1996, ordered 11-term fold; k_dropped/n_eval_dropped audit the eval rows excluded for lacking 1995 training data. " +
      "Train/eval level counts fall out of ONE conditional aggregate pass; the 1-row eval total broadcasts back to the 11-row level frame; Murphy terms fold in explicit level order (collect_list + sorted aggregate) — shuffle-order-immune, no corpus-side join.")

  val all: Seq[Q] = Seq(q264, q265)
}
