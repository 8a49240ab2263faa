package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Kaplan-Meier survival with Greenwood confidence bands (Greenwood
  * 1926) at the five standard horizons — q153 draws the KM curve and
  * q277 integrates it; this puts the UNCERTAINTY on it: S(t) with
  * Var[S(t)] = S(t)²·Σ_{tᵢ≤t} dᵢ/(nᵢ(nᵢ−dᵢ)) and the plain ±1.96
  * normal band. The difference between "retention at 90 days is 61%"
  * and "61% ± 2%" is whether anyone can act on it.
  *
  * Determinism: the event ledger is q153's exact integer frame; at
  * each horizon BOTH accumulations are SINGLE-STATE ordered folds —
  * the KM product Π(1 − d/n) and the Greenwood sum Σ d/(n(n−d)) —
  * so the DuckDB side can use list_reduce safely (one-field state;
  * the q232 multi-field aliasing bug cannot bite) with its
  * first-element init matched by seeding Spark's fold with the first
  * term. Every per-step expression is the identical IEEE text; one
  * sqrt in the band epilogue. A horizon where some nᵢ = dᵢ (curve
  * hits zero) yields S = 0 exactly in both engines.
  *
  * Scale shape: cohort → calendar-bounded event ledger (q153's
  * shape); the 5-horizon grid joins against that bounded frame; all
  * folds are ≤ |event times| terms; 5 rows out.
  */
object Greenwood {

  val q282 = Q(
    "q282_greenwood_ci",
    (s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
        .select($"o_custkey".as("c"), to_date($"o_orderdate").as("d"))
      val first0 = o.groupBy($"c").agg(min($"d").as("t1"))
      val nxt = first0.join(o, Seq("c"))
        .filter($"d" > $"t1")
        .groupBy($"c", $"t1").agg(min($"d").as("t2"))
      val studyEnd = o.agg(max($"d").as("endd"))
      val outcomes = first0.join(nxt.select($"c", $"t2"), Seq("c"), "left_outer")
        .crossJoin(broadcast(studyEnd))
        .select(
          datediff(coalesce($"t2", $"endd"), $"t1").cast("long").as("dur"),
          when($"t2".isNotNull, 1L).otherwise(0L).as("ev"))
      val grouped = outcomes.groupBy($"dur")
        .agg(sum($"ev").as("events"), count(lit(1)).as("total"))
      val ledger = grouped
        .withColumn("at_risk", sum($"total").over(Window.orderBy($"dur")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
        .filter($"events" > 0 && $"dur" > 0)
        .select($"dur", $"at_risk".as("n"), $"events".as("d"))
      val grid = Seq(30L, 60L, 90L, 180L, 365L).toDF("horizon_days")
      // LEFT join + guarded folds (ADVICE r8): a horizon with no event
      // times must report S = 1 with zero variance instead of
      // vanishing through an inner join, and a horizon where the
      // curve hits zero (some nᵢ = dᵢ) must report variance 0, not
      // NaN — the raw Greenwood term dᵢ/(nᵢ(nᵢ−dᵢ)) is +Inf there, so
      // the (n−d) factor is NULLIF'd (NULL poisons the fold) and the
      // epilogue COALESCEs: S is exactly 0 at such a horizon (the
      // product carries an exact 0.0 factor), so var = se = 0 and the
      // band collapses onto the curve. Identical guards on both
      // engines' folds keep the hash gate byte-exact.
      broadcast(grid).join(ledger, $"dur" <= $"horizon_days", "left_outer")
        .groupBy($"horizon_days")
        .agg(count($"dur").as("n_event_times"),
          sort_array(collect_list(
            when($"dur".isNotNull, struct($"dur", $"n", $"d")))).as("ser"))
        .withColumn("s_t", expr(
          "CASE WHEN size(ser) = 0 THEN 1D ELSE"
            + " aggregate(slice(ser, 2, size(ser) - 1),"
            + " 1D - cast(ser[0].d as double) / cast(ser[0].n as double),"
            + " (acc, x) -> acc * (1D - cast(x.d as double) / cast(x.n as double)))"
            + " END"))
        .withColumn("gsum", expr(
          "CASE WHEN size(ser) = 0 THEN 0D ELSE"
            + " aggregate(slice(ser, 2, size(ser) - 1),"
            + " cast(ser[0].d as double) / (cast(ser[0].n as double)"
            + " * nullif(cast(ser[0].n as double) - cast(ser[0].d as double), 0D)),"
            + " (acc, x) -> acc + cast(x.d as double) / (cast(x.n as double)"
            + " * nullif(cast(x.n as double) - cast(x.d as double), 0D)))"
            + " END"))
        .withColumn("se", expr("coalesce(s_t * sqrt(gsum), 0D)"))
        .select($"horizon_days", $"n_event_times", $"s_t",
          expr("coalesce(s_t * s_t * gsum, 0D)").as("greenwood_var"),
          expr("s_t - 1.96D * se").as("ci_lo"),
          expr("s_t + 1.96D * se").as("ci_hi"))
        .orderBy($"horizon_days")
    },
    Some("""WITH o AS (SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS d FROM orders),
      |f AS (SELECT c, MIN(d) AS t1 FROM o GROUP BY 1),
      |nx AS (
      |  SELECT f.c, f.t1, MIN(o.d) AS t2
      |  FROM f JOIN o ON o.c = f.c AND o.d > f.t1
      |  GROUP BY 1, 2),
      |se AS (SELECT MAX(d) AS endd FROM o),
      |outcomes AS (
      |  SELECT CAST(date_diff('day', f.t1, COALESCE(nx.t2, se.endd)) AS BIGINT) AS dur,
      |         CASE WHEN nx.t2 IS NOT NULL THEN 1 ELSE 0 END AS ev
      |  FROM f LEFT JOIN nx ON nx.c = f.c, se),
      |grouped AS (
      |  SELECT dur, CAST(SUM(ev) AS BIGINT) AS events, COUNT(*) AS total
      |  FROM outcomes GROUP BY 1),
      |ledger AS (
      |  SELECT dur,
      |         CAST(SUM(total) OVER (ORDER BY dur
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n,
      |         events AS d
      |  FROM grouped),
      |steps AS (SELECT dur, n, d FROM ledger WHERE d > 0 AND dur > 0),
      |grid AS (SELECT * FROM (VALUES (30), (60), (90), (180), (365)) AS t(horizon_days)),
      |folded AS (
      |  SELECT horizon_days, CAST(COUNT(dur) AS BIGINT) AS n_event_times,
      |         CASE WHEN COUNT(dur) = 0 THEN 1e0 ELSE
      |           list_reduce(list(1e0 - CAST(d AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY dur)
      |               FILTER (dur IS NOT NULL),
      |             (acc, x) -> acc * x) END AS s_t,
      |         CASE WHEN COUNT(dur) = 0 THEN 0e0 ELSE
      |           list_reduce(list(CAST(d AS DOUBLE) / (CAST(n AS DOUBLE)
      |               * NULLIF(CAST(n AS DOUBLE) - CAST(d AS DOUBLE), 0e0)) ORDER BY dur)
      |               FILTER (dur IS NOT NULL),
      |             (acc, x) -> acc + x) END AS gsum
      |  FROM grid LEFT JOIN steps ON dur <= horizon_days
      |  GROUP BY 1)
      |SELECT horizon_days, n_event_times, s_t,
      |       COALESCE(s_t * s_t * gsum, 0e0) AS greenwood_var,
      |       s_t - 1.96e0 * COALESCE(s_t * sqrt(gsum), 0e0) AS ci_lo,
      |       s_t + 1.96e0 * COALESCE(s_t * sqrt(gsum), 0e0) AS ci_hi
      |FROM folded ORDER BY horizon_days""".stripMargin),
    doc = "survival: KM retention with Greenwood variance and plain 95% bands at 30/60/90/180/365 days — single-state ordered folds (product + sum) over the exact event ledger. " +
      "Cohort collapses to the calendar-bounded event ledger; the 5-horizon broadcast grid joins that bounded frame; KM product and Greenwood sum are SINGLE-STATE ordered folds (list_reduce-safe); 5 rows out.")

  val all: Seq[Q] = Seq(q282)
}
