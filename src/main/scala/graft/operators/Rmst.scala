package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Restricted mean survival time (Irwin 1949; Royston & Parmar 2013)
  * — the area under q153's Kaplan-Meier curve up to τ = 365 days:
  * "how many of the next 365 days does the average customer survive
  * before reordering". The modern reporting standard when
  * proportional hazards is dubious (q222's log-rank compares curves,
  * q246's Nelson-Aalen integrates hazard; RMST is the number with
  * DAYS as its unit, the one a clinician or planner can act on).
  *
  * Determinism: the event ledger (dur, at_risk, events) is exact
  * integers (q153's construction); the KM product and its running
  * integral form a genuine two-state serial recurrence
  * (area += s·Δt; s ·= 1 − d/n), which — like q232's Holt states —
  * cannot ride a one-field fold: Spark runs an ordered `aggregate`
  * left-fold over the duration-sorted ledger with a three-field
  * struct; the DuckDB oracle unrolls the SAME recurrence as a
  * RECURSIVE CTE over row-numbered event times (list_reduce's
  * in-place accumulator aliasing makes multi-field folds wrong —
  * the verified q232 finding). Per-step arithmetic is the identical
  * IEEE text in both engines.
  *
  * Scale shape: the cohort collapses to the calendar-bounded event
  * ledger (≤ |distinct durations| ≤ follow-up days); the fold runs on
  * that bounded frame; 1 row out. At 100 TB the ledger is STILL at
  * most a few thousand rows — the corpus only changes the exact
  * integers in it.
  */
object Rmst {

  val TauDays = 365

  val q277 = Q(
    "q277_rmst",
    (s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
        .select($"o_custkey".as("c"), to_date($"o_orderdate").as("d"))
      val first = o.groupBy($"c").agg(min($"d").as("t1"))
      val nxt = first.join(o, Seq("c"))
        .filter($"d" > $"t1")
        .groupBy($"c", $"t1").agg(min($"d").as("t2"))
      val studyEnd = o.agg(max($"d").as("endd"))
      val outcomes = first.join(nxt.select($"c", $"t2"), Seq("c"), "left_outer")
        .crossJoin(broadcast(studyEnd))
        .select(
          datediff(coalesce($"t2", $"endd"), $"t1").cast("long").as("dur"),
          when($"t2".isNotNull, 1L).otherwise(0L).as("ev"))
      val grouped = outcomes.groupBy($"dur")
        .agg(sum($"ev").as("events"), count(lit(1)).as("total"))
      val byDur = Window.orderBy($"dur")
      val ledger = grouped
        .withColumn("at_risk", sum($"total")
          .over(byDur.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
        .filter($"events" > 0 && $"dur" <= TauDays && $"dur" > 0)
      ledger
        .agg(count(lit(1)).as("n_event_times"),
          max($"at_risk").as("n_cohort"),
          sort_array(collect_list(struct(
            $"dur", $"at_risk".as("n"), $"events".as("d")))).as("ser"))
        .withColumn("f", expr(
          "aggregate(ser,"
            + " named_struct('tp', 0D, 's', 1D, 'area', 0D),"
            + " (acc, x) -> named_struct("
            + "'tp', cast(x.dur as double),"
            + " 's', acc.s * (1D - cast(x.d as double) / cast(x.n as double)),"
            + " 'area', acc.area + acc.s * (cast(x.dur as double) - acc.tp)))"))
        .select(lit(TauDays).as("tau_days"), $"n_cohort", $"n_event_times",
          $"f.s".as("s_tau"),
          expr(s"f.area + f.s * (cast($TauDays as double) - f.tp)").as("rmst_days"))
    },
    Some(s"""WITH RECURSIVE o AS (
      |  SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS d FROM orders),
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
      |ledger AS MATERIALIZED (
      |  SELECT dur,
      |         CAST(SUM(total) OVER (ORDER BY dur
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n,
      |         events AS d
      |  FROM grouped),
      |steps AS MATERIALIZED (
      |  SELECT dur, n, d, ROW_NUMBER() OVER (ORDER BY dur) AS rn
      |  FROM ledger
      |  WHERE d > 0 AND dur <= $TauDays AND dur > 0),
      |meta AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_event_times, MAX(n) AS n_cohort
      |  FROM steps),
      |rec AS (
      |  SELECT CAST(0 AS BIGINT) AS rn, CAST(0 AS DOUBLE) AS tp,
      |         CAST(1 AS DOUBLE) AS s, CAST(0 AS DOUBLE) AS area
      |  UNION ALL
      |  SELECT st.rn, CAST(st.dur AS DOUBLE),
      |         r.s * (1e0 - CAST(st.d AS DOUBLE) / CAST(st.n AS DOUBLE)),
      |         r.area + r.s * (CAST(st.dur AS DOUBLE) - r.tp)
      |  FROM rec r JOIN steps st ON st.rn = r.rn + 1),
      |last AS (
      |  SELECT rec.tp, rec.s, rec.area
      |  FROM rec JOIN meta ON rec.rn = meta.n_event_times)
      |SELECT $TauDays AS tau_days, meta.n_cohort, meta.n_event_times,
      |       last.s AS s_tau,
      |       last.area + last.s * (CAST($TauDays AS DOUBLE) - last.tp) AS rmst_days
      |FROM last, meta""".stripMargin),
    doc = "survival: restricted mean survival time to 365 days (area under the KM reorder curve) — exact integer event ledger, two-state serial fold (Spark aggregate / DuckDB recursive CTE). " +
      "Cohort collapses to the calendar-bounded event ledger; the KM-product/area two-state recurrence folds over that bounded frame (Spark ordered aggregate / DuckDB recursive CTE — list_reduce multi-field aliasing ruled out by the q232 finding); 1 row out.")

  val all: Seq[Q] = Seq(q277)
}
