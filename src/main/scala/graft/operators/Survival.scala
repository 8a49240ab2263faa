package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Kaplan–Meier survival estimation (Kaplan & Meier 1958) — the
  * censoring-aware time-to-event curve that a plain gap histogram gets
  * WRONG: subjects whose follow-up ends before the event must leave
  * the at-risk denominator at their censoring time, not be dropped or
  * counted as survivors forever. This is the core estimator of the
  * reference's clinical domain (time to readmission; the reference's
  * SQL corpus stops at fixed-window readmission flags, q01's shape).
  *
  * Cohort here: time from a patient's FIRST encounter to their next
  * (readmission), right-censored at study end (the global max order
  * date) for patients never readmitted.
  *
  * Exactness: the KM product Π(1 − dᵢ/nᵢ) is order-sensitive float
  * arithmetic, so the curve is carried in LOG2 FIXED POINT — each
  * factor contributes lq(nᵢ−dᵢ) − lq(nᵢ) with lq the engine-shared
  * quantized log2 ([[graft.text.TextQueries.lqSql]]), an exact-long
  * sum both engines reproduce bit-for-bit (the q116/q149 discipline).
  * Once survival hits zero (nᵢ = dᵢ at the last event time) the log is
  * undefined; from that time on `km_log2q` is NULL by construction (a
  * poisoned-prefix count, not a SUM that would silently skip the
  * sentinel).
  *
  * Scale design (100 TB): subject durations reduce to per-duration
  * (events, total) counts in ONE map-side-combinable aggregate — the
  * curve frame is CALENDAR-bounded (≤ max follow-up in days, ~2k rows
  * here), independent of cohort size, so the at-risk reverse-cumsum
  * and the KM prefix-sum windows run on a frame whose size the corpus
  * cannot grow. The study-end date rides a 1-row broadcast. The only
  * corpus-sized operations are the first/next-encounter aggregations,
  * both single-shuffle groupBys on the subject key.
  */
object Survival {

  import graft.text.TextQueries.{lqSql, lqDuck}

  /** KM curve rows (dur_days, at_risk, events, km_log2q) from a frame
    * of (dur, ev) subject outcomes — the testable core. Rows are
    * emitted at event times only (censoring times change the at-risk
    * ledger, not the curve).
    */
  private[operators] def kmCurve(outcomes: DataFrame): DataFrame = {
    val s = outcomes.sparkSession
    import s.implicits._
    val grouped = outcomes.groupBy($"dur")
      .agg(sum($"ev").as("events"), count(lit(1)).as("total"))
    // calendar-bounded frames from here on (see object scaladoc)
    val byDur = Window.orderBy($"dur")
    val atRisk = grouped.withColumn("at_risk",
      sum($"total").over(byDur.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    val ev = atRisk.filter($"events" > 0)
      .withColumn("term",
        when($"at_risk" === $"events", lit(0L))
          .otherwise(expr(s"${lqSql("(at_risk - events)")} - ${lqSql("at_risk")}")))
      .withColumn("dead",
        sum(when($"at_risk" === $"events", 1L).otherwise(0L))
          .over(byDur.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("km_log2q",
        when($"dead" > 0, lit(null).cast("long"))
          .otherwise(sum($"term")
            .over(byDur.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    ev.select($"dur".as("dur_days"), $"at_risk", $"events", $"km_log2q")
      .orderBy($"dur_days")
  }

  /** q153 — KM time-to-readmission: first encounter → next encounter,
    * censored at study end.
    */
  val q153 = Q(
    "q153_km_survival",
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
      kmCurve(outcomes)
    },
    Some(s"""WITH o AS (SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS d FROM orders),
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
      |risk AS (
      |  SELECT dur, events, total,
      |         CAST(SUM(total) OVER (ORDER BY dur
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS at_risk
      |  FROM grouped),
      |ev AS (
      |  SELECT dur, at_risk, events,
      |         CASE WHEN at_risk = events THEN 0
      |              ELSE ${lqDuck("(at_risk - events)")} - ${lqDuck("at_risk")} END AS term,
      |         SUM(CASE WHEN at_risk = events THEN 1 ELSE 0 END)
      |           OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
      |  FROM risk WHERE events > 0)
      |SELECT dur AS dur_days, at_risk, events,
      |       CASE WHEN dead > 0 THEN NULL
      |            ELSE CAST(SUM(term) OVER (ORDER BY dur
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) END AS km_log2q
      |FROM ev ORDER BY dur_days""".stripMargin),
    doc = "survival: Kaplan-Meier time-to-readmission curve, censoring-aware, log2 fixed-point exact. " +
      "Corpus collapses to per-duration (events, total) in one map-side-combinable aggregate; the at-risk reverse-cumsum and KM prefix windows run on a CALENDAR-bounded frame (<= max follow-up days) the corpus cannot grow; study end rides a 1-row broadcast.")

  /** q246 — Nelson–Aalen cumulative hazard (Nelson 1972; Aalen 1978)
    * of the SAME time-to-readmission cohort as q153, reported at the
    * five standard horizons (30/60/90/180/365 days): KM gives the
    * survival curve; Nelson–Aalen gives the integrated RISK, the
    * quantity reliability/ops work actually compares ("how much
    * readmission hazard accumulates in the first 90 days"), with its
    * standard (Klein 1991) variance Σd/n².
    *
    * Exactness: the event ledger (dur, at_risk, events) is [[kmCurve]]'s
    * exact integer frame; H(t) = Σ_{dᵢ≤t} dᵢ/nᵢ and its variance are
    * sums of IEEE terms of exact integers, so each horizon's sum runs
    * as an ordered LEFT-FOLD by duration (the q222/q235 discipline) —
    * identical association in both engines, no windowed double sums.
    *
    * Scale shape: the cohort collapses to the calendar-bounded event
    * ledger (q153's shape); the five horizon folds run on that
    * bounded frame; 5 rows out.
    */
  val q246 = Q(
    "q246_nelson_aalen",
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
      val ev = kmCurve(outcomes).select($"dur_days", $"at_risk", $"events")
      val grid = Seq(30L, 60L, 90L, 180L, 365L).toDF("horizon_days")
      broadcast(grid).join(ev, $"dur_days" <= $"horizon_days")
        .groupBy($"horizon_days")
        .agg(count(lit(1)).as("n_event_times"),
          expr("aggregate(sort_array(collect_list(named_struct(" +
            "'d', dur_days, 't', cast(events as double) / cast(at_risk as double)))), " +
            "0D, (acc, s) -> acc + s.t)").as("cum_hazard"),
          expr("aggregate(sort_array(collect_list(named_struct(" +
            "'d', dur_days, 't', cast(events as double) " +
            "/ (cast(at_risk as double) * cast(at_risk as double))))), " +
            "0D, (acc, s) -> acc + s.t)").as("var_hazard"))
        .orderBy($"horizon_days")
    },
    Some(s"""WITH o AS (SELECT o_custkey AS c, CAST(o_orderdate AS DATE) AS d FROM orders),
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
      |risk AS (
      |  SELECT dur, events, total,
      |         CAST(SUM(total) OVER (ORDER BY dur
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS at_risk
      |  FROM grouped),
      |ev AS (SELECT dur, at_risk, events FROM risk WHERE events > 0),
      |grid AS (SELECT CAST(UNNEST([30, 60, 90, 180, 365]) AS BIGINT) AS horizon_days)
      |SELECT horizon_days, COUNT(*) AS n_event_times,
      |       list_reduce(list(CAST(events AS DOUBLE) / CAST(at_risk AS DOUBLE)
      |                        ORDER BY dur), (a, b) -> a + b) AS cum_hazard,
      |       list_reduce(list(CAST(events AS DOUBLE)
      |                          / (CAST(at_risk AS DOUBLE) * CAST(at_risk AS DOUBLE))
      |                        ORDER BY dur), (a, b) -> a + b) AS var_hazard
      |FROM grid JOIN ev ON ev.dur <= grid.horizon_days
      |GROUP BY 1 ORDER BY 1""".stripMargin),
    doc = "survival: Nelson-Aalen cumulative hazard + Klein variance of time-to-readmission at 30/60/90/180/365-day horizons — exact event ledger, ordered-fold hazard sums. " +
      "NA: q153's calendar-bounded event ledger; five horizon folds (ordered by duration) on that bounded frame; corpus-sized work is only the first/next-encounter groupBys; 5 rows out.")

  val all: Seq[Q] = Seq(q153, q246)
}
