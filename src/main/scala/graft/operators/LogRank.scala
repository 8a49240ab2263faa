package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-group log-rank test (Mantel 1966) — the standard significance
  * companion to q153's Kaplan-Meier curve: do BUILDING and MACHINERY
  * customers have the SAME time-to-readmission distribution, or is
  * the separation between their KM curves real? At every pooled event
  * time the observed group-1 events are compared with the
  * hypergeometric expectation given the at-risk margins; O−E
  * accumulates the evidence, V its variance, z = (O−E)/√V. This is
  * censoring-aware in exactly the way a naive gap-mean comparison
  * (q200 on durations) is not.
  *
  * Exactness: per-duration event/at-risk ledgers are exact longs
  * (reverse-cumsum windows over the CALENDAR-bounded duration frame,
  * the q153 shape); O is an exact integer; E and V are per-time
  * rationals summed as ordered LEFT-FOLDS over that bounded frame
  * (`aggregate(sort_array)` ↔ `list_reduce(list ORDER BY)` — a
  * windowed SUM of doubles is NOT association-stable: DuckDB
  * evaluates it with a segment tree, and the last-ulp drift fails
  * the hash gate at ~1600 event times);
  * the z is one mirrored IEEE epilogue. Times with pooled at-risk ≤ 1
  * contribute zero variance by the formula's (n−1) factor and are
  * excluded identically in both engines.
  *
  * Scale shape: cohort extraction is the q153 pair of subject-keyed
  * aggregates; everything after lives on the ≤ max-follow-up-days
  * frame the corpus cannot grow.
  */
object LogRank {

  val GroupA = "BUILDING"
  val GroupB = "MACHINERY"

  val q222 = Q(
    "q222_logrank_test",
    (s, dir) => {
      import s.implicits._
      val seg = Tables.maybeBroadcast(Tables.load(s, dir, "customer")
        .filter($"c_mktsegment".isin(GroupA, GroupB))
        .select($"c_custkey".as("c"), $"c_mktsegment".as("g")))
      val o = Tables.load(s, dir, "orders")
        .select($"o_custkey".as("c"), to_date($"o_orderdate").as("d"))
        .join(seg, "c")
      val first = o.groupBy($"c", $"g").agg(min($"d").as("t1"))
      val nxt = first.join(o.select($"c", $"d"), Seq("c"))
        .filter($"d" > $"t1")
        .groupBy($"c").agg(min($"d").as("t2"))
      val studyEnd = o.agg(max($"d").as("endd"))
      val outcomes = first.join(nxt, Seq("c"), "left_outer")
        .crossJoin(broadcast(studyEnd))
        .select($"g",
          datediff(coalesce($"t2", $"endd"), $"t1").cast("long").as("dur"),
          when($"t2".isNotNull, 1L).otherwise(0L).as("ev"))
      val grouped = outcomes.groupBy($"dur")
        .agg(sum(when($"g" === GroupA, $"ev").otherwise(0L)).as("d1"),
          sum($"ev").as("d"),
          count_if($"g" === GroupA).as("t1c"),
          count(lit(1)).as("t"))
      val byDur = Window.orderBy($"dur")
      val risk = grouped
        .withColumn("n1", sum($"t1c").over(
          byDur.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
        .withColumn("n", sum($"t").over(
          byDur.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
        .filter($"d" > 0 && $"n" > 1)
      val terms = risk
        .withColumn("e1", $"n1".cast("double") * $"d".cast("double")
          / $"n".cast("double"))
        .withColumn("v", $"n1".cast("double")
          * ($"n" - $"n1").cast("double") * $"d".cast("double")
          * ($"n" - $"d").cast("double")
          / ($"n".cast("double") * $"n".cast("double")
            * ($"n" - 1L).cast("double")))
      val agg = terms.agg(count(lit(1)).as("n_times"),
          sum($"d1").as("o1"),
          collect_list(struct($"dur", $"e1".as("t"))).as("es"),
          collect_list(struct($"dur", $"v".as("t"))).as("vs"))
        .withColumn("e1", expr("aggregate(sort_array(es)," +
          " cast(0 as double), (acc, x) -> acc + x.t)"))
        .withColumn("v", expr("aggregate(sort_array(vs)," +
          " cast(0 as double), (acc, x) -> acc + x.t)"))
      agg.select($"n_times", $"o1", $"e1", $"v",
        (($"o1".cast("double") - $"e1") / sqrt($"v")).as("z_score"))
    },
    Some(s"""WITH seg AS (
      |  SELECT c_custkey AS c, c_mktsegment AS g FROM customer
      |  WHERE c_mktsegment IN ('$GroupA', '$GroupB')),
      |o AS (
      |  SELECT s.c, s.g, CAST(o_orderdate AS DATE) AS d
      |  FROM orders JOIN seg s ON o_custkey = s.c),
      |f AS (SELECT c, g, MIN(d) AS t1 FROM o GROUP BY 1, 2),
      |nx AS (
      |  SELECT f.c, MIN(o.d) AS t2
      |  FROM f JOIN o ON o.c = f.c AND o.d > f.t1 GROUP BY 1),
      |se AS (SELECT MAX(d) AS endd FROM o),
      |outcomes AS (
      |  SELECT f.g,
      |         CAST(date_diff('day', f.t1, COALESCE(nx.t2, se.endd))
      |              AS BIGINT) AS dur,
      |         CASE WHEN nx.t2 IS NOT NULL THEN 1 ELSE 0 END AS ev
      |  FROM f LEFT JOIN nx ON nx.c = f.c, se),
      |grouped AS (
      |  SELECT dur,
      |         CAST(SUM(CASE WHEN g = '$GroupA' THEN ev ELSE 0 END) AS BIGINT) AS d1,
      |         CAST(SUM(ev) AS BIGINT) AS d,
      |         CAST(COUNT(CASE WHEN g = '$GroupA' THEN 1 END) AS BIGINT) AS t1c,
      |         COUNT(*) AS t
      |  FROM outcomes GROUP BY 1),
      |risk AS (
      |  SELECT dur, d1, d,
      |         CAST(SUM(t1c) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW
      |           AND UNBOUNDED FOLLOWING) AS BIGINT) AS n1,
      |         CAST(SUM(t) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW
      |           AND UNBOUNDED FOLLOWING) AS BIGINT) AS n
      |  FROM grouped),
      |terms AS (
      |  SELECT dur, d1,
      |         CAST(n1 AS DOUBLE) * CAST(d AS DOUBLE) / CAST(n AS DOUBLE) AS e1,
      |         CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) * CAST(d AS DOUBLE)
      |           * CAST(n - d AS DOUBLE)
      |           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |              * CAST(n - 1 AS DOUBLE)) AS v
      |  FROM risk WHERE d > 0 AND n > 1),
      |agg AS (
      |  SELECT COUNT(*) AS n_times, CAST(SUM(d1) AS BIGINT) AS o1,
      |         list_reduce(list(e1 ORDER BY dur), (x, y) -> x + y) AS e1,
      |         list_reduce(list(v ORDER BY dur), (x, y) -> x + y) AS v
      |  FROM terms)
      |SELECT n_times, o1, e1, v,
      |       (CAST(o1 AS DOUBLE) - e1) / sqrt(v) AS z_score
      |FROM agg""".stripMargin),
    doc = s"survival: two-group log-rank test ($GroupA vs $GroupB time-to-readmission) — hypergeometric O-E/V on the calendar-bounded event-time frame. " +
      "Log-rank: q153's two subject-keyed aggregates, then everything on the calendar-bounded duration frame; E/V rational terms sum via ordered LEFT-FOLD (DuckDB windowed SUM is segment-tree associated — the drift this round's hash gate caught at ~1600 event times).")

  val all: Seq[Q] = Seq(q222)
}
