package graft.security

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Security-surveillance analytics (SURVEY §2 F12 / reference query #9):
  * the access-audit classifier over an audit feed
  * (healthcare-sql-analytics.sql:713-756) — flag each access event as
  * After Hours / High Volume / No Relationship / Normal, in the
  * reference's CASE precedence.
  *
  * Role mapping onto the testdata: `events` is the audit feed (user_id
  * = accessing user, props.k = accessed patient, ts = access time);
  * the user_patient_relationship table is derived as the distinct
  * (user, patient) pairs with a `signup` event — the reference's
  * treatment-relationship whitelist.
  *
  * Two constants are ADAPTED from the reference, not copied:
  *  - High Volume fires at n_day > 5, not the reference's > 50
  *    (healthcare-sql-analytics.sql:748) — rescaled to the testdata's
  *    per-user event density so the bucket is non-empty at test SFs.
  *  - After Hours uses `hour(ts) < 8 OR hour(ts) >= 20`, which flags
  *    20:00:00 exactly as after-hours; the reference's
  *    `NOT BETWEEN '08:00:00' AND '20:00:00'` treats 20:00:00 as
  *    in-hours — a deliberate one-second boundary divergence (hour
  *    granularity beats a string-time comparison in a columnar scan,
  *    and the oracle matches this engine's semantics).
  *
  * Scale design: the reference computes High Volume with a correlated
  * per-row COUNT(DISTINCT) subquery (healthcare-sql-analytics.sql:
  * 743-748) — O(n) subquery executions on a row store. Here it is one
  * (user, day) aggregate joined back on the same key — two narrow
  * shuffles total; the relationship whitelist is a distinct projection
  * that broadcasts when small and shuffles on (user, patient) when not.
  */
object SecurityQueries {

  val q82 = Q(
    "q82_access_audit",
    (s, dir) => {
      import s.implicits._
      val e = Tables.load(s, dir, "events")
        .withColumn("patient",
          regexp_extract($"props", "\"k\":\\s*(\\d+)", 1).cast("long"))
        .withColumn("day", to_date($"ts"))
      val rel = e.filter($"event_type" === "signup")
        .select($"user_id", $"patient").distinct()
        .withColumn("has_rel", lit(1))
      val vol = e.groupBy($"user_id", $"day")
        .agg(countDistinct($"patient").as("n_day"))
      e.join(vol, Seq("user_id", "day"))
        .join(rel, Seq("user_id", "patient"), "left_outer")
        .withColumn("access_flag",
          when(hour($"ts") < 8 || hour($"ts") >= 20, "After Hours")
            .when($"n_day" > 5, "High Volume")
            .when($"has_rel".isNull, "No Relationship")
            .otherwise("Normal"))
        .groupBy($"access_flag")
        .agg(count(lit(1)).as("n_events"),
             countDistinct($"user_id").as("n_users"))
        .orderBy($"access_flag")
    },
    Some("""WITH e AS (
      |  SELECT user_id, ts, event_type, CAST(ts AS DATE) AS day,
      |         CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS patient
      |  FROM events),
      |rel AS (
      |  SELECT DISTINCT user_id, patient FROM e WHERE event_type = 'signup'),
      |vol AS (
      |  SELECT user_id, day, COUNT(DISTINCT patient) AS n_day
      |  FROM e GROUP BY user_id, day),
      |f AS (
      |  SELECT e.user_id,
      |         CASE WHEN hour(e.ts) < 8 OR hour(e.ts) >= 20 THEN 'After Hours'
      |              WHEN v.n_day > 5 THEN 'High Volume'
      |              WHEN r.user_id IS NULL THEN 'No Relationship'
      |              ELSE 'Normal' END AS access_flag
      |  FROM e
      |  JOIN vol v ON e.user_id = v.user_id AND e.day = v.day
      |  LEFT JOIN rel r ON e.user_id = r.user_id AND e.patient = r.patient)
      |SELECT access_flag, COUNT(*) AS n_events,
      |       COUNT(DISTINCT user_id) AS n_users
      |FROM f GROUP BY access_flag ORDER BY access_flag""".stripMargin),
    doc = "F12: access-audit surveillance (after-hours / high-volume / no-relationship). " +
      "Audit join broadcasts while the policy side is small and falls back to a (user, patient) shuffle when not; flag logic is per-row codegen.")

  /** q132 — k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    * et al. 2007): the release-safety check that belongs next to the
    * reference's PII masking (healthcare-data-pipeline-main.py:44-80) —
    * masking direct identifiers is not enough when QUASI-identifiers
    * (here: nation × market segment × order year) isolate individuals.
    * Every equivalence class over the quasi-identifier tuple is sized;
    * classes below k = 5 re-identify their members by linkage, and
    * classes whose sensitive attribute (order priority) shows < 2
    * distinct values leak it outright even at size ≥ k. Reported per
    * (segment, year): class counts, unsafe classes, rows at risk, and
    * the minimum l-diversity — the table a privacy review signs off on.
    *
    * Scale design: one customer⋈orders equi-join (dimension side
    * broadcasts at test SFs, shuffles cleanly past that), then two
    * map-side-combinable aggregates — class cardinality is bounded by
    * |nations|×|segments|×|years|, so the second aggregate is
    * thousands of rows regardless of corpus size. All counts exact
    * integers; no floats anywhere.
    */
  val q132 = Q(
    "q132_k_anonymity",
    (s, dir) => {
      import s.implicits._
      val cls = Tables.maybeBroadcast(Tables.load(s, dir, "customer"))
        .join(Tables.load(s, dir, "orders"),
          $"c_custkey" === $"o_custkey")
        .groupBy($"c_nationkey", $"c_mktsegment",
          year($"o_orderdate").as("yr"))
        .agg(count(lit(1)).as("n"),
          countDistinct($"o_orderpriority").as("l"))
      cls.groupBy($"c_mktsegment", $"yr")
        .agg(count(lit(1)).as("n_classes"),
          count_if($"n" < 5).as("n_unsafe_classes"),
          sum(when($"n" < 5, $"n").otherwise(0L)).as("rows_at_risk"),
          min($"l").as("min_l_diversity"))
        .orderBy($"c_mktsegment", $"yr")
    },
    Some("""WITH cls AS (
      |  SELECT c_nationkey, c_mktsegment,
      |         EXTRACT(year FROM o_orderdate) AS yr,
      |         COUNT(*) AS n, COUNT(DISTINCT o_orderpriority) AS l
      |  FROM customer JOIN orders ON c_custkey = o_custkey
      |  GROUP BY 1, 2, 3)
      |SELECT c_mktsegment, CAST(yr AS INT) AS yr,
      |       COUNT(*) AS n_classes,
      |       CAST(COUNT(CASE WHEN n < 5 THEN 1 END) AS BIGINT) AS n_unsafe_classes,
      |       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
      |       CAST(MIN(l) AS BIGINT) AS min_l_diversity
      |FROM cls GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    doc = "privacy: k-anonymity class sizes + l-diversity floor over quasi-identifiers (nation, segment, order year). " +
      "Quasi-identifier class sizes from one groupBy; k-anonymity stats are pure integers over the |classes|-sized frame.")

  /** q189 — t-closeness audit (Li, Li & Venkatasubramanian 2007), the
    * third rung of the release-safety ladder after q132's k-anonymity
    * and l-diversity: a class can be large (k-safe) and show every
    * sensitive value (l-safe) yet still LEAK by skew — 95% '1-URGENT'
    * in one (nation, segment) class against a uniform global base
    * rate tells an attacker the sensitive value with high confidence.
    * t-closeness bounds the Earth Mover's Distance between each
    * class's sensitive distribution and the global one.
    *
    * Exactness: the sensitive attribute is ORDINAL (priority 1..5,
    * unit ground distance), where EMD has the closed form
    * Σᵢ |cumᵢ/n − gcumᵢ/N| / (m−1). All cumulative counts are exact
    * longs, the numerator is computed as the integer
    * Σᵢ |cumᵢ·N − gcumᵢ·n| (every term bounded by n·N ≈ 2.3·10¹⁰ at
    * sf0.1 — far inside long range), and t is ONE
    * IEEE division of exact integers < 2⁵³ — bit-identical across
    * engines, the avgMoney stance, no rounding negotiation.
    *
    * Scale shape: one equi-join (dimension side broadcasts), one
    * map-side-combinable aggregate to |classes| rows (cumulative
    * counts as conditional counts — no window), global totals derived
    * from the class frame via a second tiny aggregate broadcast back,
    * final report |segments| rows.
    */
  val q189 = Q(
    "q189_t_closeness",
    (s, dir) => {
      import s.implicits._
      val ord = expr("cast(substring(o_orderpriority, 1, 1) as int)")
      val rows = Tables.maybeBroadcast(Tables.load(s, dir, "customer"))
        .join(Tables.load(s, dir, "orders"), $"c_custkey" === $"o_custkey")
        .select($"c_nationkey", $"c_mktsegment", ord.as("ord"))
      val cumAggs = (1 to 4).map(i => count_if($"ord" <= i).as(s"cum$i"))
      val cls = rows.groupBy($"c_nationkey", $"c_mktsegment")
        .agg(count(lit(1)).as("n"), cumAggs: _*)
      val globAggs = Seq(sum($"n").as("nn")) ++
        (1 to 4).map(i => sum(col(s"cum$i")).as(s"g$i"))
      val glob = cls.agg(globAggs.head, globAggs.tail: _*)
      val emd = (1 to 4).map(i =>
        abs(col(s"cum$i") * $"nn" - col(s"g$i") * $"n")).reduce(_ + _)
      val scored = cls.crossJoin(broadcast(glob))
        .withColumn("t", emd.cast("double") / (($"n" * $"nn" * 4).cast("double")))
      scored.groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_classes"),
          max($"t").as("t_max"),
          count_if($"t" > 0.2).as("n_divergent_classes"),
          sum(when($"t" > 0.2, $"n").otherwise(0L)).as("rows_at_risk"))
        .orderBy($"c_mktsegment")
    },
    Some("""WITH r AS (
      |  SELECT c_nationkey, c_mktsegment,
      |         CAST(substr(o_orderpriority, 1, 1) AS INT) AS ord
      |  FROM customer JOIN orders ON c_custkey = o_custkey),
      |cls AS (
      |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
      |         COUNT(CASE WHEN ord <= 1 THEN 1 END) AS cum1,
      |         COUNT(CASE WHEN ord <= 2 THEN 1 END) AS cum2,
      |         COUNT(CASE WHEN ord <= 3 THEN 1 END) AS cum3,
      |         COUNT(CASE WHEN ord <= 4 THEN 1 END) AS cum4
      |  FROM r GROUP BY 1, 2),
      |gtot AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS nn,
      |         CAST(SUM(cum1) AS BIGINT) AS g1, CAST(SUM(cum2) AS BIGINT) AS g2,
      |         CAST(SUM(cum3) AS BIGINT) AS g3, CAST(SUM(cum4) AS BIGINT) AS g4
      |  FROM cls),
      |scored AS (
      |  SELECT c_mktsegment, n,
      |         CAST(ABS(cum1 * nn - g1 * n) + ABS(cum2 * nn - g2 * n)
      |            + ABS(cum3 * nn - g3 * n) + ABS(cum4 * nn - g4 * n) AS DOUBLE)
      |           / CAST(n * nn * 4 AS DOUBLE) AS t
      |  FROM cls, gtot)
      |SELECT c_mktsegment, COUNT(*) AS n_classes, MAX(t) AS t_max,
      |       CAST(COUNT(CASE WHEN t > 0.2 THEN 1 END) AS BIGINT) AS n_divergent_classes,
      |       CAST(SUM(CASE WHEN t > 0.2 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk
      |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin),
    doc = "privacy: t-closeness — integer-exact ordinal EMD between each quasi-identifier class's sensitive distribution and the global one. " +
      "t-closeness: one broadcast equi-join, one map-side-combinable class aggregate (cumulative counts as conditional counts — no window), global totals re-broadcast from the class frame; integer EMD numerators, ONE IEEE division per class.")

  val all: Seq[Q] = Seq(q82, q132, q189)
}
