package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operators (SURVEY.md §2.2-§2.3): filters, predicates,
  * projections, and the full join surface of the reference, re-expressed
  * over the role-mapped testdata (FIXTURES.md §3: customer≈dim_patient,
  * orders≈fact_encounters, lineitem≈fact_lab_results).
  *
  * Scale notes are inline per query: every join states its expected
  * physical strategy at 100 TB (broadcast vs shuffle), and the flagship
  * readmission detector is deliberately window-based (ONE shuffle by
  * patient key) instead of the naive self-join the reference uses.
  */
object CoreQueries {

  private def orders(s: SparkSession, dir: String) = Tables.load(s, dir, "orders")
  private def lineitem(s: SparkSession, dir: String) = Tables.load(s, dir, "lineitem")
  private def customer(s: SparkSession, dir: String) = Tables.load(s, dir, "customer")

  /** q01 — FLAGSHIP. 30-day readmission rate per diagnosis group
    * (reference: README.md:100-122 self range-join J2 + two-level agg A9
    * + HAVING floor A6 + ORDER BY W3; also
    * healthcare-data-pipeline-main.py:269-300).
    *
    * Scale design: the reference (and its SQL corpus at
    * healthcare-sql-analytics.sql:164-171) uses an EXISTS self-join —
    * at 100 TB that is a fact×fact shuffle join whose range residual
    * explodes on frequent patients. Here: `readmitted(e1) ⟺ ∃ e2 with
    * the same patient, e2.date ∈ [e1.date, e1.date+30d], e2≠e1` is
    * equivalent to checking only the NEXT encounter by date (plus
    * same-day siblings), so a single window over (patient, date) —
    * one shuffle, no join, no row explosion, skew-safe under AQE.
    */
  val q01 = Q(
    "q01_readmission_rate",
    (s, dir) => {
      import s.implicits._
      val o = orders(s, dir)
      val byPatient = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
      val sameDay = Window.partitionBy($"o_custkey", $"o_orderdate")
      val flagged = o
        .withColumn("next_dt", lead($"o_orderdate", 1).over(byPatient))
        .withColumn("same_day_n", count(lit(1)).over(sameDay))
        .withColumn("readmit",
          ($"same_day_n" > 1) ||
          ($"next_dt".isNotNull &&
           $"next_dt" <= $"o_orderdate" + expr("INTERVAL 30 DAYS")))
      flagged.groupBy($"o_orderpriority")
        .agg(
          count(lit(1)).as("encounters"),
          sum(when($"readmit", 1L).otherwise(0L)).as("readmissions"),
          (sum(when($"readmit", 1L).otherwise(0L)) * 100.0 / count(lit(1)))
            .as("readmission_rate"))
        .filter($"encounters" >= 30)
        .orderBy(desc("readmission_rate"), $"o_orderpriority")
    },
    Some("""WITH flagged AS (
      |  SELECT o1.o_orderpriority,
      |         EXISTS (SELECT 1 FROM orders o2
      |                 WHERE o2.o_custkey = o1.o_custkey
      |                   AND o2.o_orderkey <> o1.o_orderkey
      |                   AND o2.o_orderdate BETWEEN o1.o_orderdate
      |                       AND o1.o_orderdate + INTERVAL 30 DAY) AS readmit
      |  FROM orders o1)
      |SELECT o_orderpriority,
      |       COUNT(*) AS encounters,
      |       CAST(SUM(CASE WHEN readmit THEN 1 ELSE 0 END) AS BIGINT) AS readmissions,
      |       SUM(CASE WHEN readmit THEN 1 ELSE 0 END) * 100.0 / COUNT(*) AS readmission_rate
      |FROM flagged
      |GROUP BY o_orderpriority
      |HAVING COUNT(*) >= 30
      |ORDER BY readmission_rate DESC, o_orderpriority""".stripMargin),
    doc = "J2+A5+A6+A9+A15+W3: window-based readmission (1 shuffle, no self-join). " +
      "One shuffle (patient key) + window; no self-join pair explosion. HAVING floor applied post-agg.")

  /** q02 — star join with broadcast dims (J1;
    * healthcare-sql-analytics.sql:185-189 fact⋈dim⋈dim⋈dim).
    * lineitem⋈orders is the one genuine big-big shuffle (co-partitioned
    * on orderkey); customer/nation/region are broadcast — zero extra
    * shuffles at any scale. Filter on o_orderdate is pushed to the
    * orders parquet scan before the join.
    */
  val q02 = Q(
    "q02_star_join_revenue",
    (s, dir) => {
      import s.implicits._
      val li = lineitem(s, dir)
      val o = orders(s, dir)
        .filter($"o_orderdate" >= lit("1996-01-01") &&
                $"o_orderdate" <  lit("1998-01-01"))
      val c = customer(s, dir)
      val n = Tables.load(s, dir, "nation")
      val r = Tables.load(s, dir, "region")
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(Tables.maybeBroadcast(c), $"o_custkey" === $"c_custkey")
        .join(Tables.maybeBroadcast(n), $"c_nationkey" === $"n_nationkey")
        .join(Tables.maybeBroadcast(r), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        // revenue in the decimal domain end-to-end: casting the DOUBLE
        // product to decimal would round half-cents via the JVM's
        // shortest-string repr while DuckDB rounds the exact binary —
        // multiplying exact decimals instead is engine-agnostic.
        .agg(
          sum(Q.money($"l_extendedprice") *
              (lit(1).cast("decimal(18,2)") - Q.money($"l_discount")))
            .cast("double").as("revenue"),
          countDistinct($"o_orderkey").as("n_orders"))
        .orderBy($"r_name", $"n_name")
    },
    Some(s"""SELECT r_name, n_name,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
      |            AS DOUBLE) AS revenue,
      |       COUNT(DISTINCT o_orderkey) AS n_orders
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01'
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin),
    doc = "J1: star join, broadcast dims, pushed-down date filter. " +
      "All three dims BroadcastHashJoin; the only Exchange is lineitem⋈orders. Date filter in PushedFilters; lineitem scan pruned to 3 columns.")

  /** q03 — equality + range + boolean-composite filters (P2/P3/P8;
    * healthcare-api-main.py:248-259,310-314). Predicates land in
    * parquet PushedFilters; projection prunes to 4 columns.
    */
  val q03 = Q(
    "q03_eq_range_filter",
    (s, dir) => {
      import s.implicits._
      orders(s, dir)
        .filter($"o_orderstatus" === "O" &&
                $"o_totalprice".between(1000.0, 50000.0) &&
                $"o_orderdate" >= lit("1997-01-01") &&
                $"o_orderdate" < lit("1997-07-01"))
        .select($"o_orderkey", $"o_custkey", $"o_totalprice",
                date_format($"o_orderdate", "yyyy-MM-dd").as("order_date"))
        .orderBy($"o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_totalprice,
      |       strftime(o_orderdate, '%Y-%m-%d') AS order_date
      |FROM orders
      |WHERE o_orderstatus = 'O'
      |  AND o_totalprice BETWEEN 1000.0 AND 50000.0
      |  AND o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate <  TIMESTAMP '1997-07-01'
      |ORDER BY o_orderkey""".stripMargin),
    doc = "P2+P3+P8: pushed-down eq/range/AND predicates. " +
      "All four predicates (eq, between, two date bounds) land in parquet PushedFilters; scan pruned to the 4 referenced columns; the count is a map-side-combinable aggregate — one narrow shuffle.")

  /** q04 — IN-list filter (P4; healthcare-api-main.py:262-265, abnormal
    * flags IN ('H','HH','L','LL') healthcare-sql-analytics.sql:223).
    */
  val q04 = Q(
    "q04_inlist_filter",
    (s, dir) => {
      import s.implicits._
      lineitem(s, dir)
        .filter($"l_returnflag".isin("R", "A") && $"l_linenumber".isin(1, 2, 3))
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), Q.avgMoney($"l_quantity").as("avg_qty"))
        .orderBy($"l_returnflag")
    },
    Some(s"""SELECT l_returnflag, COUNT(*) AS n,
      |       ${Q.oAvg("l_quantity")} AS avg_qty
      |FROM lineitem
      |WHERE l_returnflag IN ('R','A') AND l_linenumber IN (1,2,3)
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin),
    doc = "P4: IN-list predicates. " +
      "IN-lists push to the scan as In() filters; low-cardinality flag groupBy is map-side combined — linear scan, one tiny shuffle.")

  /** q05 — LIKE prefix/contains predicates (P5; ICD-10 prefix matching
    * healthcare-sql-analytics.sql:220,245,374-384).
    */
  val q05 = Q(
    "q05_like_prefix",
    (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "part")
        .filter($"p_type".like("S%") || $"p_name".like("%widget%"))
        .groupBy($"p_type")
        .agg(count(lit(1)).as("n"),
             Q.avgMoney($"p_retailprice").as("avg_price"))
        .orderBy($"p_type")
    },
    Some(s"""SELECT p_type, COUNT(*) AS n, ${Q.oAvg("p_retailprice")} AS avg_price
      |FROM part
      |WHERE p_type LIKE 'S%' OR p_name LIKE '%widget%'
      |GROUP BY p_type
      |ORDER BY p_type""".stripMargin),
    doc = "P5: LIKE prefix + contains. " +
      "Prefix LIKE pushes as StringStartsWith; the %infix% pattern evaluates inside the scan stage's codegen filter; per-type aggregate map-side combined.")

  /** q06 — NULL predicates + NULLIF/COALESCE (P6/F7;
    * healthcare-sql-analytics.sql:452,764-768 null-counting QC;
    * healthcare-data-pipeline-main.py:440-448). The testdata has no
    * physical nulls, so nulls are derived with nullif (the reference's
    * NULLIF guard, README.md:117) and counted back.
    */
  val q06 = Q(
    "q06_null_audit",
    (s, dir) => {
      import s.implicits._
      lineitem(s, dir)
        .withColumn("disc_or_null", nullif($"l_discount", lit(0.0)))
        .groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when($"disc_or_null".isNull, 1L).otherwise(0L)).as("n_null"),
          count($"disc_or_null").as("n_not_null"),
          Q.avgMoney(coalesce($"disc_or_null", lit(0.0)) * lit(100)).as("avg_disc_pct"))
        .orderBy($"l_returnflag")
    },
    Some(s"""SELECT l_returnflag, COUNT(*) AS n_rows,
      |       CAST(SUM(CASE WHEN NULLIF(l_discount, 0.0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |       COUNT(NULLIF(l_discount, 0.0)) AS n_not_null,
      |       ${Q.oAvg("COALESCE(NULLIF(l_discount, 0.0), 0.0) * 100")} AS avg_disc_pct
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin),
    doc = "P6+F7: IS NULL counting, nullif/coalesce. " +
      "nullif + every conditional NULL counter fuse into ONE map-side-combinable aggregate pass — no per-check scans.")

  /** q07 — searched CASE WHEN bucketing (P7; age-group/risk-tier CASE
    * ladders healthcare-sql-analytics.sql:151-155,544-554).
    */
  val q07 = Q(
    "q07_case_buckets",
    (s, dir) => {
      import s.implicits._
      orders(s, dir)
        .withColumn("charge_tier",
          when($"o_totalprice" < 50000, "LOW")
            .when($"o_totalprice" < 200000, "MID")
            .when($"o_totalprice" < 400000, "HIGH")
            .otherwise("EXTREME"))
        .groupBy($"charge_tier")
        .agg(count(lit(1)).as("n"),
             Q.avgMoney($"o_totalprice").as("avg_charges"))
        .orderBy($"charge_tier")
    },
    Some(s"""SELECT CASE WHEN o_totalprice < 50000 THEN 'LOW'
      |            WHEN o_totalprice < 200000 THEN 'MID'
      |            WHEN o_totalprice < 400000 THEN 'HIGH'
      |            ELSE 'EXTREME' END AS charge_tier,
      |       COUNT(*) AS n, ${Q.oAvg("o_totalprice")} AS avg_charges
      |FROM orders
      |GROUP BY 1
      |ORDER BY charge_tier""".stripMargin),
    doc = "P7: searched CASE bucketing. " +
      "CASE ladder is a codegen'd projection feeding a map-side-combined bucket aggregate — one pass, shuffle carries |buckets| rows per partition.")

  /** q08 — dict/map recode with Unknown default (P9; gender recode
    * healthcare-data-pipeline-main.py:221-223 `map + fillna('Unknown')`).
    * Map-literal lookup + coalesce, exactly the reference's idiom.
    */
  val q08 = Q(
    "q08_recode_default",
    (s, dir) => {
      import s.implicits._
      val recode = typedLit(Map(
        "BUILDING" -> "Building", "AUTOMOBILE" -> "Automotive",
        "MACHINERY" -> "Industrial"))
      customer(s, dir)
        .withColumn("segment_label",
          coalesce(element_at(recode, $"c_mktsegment"), lit("Unknown")))
        .groupBy($"segment_label")
        .agg(count(lit(1)).as("n"))
        .orderBy($"segment_label")
    },
    Some("""SELECT CASE c_mktsegment WHEN 'BUILDING' THEN 'Building'
      |            WHEN 'AUTOMOBILE' THEN 'Automotive'
      |            WHEN 'MACHINERY' THEN 'Industrial'
      |            ELSE 'Unknown' END AS segment_label,
      |       COUNT(*) AS n
      |FROM customer
      |GROUP BY 1
      |ORDER BY segment_label""".stripMargin),
    doc = "P9: map recode + Unknown default. " +
      "Map-literal recode is a typedLit lookup inside whole-stage codegen (no join, no broadcast); coalesce supplies the default; one aggregate pass.")

  /** q09 — PII masking projection (P10/F9/F10;
    * healthcare-data-pipeline-main.py:182-197: MRN→SHA-256, others →
    * literal mask preserving NULLs; hash_pii :52-54). sha2 is the
    * bit-exact builtin; masking preserves NULL via when(isNotNull).
    */
  val q09 = Q(
    "q09_mask_pii",
    (s, dir) => {
      import s.implicits._
      customer(s, dir)
        .filter($"c_custkey" < 100)
        .select(
          $"c_custkey",
          sha2($"c_name", 256).as("mrn_hash"),
          when($"c_mktsegment".isNotNull, lit("***MASKED***")).as("segment_masked"),
          length(sha2($"c_name", 256)).as("hash_len"))
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, sha256(c_name) AS mrn_hash,
      |       CASE WHEN c_mktsegment IS NOT NULL THEN '***MASKED***' END AS segment_masked,
      |       CAST(LENGTH(sha256(c_name)) AS INT) AS hash_len
      |FROM customer
      |WHERE c_custkey < 100
      |ORDER BY c_custkey""".stripMargin),
    doc = "P10+F10: SHA-256 PII hash, NULL-preserving mask. " +
      "sha2 + conditional masking are per-row codegen expressions; the key filter is in PushedFilters; no shuffle before the tiny output sort.")

  /** q10 — left outer join with pre-join ON-clause filter (J3;
    * healthcare-data-pipeline-main.py:283-285: encounters LEFT JOIN
    * abnormal labs — filter must apply BEFORE the join to preserve
    * left rows). Right side pre-aggregated per key → join is 1:1,
    * no row explosion at scale.
    */
  val q10 = Q(
    "q10_left_join_abnormal",
    (s, dir) => {
      import s.implicits._
      val abnormal = lineitem(s, dir)
        .filter($"l_returnflag" === "R")
        .groupBy($"l_orderkey")
        .agg(count(lit(1)).as("abn_cnt"))
      orders(s, dir)
        .join(abnormal, $"o_orderkey" === $"l_orderkey", "left_outer")
        .withColumn("abn", coalesce($"abn_cnt", lit(0L)))
        .groupBy($"o_orderstatus")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(when($"abn" > 0, 1L).otherwise(0L)).as("with_abnormal"),
          sum(when($"abn" === 0, 1L).otherwise(0L)).as("without_abnormal"))
        .orderBy($"o_orderstatus")
    },
    Some("""WITH abnormal AS (
      |  SELECT l_orderkey, COUNT(*) AS abn_cnt FROM lineitem
      |  WHERE l_returnflag = 'R' GROUP BY l_orderkey)
      |SELECT o_orderstatus, COUNT(*) AS n_orders,
      |       CAST(SUM(CASE WHEN COALESCE(abn_cnt,0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS with_abnormal,
      |       CAST(SUM(CASE WHEN COALESCE(abn_cnt,0) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS without_abnormal
      |FROM orders LEFT JOIN abnormal ON o_orderkey = l_orderkey
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin),
    doc = "J3: left join, ON-clause filter applied pre-join. " +
      "Abnormal side pre-aggregated to ONE row per orderkey before the left join — no row explosion; AQE broadcasts the shrunken build side when small.")

  /** q11 — semi-join / EXISTS (J4; patients with ≥1 diabetes encounter
    * healthcare-sql-analytics.sql:618-624). left_semi: no right columns,
    * no duplication, map-side short-circuit.
    */
  val q11 = Q(
    "q11_semi_join_exists",
    (s, dir) => {
      import s.implicits._
      val urgent = orders(s, dir).filter($"o_orderpriority" === "1-URGENT")
      customer(s, dir)
        .join(urgent, $"c_custkey" === $"o_custkey", "left_semi")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_patients"))
        .orderBy($"c_mktsegment")
    },
    Some("""SELECT c_mktsegment, COUNT(*) AS n_patients
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin),
    doc = "J4: left_semi join ≡ EXISTS. " +
      "EXISTS compiles to LEFT SEMI: short-circuits on first match, never duplicates probe rows; the urgent filter is applied (and pushed) before the join.")

  /** q12 — anti-join / NOT EXISTS (J5; audit access with no
    * relationship healthcare-sql-analytics.sql:749-754).
    */
  val q12 = Q(
    "q12_anti_join_orphans",
    (s, dir) => {
      import s.implicits._
      customer(s, dir)
        .join(orders(s, dir), $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_no_encounters"),
             min($"c_custkey").as("first_custkey"))
        .orderBy($"c_mktsegment")
    },
    Some("""SELECT c_mktsegment, COUNT(*) AS n_no_encounters,
      |       MIN(c_custkey) AS first_custkey
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin),
    doc = "J5: left_anti join ≡ NOT EXISTS. " +
      "NOT EXISTS compiles to LEFT ANTI; the orders side is projected to the join key alone before shuffling — narrowest possible build input.")

  /** q13 — decorrelated scalar-subquery joins (J6; per-row correlated
    * aggregates healthcare-sql-analytics.sql:173-184,400-416 — the
    * reference runs a correlated subquery PER ROW; here each becomes
    * one pre-aggregation + one join: linear, shuffle-bounded).
    */
  val q13 = Q(
    "q13_scalar_subquery_counts",
    (s, dir) => {
      import s.implicits._
      val perCust = orders(s, dir)
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_encounters"),
             Q.sumMoney($"o_totalprice").as("total_charges"))
      customer(s, dir)
        .join(perCust, $"c_custkey" === $"o_custkey", "left_outer")
        .select(
          $"c_custkey",
          coalesce($"n_encounters", lit(0L)).as("n_encounters"),
          coalesce($"total_charges", lit(0.0)).as("total_charges"))
        .orderBy($"c_custkey")
    },
    Some(s"""WITH per_cust AS (
      |  SELECT o_custkey, COUNT(*) AS n_encounters,
      |         ${Q.oSum("o_totalprice")} AS total_charges
      |  FROM orders GROUP BY o_custkey)
      |SELECT c_custkey,
      |       COALESCE(n_encounters, 0) AS n_encounters,
      |       COALESCE(total_charges, 0.0) AS total_charges
      |FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
      |ORDER BY c_custkey""".stripMargin),
    doc = "J6: correlated scalar subqueries decorrelated to pre-agg + join. " +
      "Correlated scalar subquery decorrelated by construction: one per-key pre-aggregate + one equi-join — linear, shuffle-bounded, no per-row re-execution.")

  /** q14 — latest-per-key (W2/J6; most recent A1C
    * healthcare-sql-analytics.sql:592-598 `ORDER BY date DESC LIMIT 1`
    * per patient → row_number over a per-key window, one shuffle).
    */
  val q14 = Q(
    "q14_latest_per_key",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
      orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"o_custkey", $"o_orderkey".as("latest_orderkey"),
          date_format($"o_orderdate", "yyyy-MM-dd").as("latest_date"),
          $"o_totalprice".as("latest_charges"))
        .orderBy($"o_custkey")
    },
    Some("""SELECT o_custkey, o_orderkey AS latest_orderkey,
      |       strftime(o_orderdate, '%Y-%m-%d') AS latest_date,
      |       o_totalprice AS latest_charges
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
      |WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin),
    doc = "W2: latest-per-key via row_number window. " +
      "Latest-per-key via row_number over a per-key window: ONE shuffle on the key with a total order (date, key) tiebreak — no max+join-back double pass.")

  /** q15 — theta/inequality condition via min-aggregate (J7; "blood
    * culture before first antibiotic" healthcare-sql-analytics.sql:241-256
    * — MIN per key, join, then `<` filter; no nested-loop join).
    */
  val q15 = Q(
    "q15_theta_first_ship",
    (s, dir) => {
      import s.implicits._
      val firstShip = lineitem(s, dir)
        .groupBy($"l_orderkey")
        .agg(min($"l_shipdate").as("first_ship"))
      orders(s, dir)
        .join(firstShip, $"o_orderkey" === $"l_orderkey")
        .withColumn("shipped_within_week",
          $"first_ship" <= $"o_orderdate" + expr("INTERVAL 7 DAYS"))
        .groupBy($"o_orderpriority")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(when($"shipped_within_week", 1L).otherwise(0L)).as("fast_ship"),
          (sum(when($"shipped_within_week", 1L).otherwise(0L)) * 100.0
            / count(lit(1))).as("fast_ship_pct"))
        .orderBy($"o_orderpriority")
    },
    Some("""WITH first_ship AS (
      |  SELECT l_orderkey, MIN(l_shipdate) AS first_ship
      |  FROM lineitem GROUP BY l_orderkey)
      |SELECT o_orderpriority, COUNT(*) AS n_orders,
      |       CAST(SUM(CASE WHEN first_ship <= o_orderdate + INTERVAL 7 DAY
      |                THEN 1 ELSE 0 END) AS BIGINT) AS fast_ship,
      |       SUM(CASE WHEN first_ship <= o_orderdate + INTERVAL 7 DAY
      |           THEN 1 ELSE 0 END) * 100.0 / COUNT(*) AS fast_ship_pct
      |FROM orders JOIN first_ship ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin),
    doc = "J7: inequality condition via min-agg + join + filter. " +
      "Theta condition rewritten MIN-per-key + equi-join + post-filter — Catalyst never sees an inequality-only join, so no BroadcastNestedLoop.")

  /** q16 — benchmark join, agg-to-agg (J8; provider metrics ⋈ specialty
    * benchmarks healthcare-sql-analytics.sql:362-363). Both sides are
    * aggregates — tiny at any scale; the per-nation benchmark is
    * derived FROM the supplier metrics (window-fusable, but the join
    * form mirrors the reference and both sides post-agg are small).
    */
  val q16 = Q(
    "q16_benchmark_join",
    (s, dir) => {
      import s.implicits._
      val li = lineitem(s, dir)
      val sup = Tables.load(s, dir, "supplier")
      val nat = Tables.load(s, dir, "nation")
      val perSupplier = li.groupBy($"l_suppkey")
        .agg(Q.sumMoney($"l_extendedprice").as("revenue"))
        .join(Tables.maybeBroadcast(sup), $"l_suppkey" === $"s_suppkey")
        .join(Tables.maybeBroadcast(nat), $"s_nationkey" === $"n_nationkey")
        .select($"s_suppkey", $"s_name", $"n_name", $"revenue")
      // revenue is cents-exact (came through DECIMAL); go back through
      // decimal for the benchmark mean so the sum is order-insensitive.
      val benchmark = perSupplier.groupBy($"n_name")
        .agg((sum($"revenue".cast("decimal(18,2)")).cast("double") / count(lit(1)))
          .as("nation_avg_rev"))
      perSupplier.join(benchmark, Seq("n_name"))
        .select($"n_name", $"s_name", $"revenue",
          $"nation_avg_rev".as("nation_avg"),
          ($"revenue" / $"nation_avg_rev").as("vs_benchmark"))
        .orderBy($"n_name", $"s_name")
    },
    Some(s"""WITH per_supplier AS (
      |  SELECT s_suppkey, s_name, n_name,
      |         ${Q.oSum("l_extendedprice")} AS revenue
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY s_suppkey, s_name, n_name),
      |benchmark AS (
      |  SELECT n_name,
      |         CAST(SUM(CAST(revenue AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS nation_avg_rev
      |  FROM per_supplier GROUP BY n_name)
      |SELECT per_supplier.n_name AS n_name, s_name, revenue,
      |       nation_avg_rev AS nation_avg,
      |       revenue / nation_avg_rev AS vs_benchmark
      |FROM per_supplier JOIN benchmark ON per_supplier.n_name = benchmark.n_name
      |ORDER BY per_supplier.n_name, s_name""".stripMargin),
    doc = "J8: agg-to-agg benchmark join. " +
      "Agg-to-agg benchmark join: both sides collapse to group-level frames BEFORE joining — the join touches |groups| rows however large the corpus.")

  /** q56 — AS-OF JOIN: for each purchase event, the latest click by the
    * same user at-or-before the purchase (last-touch attribution; the
    * healthcare shape is "most recent lab before each encounter" — the
    * correlated `ORDER BY date DESC LIMIT 1` family of
    * healthcare-sql-analytics.sql:592-598 generalized to two inputs).
    *
    * Implementation and scale rationale live in [[AsofJoin.latestBefore]]
    * (union + running-last window: one shuffle, no pair explosion; ties
    * click.ts == purchase.ts resolve inclusively). DuckDB's native
    * ASOF LEFT JOIN is the oracle.
    */
  val q56 = Q(
    "q56_asof_join",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"ts".as("click_ts"), $"event_id".as("click_id"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts".as("purchase_ts"),
          $"event_id".as("purchase_id"), $"value".as("amount"))
      AsofJoin.latestBefore(purchases, clicks, key = "user_id",
          leftTime = "purchase_ts", rightTime = "click_ts",
          carry = Seq("click_id", "click_ts"))
        .select($"purchase_id", $"user_id",
          unix_micros($"purchase_ts").as("purchase_ts_us"), $"amount",
          $"click_id".as("last_click_id"),
          (unix_micros($"purchase_ts") - unix_micros($"click_ts"))
            .as("click_to_purchase_us"))
        .orderBy($"purchase_id")
    },
    Some("""WITH clicks AS (
      |  SELECT user_id, ts AS click_ts, event_id AS click_id
      |  FROM events WHERE event_type = 'click'),
      |purchases AS (
      |  SELECT user_id, ts AS purchase_ts, event_id AS purchase_id,
      |         value AS amount
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.purchase_id, p.user_id,
      |       epoch_us(p.purchase_ts) AS purchase_ts_us, p.amount,
      |       c.click_id AS last_click_id,
      |       epoch_us(p.purchase_ts) - epoch_us(c.click_ts) AS click_to_purchase_us
      |FROM purchases p ASOF LEFT JOIN clicks c
      |  ON p.user_id = c.user_id AND p.purchase_ts >= c.click_ts
      |ORDER BY p.purchase_id""".stripMargin),
    doc = "as-of join (union + running-last window; no pair explosion). " +
      "Union + running-last window: linear as-of, no range cross product.")

  /** q60 — salted skew join ([[SkewJoin]]): lineitem ⋈ supplier on
    * suppkey, the big side's rows deterministically split 8 ways so a
    * hot supplier's lineitems spread over 8 shuffle partitions instead
    * of pinning one task. Salting is invisible to semantics — the oracle
    * is the PLAIN unsalted join. (Here supplier would broadcast anyway;
    * the operator exists for the too-big-to-broadcast dimension case.)
    */
  val q60 = Q(
    "q60_salted_skew_join",
    (s, dir) => {
      import s.implicits._
      val li = lineitem(s, dir)
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
      val supp = Tables.load(s, dir, "supplier")
        .select($"s_suppkey".as("l_suppkey"), $"s_nationkey")
      SkewJoin.saltedInnerJoin(li, supp, "l_suppkey", salts = 8,
          bigSaltSource = struct($"l_orderkey", $"l_linenumber"))
        .groupBy($"s_nationkey")
        .agg(count(lit(1)).as("n_items"),
             Q.sumMoney($"l_extendedprice").as("revenue"))
        .orderBy($"s_nationkey")
    },
    Some(s"""SELECT s_nationkey, COUNT(*) AS n_items,
      |       ${Q.oSum("l_extendedprice")} AS revenue
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin),
    doc = "salted skew join (8-way deterministic salt; ≡ plain join). " +
      "Join key extended with deterministic __salt; hot supplier keys spread 8 ways.")

  /** q75 — fuzzy record linkage (the patient-matching problem at the
    * heart of healthcare MDM; the reference hashes MRNs but never
    * fuzzy-matches — this is the extension every real identity pipeline
    * needs): candidate pairs from an equality BLOCK (name prefix), then
    * exact Levenshtein verify — never the quadratic all-pairs product.
    * Blocks here are bounded (≤100 names share a 7-digit prefix); a
    * skewed blocking key would route through the same skew-split
    * machinery as the LSH dedup family.
    */
  val q75 = Q(
    "q75_fuzzy_linkage",
    (s, dir) => {
      import s.implicits._
      val c = customer(s, dir).select($"c_custkey", $"c_name",
        substring($"c_name", 1, 16).as("blk"))
      c.as("a").join(c.as("b"),
          $"a.blk" === $"b.blk" && $"a.c_custkey" < $"b.c_custkey")
        .withColumn("d", levenshtein($"a.c_name", $"b.c_name"))
        .agg(
          count(lit(1)).as("n_candidate_pairs"),
          count_if($"d" <= 1).as("n_matches"),
          (sum($"d").cast("double") / count(lit(1))).as("avg_distance"))
    },
    Some("""WITH c AS (
      |  SELECT c_custkey, c_name, substr(c_name, 1, 16) AS blk FROM customer),
      |p AS (
      |  SELECT levenshtein(a.c_name, b.c_name) AS d
      |  FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey)
      |SELECT COUNT(*) AS n_candidate_pairs,
      |       CAST(COUNT(CASE WHEN d <= 1 THEN 1 END) AS BIGINT) AS n_matches,
      |       CAST(SUM(d) AS DOUBLE) / COUNT(*) AS avg_distance
      |FROM p""".stripMargin),
    doc = "fuzzy record linkage: prefix-blocked candidates + Levenshtein verify. " +
      "Blocking key bounds pair generation (<=100 names/block); the Jaro-Winkler kernel is a codegen'd Catalyst expression — no UDF boundary in the pair loop.")

  val all: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08,
    q09, q10, q11, q12, q13, q14, q15, q16, q56, q60, q75)
}
