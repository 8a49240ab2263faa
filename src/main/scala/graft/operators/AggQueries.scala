package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation / window / set-op operators (SURVEY.md §2.4-§2.7).
  *
  * Determinism note (SURVEY.md §7.3): verified aggregates of doubles go
  * through DECIMAL (exact, order-insensitive under shuffle); genuinely
  * floating stats (stddev/corr/percentile) are either computed from
  * exact decimal moments with an explicit formula shared with the
  * oracle, or rounded.
  */
object AggQueries {

  private def orders(s: SparkSession, dir: String) = Tables.load(s, dir, "orders")
  private def lineitem(s: SparkSession, dir: String) = Tables.load(s, dir, "lineitem")
  private def customer(s: SparkSession, dir: String) = Tables.load(s, dir, "customer")

  /** q17 — COUNT(*) / COUNT(DISTINCT) (A1/A2;
    * healthcare-data-pipeline-main.py:278,295-296 distinct patients /
    * encounters). Exact distinct = extra shuffle per distinct key; at
    * 100 TB prefer approx_count_distinct (HLL) — exposed separately in
    * q56_approx_distinct (no oracle: sketch results are engine-specific).
    */
  val q17 = Q(
    "q17_count_distinct",
    (s, dir) => {
      import s.implicits._
      orders(s, dir)
        .groupBy($"o_orderstatus")
        .agg(
          count(lit(1)).as("n_encounters"),
          countDistinct($"o_custkey").as("n_patients"),
          countDistinct($"o_orderpriority").as("n_priorities"))
        .orderBy($"o_orderstatus")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n_encounters,
      |       COUNT(DISTINCT o_custkey) AS n_patients,
      |       COUNT(DISTINCT o_orderpriority) AS n_priorities
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin),
    doc = "A1+A2: count, count distinct. " +
      "Exact COUNT(DISTINCT) plans Spark's Expand + two-phase aggregate; the documented 100 TB swap is the HLL sketch (q63) when 2% error is acceptable.")

  /** q18 — conditional aggregation (A5; SUM(CASE WHEN ...) readmission/
    * mortality counters healthcare-sql-analytics.sql:283-302,564-571).
    */
  val q18 = Q(
    "q18_conditional_agg",
    (s, dir) => {
      import s.implicits._
      lineitem(s, dir)
        .groupBy($"l_linestatus")
        .agg(
          count(lit(1)).as("n"),
          sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("n_returned"),
          count_if($"l_discount" > 0.05).as("n_discounted"),
          Q.sumMoney(when($"l_discount" > 0.05, $"l_extendedprice").otherwise(lit(0.0)))
            .as("discounted_revenue"))
        .orderBy($"l_linestatus")
    },
    Some(s"""SELECT l_linestatus, COUNT(*) AS n,
      |       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
      |       CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_discounted,
      |       ${Q.oSum("CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0.0 END")} AS discounted_revenue
      |FROM lineitem
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin),
    doc = "A5: SUM(CASE WHEN), count_if. " +
      "All SUM(CASE WHEN) counters fuse into ONE map-side-combinable aggregate — N metrics cost one scan, not N.")

  /** q19 — multi-key GROUP BY + HAVING statistical floor (A6;
    * HAVING COUNT(*) >= 30 significance floors
    * healthcare-sql-analytics.sql:206-208,326-328,578-579).
    */
  val q19 = Q(
    "q19_having_floor",
    (s, dir) => {
      import s.implicits._
      orders(s, dir)
        .groupBy($"o_orderpriority", $"o_orderstatus")
        .agg(count(lit(1)).as("n"),
             Q.avgMoney($"o_totalprice").as("avg_charges"))
        .filter($"n" >= 30)
        .orderBy($"o_orderpriority", $"o_orderstatus")
    },
    Some(s"""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
      |       ${Q.oAvg("o_totalprice")} AS avg_charges
      |FROM orders
      |GROUP BY o_orderpriority, o_orderstatus
      |HAVING COUNT(*) >= 30
      |ORDER BY o_orderpriority, o_orderstatus""".stripMargin),
    doc = "A6: GROUP BY multi-key + HAVING floor. " +
      "HAVING is a post-aggregation filter on the already-|groups|-sized frame — zero extra corpus work.")

  /** q20 — time-bucketed aggregation (A7/F2; daily/monthly metrics via
    * date_trunc healthcare-api-main.py:301-320; DATE_FORMAT '%Y-%m'
    * healthcare-sql-analytics.sql:400). Bucket emitted as a string to
    * keep the oracle compare timestamp-representation-free.
    */
  val q20 = Q(
    "q20_monthly_buckets",
    (s, dir) => {
      import s.implicits._
      orders(s, dir)
        .groupBy(date_format($"o_orderdate", "yyyy-MM").as("month"))
        .agg(
          count(lit(1)).as("n_encounters"),
          countDistinct($"o_custkey").as("n_patients"),
          Q.sumMoney($"o_totalprice").as("total_charges"))
        .orderBy($"month")
    },
    Some(s"""SELECT strftime(o_orderdate, '%Y-%m') AS month,
      |       COUNT(*) AS n_encounters,
      |       COUNT(DISTINCT o_custkey) AS n_patients,
      |       ${Q.oSum("o_totalprice")} AS total_charges
      |FROM orders
      |GROUP BY 1
      |ORDER BY month""".stripMargin),
    doc = "A7+F2: date_trunc-style monthly buckets. " +
      "date_format bucketing is per-row codegen; the group frame is calendar-bounded (|months| rows) so the shuffle stays tiny at any corpus size.")

  /** q21 — exact interpolated percentiles (A8; IQR bounds
    * healthcare-data-pipeline-main.py:247-250, PERCENTILE_CONT(0.5/0.9)
    * healthcare-sql-analytics.sql:702-703). Spark `percentile` and
    * DuckDB `quantile_cont` both linearly interpolate; rounded to 2dp
    * to absorb last-ulp drift. At 100 TB swap to percentile_approx —
    * exact percentile requires a full sort per group.
    */
  val q21 = Q(
    "q21_percentiles",
    (s, dir) => {
      import s.implicits._
      lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(
          // round-4: interpolated values land on the quarter-cent grid,
          // safely inside 4dp; 2dp would round exactly at half-cents.
          round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median"),
          round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag,
      |       ROUND(CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE), 4) AS p25,
      |       ROUND(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 4) AS median,
      |       ROUND(CAST(quantile_cont(l_extendedprice, 0.75) AS DOUBLE), 4) AS p75,
      |       ROUND(CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE), 4) AS p90
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin),
    doc = "A8: exact interpolated percentiles. " +
      "Exact per-group percentiles (sort-based aggregate) for the oracle; the documented 100 TB swap is percentile_approx — exact type-1 requires a per-group sort.")

  /** q22 — aggregate-of-aggregate (A9; CTE per-patient aggregates →
    * outer GROUP BY diagnosis README.md:100-122,
    * healthcare-sql-analytics.sql:306-338). Two chained groupBys —
    * the second input is already tiny (one row per patient).
    */
  val q22 = Q(
    "q22_agg_of_agg",
    (s, dir) => {
      import s.implicits._
      val perPatient = orders(s, dir)
        .join(customer(s, dir), $"o_custkey" === $"c_custkey")
        .groupBy($"c_custkey", $"c_mktsegment")
        .agg(count(lit(1)).as("n_enc"),
             sum(Q.money($"o_totalprice")).as("spend_dec"))
      perPatient.groupBy($"c_mktsegment")
        .agg(
          count(lit(1)).as("n_patients"),
          (sum($"n_enc") * 1.0 / count(lit(1))).as("avg_encounters"),
          (sum($"spend_dec").cast("double") / count(lit(1))).as("avg_spend"),
          max($"spend_dec").cast("double").as("max_spend"))
        .orderBy($"c_mktsegment")
    },
    Some("""WITH per_patient AS (
      |  SELECT c_custkey, c_mktsegment, COUNT(*) AS n_enc,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_dec
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_custkey, c_mktsegment)
      |SELECT c_mktsegment, COUNT(*) AS n_patients,
      |       SUM(n_enc) * 1.0 / COUNT(*) AS avg_encounters,
      |       CAST(SUM(spend_dec) AS DOUBLE) / COUNT(*) AS avg_spend,
      |       CAST(MAX(spend_dec) AS DOUBLE) AS max_spend
      |FROM per_patient
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin),
    doc = "A9: two-level aggregate (per-patient → per-segment). " +
      "Aggregate-of-aggregate: the second groupBy consumes the one-row-per-customer first aggregate (already shuffled on its key) — the big table is scanned once.")

  /** q23 — distribution with percentage-of-total (A10; gender/race %
    * distributions healthcare-api-main.py:527-542 — the reference loops
    * rows in Python; here a window over the aggregate, no second pass).
    */
  val q23 = Q(
    "q23_pct_distribution",
    (s, dir) => {
      import s.implicits._
      val counts = customer(s, dir)
        .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
      counts
        .withColumn("pct", $"n" * 100.0 / sum($"n").over(Window.partitionBy()))
        .orderBy($"c_mktsegment")
    },
    Some("""WITH counts AS (
      |  SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY c_mktsegment)
      |SELECT c_mktsegment, n,
      |       n * 100.0 / SUM(n) OVER () AS pct
      |FROM counts
      |ORDER BY c_mktsegment""".stripMargin),
    doc = "A10: % distribution via window over aggregate. " +
      "Percent-of-total via a window over the |segments|-row aggregate — the corpus contributes one map-side-combined pass; no second scan for the denominator.")

  /** q24 — z-score anomaly scan (A11; |x−μ| > 2.5σ
    * healthcare-data-pipeline-main.py:264-265,319-338). μ and σ are
    * derived from exact decimal moments (Σx, Σx² as DECIMAL) so both
    * engines evaluate the identical closed formula — no float
    * accumulation drift in the comparison threshold. Stats are computed
    * in one aggregate and broadcast back (no driver collect).
    */
  val q24 = Q(
    "q24_zscore_outliers",
    (s, dir) => {
      import s.implicits._
      val o = orders(s, dir)
      val stats = o.agg(
        count(lit(1)).as("n"),
        sum(Q.money($"o_totalprice")).cast("double").as("sx"),
        sum(($"o_totalprice" * $"o_totalprice").cast("decimal(30,4)"))
          .cast("double").as("sxx"))
        .withColumn("mu", $"sx" / $"n")
        .withColumn("sigma",
          sqrt(($"sxx" - $"n" * $"mu" * $"mu") / ($"n" - 1)))
      o.crossJoin(broadcast(stats))
        .filter(abs($"o_totalprice" - $"mu") > lit(2.5) * $"sigma")
        .select($"o_orderkey", $"o_totalprice",
          (($"o_totalprice" - $"mu") / $"sigma").as("zscore"))
        .orderBy($"o_orderkey")
    },
    Some("""WITH stats AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |         CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS sxx
      |  FROM orders),
      |s2 AS (SELECT n, sx / n AS mu,
      |              sqrt((sxx - n * (sx/n) * (sx/n)) / (n - 1)) AS sigma FROM stats)
      |SELECT o_orderkey, o_totalprice,
      |       (o_totalprice - mu) / sigma AS zscore
      |FROM orders, s2
      |WHERE ABS(o_totalprice - mu) > 2.5 * sigma
      |ORDER BY o_orderkey""".stripMargin),
    doc = "A11: z-score outliers from exact decimal moments. " +
      "Moments computed in ONE aggregate and broadcast back as a 1-row crossJoin — no driver collect; decimal moments keep the z threshold engine-exact.")

  /** q25 — correlation matrix (A12; pairwise Pearson r of 3 metrics,
    * |r|>0.7 insight healthcare-data-pipeline-main.py:350-360).
    * corr is floating accumulation — rounded to 4dp for parity.
    */
  val q25 = Q(
    "q25_correlation_matrix",
    (s, dir) => {
      import s.implicits._
      lineitem(s, dir).agg(
        round(corr($"l_quantity", $"l_extendedprice"), 4).as("qty_price_r"),
        round(corr($"l_quantity", $"l_discount"), 4).as("qty_discount_r"),
        round(corr($"l_extendedprice", $"l_discount"), 4).as("price_discount_r"))
    },
    Some("""SELECT ROUND(corr(l_quantity, l_extendedprice), 4) AS qty_price_r,
      |       ROUND(corr(l_quantity, l_discount), 4) AS qty_discount_r,
      |       ROUND(corr(l_extendedprice, l_discount), 4) AS price_discount_r
      |FROM lineitem""".stripMargin),
    doc = "A12: pairwise Pearson correlation. " +
      "All pairwise corr moments accumulate in one map-side-combinable aggregate pass; output is a single row.")

  /** q26 — data-quality score (A13; completeness = non-null/total cells,
    * validity = in-IQR numeric cells, overall = mean
    * healthcare-data-pipeline-main.py:233-258). One pass over the data;
    * nulls are derived (testdata has none physically). The reference
    * computes this per-DataFrame in pandas — here it is a single
    * aggregate row, no collect.
    */
  val q26 = Q(
    "q26_quality_score",
    (s, dir) => {
      import s.implicits._
      // IQR bounds for l_quantity: fixed from the reference's formula
      // q1 - 1.5*IQR .. q3 + 1.5*IQR, computed inline (exact percentile).
      val li = lineitem(s, dir)
        .withColumn("disc_n", nullif($"l_discount", lit(0.0)))
        .withColumn("tax_n", nullif($"l_tax", lit(0.0)))
      val agg = li.agg(
        count(lit(1)).as("n_rows"),
        count($"disc_n").as("disc_filled"),
        count($"tax_n").as("tax_filled"),
        count($"l_quantity").as("qty_filled"),
        expr("percentile(l_quantity, 0.25)").as("q1"),
        expr("percentile(l_quantity, 0.75)").as("q3"))
      val withBounds = agg
        .withColumn("lo", $"q1" - ($"q3" - $"q1") * 1.5)
        .withColumn("hi", $"q3" + ($"q3" - $"q1") * 1.5)
      val valid = li.crossJoin(broadcast(withBounds))
        .agg(
          count_if($"l_quantity".between($"lo", $"hi")).as("qty_valid"),
          first($"n_rows").as("n_rows"),
          first($"disc_filled").as("disc_filled"),
          first($"tax_filled").as("tax_filled"),
          first($"qty_filled").as("qty_filled"))
      valid.select(
        $"n_rows",
        (($"disc_filled" + $"tax_filled" + $"qty_filled") * 1.0 / ($"n_rows" * 3))
          .as("completeness"),
        ($"qty_valid" * 1.0 / $"n_rows").as("validity"))
        .withColumn("overall_quality", ($"completeness" + $"validity") / 2.0)
    },
    Some("""WITH src AS (
      |  SELECT l_quantity, NULLIF(l_discount, 0.0) AS disc_n, NULLIF(l_tax, 0.0) AS tax_n
      |  FROM lineitem),
      |agg AS (
      |  SELECT COUNT(*) AS n_rows, COUNT(disc_n) AS disc_filled,
      |         COUNT(tax_n) AS tax_filled, COUNT(l_quantity) AS qty_filled,
      |         CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE) AS q1,
      |         CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE) AS q3
      |  FROM src),
      |bounds AS (SELECT *, q1 - 1.5*(q3-q1) AS lo, q3 + 1.5*(q3-q1) AS hi FROM agg),
      |valid AS (
      |  SELECT CAST(COUNT(*) FILTER (WHERE l_quantity BETWEEN lo AND hi) AS BIGINT) AS qty_valid,
      |         MIN(n_rows) AS n_rows, MIN(disc_filled) AS disc_filled,
      |         MIN(tax_filled) AS tax_filled, MIN(qty_filled) AS qty_filled
      |  FROM src, bounds)
      |SELECT n_rows,
      |       (disc_filled + tax_filled + qty_filled) * 1.0 / (n_rows * 3) AS completeness,
      |       qty_valid * 1.0 / n_rows AS validity,
      |       ((disc_filled + tax_filled + qty_filled) * 1.0 / (n_rows * 3)
      |        + qty_valid * 1.0 / n_rows) / 2.0 AS overall_quality
      |FROM valid""".stripMargin),
    doc = "A13: completeness/validity quality score, one pass. " +
      "Completeness/outlier/freshness metrics in a single aggregate row (no collect); IQR bounds computed inline; q67 is the one-pass UDAF twin.")

  /** q27 — top-N by metric (A14; nlargest(5, readmission_count)
    * healthcare-data-pipeline-main.py:344-348). Spark plans
    * TakeOrderedAndProject — no global sort at scale.
    */
  val q27 = Q(
    "q27_top_n",
    (s, dir) => {
      import s.implicits._
      orders(s, dir)
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_encounters"),
             Q.sumMoney($"o_totalprice").as("total_spend"))
        .orderBy(desc("total_spend"), $"o_custkey")
        .limit(5)
    },
    Some(s"""SELECT o_custkey, COUNT(*) AS n_encounters,
      |       ${Q.oSum("o_totalprice")} AS total_spend
      |FROM orders
      |GROUP BY o_custkey
      |ORDER BY total_spend DESC, o_custkey
      |LIMIT 5""".stripMargin),
    doc = "A14: top-N (TakeOrderedAndProject). " +
      "Global ORDER BY + LIMIT plans TakeOrderedAndProject — per-partition bounded heaps merged on the driver, no global sort.")

  /** q28 — rate/ratio aggregates with NULLIF guard (A15;
    * readmission_rate = SUM(flag)*100.0/COUNT(*) README.md:117,
    * NULLIF(total,0) divide-safety).
    */
  val q28 = Q(
    "q28_rate_ratios",
    (s, dir) => {
      import s.implicits._
      val abnormalOrders = lineitem(s, dir)
        .filter($"l_returnflag" === "R")
        .select($"l_orderkey").distinct()
      orders(s, dir)
        .join(abnormalOrders, $"o_orderkey" === $"l_orderkey", "left_outer")
        .withColumn("has_abnormal", $"l_orderkey".isNotNull)
        .groupBy($"o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          sum(when($"has_abnormal", 1L).otherwise(0L)).as("n_abnormal"))
        .withColumn("abnormal_rate",
          $"n_abnormal" * 100.0 / nullif($"n", lit(0L)))
        .orderBy($"o_orderpriority")
    },
    Some("""WITH abn AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
      |SELECT o_orderpriority, COUNT(*) AS n,
      |       CAST(SUM(CASE WHEN l_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_abnormal,
      |       SUM(CASE WHEN l_orderkey IS NOT NULL THEN 1 ELSE 0 END) * 100.0
      |         / NULLIF(COUNT(*), 0) AS abnormal_rate
      |FROM orders LEFT JOIN abn ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin),
    doc = "A15: ratio aggregates, NULLIF divide guard. " +
      "Abnormal orderkeys distinct-projected to the bare key before the join; rates are NULLIF-guarded exact-decimal divisions.")

  /** q29 — partitioned analytic stats + outlier tagging (W1;
    * AVG/STDDEV OVER (PARTITION BY category) then CASE tag
    * healthcare-sql-analytics.sql:528-554). Group stats via exact
    * decimal window moments (same closed formula as q24) so the tag
    * threshold is bit-identical across engines.
    */
  val q29 = Q(
    "q29_window_group_stats",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"p_type")
      val p = Tables.load(s, dir, "part")
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("mu",
          sum(Q.money($"p_retailprice")).over(w).cast("double") / $"n")
        .withColumn("sxx",
          sum(($"p_retailprice" * $"p_retailprice").cast("decimal(30,4)"))
            .over(w).cast("double"))
        .withColumn("sigma",
          sqrt(($"sxx" - $"n" * $"mu" * $"mu") / ($"n" - 1)))
        .withColumn("is_outlier",
          abs($"p_retailprice" - $"mu") > $"sigma" * 1.5)
      p.groupBy($"p_type")
        .agg(count(lit(1)).as("n_parts"),
             sum(when($"is_outlier", 1L).otherwise(0L)).as("n_outliers"),
             first($"mu").as("type_avg_price"))
        .orderBy($"p_type")
    },
    Some("""WITH stats AS (
      |  SELECT p_type, p_retailprice,
      |         COUNT(*) OVER (PARTITION BY p_type) AS n,
      |         CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2)))
      |              OVER (PARTITION BY p_type) AS DOUBLE) AS sx,
      |         CAST(SUM(CAST(p_retailprice * p_retailprice AS DECIMAL(30,4)))
      |              OVER (PARTITION BY p_type) AS DOUBLE) AS sxx
      |  FROM part),
      |tagged AS (
      |  SELECT p_type, n, sx / n AS mu,
      |         ABS(p_retailprice - sx / n) >
      |           sqrt((sxx - n * (sx/n) * (sx/n)) / (n - 1)) * 1.5 AS is_outlier
      |  FROM stats)
      |SELECT p_type, COUNT(*) AS n_parts,
      |       CAST(SUM(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |       MIN(mu) AS type_avg_price
      |FROM tagged
      |GROUP BY p_type
      |ORDER BY p_type""".stripMargin),
    doc = "W1: window partition stats + outlier tag. " +
      "Per-type window moments via the closed decimal formula — one shuffle on p_type; the stddev threshold is bit-identical across engines.")

  /** q30 — UNION ALL quality-check stack (U1; per-table QC rows
    * healthcare-data-pipeline-main.py:436-450,
    * healthcare-sql-analytics.sql:759-779). unionByName (the reference's
    * positional UNION ALL is fragile; name-based is the Spark idiom).
    */
  val q30 = Q(
    "q30_union_all_qc",
    (s, dir) => {
      import s.implicits._
      def qc(df: DataFrame, tname: String, keyCol: String): DataFrame =
        df.agg(
          count(lit(1)).as("row_count"),
          countDistinct(col(keyCol)).as("distinct_keys"))
          .select(lit(tname).as("table_name"), $"row_count", $"distinct_keys")
      qc(customer(s, dir), "customer", "c_custkey")
        .unionByName(qc(orders(s, dir), "orders", "o_orderkey"))
        .unionByName(qc(lineitem(s, dir), "lineitem", "l_orderkey"))
        .orderBy($"table_name")
    },
    Some("""SELECT 'customer' AS table_name, COUNT(*) AS row_count,
      |       COUNT(DISTINCT c_custkey) AS distinct_keys FROM customer
      |UNION ALL
      |SELECT 'orders', COUNT(*), COUNT(DISTINCT o_orderkey) FROM orders
      |UNION ALL
      |SELECT 'lineitem', COUNT(*), COUNT(DISTINCT l_orderkey) FROM lineitem
      |ORDER BY table_name""".stripMargin),
    doc = "U1: UNION ALL per-table QC rows. " +
      "Per-table QC summaries are 1-row aggregates unionByName'd — three scans, three 1-row frames, no cross-table shuffle.")

  /** q57 — sliding window frame (W-extension; SURVEY.md §2.5 notes the
    * rebuild exposes rowsBetween frames beyond the reference's unbounded
    * ones): 7-row rolling revenue per priority. The daily series keeps
    * its sum as DECIMAL through the frame — window engines disagree on
    * double summation order (Spark re-scans the frame, DuckDB combines
    * segment-tree nodes), decimal is associative either way.
    */
  val q57 = Q(
    "q57_rolling_window",
    (s, dir) => {
      import s.implicits._
      val daily = orders(s, dir)
        .groupBy($"o_orderpriority", $"o_orderdate")
        .agg(sum(Q.money($"o_totalprice")).as("day_rev"))
      val w = Window.partitionBy($"o_orderpriority")
        .orderBy($"o_orderdate")
        .rowsBetween(-6, Window.currentRow)
      daily
        .withColumn("rev_7d", sum($"day_rev").over(w).cast("double"))
        .withColumn("avg_7d",
          sum($"day_rev").over(w).cast("double") / count(lit(1)).over(w))
        .select($"o_orderpriority", $"o_orderdate",
                $"day_rev".cast("double").as("day_rev"), $"rev_7d", $"avg_7d")
        .orderBy($"o_orderpriority", $"o_orderdate")
    },
    Some("""WITH daily AS (
      |  SELECT o_orderpriority, o_orderdate,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS day_rev
      |  FROM orders GROUP BY 1, 2)
      |SELECT o_orderpriority, o_orderdate,
      |       CAST(day_rev AS DOUBLE) AS day_rev,
      |       CAST(SUM(day_rev) OVER w AS DOUBLE) AS rev_7d,
      |       CAST(SUM(day_rev) OVER w AS DOUBLE) / COUNT(*) OVER w AS avg_7d
      |FROM daily
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate
      |             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderpriority, o_orderdate""".stripMargin),
    doc = "window frame: 7-row rolling sum/avg (decimal-exact under the frame). " +
      "Daily pre-aggregate FIRST (calendar-bounded frame), then the rolling frame runs over <=|days| rows per priority; decimal keeps frame sums associative.")

  /** q58 — ROLLUP with GROUPING flags (OLAP subtotal surface the
    * reference's UNION-ALL QC rows approximate by hand,
    * healthcare-sql-analytics.sql:759-779). Keys are sentinel-coalesced
    * so the subtotal rows sort and hash identically in both engines.
    */
  val q58 = Q(
    "q58_rollup_totals",
    (s, dir) => {
      import s.implicits._
      orders(s, dir)
        .withColumn("yr", year($"o_orderdate"))
        .rollup($"yr", $"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
             Q.sumMoney($"o_totalprice").as("revenue"),
             grouping($"yr").cast("int").as("g_year"),
             grouping($"o_orderpriority").cast("int").as("g_priority"))
        .select(coalesce($"yr", lit(-1)).as("o_year"),
                coalesce($"o_orderpriority", lit("ALL")).as("priority"),
                $"g_year", $"g_priority", $"n_orders", $"revenue")
        .orderBy($"g_year", $"g_priority", $"o_year", $"priority")
    },
    Some(s"""SELECT COALESCE(yr, -1) AS o_year,
      |       COALESCE(o_orderpriority, 'ALL') AS priority,
      |       CAST(GROUPING(yr) AS INTEGER) AS g_year,
      |       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
      |       COUNT(*) AS n_orders,
      |       ${Q.oSum("o_totalprice")} AS revenue
      |FROM (SELECT year(o_orderdate) AS yr, o_orderpriority, o_totalprice
      |      FROM orders)
      |GROUP BY ROLLUP(yr, o_orderpriority)
      |ORDER BY g_year, g_priority, o_year, priority""".stripMargin),
    doc = "ROLLUP subtotals + GROUPING flags (sentinel-coalesced keys). " +
      "ROLLUP plans one Expand + aggregate — the whole subtotal grid in a single pass; sentinel-coalesced keys sort identically in both engines.")

  /** q59 — LAG gap analysis: days between a customer's consecutive
    * encounters (the inter-visit interval behind the reference's
    * readmission logic, here as an explicit window rather than a self
    * join). Total order inside each partition (date, then key) keeps the
    * lag deterministic under date ties.
    */
  val q59 = Q(
    "q59_order_gaps",
    (s, dir) => {
      import s.implicits._
      val byCust = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
      val gaps = orders(s, dir)
        .withColumn("prev_dt", lag($"o_orderdate", 1).over(byCust))
        .filter($"prev_dt".isNotNull)
        .withColumn("gap_days", datediff($"o_orderdate", $"prev_dt").cast("long"))
      gaps
        .join(customer(s, dir).select($"c_custkey", $"c_mktsegment"),
              $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_gaps"),
             (sum($"gap_days").cast("double") / count(lit(1))).as("avg_gap_days"),
             min($"gap_days").as("min_gap_days"),
             max($"gap_days").as("max_gap_days"))
        .orderBy($"c_mktsegment")
    },
    Some("""WITH gaps AS (
      |  SELECT o_custkey,
      |         CAST(date_diff('day',
      |           LAG(o_orderdate, 1) OVER
      |             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |           o_orderdate) AS BIGINT) AS gap_days
      |  FROM orders)
      |SELECT c_mktsegment, COUNT(*) AS n_gaps,
      |       CAST(SUM(gap_days) AS DOUBLE) / COUNT(*) AS avg_gap_days,
      |       MIN(gap_days) AS min_gap_days, MAX(gap_days) AS max_gap_days
      |FROM gaps JOIN customer ON o_custkey = c_custkey
      |WHERE gap_days IS NOT NULL
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    doc = "LAG inter-event gaps per customer, aggregated by segment. " +
      "Per-customer lag window — one shuffle on custkey with total order (date, key) so date ties are deterministic.")

  /** q62 — NTILE quartiles over per-customer spend. The global ranking
    * runs on the AGGREGATED frame (one row per customer), but a global
    * ORDER BY window is still a single-task sort at cluster scale — the
    * 100 TB variant derives quartile cut-points from percentile/
    * approxQuantile and joins them back instead. Deterministic here via
    * an exact-decimal sort key + unique tiebreak.
    */
  val q62 = Q(
    "q62_ntile_quartiles",
    (s, dir) => {
      import s.implicits._
      val spend = orders(s, dir)
        .groupBy($"o_custkey")
        .agg(sum(Q.money($"o_totalprice")).as("spend_dec"))
      // DistributedRank, not Window.orderBy: the frame is per-customer
      // (row cardinality at 100 TB) — the unpartitioned NTILE window
      // would sort it in ONE task; this is a range-sort + offset
      // ranking with identical SQL semantics.
      DistributedRank
        .withNtile(spend, 4, Seq($"spend_dec".desc, $"o_custkey"), "quartile")
        .groupBy($"quartile")
        .agg(count(lit(1)).as("n_customers"),
             min($"spend_dec").cast("double").as("min_spend"),
             max($"spend_dec").cast("double").as("max_spend"),
             (sum($"spend_dec").cast("double") / count(lit(1))).as("avg_spend"))
        .orderBy($"quartile")
    },
    Some("""WITH spend AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_dec
      |  FROM orders GROUP BY 1),
      |q AS (
      |  SELECT o_custkey, spend_dec,
      |         NTILE(4) OVER (ORDER BY spend_dec DESC, o_custkey) AS quartile
      |  FROM spend)
      |SELECT quartile, COUNT(*) AS n_customers,
      |       CAST(MIN(spend_dec) AS DOUBLE) AS min_spend,
      |       CAST(MAX(spend_dec) AS DOUBLE) AS max_spend,
      |       CAST(SUM(spend_dec) AS DOUBLE) / COUNT(*) AS avg_spend
      |FROM q GROUP BY quartile ORDER BY quartile""".stripMargin),
    doc = "NTILE spend quartiles (ranking on the aggregated frame). " +
      "Ranking runs on the per-customer AGGREGATE (not raw orders) with an exact-decimal sort key; documented 100 TB swap: approxQuantile cut-points joined back instead of a global window.")

  /** q63 — HyperLogLog distinct-count sketch, built from first
    * principles so BOTH engines compute the identical estimate (their
    * built-in approx_count_distinct sketches differ, which would defeat
    * the oracle): md5 → 60-bit integer → 9-bit register index + max
    * leading-zero rank per register → harmonic mean. All register math
    * is integer-exact (ranks become 2^(52−ρ) BIGINT terms, never summed
    * floats); the single final division is one IEEE op on identical
    * operands. This is the 100 TB idiom for A2's COUNT(DISTINCT): one
    * narrow map-side-combinable aggregate instead of a distinct shuffle.
    */
  /** αₘ·m²·2⁵² for m = 512 — the HLL estimator numerator, computed once
    * and inlined as the SAME double literal into both engines' plans.
    * (Defined before q63: object vals initialize in declaration order.)
    */
  private[operators] val HllC: Double =
    0.7213 / (1 + 1.079 / 512) * 512.0 * 512.0 * 4503599627370496.0

  val q63 = Q(
    "q63_hll_distinct",
    (s, dir) => {
      import s.implicits._
      val reg = orders(s, dir)
        .select($"o_orderpriority",
          expr(graft.functions.Md5Prefix.sql("cast(o_custkey as string)")).as("h"))
        .withColumn("bucket", pmod($"h", lit(512L)))
        .withColumn("v", expr("h div 512"))
        // v occupies 51 bits; rank = leading zeros + 1 = 52 − bit_length(v)
        .withColumn("rho",
          when($"v" === 0L, lit(52))
            .otherwise(lit(52) - length(expr("conv(cast(v as string), 10, 2)"))))
      val est = reg
        .groupBy($"o_orderpriority", $"bucket").agg(max($"rho").as("mrho"))
        .groupBy($"o_orderpriority")
        .agg(sum(expr("shiftleft(cast(1 as bigint), 52 - mrho)")).as("occ_sum"),
             count(lit(1)).as("occupied"))
        .withColumn("approx_distinct",
          lit(HllC) / expr(
            "cast(occ_sum + (512 - occupied) * shiftleft(cast(1 as bigint), 52) as double)"))
      val exact = orders(s, dir)
        .groupBy($"o_orderpriority")
        .agg(countDistinct($"o_custkey").as("exact_distinct"))
      est.join(exact, Seq("o_orderpriority"))
        .select($"o_orderpriority", $"exact_distinct", $"approx_distinct")
        .orderBy($"o_orderpriority")
    },
    Some(s"""WITH reg AS (
      |  SELECT o_orderpriority,
      |         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM orders),
      |rho AS (
      |  SELECT o_orderpriority, h % 512 AS bucket,
      |         CASE WHEN h // 512 = 0 THEN 52
      |              ELSE 52 - length(bin(h // 512)) END AS rho
      |  FROM reg),
      |mx AS (
      |  SELECT o_orderpriority, bucket, MAX(rho) AS mrho FROM rho GROUP BY 1, 2),
      |est AS (
      |  SELECT o_orderpriority,
      |         $HllC / CAST(SUM(CAST(1 AS BIGINT) << (52 - mrho))
      |                      + (512 - COUNT(*)) * (CAST(1 AS BIGINT) << 52) AS DOUBLE)
      |           AS approx_distinct
      |  FROM mx GROUP BY 1)
      |SELECT e.o_orderpriority, x.exact_distinct, e.approx_distinct
      |FROM est e JOIN (
      |  SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS exact_distinct
      |  FROM orders GROUP BY 1) x USING (o_orderpriority)
      |ORDER BY o_orderpriority""".stripMargin),
    doc = "HLL sketch (m=512) from integer-exact register math; oracle-identical. " +
      "One narrow map-side-combinable aggregate replaces the COUNT(DISTINCT) expand+double-shuffle.")

  /** q64 — PIVOT (long → wide): order counts per priority × status. The
    * value list is EXPLICIT — `pivot(col)` without values runs a
    * distinct scan to discover them, an extra job and a nondeterministic
    * column order; at scale always pin the list. Missing cells coalesce
    * to 0 so both engines agree (Spark pivot yields NULL, COUNT(CASE)
    * yields 0).
    */
  val q64 = Q(
    "q64_pivot",
    (s, dir) => {
      import s.implicits._
      orders(s, dir)
        .groupBy($"o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select($"o_orderpriority",
          coalesce($"F", lit(0L)).as("n_f"),
          coalesce($"O", lit(0L)).as("n_o"),
          coalesce($"P", lit(0L)).as("n_p"))
        .orderBy($"o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
      |       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
      |       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
      |       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
      |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin),
    doc = "PIVOT long→wide (explicit value list; NULL cells coalesced). " +
      "pivot with an explicit value list compiles to CASE-aggregates in ONE pass — no per-status scans; NULL cells coalesced to 0 for cross-engine parity.")

  /** q65 — UNPIVOT (wide → long): lineitem's four numeric measures to
    * (metric, value) rows, then per-metric stats — the melt shape every
    * per-column profiling pass (A13's quality score) wants. Spark's
    * native `unpivot` generates rows without a join or union of scans:
    * one pass over the table.
    */
  val q65 = Q(
    "q65_unpivot",
    (s, dir) => {
      import s.implicits._
      lineitem(s, dir)
        .select($"l_quantity", $"l_extendedprice", $"l_discount", $"l_tax")
        .unpivot(Array.empty, "metric", "value")
        .groupBy($"metric")
        .agg(count(lit(1)).as("n"),
             sum(Q.money($"value")).cast("double").as("total"),
             min($"value").as("min_value"),
             max($"value").as("max_value"))
        .orderBy($"metric")
    },
    Some(s"""WITH long AS (
      |  SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
      |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
      |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
      |SELECT metric, COUNT(*) AS n,
      |       ${Q.oSum("value")} AS total,
      |       MIN(value) AS min_value, MAX(value) AS max_value
      |FROM long GROUP BY metric ORDER BY metric""".stripMargin),
    doc = "UNPIVOT wide→long (native melt, one table pass) + per-metric stats. " +
      "Native unpivot is a single-scan Expand — 4 metric rows per input row with no join or union of scans.")

  /** q70 — INTERSECT / EXCEPT (§2.7 extension — the reference has only
    * UNION ALL; cohort retention/churn is the natural set-op use).
    * Spark `intersect`/`except` are SET-semantic (dedup built in),
    * planned as left-semi/anti joins over distincts — at scale the same
    * shuffle cost as the explicit joins they sugar.
    */
  val q70 = Q(
    "q70_intersect_except",
    (s, dir) => {
      import s.implicits._
      val o = orders(s, dir)
      def custs(yr: Int) =
        o.filter(year($"o_orderdate") === yr).select($"o_custkey")
      val c95 = custs(1995)
      val c96 = custs(1996)
      val retained = c95.intersect(c96).agg(count(lit(1)).as("n_retained"))
      val churned = c95.except(c96).agg(count(lit(1)).as("n_churned"))
      val acquired = c96.except(c95).agg(count(lit(1)).as("n_acquired"))
      retained.crossJoin(churned).crossJoin(acquired)
    },
    Some("""SELECT
      |  (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      |    INTERSECT SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)) AS n_retained,
      |  (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      |    EXCEPT SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)) AS n_churned,
      |  (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
      |    EXCEPT SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995)) AS n_acquired""".stripMargin),
    doc = "INTERSECT/EXCEPT cohort retention + churn (set semantics). " +
      "INTERSECT/EXCEPT are set-semantic sugar over left-semi/anti joins on distincts — same shuffle cost as the explicit form, chosen for plan clarity.")

  /** q71 — bounded top-k per group via the custom
    * [[graft.functions.TopKAggregator]] (A14/W2 at scale): partial
    * buffers carry ≤ k rows per map-side partition instead of window-
    * sorting every group's full row set. The oracle IS the window
    * formulation — passing proves the aggregate ≡ row_number ≤ k.
    */
  val q71 = Q(
    "q71_topk_per_group",
    (s, dir) => {
      import s.implicits._
      import graft.functions.{TopIn, TopKAggregator}
      val topk = udaf(new TopKAggregator(3), Encoders.product[TopIn])
      orders(s, dir)
        .groupBy($"o_orderpriority")
        .agg(topk($"o_totalprice", $"o_orderkey").as("tk"))
        .select($"o_orderpriority", posexplode($"tk.items"))
        .select($"o_orderpriority",
          ($"pos" + 1).cast("int").as("rank"),
          $"col.key".as("o_orderkey"),
          $"col.value".as("o_totalprice"))
        .orderBy($"o_orderpriority", $"rank")
    },
    Some("""WITH r AS (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |         CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |                ORDER BY o_totalprice DESC, o_orderkey)
      |              AS INTEGER) AS rank
      |  FROM orders)
      |SELECT o_orderpriority, rank, o_orderkey, o_totalprice
      |FROM r WHERE rank <= 3
      |ORDER BY o_orderpriority, rank""".stripMargin),
    doc = "custom bounded top-k aggregate ≡ window row_number ≤ k (oracle-proven). " +
      "Custom bounded top-k aggregate: partial buffers ≤ k rows, ObjectHashAggregate, no per-group full sort.")

  /** q74 — cohort retention: customers grouped by first-order month,
    * retention measured as distinct actives at +1/+2/+3 months. Month
    * distance is explicit integer arithmetic (year·12+month), never
    * engine-specific months_between rounding. Two shuffles total: the
    * per-customer first-order aggregate, then the cohort rollup (the
    * join back is on the aggregate's own key, co-partitioned).
    */
  val q74 = Q(
    "q74_cohort_retention",
    (s, dir) => {
      import s.implicits._
      val o = orders(s, dir)
      val first = o.groupBy($"o_custkey").agg(min($"o_orderdate").as("first_dt"))
      val mdiff = (year($"o_orderdate") * 12 + month($"o_orderdate")) -
        (year($"first_dt") * 12 + month($"first_dt"))
      o.join(first, Seq("o_custkey"))
        .withColumn("m", mdiff)
        .groupBy(date_format($"first_dt", "yyyy-MM").as("cohort"))
        .agg(
          countDistinct($"o_custkey").as("n_customers"),
          countDistinct(when($"m" === 1, $"o_custkey")).as("active_m1"),
          countDistinct(when($"m" === 2, $"o_custkey")).as("active_m2"),
          countDistinct(when($"m" === 3, $"o_custkey")).as("active_m3"),
          (countDistinct(when($"m" === 1, $"o_custkey")) * 100.0 /
            countDistinct($"o_custkey")).as("retention_m1_pct"))
        .orderBy($"cohort")
    },
    Some("""WITH first AS (
      |  SELECT o_custkey, MIN(o_orderdate) AS first_dt
      |  FROM orders GROUP BY o_custkey),
      |c AS (
      |  SELECT o.o_custkey, strftime(f.first_dt, '%Y-%m') AS cohort,
      |         (year(o.o_orderdate) * 12 + month(o.o_orderdate))
      |         - (year(f.first_dt) * 12 + month(f.first_dt)) AS m
      |  FROM orders o JOIN first f ON o.o_custkey = f.o_custkey)
      |SELECT cohort,
      |       COUNT(DISTINCT o_custkey) AS n_customers,
      |       COUNT(DISTINCT CASE WHEN m = 1 THEN o_custkey END) AS active_m1,
      |       COUNT(DISTINCT CASE WHEN m = 2 THEN o_custkey END) AS active_m2,
      |       COUNT(DISTINCT CASE WHEN m = 3 THEN o_custkey END) AS active_m3,
      |       COUNT(DISTINCT CASE WHEN m = 1 THEN o_custkey END) * 100.0
      |         / COUNT(DISTINCT o_custkey) AS retention_m1_pct
      |FROM c GROUP BY cohort ORDER BY cohort""".stripMargin),
    doc = "cohort retention by first-order month (+1/+2/+3 active rates). " +
      "Two shuffles total: per-customer first-order aggregate, then the cohort rollup; the join back rides the aggregate's own key (co-partitioned).")

  /** q92 — histogram-sketch quantiles (the q63-HLL treatment applied to
    * percentiles): p50/p95 of l_extendedprice per return flag from a
    * fixed 1024-bin integer histogram instead of the exact path's
    * global per-group sort (q21 stays the exactness baseline).
    *
    * Scale design: ONE scan into a map-side-combinable (flag, bin)
    * aggregate whose output is bounded (flags × 1024 rows) no matter
    * the data size; the cumulative window then runs on that tiny frame.
    * Exact percentiles shuffle every raw value; this shuffles ≤ 1024
    * counters per group — the standard big-data quantile design
    * (histogram/t-digest family), made ORACLE-MATCHABLE by integer
    * binning: prices → cents (exact BIGINT), bin = (xc-lo)·1024 div
    * span, estimate = the crossing bin's lower edge — every step
    * integer arithmetic both engines compute bit-identically.
    */
  val q92 = Q(
    "q92_histogram_quantile",
    (s, dir) => {
      import s.implicits._
      val B = 1024L
      val li = Tables.load(s, dir, "lineitem")
        .select($"l_returnflag".as("flag"),
          expr("cast(round(l_extendedprice * 100) as bigint)").as("xc"))
      val bounds = li.agg(min($"xc").as("loc"),
                          (max($"xc") - min($"xc") + 1L).as("span"))
      val hist = li.crossJoin(broadcast(bounds))
        .withColumn("bin", expr(s"(xc - loc) * $B div span"))
        .groupBy($"flag", $"bin")
        .agg(count(lit(1)).as("cnt"),
             first($"loc").as("loc"), first($"span").as("span"))
      val w = Window.partitionBy($"flag").orderBy($"bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum($"cnt").over(w))
        .withColumn("n", sum($"cnt").over(Window.partitionBy($"flag")))
      def est(p: Int) = min(when($"cum" * 100L >= lit(p.toLong) * $"n",
        expr(s"loc + bin * span div $B"))).as(s"p${p}_cents")
      cum.groupBy($"flag")
        .agg(first($"n").as("n"), est(50), est(95))
        .orderBy($"flag")
    },
    Some("""WITH x AS (
      |  SELECT l_returnflag AS flag,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS xc
      |  FROM lineitem),
      |b AS (
      |  SELECT MIN(xc) AS loc, MAX(xc) - MIN(xc) + 1 AS span FROM x),
      |hist AS (
      |  SELECT flag, (xc - loc) * 1024 // span AS bin, COUNT(*) AS cnt,
      |         MIN(loc) AS loc, MIN(span) AS span
      |  FROM x CROSS JOIN b GROUP BY 1, 2),
      |cum AS (
      |  SELECT flag, bin, cnt, loc, span,
      |         CAST(SUM(cnt) OVER (PARTITION BY flag ORDER BY bin
      |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |         CAST(SUM(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
      |  FROM hist)
      |SELECT flag, MIN(n) AS n,
      |       CAST(MIN(CASE WHEN cum * 100 >= 50 * n
      |                     THEN loc + bin * span // 1024 END) AS BIGINT) AS p50_cents,
      |       CAST(MIN(CASE WHEN cum * 100 >= 95 * n
      |                     THEN loc + bin * span // 1024 END) AS BIGINT) AS p95_cents
      |FROM cum GROUP BY flag ORDER BY flag""".stripMargin),
    doc = "A8 scale path: 1024-bin integer histogram quantiles (bounded aggregate, no raw-value shuffle). " +
      "Sketch quantiles: one scan into a bounded (flag, bin) map-side-combinable aggregate; cumulative window runs on ≤1024 rows per group — no raw-value shuffle (q21 is the exact baseline).")

  val all: Seq[Q] = Seq(q17, q18, q19, q20, q21, q22, q23, q24, q25, q26,
    q27, q28, q29, q30, q57, q58, q59, q62, q63, q64, q65, q70, q71, q74, q92)
}
