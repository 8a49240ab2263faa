package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Declarative data-constraint suite — the dbt-test/Great-Expectations
  * surface as one operator: key uniqueness, referential integrity,
  * domain and null checks, each reported as (check_name, n_violations,
  * pass). The reference validates records imperatively row-by-row in
  * its ETL (`healthcare-data-pipeline-main.py` quality gates); this is
  * the declarative, full-relation form a warehouse runs after every
  * load.
  *
  * Scale design: all per-table checks share ONE aggregate pass over
  * that table (count_if / count-distinct branches stacked to long
  * format afterwards — 8 checks do not mean 8 scans), and referential
  * checks are LEFT ANTI joins that AQE broadcasts when the parent side
  * is small. Output is |checks| rows; everything upstream is
  * map-side-combinable.
  */
object Constraints {

  /** The check suite over explicit frames — spec fixtures inject
    * violations (the driver corpus is clean, so the registered query
    * certifies the zero path; the spec certifies counting).
    */
  private[operators] def checks(customer: DataFrame, orders: DataFrame,
                                lineitem: DataFrame): DataFrame = {
    val s = customer.sparkSession
    import s.implicits._
    val li = lineitem.agg(
      count_if($"l_discount" < 0 || $"l_discount" > 1).as("domain_lineitem_discount"),
      count_if($"l_quantity" <= 0).as("domain_lineitem_quantity_positive"))
    val ord = orders.agg(
      (count(lit(1)) - countDistinct($"o_orderkey")).as("unique_orders_key"),
      count_if($"o_orderdate".isNull).as("not_null_orders_date"),
      count_if(!$"o_orderstatus".isin("F", "O", "P"))
        .as("accepted_values_orders_status"))
    val cust = customer.agg(
      (count(lit(1)) - countDistinct($"c_custkey")).as("unique_customer_key"))
    val fkOrders = orders.join(customer,
        orders("o_custkey") === customer("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("fk_orders_customer"))
    val fkLineitem = lineitem.join(orders,
        lineitem("l_orderkey") === orders("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("fk_lineitem_orders"))
    def long(df: DataFrame): DataFrame = {
      val cols = df.columns
      df.select(expr(
        "stack(" + cols.length + ", " +
          cols.map(c => s"'$c', $c").mkString(", ") +
          ") as (check_name, n_violations)"))
    }
    Seq(li, ord, cust, fkOrders, fkLineitem).map(long)
      .reduce(_ unionByName _)
      .withColumn("pass", $"n_violations" === 0L)
      .orderBy($"check_name")
  }

  val q148 = Q(
    "q148_constraint_suite",
    (s, dir) => checks(
      Tables.load(s, dir, "customer"),
      Tables.load(s, dir, "orders"),
      Tables.load(s, dir, "lineitem")),
    Some("""SELECT check_name, n_violations, n_violations = 0 AS pass FROM (
      |  SELECT 'domain_lineitem_discount' AS check_name,
      |         CAST(COUNT(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) AS BIGINT) AS n_violations
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'domain_lineitem_quantity_positive',
      |         CAST(COUNT(CASE WHEN l_quantity <= 0 THEN 1 END) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'unique_orders_key',
      |         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'not_null_orders_date',
      |         CAST(COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'accepted_values_orders_status',
      |         CAST(COUNT(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 END) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'unique_customer_key',
      |         CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
      |  FROM customer
      |  UNION ALL
      |  SELECT 'fk_orders_customer',
      |         CAST(COUNT(*) AS BIGINT)
      |  FROM orders WHERE NOT EXISTS (
      |    SELECT 1 FROM customer WHERE c_custkey = o_custkey)
      |  UNION ALL
      |  SELECT 'fk_lineitem_orders',
      |         CAST(COUNT(*) AS BIGINT)
      |  FROM lineitem WHERE NOT EXISTS (
      |    SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))
      |ORDER BY check_name""".stripMargin),
    doc = "quality: declarative constraint suite (uniqueness, FK orphans, domains, nulls) — one aggregate pass per table. " +
      "Each constraint check is a 1-row violation-count aggregate (referential checks are anti-joins projected to bare keys); the suite unions |checks| single-row frames.")

  val all: Seq[Q] = Seq(q148)
}
