package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optional demographic filters for [[Search.customers]] — the engine
  * analog of the reference's `PatientSearchRequest`
  * (healthcare-api-main.py:100-111): every field unset means "no
  * predicate", set fields compose as AND.
  *
  * Role mapping onto the testdata schema: market segment ≈ gender,
  * nation ≈ race, account-balance range ≈ the derived birth-year age
  * range (healthcare-api-main.py:254-259), order-priority IN-list ≈ the
  * diagnosis-code encounter semi-join (healthcare-api-main.py:262-265).
  */
final case class SearchParams(
    mktSegment: Option[String] = None,
    nationName: Option[String] = None,
    minBal: Option[Double] = None,
    maxBal: Option[Double] = None,
    orderPriorities: Option[Seq[String]] = None)

/** Parameters for [[Search.encounterMetrics]] — the analog of
  * `EncounterMetricsRequest` (healthcare-api-main.py:113-126):
  * a [start, end) date range, an optional encounter-type equality
  * filter, and a validated day|week|month|quarter grouping period.
  */
final case class MetricsParams(
    startDate: String,
    endDate: String,
    orderStatus: Option[String] = None,
    groupBy: String = "month")

/** E2 — the parameterized search query-builder: the one reusable API a
  * consumer of the reference reaches for first (search_patients,
  * healthcare-api-main.py:236-288; encounter metrics :293-330). The
  * reference builds its SQL incrementally from optional request fields;
  * here each set field contributes a `Column` predicate and Catalyst
  * folds the composed plan — unset filters cost nothing, set equality/
  * range filters reach the parquet scan as PushedFilters, and the
  * IN-list filter is a LEFT SEMI join exactly like the reference's
  * `query.join(Encounter).filter(in_)`.
  *
  * Scale: the only join in the search path is a broadcast of the
  * 25-row nation dim plus an optional semi-join that shuffles just
  * (custkey) pairs; the metrics path is one map-side-combinable
  * aggregate over a date-pruned scan.
  */
object Search {

  private val Periods = Set("day", "week", "month", "quarter")

  /** Mirrors the reference's request validators
    * (healthcare-api-main.py:107-111, :117, :121-126): reject an
    * inverted range or an unknown grouping period up front.
    */
  def validate(p: SearchParams): Unit =
    for (lo <- p.minBal; hi <- p.maxBal)
      require(hi >= lo, s"maxBal ($hi) must be >= minBal ($lo)")

  def validate(p: MetricsParams): Unit = {
    require(p.startDate <= p.endDate,
      s"endDate (${p.endDate}) must be >= startDate (${p.startDate})")
    require(Periods(p.groupBy),
      s"groupBy must be one of ${Periods.mkString("|")}, got ${p.groupBy}")
  }

  /** The matching customer row set (with nation name joined in). */
  def customers(s: SparkSession, dir: String, p: SearchParams): DataFrame = {
    validate(p)
    import s.implicits._
    val cust = Tables.load(s, dir, "customer")
    val nat = Tables.load(s, dir, "nation")
      .select($"n_nationkey", $"n_name")
    val withNation = cust.join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
    val conds: Seq[Column] = Seq(
      p.mktSegment.map($"c_mktsegment" === _),
      p.nationName.map($"n_name" === _),
      p.minBal.map($"c_acctbal" >= _),
      p.maxBal.map($"c_acctbal" <= _)).flatten
    val base = conds.foldLeft(withNation)(_ filter _)
    p.orderPriorities.filter(_.nonEmpty) match {
      case Some(ps) =>
        val matching = Tables.load(s, dir, "orders")
          .filter($"o_orderpriority".isin(ps: _*))
          .select($"o_custkey")
        base.join(matching, $"c_custkey" === $"o_custkey", "left_semi")
      case None => base
    }
  }

  /** De-identified demographics of the matching set — the reference's
    * response shape (three distributions, healthcare-api-main.py:
    * 280-287) as ONE relational frame tagged by dimension, so it stays
    * oracle-checkable.
    */
  def demographics(s: SparkSession, dir: String, p: SearchParams): DataFrame = {
    import s.implicits._
    val band = when($"c_acctbal" < 3000, "low")
      .when($"c_acctbal" < 6000, "mid")
      .otherwise("high")
    val base = customers(s, dir, p)
      .select($"c_mktsegment", $"n_name", band.as("bal_band"))
      .cache()
    def dist(dim: String, v: Column): DataFrame =
      base.groupBy(v.as("val")).agg(count(lit(1)).as("n"))
        .select(lit(dim).as("dim"), $"val", $"n")
    dist("segment", $"c_mktsegment")
      .unionByName(dist("nation", $"n_name"))
      .unionByName(dist("balance_band", $"bal_band"))
      .orderBy($"dim", $"val")
  }

  /** The period expression for each validated grouping — STRING-typed in
    * both engines (the q20 convention) so no date/timestamp physical
    * type can drift between Spark and the oracle.
    */
  private def periodCol(groupBy: String, d: Column): Column = groupBy match {
    case "day"     => date_format(d, "yyyy-MM-dd")
    case "week"    => date_format(date_trunc("week", d), "yyyy-MM-dd")
    case "month"   => date_format(d, "yyyy-MM")
    case "quarter" =>
      concat(year(d).cast("string"), lit("-Q"), quarter(d).cast("string"))
  }

  /** Time-bucketed encounter metrics (healthcare-api-main.py:300-330):
    * count, distinct patients, exact-decimal average charges, and the
    * urgent-encounter count per `groupBy` period in [startDate, endDate).
    */
  def encounterMetrics(s: SparkSession, dir: String, p: MetricsParams): DataFrame = {
    validate(p)
    import s.implicits._
    val filtered = Tables.load(s, dir, "orders")
      .filter($"o_orderdate" >= lit(p.startDate) &&
              $"o_orderdate" < lit(p.endDate))
    val scoped = p.orderStatus
      .map(st => filtered.filter($"o_orderstatus" === st))
      .getOrElse(filtered)
    scoped
      .groupBy(periodCol(p.groupBy, $"o_orderdate").as("period"))
      .agg(
        count(lit(1)).as("n_encounters"),
        countDistinct($"o_custkey").as("n_patients"),
        Q.avgMoney($"o_totalprice").as("avg_charges"),
        count_if($"o_orderpriority" === "1-URGENT").as("n_urgent"))
      .orderBy($"period")
  }

  // ---- registered fixed-parameter instances (the correctness gate) ----

  private val q79Params = SearchParams(
    minBal = Some(1000.0), maxBal = Some(8000.0),
    orderPriorities = Some(Seq("1-URGENT", "2-HIGH")))

  val q79 = Q(
    "q79_search_builder",
    (s, dir) => demographics(s, dir, q79Params),
    Some("""WITH base AS (
      |  SELECT c.c_mktsegment, n.n_name, c.c_acctbal
      |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  WHERE c.c_acctbal >= 1000 AND c.c_acctbal <= 8000
      |    AND EXISTS (SELECT 1 FROM orders o
      |                WHERE o.o_custkey = c.c_custkey
      |                  AND o.o_orderpriority IN ('1-URGENT', '2-HIGH')))
      |SELECT dim, val, COUNT(*) AS n FROM (
      |  SELECT 'segment' AS dim, c_mktsegment AS val FROM base
      |  UNION ALL
      |  SELECT 'nation', n_name FROM base
      |  UNION ALL
      |  SELECT 'balance_band',
      |         CASE WHEN c_acctbal < 3000 THEN 'low'
      |              WHEN c_acctbal < 6000 THEN 'mid'
      |              ELSE 'high' END
      |  FROM base)
      |GROUP BY dim, val
      |ORDER BY dim, val""".stripMargin),
    doc = "E2: parameterized patient-search builder (range + IN-list semi-join → demographics). " +
      "Composable search: broadcast nation dim, pushed range filters, LEFT SEMI for the IN-list — the query-builder compiles to the same plan hand-written predicates would.")

  private val q80Params = MetricsParams(
    startDate = "1996-01-01", endDate = "1997-01-01",
    orderStatus = Some("F"), groupBy = "quarter")

  val q80 = Q(
    "q80_metrics_builder",
    (s, dir) => encounterMetrics(s, dir, q80Params),
    Some(s"""SELECT CAST(year(o_orderdate) AS VARCHAR) || '-Q' ||
      |         CAST(quarter(o_orderdate) AS VARCHAR) AS period,
      |       COUNT(*) AS n_encounters,
      |       COUNT(DISTINCT o_custkey) AS n_patients,
      |       ${Q.oAvg("o_totalprice")} AS avg_charges,
      |       CAST(COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
      |            AS BIGINT) AS n_urgent
      |FROM orders
      |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
      |  AND o_orderstatus = 'F'
      |GROUP BY period
      |ORDER BY period""".stripMargin),
    doc = "E2: parameterized encounter-metrics builder (date range + status + date_trunc period). " +
      "Parameterized builder compiles to the same pushed-filter + broadcast-dim physical plan as hand-written predicates — composability costs nothing at runtime.")

  val all: Seq[Q] = Seq(q79, q80)
}
