package graft.security

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Differential-privacy sensitivity calibration (Dwork et al. 2006) —
  * the fourth rung of the release ladder after q132 (k-anonymity,
  * l-diversity) and q189 (t-closeness): before adding Laplace/Gaussian
  * noise to a released aggregate, the publisher must know its L1
  * SENSITIVITY — the largest change ONE individual can cause. For the
  * (segment, year) order-count and revenue releases that is the
  * maximum per-customer contribution to any cell, and the noise scale
  * is sensitivity/ε. Reporting it per segment is the calibration
  * table a DP release signs off on; a surprise mega-customer here
  * means clipping is required before the mechanism is safe.
  *
  * Exactness: contributions are exact longs (order counts; revenue in
  * cents via the per-row decimal→long convention); maxima are exact;
  * the dollar conversion is one IEEE division by 100.
  *
  * Scale shape: two map-side-combinable aggregates — per
  * ((segment, year), customer) then per segment — with the dimension
  * side broadcast; nothing wider than the class frame ever shuffles.
  */
object DpSensitivity {

  val q197 = Q(
    "q197_dp_sensitivity",
    (s, dir) => {
      import s.implicits._
      val perUser = Tables.maybeBroadcast(Tables.load(s, dir, "customer"))
        .join(Tables.load(s, dir, "orders"), $"c_custkey" === $"o_custkey")
        .groupBy($"c_mktsegment", year($"o_orderdate").as("yr"), $"c_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum((graft.Q.money($"o_totalprice") * 100).cast("long"))
            .as("rev_cents"))
      perUser.groupBy($"c_mktsegment")
        .agg(countDistinct($"yr").as("n_cells"),
          max($"n_orders").as("count_sensitivity"),
          (max($"rev_cents").cast("double") / 100.0)
            .as("revenue_sensitivity"))
        .orderBy($"c_mktsegment")
    },
    Some("""WITH per_user AS (
      |  SELECT c_mktsegment, EXTRACT(year FROM o_orderdate) AS yr, c_custkey,
      |         COUNT(*) AS n_orders,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |                       AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM customer JOIN orders ON c_custkey = o_custkey
      |  GROUP BY 1, 2, 3)
      |SELECT c_mktsegment, COUNT(DISTINCT yr) AS n_cells,
      |       CAST(MAX(n_orders) AS BIGINT) AS count_sensitivity,
      |       CAST(MAX(rev_cents) AS DOUBLE) / 100.0 AS revenue_sensitivity
      |FROM per_user GROUP BY 1 ORDER BY 1""".stripMargin),
    doc = "privacy: DP L1-sensitivity calibration (max per-customer contribution to each released cell) — the noise-scale table. " +
      "DP sensitivity: customer dim broadcasts; two nested map-side-combinable aggregates (per-(cell, customer) then per-segment max) — nothing wider than the class frame shuffles; maxima are exact longs.")

  val all: Seq[Q] = Seq(q197)
}
