package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Equi-depth-histogram selectivity estimation, audited — the
  * optimizer stats question behind q242's zone maps and q247's skew
  * plan: an engine keeps a 20-bucket equi-depth histogram per column
  * and estimates range-predicate selectivity by uniform interpolation
  * inside the boundary bucket (Selinger et al. 1979 → every modern
  * CBO). This query builds that histogram on order value, estimates
  * eight `o_totalprice ≤ t` predicates from the STATS ONLY, and
  * audits them against the exact answer — the measured estimation
  * error a planner would carry into join sizing.
  *
  * Exactness: bucket assignment is NTILE(20) over the deterministic
  * (cents, orderkey) order; bucket stats (n, min, max) and actual
  * row counts are exact longs; each estimate sums 20 per-bucket IEEE
  * contributions via an ordered left-fold by bucket id (the q222
  * association discipline).
  *
  * Scale shape: one corpus pass to per-order cents; the histogram
  * sort is the only corpus-ordered step (a real engine samples here;
  * the audit keeps it exact so the ERROR measures the model, not the
  * sample); everything after runs on the 20-row stats frame × 8
  * probes. 8 rows out.
  */
object HistogramEstimate {

  val Buckets = 20
  /** Probe thresholds in whole dollars. */
  val ProbesDollars: Seq[Long] = Seq(50000L, 100000L, 150000L, 200000L,
    250000L, 300000L, 400000L, 500000L)

  val q254 = Q(
    "q254_histogram_selectivity",
    (s, dir) => {
      import s.implicits._
      val vals = graft.Barrier(Tables.load(s, dir, "orders")
        .select($"o_orderkey".as("ok"),
          expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")
            .as("cents")))
      val hist = vals
        .withColumn("bid", ntile(Buckets).over(Window.orderBy($"cents", $"ok")))
        .groupBy($"bid")
        .agg(count(lit(1)).as("n"), min($"cents").as("mn"), max($"cents").as("mx"))
      val probes = ProbesDollars.toDF("t_dollars")
        .select($"t_dollars", ($"t_dollars" * 100).as("t"))
      val est = broadcast(probes).crossJoin(hist)
        .select($"t_dollars", $"t", $"bid",
          when($"mx" <= $"t", $"n".cast("double"))
            .when($"mn" > $"t", lit(0d))
            .otherwise($"n".cast("double")
              * (($"t" - $"mn").cast("double") / ($"mx" - $"mn").cast("double")))
            .as("contrib"))
        .groupBy($"t_dollars", $"t")
        .agg(expr("aggregate(sort_array(collect_list(named_struct(" +
          "'bid', bid, 'c', contrib))), 0D, (a, x) -> a + x.c)").as("est_rows"))
      val act = broadcast(probes).crossJoin(vals)
        .groupBy($"t_dollars")
        .agg(sum(when($"cents" <= $"t", 1L).otherwise(0L)).as("act_rows"),
          count(lit(1)).as("total_rows"))
      est.join(act, Seq("t_dollars"))
        .select($"t_dollars", $"est_rows", $"act_rows", $"total_rows",
          ($"est_rows" - $"act_rows".cast("double")).as("err_rows"),
          (($"est_rows" - $"act_rows".cast("double")) * lit(100d)
            / $"total_rows".cast("double")).as("err_pct_of_table"))
        .orderBy($"t_dollars")
    },
    Some(s"""WITH vals AS MATERIALIZED (
      |  SELECT o_orderkey AS ok,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |hist AS MATERIALIZED (
      |  SELECT bid, COUNT(*) AS n, CAST(MIN(cents) AS BIGINT) AS mn,
      |         CAST(MAX(cents) AS BIGINT) AS mx
      |  FROM (SELECT CAST(NTILE($Buckets) OVER (ORDER BY cents, ok) AS INT) AS bid,
      |               cents
      |        FROM vals)
      |  GROUP BY 1),
      |probes AS (
      |  SELECT CAST(UNNEST([${ProbesDollars.mkString(", ")}]) AS BIGINT) AS t_dollars),
      |est AS (
      |  SELECT p.t_dollars,
      |         list_reduce(
      |           list(CASE WHEN h.mx <= p.t_dollars * 100 THEN CAST(h.n AS DOUBLE)
      |                     WHEN h.mn > p.t_dollars * 100 THEN 0e0
      |                     ELSE CAST(h.n AS DOUBLE)
      |                          * (CAST(p.t_dollars * 100 - h.mn AS DOUBLE)
      |                             / CAST(h.mx - h.mn AS DOUBLE)) END
      |                ORDER BY h.bid),
      |           (a, b) -> a + b) AS est_rows
      |  FROM probes p, hist h GROUP BY 1),
      |act AS (
      |  SELECT p.t_dollars,
      |         CAST(SUM(CASE WHEN v.cents <= p.t_dollars * 100 THEN 1 ELSE 0 END) AS BIGINT) AS act_rows,
      |         COUNT(*) AS total_rows
      |  FROM probes p, vals v GROUP BY 1)
      |SELECT e.t_dollars, e.est_rows, a.act_rows, a.total_rows,
      |       e.est_rows - CAST(a.act_rows AS DOUBLE) AS err_rows,
      |       (e.est_rows - CAST(a.act_rows AS DOUBLE)) * 100e0
      |         / CAST(a.total_rows AS DOUBLE) AS err_pct_of_table
      |FROM est e JOIN act a USING (t_dollars)
      |ORDER BY t_dollars""".stripMargin),
    doc = "engine: equi-depth histogram (20 buckets) selectivity estimates for eight order-value range predicates, audited against exact counts — the CBO stats-error measurement. " +
      "HistSel: one pass to per-order cents behind a Barrier with two consumers (histogram + exact probe counts); the NTILE sort is the audit's deliberate exactness cost; estimates run on the 20-row stats frame x 8 probes.")

  val all: Seq[Q] = Seq(q254)
}
