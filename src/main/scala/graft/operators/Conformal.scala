package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Split-conformal prediction intervals (Vovk et al.; the
  * distribution-free coverage guarantee modern ML eval runs on): per
  * market segment, fit the trivial model (calibration-half mean),
  * take the conformal quantile of absolute calibration residuals at
  * 90%, and AUDIT the guarantee by measuring empirical coverage on
  * the held-out half. The split is the deterministic orderkey parity
  * (odd = calibrate, even = test); the report is per-segment n_cal,
  * n_test, the interval half-width, and the coverage the 90% claim
  * actually achieved — the table that certifies (or indicts) an
  * uncertainty quantifier.
  *
  * Exactness: the segment mean is the rational S/n, so residuals ride
  * as the EXACT scaled integers |n·y − S| (cents × n_cal) — rank
  * selection and the coverage comparisons are pure integer
  * arithmetic; q_hat = the ⌈0.9·(n_cal+1)⌉-th smallest scaled
  * residual (the finite-sample conformal index, integer-computed);
  * only the reported half-width divides back to dollars (one IEEE
  * division each).
  *
  * Scale shape: the rank pass is one per-segment window over the
  * calibration half (the q21/q210 exact-order-statistic stance — the
  * q92 histogram is the 100 TB swap); the coverage pass is one
  * map-side-combinable aggregate against the broadcast 5-row
  * (S, n, q_hat) frame.
  */
object Conformal {

  val CovPct = 90

  val q214 = Q(
    "q214_conformal_coverage",
    (s, dir) => {
      import s.implicits._
      val o = Tables.maybeBroadcast(Tables.load(s, dir, "customer"))
        .join(Tables.load(s, dir, "orders"), $"c_custkey" === $"o_custkey")
        .select($"c_mktsegment".as("seg"), $"o_orderkey",
          (graft.Q.money($"o_totalprice") * 100).cast("long").as("y"))
      val cal = o.filter($"o_orderkey" % 2 === 1)
      val tst = o.filter($"o_orderkey" % 2 === 0)
      val model = cal.groupBy($"seg")
        .agg(count(lit(1)).as("n_cal"),
          sum($"y".cast("decimal(38,0)")).as("s_cal"))
      val resid = cal.join(broadcast(model), "seg")
        .select($"seg", $"n_cal",
          abs($"y" * $"n_cal" - $"s_cal").as("r"))
      val w = Window.partitionBy($"seg").orderBy($"r")
      val qhat = resid.withColumn("rn", row_number().over(w))
        .filter($"rn" === expr(s"cast(ceil($CovPct * (n_cal + 1) / 100.0)" +
          " as bigint)"))
        .select($"seg", $"r".as("q_scaled"))
      val fit = broadcast(model.join(qhat, "seg"))
      tst.join(fit, "seg")
        .groupBy($"seg")
        .agg(max($"n_cal").as("n_cal"), count(lit(1)).as("n_test"),
          max(($"q_scaled".cast("double")
            / ($"n_cal".cast("double") * 100.0))).as("half_width_dollars"),
          count_if(abs($"y" * $"n_cal" - $"s_cal") <= $"q_scaled")
            .as("n_covered"))
        .withColumn("coverage",
          $"n_covered".cast("double") / $"n_test".cast("double"))
        .orderBy($"seg")
    },
    Some(s"""WITH o AS (
      |  SELECT c_mktsegment AS seg, o_orderkey,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |  FROM customer JOIN orders ON c_custkey = o_custkey),
      |cal AS (SELECT * FROM o WHERE o_orderkey % 2 = 1),
      |tst AS (SELECT * FROM o WHERE o_orderkey % 2 = 0),
      |model AS (
      |  SELECT seg, COUNT(*) AS n_cal, SUM(CAST(y AS HUGEINT)) AS s_cal
      |  FROM cal GROUP BY 1),
      |resid AS (
      |  SELECT c.seg, m.n_cal, abs(c.y * m.n_cal - m.s_cal) AS r
      |  FROM cal c JOIN model m USING (seg)),
      |qhat AS (
      |  SELECT seg, r AS q_scaled FROM (
      |    SELECT seg, r, n_cal,
      |           ROW_NUMBER() OVER (PARTITION BY seg ORDER BY r) AS rn
      |    FROM resid)
      |  WHERE rn = CAST(ceil($CovPct * (n_cal + 1) / 100.0) AS BIGINT))
      |SELECT t.seg, CAST(MAX(m.n_cal) AS BIGINT) AS n_cal,
      |       COUNT(*) AS n_test,
      |       MAX(CAST(q.q_scaled AS DOUBLE)
      |           / (CAST(m.n_cal AS DOUBLE) * 100.0)) AS half_width_dollars,
      |       CAST(COUNT(CASE WHEN abs(t.y * m.n_cal - m.s_cal) <= q.q_scaled
      |                       THEN 1 END) AS BIGINT) AS n_covered,
      |       CAST(COUNT(CASE WHEN abs(t.y * m.n_cal - m.s_cal) <= q.q_scaled
      |                       THEN 1 END) AS DOUBLE) / COUNT(*) AS coverage
      |FROM tst t JOIN model m USING (seg) JOIN qhat q USING (seg)
      |GROUP BY 1 ORDER BY 1""".stripMargin),
    doc = s"stats: split-conformal $CovPct% interval calibration per segment — scaled-integer residual ranks, measured held-out coverage. " +
      "Conformal: residuals ride exact scaled integers |n*y - S| so rank selection and coverage are integer-only; the rank pass is one per-segment window over the calibration half (q21 exactness-baseline stance); the test pass is map-side against a 5-row broadcast.")

  val all: Seq[Q] = Seq(q214)
}
