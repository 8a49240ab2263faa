package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** HBOS — histogram-based outlier score (Goldstein & Dengel 2012), the
  * linear-time unsupervised anomaly detector: score each order by the
  * summed rarity of its feature-value buckets across four independent
  * histograms (price band, order priority, order status, order
  * month). An order is anomalous when SEVERAL of its features sit in
  * thin buckets — the multivariate surprise a single-column z-scan
  * (q24) or MAD fence (q158) cannot see. Reports the top-20 with the
  * per-feature breakdown so the analyst sees WHY each row scored.
  *
  * Determinism (the q116/q203 surprisal stance): HBOS's Σ log(1/p_f)
  * rides as the quantized integer surp_q(f, v) = N·10⁶ div cnt(f, v)
  * — a monotone transform of each feature's inverse density, exact in
  * both engines (positive operands, truncating div ≡ flooring //);
  * the total is an exact integer sum of four terms; top-20 ties break
  * on o_orderkey.
  *
  * Scale shape: each histogram is one map-side-combinable aggregate
  * onto a DOMAIN-bounded frame (≤20 price bands, 5 priorities, 3
  * statuses, 12 months) that broadcasts back onto the fact scan; the
  * scoring pass is join-free per row beyond those broadcasts, and the
  * top-20 is a TakeOrdered (per-partition heaps, no global sort).
  */
object Hbos {

  val Quantum = 1000000L
  val PriceBand = 25000.0

  val q206 = Q(
    "q206_hbos_anomaly",
    (s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders").select($"o_orderkey",
        floor($"o_totalprice" / PriceBand).cast("int").as("pb"),
        $"o_orderpriority".as("pri"), $"o_orderstatus".as("st"),
        month($"o_orderdate").as("mo"))
      val feats = graft.Barrier(o)
      val n = feats.agg(count(lit(1)).as("n"))
      def hist(col: String) = feats.groupBy(expr(col))
        .agg(count(lit(1)).as(s"c_$col"))
        .crossJoin(broadcast(n))
        .select(expr(col),
          expr(s"cast((cast(n as decimal(38,0)) * $Quantum)" +
            s" div c_$col as bigint)").as(s"s_$col"))
      feats
        .join(broadcast(hist("pb")), "pb")
        .join(broadcast(hist("pri")), "pri")
        .join(broadcast(hist("st")), "st")
        .join(broadcast(hist("mo")), "mo")
        .select($"o_orderkey", $"pb", $"pri", $"st", $"mo",
          ($"s_pb" + $"s_pri" + $"s_st" + $"s_mo").as("hbos_q"))
        .orderBy($"hbos_q".desc, $"o_orderkey")
        .limit(20)
    },
    Some(s"""WITH feats AS (
      |  SELECT o_orderkey,
      |         CAST(floor(o_totalprice / $PriceBand) AS INT) AS pb,
      |         o_orderpriority AS pri, o_orderstatus AS st,
      |         CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo
      |  FROM orders),
      |n AS (SELECT COUNT(*) AS n FROM feats),
      |h_pb AS (SELECT pb, CAST((SELECT n FROM n) * ${Quantum}::HUGEINT
      |                         // COUNT(*) AS BIGINT) AS s_pb
      |         FROM feats GROUP BY 1),
      |h_pri AS (SELECT pri, CAST((SELECT n FROM n) * ${Quantum}::HUGEINT
      |                           // COUNT(*) AS BIGINT) AS s_pri
      |          FROM feats GROUP BY 1),
      |h_st AS (SELECT st, CAST((SELECT n FROM n) * ${Quantum}::HUGEINT
      |                         // COUNT(*) AS BIGINT) AS s_st
      |         FROM feats GROUP BY 1),
      |h_mo AS (SELECT mo, CAST((SELECT n FROM n) * ${Quantum}::HUGEINT
      |                         // COUNT(*) AS BIGINT) AS s_mo
      |         FROM feats GROUP BY 1)
      |SELECT o_orderkey, f.pb, f.pri, f.st, f.mo,
      |       s_pb + s_pri + s_st + s_mo AS hbos_q
      |FROM feats f
      |JOIN h_pb USING (pb) JOIN h_pri USING (pri)
      |JOIN h_st USING (st) JOIN h_mo USING (mo)
      |ORDER BY hbos_q DESC, o_orderkey LIMIT 20""".stripMargin),
    doc = "stats: HBOS multivariate anomaly top-20 over four domain-bounded histograms (quantized inverse-density surprisal, broadcast-only scoring). " +
      "HBOS: four domain-bounded histograms (<=20+5+3+12 rows) broadcast back onto the scan — scoring is join-free per row; top-20 via TakeOrdered per-partition heaps, no global sort.")

  val all: Seq[Q] = Seq(q206)
}
