package graft.graph

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Directed trade-flow reciprocity over the supplier-nation →
  * customer-nation revenue graph — the DIRECTED-graph statistic the
  * undirected co-purchase family (q137/q152/q166) cannot ask: q166's
  * assortativity ignores direction entirely, but trade flows have
  * one, and "how much of what nation A ships to B does B ship back"
  * (weighted dyad reciprocity, Squartini et al. 2013) plus each
  * nation's net position is the first thing a flow analyst reads off
  * an exchange network.
  *
  * Exactness: edge weights are exact revenue cents (decimal-summed);
  * min(w_ij, w_ji), in/out/net sums are all exact longs; the only
  * float is one IEEE reciprocity ratio per nation.
  *
  * Scale shape: ONE pass over lineitem with two broadcast dimension
  * hops (supplier, customer) and one orderkey equi-join, collapsing
  * map-side to the ≤ 25×24 nation-pair frame behind a Barrier; the
  * reversed-pair join, dyad mins, and per-nation report are
  * constant-size epilogue frames. At 100 TB only the lineitem⋈orders
  * join shuffles corpus-sized data, on its natural key.
  */
object TradeFlows {

  val q240 = Q(
    "q240_trade_reciprocity",
    (s, dir) => {
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey", $"l_suppkey",
          expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)")
            .as("cents"))
      val sup = Tables.maybeBroadcast(Tables.load(s, dir, "supplier")
        .select($"s_suppkey", $"s_nationkey".as("src")))
      val ord = Tables.load(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val cust = Tables.maybeBroadcast(Tables.load(s, dir, "customer")
        .select($"c_custkey", $"c_nationkey".as("dst")))
      val flows = graft.Barrier(li
        .join(sup, $"l_suppkey" === $"s_suppkey")
        .join(ord, $"l_orderkey" === $"o_orderkey")
        .join(cust, $"o_custkey" === $"c_custkey")
        .filter($"src" =!= $"dst")
        .groupBy($"src", $"dst").agg(sum($"cents").as("w")))
      val dyads = flows.as("f")
        .join(flows.select($"src".as("dst"), $"dst".as("src"), $"w".as("wr")),
          Seq("src", "dst"), "left_outer")
        .select($"src", $"w", least($"w", coalesce($"wr", lit(0L))).as("mn"))
      val outAgg = dyads.groupBy($"src".as("nk"))
        .agg(sum($"w").as("out_cents"), sum($"mn").as("rec_cents"))
      val inAgg = flows.groupBy($"dst".as("nk")).agg(sum($"w").as("in_cents"))
      val nat = Tables.maybeBroadcast(Tables.load(s, dir, "nation")
        .select($"n_nationkey".as("nk"), $"n_name"))
      outAgg.join(inAgg, Seq("nk"), "full_outer")
        .join(nat, "nk")
        .select($"n_name",
          coalesce($"out_cents", lit(0L)).as("out_cents"),
          coalesce($"in_cents", lit(0L)).as("in_cents"),
          (coalesce($"out_cents", lit(0L)) - coalesce($"in_cents", lit(0L)))
            .as("net_cents"),
          when(coalesce($"out_cents", lit(0L)) === 0, lit(null).cast("double"))
            .otherwise(coalesce($"rec_cents", lit(0L)).cast("double")
              / $"out_cents".cast("double")).as("reciprocity"))
        .orderBy($"n_name")
    },
    Some("""WITH flows AS MATERIALIZED (
      |  SELECT s_nationkey AS src, c_nationkey AS dst,
      |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  WHERE s_nationkey <> c_nationkey
      |  GROUP BY 1, 2),
      |dyads AS (
      |  SELECT f.src, f.w,
      |         least(f.w, COALESCE(g.w, 0)) AS mn
      |  FROM flows f LEFT JOIN flows g ON g.src = f.dst AND g.dst = f.src),
      |outa AS (
      |  SELECT src AS nk, CAST(SUM(w) AS BIGINT) AS out_cents,
      |         CAST(SUM(mn) AS BIGINT) AS rec_cents
      |  FROM dyads GROUP BY 1),
      |ina AS (
      |  SELECT dst AS nk, CAST(SUM(w) AS BIGINT) AS in_cents
      |  FROM flows GROUP BY 1)
      |SELECT n_name,
      |       COALESCE(out_cents, 0) AS out_cents,
      |       COALESCE(in_cents, 0) AS in_cents,
      |       COALESCE(out_cents, 0) - COALESCE(in_cents, 0) AS net_cents,
      |       CASE WHEN COALESCE(out_cents, 0) = 0 THEN NULL
      |            ELSE CAST(COALESCE(rec_cents, 0) AS DOUBLE)
      |               / CAST(out_cents AS DOUBLE) END AS reciprocity
      |FROM outa FULL OUTER JOIN ina USING (nk)
      |JOIN nation ON n_nationkey = nk
      |ORDER BY n_name""".stripMargin),
    doc = "graph: weighted dyad reciprocity + net position per nation over the directed supplier->customer revenue-flow graph — exact-cent edge weights, 25-row report. " +
      "Reciprocity: one corpus pass — two broadcast dim hops + the natural-key lineitem-orders equi-join — collapses map-side to the <=25x24 pair frame behind a Barrier; dyad mins and the 25-row report are epilogue.")

  val all: Seq[Q] = Seq(q240)
}
