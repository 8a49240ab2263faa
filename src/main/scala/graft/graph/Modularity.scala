package graft.graph

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Newman modularity (Newman & Girvan 2004, weighted form) of the
  * REGION partition on the undirected nation trade graph — q240 reads
  * the flows; this asks whether geography actually organizes them:
  * Q = Σ_c [ e_c/m − (d_c/2m)² ] compares each region's internal
  * trade weight against the random-graph expectation from its degree
  * mass. Q near 0 ⇒ regions are no more self-trading than chance —
  * the number a community-detection pass would try to beat.
  *
  * Graph: nodes = nations, undirected edge weight u_ij = w_ij + w_ji
  * in exact revenue cents (q240's flow construction, symmetrized);
  * partition = the region dimension.
  *
  * Exactness: m, e_c, d_c are exact longs; each region's contribution
  * is one IEEE expression of exact integers; the GLOBAL Q sums five
  * IEEE doubles via an ordered left-fold by region name (the q222
  * association discipline).
  *
  * Scale shape: one corpus pass collapses map-side to the ≤ 25×24
  * nation-pair frame behind a Barrier (q240's shape); symmetrization,
  * per-region masses, and the 5-row report are constant-size
  * epilogue. At 100 TB only the lineitem⋈orders join moves data.
  */
object Modularity {

  val q252 = Q(
    "q252_trade_modularity",
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
      val flows = li
        .join(sup, $"l_suppkey" === $"s_suppkey")
        .join(ord, $"l_orderkey" === $"o_orderkey")
        .join(cust, $"o_custkey" === $"c_custkey")
        .filter($"src" =!= $"dst")
        .groupBy($"src", $"dst").agg(sum($"cents").as("w"))
      // Undirected half-edges: every directed flow contributes its full
      // weight to BOTH endpoints' degree and (i<j once) to u_ij.
      val und = graft.Barrier(flows
        .select(least($"src", $"dst").as("i"), greatest($"src", $"dst").as("j"),
          $"w")
        .groupBy($"i", $"j").agg(sum($"w").as("u")))
      val natRegion = Tables.maybeBroadcast(
        Tables.load(s, dir, "nation").select($"n_nationkey".as("nk"), $"n_regionkey")
          .join(Tables.load(s, dir, "region")
            .select($"r_regionkey".as("n_regionkey"), $"r_name"), Seq("n_regionkey"))
          .select($"nk", $"r_name".as("reg")))
      val tagged = und
        .join(natRegion.select($"nk".as("i"), $"reg".as("reg_i")), Seq("i"))
        .join(natRegion.select($"nk".as("j"), $"reg".as("reg_j")), Seq("j"))
      val m = tagged.agg(sum($"u").as("m_cents"))
      val degree = tagged
        .select(explode(array(struct($"reg_i".as("reg"), $"u"),
          struct($"reg_j".as("reg"), $"u"))).as("h"))
        .groupBy($"h.reg".as("reg")).agg(sum($"h.u").as("d_cents"))
      val internal = tagged.filter($"reg_i" === $"reg_j")
        .groupBy($"reg_i".as("reg")).agg(sum($"u").as("e_cents"))
      val perReg = degree.join(internal, Seq("reg"), "left_outer")
        .crossJoin(broadcast(m))
        .select($"reg", coalesce($"e_cents", lit(0L)).as("e_cents"), $"d_cents",
          $"m_cents",
          (coalesce($"e_cents", lit(0L)).cast("double") / $"m_cents".cast("double")
            - ($"d_cents".cast("double") / (lit(2d) * $"m_cents".cast("double")))
            * ($"d_cents".cast("double") / (lit(2d) * $"m_cents".cast("double"))))
            .as("contribution"))
      val glob = perReg
        .agg(expr("aggregate(sort_array(collect_list(named_struct(" +
          "'reg', reg, 't', contribution))), 0D, (a, x) -> a + x.t)")
          .as("modularity"))
      perReg.crossJoin(broadcast(glob))
        .select($"reg", $"e_cents", $"d_cents", $"m_cents", $"contribution",
          $"modularity")
        .orderBy($"reg")
    },
    Some("""WITH flows AS (
      |  SELECT s_nationkey AS src, c_nationkey AS dst,
      |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  WHERE s_nationkey <> c_nationkey
      |  GROUP BY 1, 2),
      |und AS MATERIALIZED (
      |  SELECT LEAST(src, dst) AS i, GREATEST(src, dst) AS j,
      |         CAST(SUM(w) AS BIGINT) AS u
      |  FROM flows GROUP BY 1, 2),
      |nr AS (
      |  SELECT n_nationkey AS nk, r_name AS reg
      |  FROM nation JOIN region ON r_regionkey = n_regionkey),
      |tagged AS (
      |  SELECT u.i, u.j, u.u, a.reg AS reg_i, b.reg AS reg_j
      |  FROM und u JOIN nr a ON a.nk = u.i JOIN nr b ON b.nk = u.j),
      |m AS (SELECT CAST(SUM(u) AS BIGINT) AS m_cents FROM tagged),
      |halves AS (
      |  SELECT reg_i AS reg, u FROM tagged
      |  UNION ALL
      |  SELECT reg_j AS reg, u FROM tagged),
      |degree AS (SELECT reg, CAST(SUM(u) AS BIGINT) AS d_cents FROM halves GROUP BY 1),
      |internal AS (
      |  SELECT reg_i AS reg, CAST(SUM(u) AS BIGINT) AS e_cents
      |  FROM tagged WHERE reg_i = reg_j GROUP BY 1),
      |perreg AS (
      |  SELECT d.reg, COALESCE(i.e_cents, 0) AS e_cents, d.d_cents, m.m_cents,
      |         CAST(COALESCE(i.e_cents, 0) AS DOUBLE) / CAST(m.m_cents AS DOUBLE)
      |           - (CAST(d.d_cents AS DOUBLE) / (2e0 * CAST(m.m_cents AS DOUBLE)))
      |           * (CAST(d.d_cents AS DOUBLE) / (2e0 * CAST(m.m_cents AS DOUBLE)))
      |           AS contribution
      |  FROM degree d LEFT JOIN internal i ON i.reg = d.reg, m),
      |gq AS (
      |  SELECT list_reduce(list(contribution ORDER BY reg), (a, b) -> a + b)
      |           AS modularity
      |  FROM perreg)
      |SELECT reg, e_cents, d_cents, m_cents, contribution, modularity
      |FROM perreg, gq ORDER BY reg""".stripMargin),
    doc = "graph: Newman modularity of the region partition on the undirected nation trade graph — exact-cent edge masses, per-region contributions, ordered-fold global Q. " +
      "Modularity: q240's flow collapse (two broadcast dim hops + the natural-key orders join) to the <=25x24 pair frame behind a Barrier; symmetrize/degree/internal masses and the 5-row report are constant-size epilogue.")

  val all: Seq[Q] = Seq(q252)
}
