package graft.graph

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003) on
  * the co-purchase graph: score every NON-adjacent part pair at
  * distance 2 by hub-free neighborhood Jaccard |Γ′a∩Γ′b| / |Γ′a∪Γ′b| —
  * the classical "products bought together with the same things but
  * never yet together" recommendation candidate list. The graph family
  * so far describes structure (q137/q152/q166/q182/q207); this one
  * PREDICTS the missing edges.
  *
  * Hub cut (the zipf gate's catch): Γ′v keeps only neighbors of
  * degree ≤ [[HubCapMult]]× the average — a part co-bought with
  * everything mediates no pair signal, the super-node/stop-word cut
  * every production similarity miner applies. On a uniform degree
  * distribution the cap excludes nobody (max degree sits well under
  * 8× average at every test SF, so the cut is inert exactly where the
  * old semantics were fine); under a power law it is the difference
  * between a bounded wedge stream and Σ deg² — the first sf1-zipf run
  * spun >25 min in a spilling aggregate because the head part
  * (~5.7% of all basket rows) alone contributes deg² ≈ 10¹⁰ wedges.
  *
  * Exactness: common-neighbor counts come from the wedge join over the
  * hub-free edge sets, hub-free degrees from one aggregate,
  * |Γ′a∪Γ′b| = d′a + d′b − cn — all exact longs; the cap is integer
  * arithmetic (8 · (Σd div |V|)); the Jaccard is one mirrored IEEE
  * division; top-20 orders by (jaccard DESC, a, b) on bit-identical
  * doubles.
  *
  * Scale shape: the wedge pass joins the center-filtered edge lists on
  * the shared endpoint — Σ_{v: d(v)≤cap} deg(v)² ≤ cap·|E| work,
  * bounded per celebrity instead of quadratic in it; candidate pairs
  * compress map-side to (a, b, cn); adjacency removal is one anti-join
  * against the FULL edge list (hubs stay adjacency — the cut only
  * removes them as mediators, pairs may still be predicted FOR them);
  * degrees broadcast (vertex-bounded). Nothing larger than the wedge
  * stream ever exists, and it never materializes per-pair neighbor
  * SETS.
  */
object LinkPrediction {

  val MinWeight = 2
  val TopK = 20

  /** Wedge centers must have degree ≤ this multiple of the average.
    * 8× is far above any uniform-data maximum (cut provably inert
    * there) and far below a Zipf head vertex (cut provably binding).
    */
  val HubCapMult = 8

  val q216 = Q(
    "q216_link_prediction",
    (s, dir) => {
      import s.implicits._
      val lp = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")) // raw: basketPairs dedups per basket
      val e = graft.Barrier(GraphQueries.coEdges(lp, bySrc = true)
        .filter($"w" >= MinWeight).select($"src", $"dst"))
      val deg = e.groupBy($"src".as("node")).agg(count(lit(1)).as("d"))
      val capDf = deg.agg(
        (lit(HubCapMult) * expr("sum(d) div count(*)")).as("cap"))
      val nonHub = deg.crossJoin(broadcast(capDf))
        .filter($"d" <= $"cap").select($"node")
      // center-filtered edge roles: the wedge center is x.dst (= y.src)
      val eIn = e.join(broadcast(nonHub.select($"node".as("dst"))),
        Seq("dst"), "left_semi")
      val eOut = e.join(broadcast(nonHub.select($"node".as("src"))),
        Seq("src"), "left_semi")
      // hub-free degree d′(v) = |Γ′v| (the Jaccard's universe): count
      // of v's non-hub neighbors — eIn keeps exactly those edges
      val degC = eIn.groupBy($"src".as("node")).agg(count(lit(1)).as("d"))
      val cn = eIn.as("x").join(eOut.as("y"),
          $"x.dst" === $"y.src" && $"x.src" < $"y.dst")
        .groupBy($"x.src".as("a"), $"y.dst".as("b"))
        .agg(count(lit(1)).as("cn"))
      val cand = cn.join(e.select($"src".as("a"), $"dst".as("b")),
          Seq("a", "b"), "left_anti")
      cand
        .join(broadcast(degC.select($"node".as("a"), $"d".as("da"))), "a")
        .join(broadcast(degC.select($"node".as("b"), $"d".as("db"))), "b")
        .select($"a".as("part_a"), $"b".as("part_b"), $"cn",
          ($"da" + $"db" - $"cn").as("uni"),
          ($"cn".cast("double") / ($"da" + $"db" - $"cn").cast("double"))
            .as("jaccard"))
        .orderBy($"jaccard".desc, $"part_a", $"part_b")
        .limit(TopK)
    },
    Some(s"""WITH lp AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT a.p AS src, b.p AS dst
      |  FROM lp a JOIN lp b ON a.o = b.o AND a.p <> b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinWeight),
      |deg AS (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY 1),
      |cap AS (SELECT $HubCapMult * (SUM(d) // COUNT(*)) AS cap FROM deg),
      |nonhub AS MATERIALIZED (
      |  SELECT node FROM deg, cap WHERE d <= cap),
      |ein AS MATERIALIZED (
      |  SELECT e.src, e.dst FROM e JOIN nonhub nh ON nh.node = e.dst),
      |eout AS MATERIALIZED (
      |  SELECT e.src, e.dst FROM e JOIN nonhub nh ON nh.node = e.src),
      |degc AS (SELECT src AS node, COUNT(*) AS d FROM ein GROUP BY 1),
      |cn AS (
      |  SELECT x.src AS a, y.dst AS b, COUNT(*) AS cn
      |  FROM ein x JOIN eout y ON x.dst = y.src AND x.src < y.dst
      |  GROUP BY 1, 2),
      |cand AS (
      |  SELECT c.* FROM cn c
      |  WHERE NOT EXISTS (SELECT 1 FROM e
      |                    WHERE e.src = c.a AND e.dst = c.b))
      |SELECT c.a AS part_a, c.b AS part_b, c.cn,
      |       da.d + db.d - c.cn AS uni,
      |       CAST(c.cn AS DOUBLE) / CAST(da.d + db.d - c.cn AS DOUBLE)
      |         AS jaccard
      |FROM cand c
      |JOIN degc da ON da.node = c.a JOIN degc db ON db.node = c.b
      |ORDER BY jaccard DESC, part_a, part_b LIMIT $TopK""".stripMargin),
    doc = s"graph: hub-free common-neighbor Jaccard link prediction — top-$TopK non-adjacent co-purchase part pairs via a center-degree-capped wedge join (bounded under power-law degree skew). " +
      "Link prediction: wedge self-join on the shared endpoint with CENTERS degree-capped at 8x average (the super-node cut — raw sum deg^2 is scale-killed under power-law skew, caught by the sf1-zipf gate; capped stream <= cap*|E|), map-side (a,b,cn) compression, anti-join vs the FULL edge list, vertex-bounded degree broadcast — per-pair neighbor SETS never materialize.")

  val all: Seq[Q] = Seq(q216)
}
