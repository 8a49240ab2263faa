package graft.graph

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded breadth-first search — min-hop neighborhood expansion from
  * a deterministic seed over the STRONG co-purchase graph (edges with
  * weight ≥ 2: parts bought together in at least two baskets — the
  * w=1 graph is a near-clique where every vertex is ≤ 2 hops from
  * everything, so thresholding is what makes hop structure real, the
  * same reason recommendation graphs prune singleton co-occurrences).
  *
  * "Items within k hops of X" is the recommendation/blast-radius
  * query; k is a small constant, so this is an ITERATIVE frontier
  * expansion, not unbounded transitive closure: each hop is one
  * equi-join frontier⋈edges + distinct + an anti-join against the
  * visited set, with [[graft.Barrier.cut]] per hop (the round's
  * iteration discipline — bounded plans, fault-tolerant with
  * `spark.graft.checkpointDir` set).
  * The frontier never exceeds the vertex set; the anti-join keeps the
  * expansion monotone so hop = true min-distance.
  *
  * Scale shape: the edge list builds once behind a Barrier (the q137
  * basket²-after-distinct collapse); the seed is a 1-row argmax
  * broadcast, never a driver collect of graph data; per-hop joins are
  * AQE-skew-splittable equi-joins on part keys.
  */
object Bfs {

  val MaxHops = 3
  val MinWeight = 2

  /** (hop, node) min-distance rows for hops 0..maxHops from `seed`
    * (a 1-row (node) frame) over directed `edges0` (src, dst).
    */
  private[graph] def hopFrontiers(edges0: DataFrame, seed: DataFrame,
                                  maxHops: Int = MaxHops): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    val e = graft.Barrier(edges0)
    var visited = graft.Barrier.cut(
      seed.select($"node", lit(0).as("hop")))
    var frontier = visited
    (1 to maxHops).foreach { k =>
      frontier = graft.Barrier.cut(
        frontier.join(e, $"node" === $"src")
          .select($"dst".as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .select($"node", lit(k).as("hop")))
      visited = graft.Barrier.cut(visited.unionByName(frontier))
    }
    visited
  }

  /** q185 — per-hop neighborhood ledger from the strongest hub: the
    * highest-strong-degree part (smallest key on ties), hop counts and
    * an exact key checksum per ring. Rings always report, zero-count
    * rings included (n_parts 0, NULL checksum) — the frame a blast-
    * radius monitor alerts on cannot silently lose rows.
    */
  val q185 = Q(
    "q185_hop_neighborhood",
    (s, dir) => {
      import s.implicits._
      val lp = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")) // raw: basketPairs dedups per basket
      val e = GraphQueries.coEdges(lp, bySrc = true).filter($"w" >= MinWeight)
        .select($"src", $"dst")
      val deg = e.groupBy($"src").agg(count(lit(1)).as("d"))
      val seed = deg.orderBy($"d".desc, $"src").limit(1)
        .select($"src".as("node"))
      val rings = hopFrontiers(e, seed)
        .groupBy($"hop")
        .agg(count(lit(1)).as("n_parts"), sum($"node").as("key_sum"))
      val allHops = s.range(0, MaxHops + 1).select($"id".cast("int").as("hop"))
      allHops.join(rings, Seq("hop"), "left_outer")
        .select($"hop", coalesce($"n_parts", lit(0L)).as("n_parts"),
          $"key_sum")
        .orderBy($"hop")
    },
    // CTEs pinned MATERIALIZED (VERDICT r9 item 2): inlined, e/d1/d2
    // are each referenced by several later hops, so DuckDB duplicated
    // the whole edge-pipeline plan per reference — OOM/timeout at sf1
    // where each stage run once takes seconds (q152's disease).
    Some(Q.materializeCtes(refOracle)),
    doc = "graph: bounded BFS min-hop rings from the strongest co-purchase hub (per-hop frontier joins, Barrier.cut per round)",
    oracleReference = Some(refOracle))

  private lazy val refOracle =
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e0 AS (
      |  SELECT a.p AS src, b.p AS dst, COUNT(*) AS w
      |  FROM lp a JOIN lp b ON a.o = b.o AND a.p <> b.p
      |  GROUP BY 1, 2),
      |e AS (SELECT src, dst FROM e0 WHERE w >= $MinWeight),
      |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
      |seed AS (SELECT src AS node FROM deg ORDER BY d DESC, src LIMIT 1),
      |d0 AS (SELECT node FROM seed),
      |d1 AS (
      |  SELECT DISTINCT e.dst AS node FROM e JOIN d0 ON e.src = d0.node
      |  WHERE e.dst NOT IN (SELECT node FROM d0)),
      |d2 AS (
      |  SELECT DISTINCT e.dst AS node FROM e JOIN d1 ON e.src = d1.node
      |  WHERE e.dst NOT IN (SELECT node FROM d0 UNION ALL SELECT node FROM d1)),
      |d3 AS (
      |  SELECT DISTINCT e.dst AS node FROM e JOIN d2 ON e.src = d2.node
      |  WHERE e.dst NOT IN (SELECT node FROM d0 UNION ALL SELECT node FROM d1
      |                      UNION ALL SELECT node FROM d2))
      |SELECT CAST(0 AS INT) AS hop, COUNT(*) AS n_parts,
      |       CAST(SUM(node) AS BIGINT) AS key_sum FROM d0
      |UNION ALL SELECT 1, COUNT(*), CAST(SUM(node) AS BIGINT) FROM d1
      |UNION ALL SELECT 2, COUNT(*), CAST(SUM(node) AS BIGINT) FROM d2
      |UNION ALL SELECT 3, COUNT(*), CAST(SUM(node) AS BIGINT) FROM d3
      |ORDER BY hop""".stripMargin

  val all: Seq[Q] = Seq(q185)
}
