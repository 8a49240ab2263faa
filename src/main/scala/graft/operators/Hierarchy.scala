package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchical (recursive) traversal — the WITH RECURSIVE family the
  * reference's RDBMS could express but never used, and the one
  * relational shape Spark has no native operator for: ancestor-closure
  * expansion over a parent-pointer table, then subtree rollups along
  * it (BOM explosion, org-chart costing, category-tree totals).
  *
  * Spark-first form: a bounded JOIN ITERATION — the frontier frame
  * (node, anc, hop) starts at (node, node, 0) and each round joins the
  * parent-edge table once to climb one level, with [[graft.Barrier.cut]]
  * per round (this round's iteration discipline: the lineage is
  * truncated, so Catalyst re-analysis cannot compound, and with
  * `spark.graft.checkpointDir` set a deep-hierarchy run survives
  * executor loss).
  * The accumulated closure is |V| × depth rows — the same size WITH
  * RECURSIVE materializes — and every round is one equi-join +
  * filter, AQE-skew-splittable. Linear rounds (not pointer doubling)
  * are the right trade here: hierarchies are shallow by construction
  * (depth ≤ log₁₀ keyspace for the synthetic forest; organizational /
  * category trees are ≤ ~20 levels), and doubling would need an
  * anc-of-anc map per round — componentLabels keeps that trick for
  * unbounded-diameter graphs.
  *
  * The part forest is synthesized from the key space (parent =
  * p_partkey div 10; keys < 10 are roots) because the TPC-H-role
  * schema ships no parent column — the TRAVERSAL is the operator
  * under test, and an explicit edge table keeps it general (the join
  * per round is what a real parts/org hierarchy needs; nothing below
  * exploits that the synthetic parent happens to be computable).
  */
object Hierarchy {

  /** Abort bound, not a tuning knob: hitting it means a cycle or a
    * hierarchy deeper than any real taxonomy — fail loudly.
    */
  val MaxDepth = 24

  /** Ancestor closure (node, anc, hop) over a (node, parent) edge
    * table — every node reaches itself at hop 0 and each ancestor at
    * its level distance. Roots have NULL parent.
    */
  private[operators] def ancestorClosure(edges0: DataFrame): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    val edges = graft.Barrier(edges0)
    var frontier = graft.Barrier.cut(
      edges.select($"node", $"node".as("anc"), lit(0).as("hop")))
    val levels = scala.collection.mutable.ArrayBuffer(frontier)
    var depth = 0
    var growing = true
    while (growing) {
      depth += 1
      require(depth <= MaxDepth,
        s"hierarchy deeper than $MaxDepth levels — cycle in the parent table?")
      // climb one level: the frontier's current ancestor's parent
      frontier = graft.Barrier.cut(
        frontier.join(edges.select($"node".as("anc"), $"parent"), Seq("anc"))
          .filter($"parent".isNotNull)
          .select($"node", $"parent".as("anc"), ($"hop" + 1).as("hop")))
      if (frontier.isEmpty) growing = false
      else levels += frontier
    }
    levels.reduce(_ unionByName _)
  }

  /** q184 — subtree rollup over the synthetic part forest: for each
    * ancestor, descendant count (self included), subtree height, and
    * the exact-decimal subtree retail value; top-20 subtrees by value.
    * The oracle computes the identical closure with WITH RECURSIVE —
    * a genuinely different evaluation strategy, so agreement checks
    * the traversal itself, not a shared implementation.
    */
  val q184 = Q(
    "q184_hierarchy_rollup",
    (s, dir) => {
      import s.implicits._
      val parts = Tables.load(s, dir, "part")
        .select($"p_partkey".as("node"), $"p_retailprice")
      val edges = parts.select($"node",
        when($"node" >= 10, expr("node div 10")).as("parent"))
      val closure = ancestorClosure(edges)
      closure.join(parts, Seq("node"))
        .groupBy($"anc".as("p_ancestor"))
        .agg(count(lit(1)).as("n_desc"),
          max($"hop").as("height"),
          Q.sumMoney($"p_retailprice").as("subtree_value"))
        .orderBy($"subtree_value".desc, $"p_ancestor")
        .limit(20)
        .select($"p_ancestor", $"n_desc", $"height".cast("int").as("height"),
          $"subtree_value")
    },
    Some(s"""WITH RECURSIVE anc(node, anc, hop) AS (
      |  SELECT p_partkey, p_partkey, 0 FROM part
      |  UNION ALL
      |  SELECT node, anc // 10, hop + 1 FROM anc WHERE anc >= 10),
      |agg AS (
      |  SELECT a.anc AS p_ancestor, COUNT(*) AS n_desc,
      |         CAST(MAX(a.hop) AS INT) AS height,
      |         ${Q.oSum("p.p_retailprice")} AS subtree_value
      |  FROM anc a JOIN part p ON p.p_partkey = a.node
      |  GROUP BY 1)
      |SELECT p_ancestor, n_desc, height, subtree_value
      |FROM agg ORDER BY subtree_value DESC, p_ancestor LIMIT 20""".stripMargin),
    doc = "hierarchy: iterative ancestor-closure traversal (per-round Barrier.cut) + subtree rollups, vs a WITH RECURSIVE oracle. " +
      "Recursive traversal as bounded join iteration: one equi-join per level against the Barrier'd parent-edge table, Barrier.cut per round (constant plan depth, fault-tolerant with spark.graft.checkpointDir set); the closure is |V|*depth rows — what WITH RECURSIVE materializes — and the rollup is one map-side-combinable aggregate + TakeOrdered(20).")

  val all: Seq[Q] = Seq(q184)
}
