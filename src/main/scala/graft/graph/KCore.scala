package graft.graph

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core peel ladder (Seidman 1983; the degeneracy-ordering prefix) —
  * the subgraph-density profile of the co-purchase graph: round r
  * removes every vertex whose CURRENT degree is < k, so the ladder
  * reports how fast the periphery strips away and how large the
  * dense residue is. The ladder stance makes the operator exact
  * WITHOUT a convergence loop: a FIXED number of peel rounds is
  * reported (round, removed, remaining vertices, remaining edges) —
  * deterministic whether or not the peel has stabilized, unlike a
  * "peel until fixpoint" whose round count is data-dependent and
  * whose oracle would have to guess it. (q137 PageRank / q182 HITS
  * take the same fixed-iteration stance for the same reason.)
  *
  * Exactness: pure integer set algebra — degrees, semi-joins,
  * counts; no floats anywhere.
  *
  * Scale shape: edges build once behind a Barrier (the q185 w ≥ 2
  * co-purchase graph: distinct basket membership, pair aggregate —
  * never the raw lineitem fanout); each round is one degree
  * aggregate + one anti/semi-join wave, and the frame PER ROUND
  * never exceeds the edge list. Both the survivor set and the edge
  * frame are lineage-CUT per round ([[graft.Barrier.cut]] —
  * localCheckpoint, or a fault-tolerant checkpoint with
  * `spark.graft.checkpointDir` set), the q182
  * discipline that keeps Catalyst's re-analysis cost flat in the
  * round count.
  */
object KCore {

  val CoreK = 3
  val Rounds = 6
  val MinWeight = 2

  /** Fixed-`rounds` peel ladder over an undirected (src, dst) edge
    * frame — the testable core. Survivors derive DIRECTLY from the
    * degree aggregate: the degree frame's domain is exactly the
    * still-active vertex set (the edge frame only ever connects
    * survivors, and a survivor that lost its last edge has degree
    * 0 < k, i.e. is absent), so removal counts are successive
    * survivor-count differences (|active(r−1)| − |active(r)|).
    *
    * Fixed-point early exit (VERDICT r12 item 8): peeling is
    * MONOTONE — survivor sets only shrink — so an equal survivor
    * COUNT between consecutive rounds means an equal survivor SET,
    * which leaves the edge frame (two semi-joins against it) and
    * hence every later round's degree frame unchanged: the ladder's
    * remaining rows are literal copies of the fixed point with
    * n_removed = 0. From `checkFrom` on, the round's survivor count
    * is taken as a driver action (one count on the already-cut
    * vertex frame) instead of staying lazy; once two consecutive
    * counts match, the remaining rounds emit replicated rows and
    * skip their joins entirely. Below `checkFrom` the plan is
    * bit-for-bit the unchecked form. Identity proven in
    * ConvergenceSpec on converging and non-converging fixtures.
    */
  private[graph] def peelLadder(e0: DataFrame, rounds: Int, k: Int,
                                checkFrom: Int =
                                  GraphQueries.ConvergenceCheckFrom)
      : DataFrame = {
    val s = e0.sparkSession
    import s.implicits._
    var e = e0
    var prevN = e.select($"src").distinct()
      .agg(count(lit(1)).as("n_prev"))
    var lastCount: Option[Long] = None
    var fixedAt: Option[Long] = None // survivor count at the fixed point
    val rows = (1 to rounds).map { r =>
      fixedAt match {
        case Some(c) =>
          // replicated fixed-point row: the edge frame is unchanged,
          // so its count re-reads the last cut's blocks
          e.agg(count(lit(1)).as("n_edges"))
            .select(lit(r).as("round"), lit(0L).as("n_removed"),
              lit(c).as("n_active"), $"n_edges")
        case None =>
          val kept = graft.Barrier.cut(
            e.groupBy($"src".as("node")).agg(count(lit(1)).as("d"))
              .filter($"d" >= k).select($"node"))
          e = graft.Barrier.cut(
            e.join(kept, e("src") === kept("node"), "left_semi")
              .join(kept, e("dst") === kept("node"), "left_semi"))
          val nAct = kept.agg(count(lit(1)).as("n_active"))
          val row = prevN.crossJoin(nAct)
            .crossJoin(e.agg(count(lit(1)).as("n_edges")))
            .select(lit(r).as("round"),
              ($"n_prev" - $"n_active").as("n_removed"),
              $"n_active", $"n_edges")
          prevN = nAct.select($"n_active".as("n_prev"))
          if (r >= checkFrom && r < rounds) {
            val c = kept.count()
            if (lastCount.contains(c)) fixedAt = Some(c)
            lastCount = Some(c)
          }
          row
      }
    }
    rows.reduce(_.unionByName(_)).orderBy($"round")
  }

  val q207 = Q(
    "q207_kcore_peel",
    (s, dir) => {
      import s.implicits._
      val lp = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")) // raw: basketPairs dedups per basket
      val e = graft.Barrier(GraphQueries.coEdges(lp, bySrc = true)
        .filter($"w" >= MinWeight).select($"src", $"dst"))
      // checkFrom = Rounds DISARMS the exit for the registered query:
      // the measured ladders never stabilize within 6 rounds (sf0.01
      // removes 635/167/59/36/18/11 — still peeling at round 6), so
      // the per-round count actions would be pure cost here; the plan
      // stays bit-for-bit the unchecked form (the q137/q182 "never
      // armed below default iters" discipline, inverted for a loop
      // whose default EXCEEDS ConvergenceCheckFrom). Long custom
      // ladders calling peelLadder directly inherit the armed default.
      peelLadder(e, Rounds, CoreK, checkFrom = Rounds)
    },
    Some {
      // Unroll ceiling (the Bpe.roundsCte / q182 guard): 4 MATERIALIZED
      // CTEs per peel round; a careless Rounds bump must fail at build
      // time, not time DuckDB out.
      require(Rounds <= 8,
        s"q207 oracle unrolls $Rounds peel rounds as MATERIALIZED CTEs; " +
          "ceiling is 8 — re-measure DuckDB wall time before raising")
      val sb = new StringBuilder
      sb ++= s"""WITH lp AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT a.p AS src, b.p AS dst
        |  FROM lp a JOIN lp b ON a.o = b.o AND a.p <> b.p
        |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinWeight),
        |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e0)""".stripMargin
      for (r <- 1 to Rounds) {
        val (ep, ap) = (s"e${r - 1}", s"a${r - 1}")
        sb ++= s""",
          |deg$r AS (SELECT src AS node, COUNT(*) AS d FROM $ep GROUP BY 1),
          |rem$r AS MATERIALIZED (
          |  SELECT a.node FROM $ap a LEFT JOIN deg$r g USING (node)
          |  WHERE COALESCE(g.d, 0) < $CoreK),
          |a$r AS MATERIALIZED (
          |  SELECT node FROM $ap
          |  EXCEPT SELECT node FROM rem$r),
          |e$r AS MATERIALIZED (
          |  SELECT e.src, e.dst FROM $ep e
          |  JOIN a$r s ON s.node = e.src JOIN a$r t ON t.node = e.dst)"""
          .stripMargin
      }
      sb ++= "\n"
      sb ++= (1 to Rounds).map { r =>
        s"""SELECT $r AS round,
           |  (SELECT COUNT(*) FROM rem$r) AS n_removed,
           |  (SELECT COUNT(*) FROM a$r) AS n_active,
           |  (SELECT COUNT(*) FROM e$r) AS n_edges""".stripMargin
      }.mkString("\nUNION ALL\n")
      sb ++= "\nORDER BY round"
      sb.toString
    },
    doc = s"graph: fixed-$Rounds-round k-core (k=$CoreK) peel ladder on the co-purchase graph — per-round removed/remaining counts, lineage-cut per round. " +
      "k-core ladder: co-purchase edges build once behind a Barrier; each of 6 FIXED peel rounds is one degree aggregate + semi-join wave, survivor and edge frames lineage-cut per round (q182 discipline) — wall cost is round-count overhead, corpus touched once.")

  val all: Seq[Q] = Seq(q207)
}
