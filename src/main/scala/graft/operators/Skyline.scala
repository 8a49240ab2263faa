package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skyline (Pareto frontier) query: the rows no other row dominates —
  * here "cheaper AND bigger": no other part with price ≤ and size ≥
  * and at least one strict (Börzsönyi, Kossmann & Stocker 2001, the
  * skyline operator). The multi-objective "best tradeoffs" shortlist
  * (price/quality, cost/coverage, latency/recall) that a flat ORDER BY
  * cannot express.
  *
  * Scale design: naive skyline is an O(n²) self-anti-join — dead at
  * 100 TB. This implementation grid-prunes first: bucket both
  * dimensions onto a B×B grid (1-row stats broadcast, same
  * normalization as [[DataLayout.scaledSql]]), drop every point whose
  * cell is STRICTLY dominated by another non-empty cell (strict
  * bucket-dominance in both dims implies point-dominance for every
  * resident, because bucket ranges are disjoint — the pruning is
  * provably lossless, [[SkylineSpec]] checks it against brute force),
  * then run the exact quadratic pass on the survivors only. Surviving
  * cells form the grid's staircase band (~2B of B² cells), so the
  * quadratic pass sees ~2n/B rows, not n: the cell prune is one
  * ≤ B²-row broadcast anti-join, the point prune a broadcast semi-join
  * on cell id. Bucket boundaries never affect the RESULT (the final
  * pass compares exact values; buckets only bound the work), so the
  * double-valued grid math needs no cross-engine negotiation — the
  * oracle is the plain NOT EXISTS definition.
  */
object Skyline {

  private val B = 64 // grid resolution per dimension

  /** Exact skyline of `df` minimizing `minCol` and maximizing
    * `maxCol`, grid-pruned then exact. Returns the input columns.
    */
  def skyline(df: DataFrame, minCol: String, maxCol: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val stats = df.agg(
      min(col(minCol)).as("__lo_m"), max(col(minCol)).as("__hi_m"),
      min(col(maxCol)).as("__lo_x"), max(col(maxCol)).as("__hi_x"))
    val cells = graft.Barrier(df.crossJoin(broadcast(stats))
      .withColumn("__pb", floor(
        (col(minCol) - $"__lo_m") * (B - 1) /
          greatest($"__hi_m" - $"__lo_m", lit(1e-300))))
      .withColumn("__sb", floor(
        (col(maxCol) - $"__lo_x") * (B - 1) /
          greatest($"__hi_x" - $"__lo_x", lit(1e-300))))
      .drop("__lo_m", "__hi_m", "__lo_x", "__hi_x"))
    val cellSet = cells.select($"__pb", $"__sb").distinct()
    // a cell strictly better in BOTH bucketed dims dominates every
    // resident of the worse cell (bucket ranges are disjoint)
    val liveCells = cellSet.as("c").join(broadcast(cellSet).as("d"),
      $"d.__pb" < $"c.__pb" && $"d.__sb" > $"c.__sb", "left_anti")
    val survivors = graft.Barrier(
      cells.join(broadcast(liveCells), Seq("__pb", "__sb"), "left_semi"))
    survivors.as("a").join(broadcast(survivors).as("b"),
        col(s"b.$minCol") <= col(s"a.$minCol") &&
        col(s"b.$maxCol") >= col(s"a.$maxCol") &&
        (col(s"b.$minCol") < col(s"a.$minCol") ||
         col(s"b.$maxCol") > col(s"a.$maxCol")), "left_anti")
      .drop("__pb", "__sb")
  }

  /** q143 — the part-catalog price/size skyline: every part for which
    * no cheaper-and-at-least-as-big (or same-price-and-bigger)
    * alternative exists. The oracle is the textbook NOT EXISTS form;
    * matching it hash-for-hash proves the grid prune lossless on real
    * data at every SF.
    */
  val q143 = Q(
    "q143_skyline",
    (s, dir) => {
      import s.implicits._
      skyline(Tables.load(s, dir, "part")
          .select($"p_partkey", $"p_retailprice", $"p_size"),
          "p_retailprice", "p_size")
        .orderBy($"p_partkey")
    },
    Some("""SELECT p_partkey, p_retailprice, p_size FROM part a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part b
      |  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
      |    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))
      |ORDER BY p_partkey""".stripMargin),
    doc = "skyline: grid-pruned Pareto frontier (min price, max size) — lossless prune + exact survivor pass. " +
      "Skyline: grid bucketing off a 1-row stats broadcast; cell-level domination prune via <= B^2-row broadcast anti-join; point prune a broadcast semi-join on cell id; the exact quadratic pass (BroadcastNestedLoopJoin) runs only on the surviving staircase band (~2n/B rows).")

  val all: Seq[Q] = Seq(q143)
}
