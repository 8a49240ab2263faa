package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout: interleave the bits of two key
  * columns so that sorting by the interleaved key gives MULTI-column
  * value locality — each parquet file then covers a small bounding box
  * in (x, y) space instead of a thin full-width stripe, and min/max
  * footer stats prune files for predicates on EITHER dimension (the
  * layout trick behind Delta/Iceberg `OPTIMIZE ZORDER BY`; Morton
  * 1966).
  *
  * Why it matters at 100 TB: a table linearly sorted by `part` answers
  * part-predicates with file skipping but scans EVERYTHING for a
  * supplier predicate. Z-ordered by (part, supplier), a box predicate
  * on either column (or both) skips the files whose bounding box
  * misses it — the difference between reading 100 TB and reading the
  * few affected boxes. [[ZOrderLayoutSpec]] measures exactly this:
  * per-file min/max after a z-ordered write prunes strictly more files
  * for a supplier-only predicate than a linear part-sort does.
  *
  * The interleave is a pure composed expression — 2·bits shift/mask
  * terms summed (disjoint bits, so + ≡ |), entirely inside whole-stage
  * codegen; no UDF. Inputs must be non-negative and fit `bits` bits
  * (16 by default → a 32-bit z-key); wider keys should be range-ranked
  * onto the grid first.
  */
object DataLayout {

  /** Integer range-normalization of `c` onto [0, 2^bits): the
    * pre-interleave step that makes z-ordering work when the two key
    * domains differ in magnitude (raw interleaving of a 0..9 key with
    * a 0..199 key puts every meaningful bit of the narrow key below
    * every bit of the wide one — the "z-order" then degenerates to a
    * plain 1-D sort on the wide key). Same syntax in Spark (`div`)
    * and DuckDB (`//`) apart from the division operator.
    */
  def scaledSql(c: String, minC: String, maxC: String, bits: Int,
                intDiv: String): String =
    s"((($c - $minC) * ${(1L << bits) - 1}) $intDiv greatest($maxC - $minC, 1))"

  /** Spark SQL rendering of the Morton interleave of the low `bits`
    * bits of `x` (even positions) and `y` (odd positions).
    */
  def mortonSql(x: String, y: String, bits: Int = 16): String =
    (0 until bits).flatMap(i => Seq(
      s"shiftleft(shiftright($x, $i) & 1, ${2 * i})",
      s"shiftleft(shiftright($y, $i) & 1, ${2 * i + 1})"))
      .mkString("(", " + ", ")")

  /** The identical arithmetic in DuckDB operator syntax — kept beside
    * [[mortonSql]] so the two renderings drift together or not at all.
    */
  def mortonDuck(x: String, y: String, bits: Int = 16): String =
    (0 until bits).flatMap(i => Seq(
      s"((($x >> $i) & 1) << ${2 * i})",
      s"((($y >> $i) & 1) << ${2 * i + 1})"))
      .mkString("(", " + ", ")")

  /** Writes `df` z-ordered by (`x`, `y`) into `nFiles` range-split
    * files at `path`: range-partition on the z-key (so files tile the
    * z-curve contiguously), sort within each file (so row groups
    * subdivide the tile), drop the scratch key. The write itself is
    * one range-exchange — the standard price of any clustered layout.
    */
  def writeZOrdered(df: DataFrame, x: String, y: String,
                    nFiles: Int, path: String, bits: Int = 16): Unit = {
    val stats = df.agg(
      min(col(x)).as("__minx"), max(col(x)).as("__maxx"),
      min(col(y)).as("__miny"), max(col(y)).as("__maxy"))
    val gx = scaledSql(x, "__minx", "__maxx", bits, "div")
    val gy = scaledSql(y, "__miny", "__maxy", bits, "div")
    df.crossJoin(broadcast(stats))
      .withColumn("__zkey", expr(mortonSql(gx, gy, bits)))
      .repartitionByRange(nFiles, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey", "__minx", "__maxx", "__miny", "__maxy")
      .write.mode("overwrite").parquet(path)
  }

  /** q141 — z-cell profile of lineitem on (l_partkey, l_suppkey):
    * range-normalize both keys onto the 16-bit grid (the same
    * [[scaledSql]] step [[writeZOrdered]] uses), interleave, and group
    * by the 64×64-cell Morton tile (zkey div 2²⁰ keeps the top 6+6
    * interleaved bits), reporting each of the 10 busiest tiles with
    * its row count, exact-decimal revenue, and its (part, supp)
    * bounding box — the min/max columns SHOW the locality a z-ordered
    * file inherits (each tile's box is ~1/64 of either key range, vs
    * full-width stripes under a linear sort).
    *
    * Scale shape: the key-range stats are one 1-row broadcast; the
    * normalization + interleave is a map-side expression; one
    * map-side-combinable aggregate to ≤ 4096 cells; TakeOrdered(10).
    * The revenue sum follows the Q.sumMoney decimal convention.
    */
  val q141 = Q(
    "q141_zorder_cells",
    (s, dir) => {
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
      val stats = li.agg(
        min($"l_partkey").as("min_p"), max($"l_partkey").as("max_p"),
        min($"l_suppkey").as("min_s"), max($"l_suppkey").as("max_s"))
      val gx = scaledSql("l_partkey", "min_p", "max_p", 16, "div")
      val gy = scaledSql("l_suppkey", "min_s", "max_s", 16, "div")
      li.crossJoin(broadcast(stats))
        .withColumn("zkey", expr(mortonSql(gx, gy)))
        .withColumn("zcell", expr("zkey div 1048576"))
        .groupBy($"zcell")
        .agg(count(lit(1)).as("n_rows"),
          graft.Q.sumMoney($"l_extendedprice").as("revenue"),
          min($"l_partkey").as("min_part"), max($"l_partkey").as("max_part"),
          min($"l_suppkey").as("min_supp"), max($"l_suppkey").as("max_supp"))
        .orderBy($"n_rows".desc, $"zcell").limit(10)
    },
    Some {
      val gx = scaledSql("l_partkey", "min_p", "max_p", 16, "//")
      val gy = scaledSql("l_suppkey", "min_s", "max_s", 16, "//")
      s"""WITH st AS (
      |  SELECT MIN(l_partkey) AS min_p, MAX(l_partkey) AS max_p,
      |         MIN(l_suppkey) AS min_s, MAX(l_suppkey) AS max_s
      |  FROM lineitem),
      |z AS (
      |  SELECT ${mortonDuck(gx, gy)} // 1048576 AS zcell,
      |         l_partkey, l_suppkey, l_extendedprice
      |  FROM lineitem CROSS JOIN st)
      |SELECT zcell, COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       MIN(l_partkey) AS min_part, MAX(l_partkey) AS max_part,
      |       MIN(l_suppkey) AS min_supp, MAX(l_suppkey) AS max_supp
      |FROM z GROUP BY zcell
      |ORDER BY n_rows DESC, zcell LIMIT 10""".stripMargin
    },
    doc = "layout: Morton z-cell profile of lineitem with per-tile bounding boxes (codegen'd bit interleave). " +
      "Z-order cells: key-range stats are a 1-row broadcast; range normalization + 32-term bit interleave is one codegen'd map expression; ONE map-side-combinable aggregate to <= 4096 tiles; TakeOrdered(10).")

  val all: Seq[Q] = Seq(q141)
}
