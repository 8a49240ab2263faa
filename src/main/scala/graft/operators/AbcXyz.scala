package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ABC-XYZ inventory matrix — the planner's 3×3: q174's ABC revenue
  * classes crossed with XYZ demand-VARIABILITY classes (X steady,
  * Y variable, Z erratic by coefficient of variation of monthly
  * demand; bands at CV 0.55/0.70 — the classic 0.1/0.25 bands
  * presume smooth monthly series, and this feed's per-part demand is
  * sparse, so the bands sit at the spread the data actually has).
  * An A-X part is forecastable core stock; an A-Z part is the
  * planner's nightmare — the matrix cell counts and revenue shares
  * are the standard segmentation both answers come from.
  *
  * Exactness: monthly demand collapses to exact integer quantities;
  * the CV² class test is a pure integer CROSS-MULTIPLICATION —
  * m·Σq² − (Σq)² vs threshold·(Σq)² with CV² thresholds 0.30 and
  * 0.49 scaled ×100 — no division, no sqrt, no float
  * (the q146 cross-multiply stance; m = observed months). ABC splits
  * on cumulative revenue share with the same cross-multiplied
  * integer compare (80% / 95% of total cents). Cell revenue share is
  * one mirrored IEEE division.
  *
  * Scale shape: one map-side-combinable (part, month) aggregate, a
  * part-bounded rollup, ONE part-frame revenue-rank window (the
  * dimension-sized q174 sort, not corpus-sized), and a 9-row report.
  */
object AbcXyz {

  val q220 = Q(
    "q220_abc_xyz_matrix",
    (s, dir) => {
      import s.implicits._
      val monthly = Tables.load(s, dir, "lineitem")
        .groupBy($"l_partkey",
          date_format($"l_shipdate", "yyyy-MM").as("mon"))
        .agg(sum($"l_quantity".cast("long")).as("q"),
          sum((graft.Q.money($"l_extendedprice") * 100).cast("long"))
            .as("cents"))
      val parts = graft.Barrier(monthly.groupBy($"l_partkey")
        .agg(count(lit(1)).as("m"),
          sum($"q".cast("decimal(38,0)")).as("sq"),
          sum(($"q" * $"q").cast("decimal(38,0)")).as("sqq"),
          sum($"cents".cast("decimal(38,0)")).as("rev")))
      val tot = parts.agg(sum($"rev").as("trev"))
      val classed = parts
        .withColumn("cumrev", sum($"rev").over(
          Window.orderBy($"rev".desc, $"l_partkey")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(tot))
        .select($"l_partkey", $"rev",
          when($"cumrev" * 100 <= $"trev" * 80, "A")
            .when($"cumrev" * 100 <= $"trev" * 95, "B")
            .otherwise("C").as("abc"),
          // CV^2 = (m*sqq - sq^2) / sq^2 ; X < 0.30, Y < 0.49
          when(($"m" * $"sqq" - $"sq" * $"sq") * 100
            < $"sq" * $"sq" * 30, "X")
            .when(($"m" * $"sqq" - $"sq" * $"sq") * 100
              < $"sq" * $"sq" * 49, "Y")
            .otherwise("Z").as("xyz"))
      classed.groupBy($"abc", $"xyz")
        .agg(count(lit(1)).as("n_parts"),
          sum($"rev").cast("decimal(38,0)").as("rev_cents"))
        .crossJoin(broadcast(tot))
        .select($"abc", $"xyz", $"n_parts",
          ($"rev_cents".cast("double") / $"trev".cast("double"))
            .as("rev_share"))
        .orderBy($"abc", $"xyz")
    },
    Some("""WITH monthly AS (
      |  SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS mon,
      |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
      |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |                       AS BIGINT)) AS BIGINT) AS cents
      |  FROM lineitem GROUP BY 1, 2),
      |parts AS (
      |  SELECT l_partkey, COUNT(*) AS m,
      |         SUM(CAST(q AS HUGEINT)) AS sq,
      |         SUM(CAST(q AS HUGEINT) * q) AS sqq,
      |         SUM(CAST(cents AS HUGEINT)) AS rev
      |  FROM monthly GROUP BY 1),
      |tot AS (SELECT SUM(rev) AS trev FROM parts),
      |classed AS (
      |  SELECT l_partkey, rev,
      |         CASE WHEN cumrev * 100 <= trev * 80 THEN 'A'
      |              WHEN cumrev * 100 <= trev * 95 THEN 'B'
      |              ELSE 'C' END AS abc,
      |         CASE WHEN (m * sqq - sq * sq) * 100 < sq * sq * 30 THEN 'X'
      |              WHEN (m * sqq - sq * sq) * 100 < sq * sq * 49 THEN 'Y'
      |              ELSE 'Z' END AS xyz
      |  FROM (SELECT *, SUM(rev) OVER (ORDER BY rev DESC, l_partkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumrev
      |        FROM parts), tot)
      |SELECT abc, xyz, COUNT(*) AS n_parts,
      |       CAST(CAST(SUM(rev) AS HUGEINT) AS DOUBLE)
      |         / CAST((SELECT trev FROM tot) AS DOUBLE) AS rev_share
      |FROM classed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    doc = "ops: ABC-XYZ 3x3 inventory matrix — integer cross-multiplied CV^2 and cumulative-revenue class tests, part-bounded rank window. " +
      "ABC-XYZ: (part, month) then part rollup, both map-side combinable; CV^2 and revenue-class tests are integer cross-multiplications (no division/sqrt); one part-bounded rank window; 9-row report.")

  val all: Seq[Q] = Seq(q220)
}
