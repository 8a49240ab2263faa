package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hodges-Lehmann pseudo-median (Hodges & Lehmann 1963) of line-item
  * quantity — the median of all N(N+1)/2 Walsh averages (vᵢ+vⱼ)/2,
  * i ≤ j: the location estimator behind the Wilcoxon test, more
  * efficient than the plain median on near-symmetric data and still
  * 29% breakdown-robust. q193's weighted median and q209's Theil-Sen
  * are its siblings; this completes the classical robust-location
  * family.
  *
  * Exactness: the O(N²) Walsh-pair definition collapses onto the
  * BOUNDED value domain (≤50 quantities): pair weights are n_a·n_b
  * for a<b and n_a(n_a+1)/2 for a=a — exact decimal/HUGEINT counts;
  * Walsh values ride DOUBLED (a+b) so halves stay integral; the
  * type-1 weighted median (smallest doubled value whose cumulative
  * weight reaches ⌈(T+1)/2⌉) is pure integer selection; only the
  * final /2 is IEEE.
  *
  * Scale shape: one map-side-combinable aggregate to the ≤50-row
  * value frame; the ≤1275-cell pair frame, its per-walsh2 collapse
  * (≤99 rows) and the cumulative window are all domain-bounded.
  * Pair weights reach N² ≈ 10²⁰ at 100 TB — decimal(38,0)/HUGEINT
  * end to end (the q205 ladder); only the REPORTED n_pairs column
  * rides a BIGINT (exact to N ≈ 4·10⁹ rows — the selection itself
  * never leaves decimal).
  */
object HodgesLehmann {

  val q223 = Q(
    "q223_hodges_lehmann",
    (s, dir) => {
      import s.implicits._
      val v = graft.Barrier(Tables.load(s, dir, "lineitem")
        .groupBy($"l_quantity".cast("int").as("v"))
        .agg(count(lit(1)).as("n")))
      val cross = v.as("a").join(v.as("b"), $"a.v" < $"b.v")
        .select(($"a.v" + $"b.v").cast("long").as("walsh2"),
          ($"a.n".cast("decimal(38,0)") * $"b.n").as("wt"))
      val diag = v.select(($"v" * 2).cast("long").as("walsh2"),
        expr("cast(cast(n as decimal(38,0)) * (n + 1) div 2" +
          " as decimal(38,0))").as("wt"))
      val walsh = cross.unionByName(diag)
        .groupBy($"walsh2").agg(sum($"wt").as("wt"))
      val tot = walsh.agg(sum($"wt").as("t"))
      val w = Window.orderBy($"walsh2")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      walsh.withColumn("cum", sum($"wt").over(w))
        .crossJoin(broadcast(tot))
        .filter($"cum" * 2 >= $"t" + 1)
        .orderBy($"walsh2")
        .limit(1)
        .select($"t".cast("long").as("n_pairs"),
          ($"walsh2".cast("double") / 2.0).as("hl_estimate"),
          $"walsh2")
    },
    Some("""WITH v AS (
      |  SELECT CAST(l_quantity AS INT) AS v, COUNT(*) AS n
      |  FROM lineitem GROUP BY 1),
      |pairs AS (
      |  SELECT CAST(a.v + b.v AS BIGINT) AS walsh2,
      |         CAST(a.n AS HUGEINT) * b.n AS wt
      |  FROM v a JOIN v b ON a.v < b.v
      |  UNION ALL
      |  SELECT CAST(v * 2 AS BIGINT), CAST(n AS HUGEINT) * (n + 1) // 2
      |  FROM v),
      |walsh AS (SELECT walsh2, SUM(wt) AS wt FROM pairs GROUP BY 1),
      |tot AS (SELECT SUM(wt) AS t FROM walsh),
      |cum AS (
      |  SELECT walsh2,
      |         SUM(wt) OVER (ORDER BY walsh2
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM walsh)
      |SELECT CAST(t AS BIGINT) AS n_pairs,
      |       CAST(walsh2 AS DOUBLE) / 2.0 AS hl_estimate, walsh2
      |FROM cum, tot
      |WHERE cum * 2 >= t + 1
      |ORDER BY walsh2 LIMIT 1""".stripMargin),
    doc = "stats: Hodges-Lehmann pseudo-median of quantity — type-1 weighted median of domain-collapsed Walsh averages, exact pair weights. " +
      "Hodges-Lehmann: O(N^2) Walsh pairs collapse onto the <=50-value domain (<=1275 cells, <=99 walsh2 groups); type-1 weighted median is integer selection; pair weights decimal/HUGEINT (N^2 > int64 at 100 TB).")

  val all: Seq[Q] = Seq(q223)
}
