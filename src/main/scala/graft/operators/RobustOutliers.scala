package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** MAD robust outlier scan (Hampel 1974; the Iglewicz–Hoaglin modified
  * z-score) — the heavy-tail-safe complement to q24's z-score: mean
  * and stddev are themselves dragged by the outliers they're meant to
  * flag, while median/MAD have a 50% breakdown point. Flag when
  * 0.6745·|x − med| / MAD > 3.5 (the published threshold).
  *
  * Exactness: everything runs on integer cents doubled through the
  * percentile interpolation — med2 = round(2·percentile(cents, .5))
  * and mad4 = round(2·percentile(dev2, .5)) are EXACT longs (the
  * interpolated midpoint of integers lands on halves; doubling makes
  * it integral, so round() has no tie to break in either engine), and
  * the flag comparison is pure integer: z_ppm = 1349000·dev2 div mad4
  * (0.6745·dev/MAD = 1.349·dev2/mad4), outlier ⟺ z_ppm > 3 500 000.
  *
  * Scale shape: two percentile aggregates (full sort per group — the
  * q21 stance: swap to approx_percentile at 100 TB) with ≤ |groups|
  * rows broadcast back between them; the final profile is one
  * map-side-combinable aggregate. No corpus-sized shuffle beyond the
  * two groupBys.
  */
object RobustOutliers {

  /** q158 — per-priority robust outlier profile of order totals. */
  val q158 = Q(
    "q158_mad_outliers",
    (s, dir) => {
      import s.implicits._
      val cents = Tables.load(s, dir, "orders")
        .select($"o_orderpriority".as("grp"),
          expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("c"))
      val med = cents.groupBy($"grp")
        .agg(expr("cast(round(percentile(c, 0.5) * 2) as bigint)").as("med2"))
      val dev = cents.join(broadcast(med), "grp")
        .withColumn("dev2", abs($"c" * 2 - $"med2"))
      val mad = dev.groupBy($"grp")
        .agg(expr("cast(round(percentile(dev2, 0.5) * 2) as bigint)").as("mad4"))
      dev.join(broadcast(mad), "grp")
        .withColumn("z_ppm",
          when($"mad4" === 0, lit(null).cast("long"))
            .otherwise(expr("(1349000 * dev2) div mad4")))
        .groupBy($"grp")
        .agg(count(lit(1)).as("n"),
          max($"med2").as("med2"), max($"mad4").as("mad4"),
          count_if($"z_ppm" > 3500000L).as("n_outliers"),
          max($"z_ppm").as("max_z_ppm"))
        .select($"grp".as("o_orderpriority"), $"n", $"med2", $"mad4",
          $"n_outliers", $"max_z_ppm")
        .orderBy($"o_orderpriority")
    },
    Some("""WITH cents AS (
      |  SELECT o_orderpriority AS grp,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM orders),
      |med AS (
      |  SELECT grp, CAST(ROUND(quantile_cont(c, 0.5) * 2) AS BIGINT) AS med2
      |  FROM cents GROUP BY 1),
      |dev AS (
      |  SELECT cents.grp, c, med2, ABS(c * 2 - med2) AS dev2
      |  FROM cents JOIN med ON cents.grp = med.grp),
      |mad AS (
      |  SELECT grp, CAST(ROUND(quantile_cont(dev2, 0.5) * 2) AS BIGINT) AS mad4
      |  FROM dev GROUP BY 1),
      |z AS (
      |  SELECT dev.grp, med2, mad4, dev2,
      |         CASE WHEN mad4 = 0 THEN NULL
      |              ELSE (1349000 * dev2) // mad4 END AS z_ppm
      |  FROM dev JOIN mad ON dev.grp = mad.grp)
      |SELECT grp AS o_orderpriority, COUNT(*) AS n,
      |       MAX(med2) AS med2, MAX(mad4) AS mad4,
      |       CAST(COUNT(CASE WHEN z_ppm > 3500000 THEN 1 END) AS BIGINT) AS n_outliers,
      |       MAX(z_ppm) AS max_z_ppm
      |FROM z GROUP BY 1 ORDER BY o_orderpriority""".stripMargin),
    doc = "audit: MAD modified-z robust outliers per group, integer-exact via doubled-percentile grids. " +
      "Median and MAD from exact integer cents per group (type-1 selection on the group frame); the outlier rescan is one additional filtered pass with the 1-row-per-group stats broadcast back.")

  val all: Seq[Q] = Seq(q158)
}
