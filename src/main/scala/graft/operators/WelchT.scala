package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Welch's unequal-variance t-test (Welch 1947) — the two-sample mean
  * comparison that does NOT assume equal group variances, with the
  * Welch–Satterthwaite effective degrees of freedom. The default any
  * competent analyst reaches for before Student's t (Delacre et al.
  * 2017): here, do returned line items carry a different average price
  * than accepted ones? Complements q200 (rank-based location shift)
  * and q202 (k-group equal-variance F) in the inference family.
  *
  * Determinism: prices ride as exact cents; the six sufficient
  * statistics (n, Σx, Σx² per group) are ONE map-side-combinable
  * conditional aggregate through decimal(38,0) ↔ HUGEINT; means,
  * sample variances, t and df are a single mirrored IEEE epilogue
  * (+,-,*,/ and one correctly-rounded sqrt — the StatTests stance).
  * A degenerate group (n ≤ 1) NULLIFs instead of NaN-ing.
  *
  * Scale shape: one scan, one 1-row aggregate, no shuffle beyond the
  * map-side-combined partials. Holds exactness to ~10¹⁰ rows of
  * 10⁷-cent prices in the decimal headroom; the remedy past that is
  * widening the decimal, not silent drift.
  */
object WelchT {

  val q267 = Q(
    "q267_welch_ttest",
    (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "lineitem")
        .filter($"l_returnflag".isin("R", "A"))
        .select($"l_returnflag".as("g"),
          (graft.Q.money($"l_extendedprice") * 100).cast("long").as("x"))
        .agg(
          count_if($"g" === "R").as("n1"),
          sum(when($"g" === "R", $"x".cast("decimal(38,0)"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("s1"),
          sum(when($"g" === "R", ($"x" * $"x").cast("decimal(38,0)"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("q1"),
          count_if($"g" === "A").as("n2"),
          sum(when($"g" === "A", $"x".cast("decimal(38,0)"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("s2"),
          sum(when($"g" === "A", ($"x" * $"x").cast("decimal(38,0)"))
            .otherwise(lit(0).cast("decimal(38,0)"))).as("q2"))
        .withColumn("m1", expr("cast(s1 as double) / cast(n1 as double)"))
        .withColumn("m2", expr("cast(s2 as double) / cast(n2 as double)"))
        .withColumn("v1", expr(
          "(cast(n1 as double) * cast(q1 as double) - cast(s1 as double) * cast(s1 as double))"
            + " / (cast(n1 as double) * cast(nullif(n1 - 1L, 0L) as double))"))
        .withColumn("v2", expr(
          "(cast(n2 as double) * cast(q2 as double) - cast(s2 as double) * cast(s2 as double))"
            + " / (cast(n2 as double) * cast(nullif(n2 - 1L, 0L) as double))"))
        .withColumn("se2", expr(
          "v1 / cast(n1 as double) + v2 / cast(n2 as double)"))
        .select($"n1", $"n2",
          $"m1".as("mean_r_cents"), $"m2".as("mean_a_cents"),
          expr("(m1 - m2) / sqrt(se2)").as("t_stat"),
          expr("se2 * se2 / ((v1 / cast(n1 as double)) * (v1 / cast(n1 as double))"
            + " / cast(nullif(n1 - 1L, 0L) as double)"
            + " + (v2 / cast(n2 as double)) * (v2 / cast(n2 as double))"
            + " / cast(nullif(n2 - 1L, 0L) as double))").as("welch_df"))
    },
    Some("""WITH pts AS (
      |  SELECT l_returnflag AS g,
      |         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
      |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
      |sums AS (
      |  SELECT CAST(SUM(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         SUM(CASE WHEN g = 'R' THEN CAST(x AS HUGEINT) ELSE 0 END) AS s1,
      |         SUM(CASE WHEN g = 'R' THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS q1,
      |         CAST(SUM(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |         SUM(CASE WHEN g = 'A' THEN CAST(x AS HUGEINT) ELSE 0 END) AS s2,
      |         SUM(CASE WHEN g = 'A' THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS q2
      |  FROM pts),
      |parts AS (
      |  SELECT n1, n2,
      |         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
      |         CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
      |         (CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |           / (CAST(n1 AS DOUBLE) * CAST(NULLIF(n1 - 1, 0) AS DOUBLE)) AS v1,
      |         (CAST(n2 AS DOUBLE) * CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
      |           / (CAST(n2 AS DOUBLE) * CAST(NULLIF(n2 - 1, 0) AS DOUBLE)) AS v2
      |  FROM sums),
      |se AS (
      |  SELECT n1, n2, m1, m2, v1, v2,
      |         v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE) AS se2
      |  FROM parts)
      |SELECT n1, n2, m1 AS mean_r_cents, m2 AS mean_a_cents,
      |       (m1 - m2) / sqrt(se2) AS t_stat,
      |       se2 * se2 / ((v1 / CAST(n1 AS DOUBLE)) * (v1 / CAST(n1 AS DOUBLE))
      |           / CAST(NULLIF(n1 - 1, 0) AS DOUBLE)
      |         + (v2 / CAST(n2 AS DOUBLE)) * (v2 / CAST(n2 AS DOUBLE))
      |           / CAST(NULLIF(n2 - 1, 0) AS DOUBLE)) AS welch_df
      |FROM se""".stripMargin),
    doc = "stats: Welch unequal-variance t-test of returned-vs-accepted price cents with Welch-Satterthwaite df — six exact decimal sufficient statistics, one mirrored IEEE+sqrt epilogue. " +
      "Six exact decimal sufficient statistics in ONE map-side-combinable conditional aggregate (no per-group shuffle at all); t and Welch-Satterthwaite df are a 1-row IEEE+sqrt epilogue.")

  val all: Seq[Q] = Seq(q267)
}
