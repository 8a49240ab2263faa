package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Jarque-Bera normality audit (Jarque & Bera 1980) — skewness and
  * excess kurtosis of the order-to-ship delay per order priority, and
  * the JB = n/6·(g₁² + g₂²/4) omnibus statistic. The gate before any
  * normality-assuming downstream (q202's ANOVA, q267's t, control
  * limits): a large JB says "use the rank tests instead". Moment-based
  * and closed-form — no quantile tables, no libm.
  *
  * Determinism: delays are exact integer days, so the four raw power
  * sums Σd..Σd⁴ are exact decimal(38,0) ↔ HUGEINT (d ≤ a few hundred
  * ⇒ d⁴ ≤ ~10⁹ per row — headroom to ~10²⁸ rows); central moments
  * come from the raw moments by the binomial identities evaluated as
  * the IDENTICAL chain of double columns in both engines; the only
  * non-arithmetic op is one correctly-rounded sqrt.
  *
  * Scale shape: one key join (lineitem⋈orders), one map-side-
  * combinable aggregate per priority to a 5-row frame, closed-form
  * epilogue. No window, no second pass (the naive two-pass
  * mean-then-deviations formulation would rescan the corpus).
  */
object Normality {

  val q269 = Q(
    "q269_jarque_bera",
    (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "orders")
        .select($"o_orderkey", $"o_orderpriority".as("g"), $"o_orderdate")
        .join(Tables.load(s, dir, "lineitem")
          .select($"l_orderkey", $"l_shipdate"),
          $"o_orderkey" === $"l_orderkey")
        .select($"g",
          datediff($"l_shipdate", $"o_orderdate").cast("long").as("d"))
        .groupBy($"g")
        .agg(count(lit(1)).as("n"),
          sum($"d".cast("decimal(38,0)")).as("s1"),
          sum(($"d" * $"d").cast("decimal(38,0)")).as("s2"),
          sum(($"d" * $"d" * $"d").cast("decimal(38,0)")).as("s3"),
          sum(($"d" * $"d" * $"d" * $"d").cast("decimal(38,0)")).as("s4"))
        .withColumn("nd", $"n".cast("double"))
        .withColumn("mu", expr("cast(s1 as double) / nd"))
        .withColumn("m2", expr("cast(s2 as double) / nd - mu * mu"))
        .withColumn("m3", expr(
          "cast(s3 as double) / nd - 3D * mu * cast(s2 as double) / nd"
            + " + 2D * mu * mu * mu"))
        .withColumn("m4", expr(
          "cast(s4 as double) / nd - 4D * mu * cast(s3 as double) / nd"
            + " + 6D * mu * mu * cast(s2 as double) / nd"
            + " - 3D * mu * mu * mu * mu"))
        .withColumn("skew", expr("m3 / nullif(m2 * sqrt(m2), 0D)"))
        .withColumn("exkurt", expr("m4 / nullif(m2 * m2, 0D) - 3D"))
        .select($"g".as("priority"), $"n",
          $"mu".as("mean_delay_days"), $"skew".as("skewness"),
          $"exkurt".as("excess_kurtosis"),
          expr("nd / 6D * (skew * skew + exkurt * exkurt / 4D)").as("jb_stat"))
        .orderBy($"priority")
    },
    Some("""WITH pts AS (
      |  SELECT o_orderpriority AS g,
      |         CAST(date_diff('day', CAST(o_orderdate AS DATE),
      |                        CAST(l_shipdate AS DATE)) AS BIGINT) AS d
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |sums AS (
      |  SELECT g, COUNT(*) AS n,
      |         SUM(CAST(d AS HUGEINT)) AS s1,
      |         SUM(CAST(d * d AS HUGEINT)) AS s2,
      |         SUM(CAST(d * d * d AS HUGEINT)) AS s3,
      |         SUM(CAST(d * d * d * d AS HUGEINT)) AS s4
      |  FROM pts GROUP BY 1),
      |m AS (
      |  SELECT g, n, CAST(n AS DOUBLE) AS nd,
      |         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
      |         CAST(s2 AS DOUBLE) AS s2d, CAST(s3 AS DOUBLE) AS s3d,
      |         CAST(s4 AS DOUBLE) AS s4d
      |  FROM sums),
      |cm AS (
      |  SELECT g, n, nd, mu,
      |         s2d / nd - mu * mu AS m2,
      |         s3d / nd - 3e0 * mu * s2d / nd + 2e0 * mu * mu * mu AS m3,
      |         s4d / nd - 4e0 * mu * s3d / nd
      |           + 6e0 * mu * mu * s2d / nd - 3e0 * mu * mu * mu * mu AS m4
      |  FROM m),
      |sk AS (
      |  SELECT g, n, nd, mu,
      |         m3 / NULLIF(m2 * sqrt(m2), 0e0) AS skew,
      |         m4 / NULLIF(m2 * m2, 0e0) - 3e0 AS exkurt
      |  FROM cm)
      |SELECT g AS priority, n, mu AS mean_delay_days,
      |       skew AS skewness, exkurt AS excess_kurtosis,
      |       nd / 6e0 * (skew * skew + exkurt * exkurt / 4e0) AS jb_stat
      |FROM sk ORDER BY priority""".stripMargin),
    doc = "stats: Jarque-Bera normality audit of ship-delay days per priority — four exact decimal power sums, binomial central-moment chain, one sqrt. " +
      "One key join + one map-side-combinable aggregate of four exact power sums to a 5-row priority frame; central moments and JB are a closed-form double chain — no second corpus pass for the mean.")

  val all: Seq[Q] = Seq(q269)
}
