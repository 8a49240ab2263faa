package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Cochran-Armitage trend test (Cochran 1954; Armitage 1955) — is
  * there a MONOTONE dose-response in a binary outcome across ordered
  * exposure levels? Here: does the return rate trend with the discount
  * ladder? q180's chi-square only answers "are the levels different
  * somehow" (k−1 df); this spends a single df on the ordered
  * alternative and is the standard epidemiology/pricing dose-response
  * gate (q219's Jonckheere is its continuous-outcome sibling).
  *
  * Determinism: doses are the exact integer discount levels (weights
  * w = 0..10), so every sufficient statistic — Σwn, Σw²n, Σw·pos,
  * totals — is an exact decimal(38,0) ↔ HUGEINT sum over the 11-row
  * level frame; the numerator and the variance inner term are cleared
  * of the 1/N fractions so they stay exact integers (the three-factor
  * variance product then multiplies their correctly-rounded double
  * casts — same IEEE value in both engines), and the z / χ² epilogue
  * has one sqrt. A degenerate table (all outcomes one class, or one
  * level) NULLIFs.
  *
  * Scale shape: ONE map-side-combinable aggregate compresses the scan
  * to 11 rows; everything after is constant-size. No join, no window,
  * no corpus-side shuffle beyond the level aggregate.
  */
object CochranArmitage {

  val q271 = Q(
    "q271_cochran_armitage",
    (s, dir) => {
      import s.implicits._
      val lvl = Tables.load(s, dir, "lineitem")
        .groupBy(round($"l_discount" * 100).cast("int").as("w"))
        .agg(count(lit(1)).as("ni"),
          count_if($"l_returnflag" === "R").as("pi"))
      lvl.agg(count(lit(1)).as("k"),
          sum($"ni").as("n"), sum($"pi").as("pos"),
          sum($"w".cast("decimal(38,0)") * $"ni").as("swn"),
          sum(($"w" * $"w").cast("decimal(38,0)") * $"ni").as("sw2n"),
          sum($"w".cast("decimal(38,0)") * $"pi").as("swp"))
        .withColumn("num", expr(
          "cast(n as decimal(38,0)) * swp - cast(pos as decimal(38,0)) * swn"))
        .withColumn("vinner", expr(
          "cast(n as decimal(38,0)) * sw2n - swn * swn"))
        .withColumn("vcore", expr(
          "cast(pos as double) * cast(n - pos as double) * cast(vinner as double)"))
        .withColumn("z_ca", expr(
          "cast(num as double) / nullif(sqrt(vcore / cast(n as double)), 0D)"))
        .select($"k", $"n", $"pos", $"z_ca",
          expr("z_ca * z_ca").as("chi2_trend"))
    },
    Some("""WITH lvl AS (
      |  SELECT CAST(round(l_discount * 100) AS INT) AS w,
      |         CAST(COUNT(*) AS BIGINT) AS ni,
      |         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pi
      |  FROM lineitem GROUP BY 1),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |         CAST(SUM(ni) AS BIGINT) AS n, CAST(SUM(pi) AS BIGINT) AS pos,
      |         SUM(CAST(w AS HUGEINT) * ni) AS swn,
      |         SUM(CAST(w * w AS HUGEINT) * ni) AS sw2n,
      |         SUM(CAST(w AS HUGEINT) * pi) AS swp
      |  FROM lvl),
      |core AS (
      |  SELECT k, n, pos,
      |         CAST(n AS HUGEINT) * swp - CAST(pos AS HUGEINT) * swn AS num,
      |         CAST(pos AS DOUBLE) * CAST(n - pos AS DOUBLE)
      |           * CAST(CAST(n AS HUGEINT) * sw2n - swn * swn AS DOUBLE) AS vcore
      |  FROM agg),
      |z AS (
      |  SELECT k, n, pos,
      |         CAST(num AS DOUBLE) / NULLIF(sqrt(vcore
      |             / CAST(n AS DOUBLE)), 0e0) AS z_ca
      |  FROM core)
      |SELECT k, n, pos, z_ca, z_ca * z_ca AS chi2_trend FROM z""".stripMargin),
    doc = "stats: Cochran-Armitage dose-response trend of return rate across the discount ladder — exact integer numerator/variance cores cleared of 1/N, one sqrt epilogue. " +
      "ONE map-side-combinable aggregate compresses the scan to the 11-level dose frame; numerator/variance cores cleared of 1/N stay exact decimals; constant-size epilogue with one sqrt.")

  val all: Seq[Q] = Seq(q271)
}
