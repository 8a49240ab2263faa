package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Benford first-digit audit (Newcomb 1881; Benford 1938) — the
  * classic fabricated-amounts screen: organically-grown monetary
  * amounts follow P(d) = log10(1 + 1/d), and a ledger whose leading
  * digits drift far from that curve is the standard audit flag
  * (Nigrini's forensic-accounting programme). The reference's domain
  * bills charges per encounter; this is the quality gate its finance
  * side would run.
  *
  * Exactness: the leading digit comes from the INTEGER cents value
  * rendered as a string — never from log10/pow float boundaries
  * (10^k edge values would flip digits between engines). The Benford
  * expectations are pinned integer-ppm constants (the same public
  * table in both engines), and shares/deviations are integer `div`
  * ppm.
  *
  * Scale shape: one map-side-combinable groupBy over the fact table
  * to ≤ 9 rows; the total rides a window over those 9 rows. Nothing
  * else touches the corpus.
  */
object BenfordAudit {

  /** P(d)·10⁶ for d = 1..9 — ⌊log10(1 + 1/d)·10⁶⌋. */
  private val BenfordPpm =
    Seq(301029L, 176091L, 124938L, 96910L, 79181L, 66946L, 57991L, 51152L, 45757L)

  private def benfordCaseSql(digitCol: String): String =
    BenfordPpm.zipWithIndex.map { case (p, i) =>
      s"WHEN $digitCol = ${i + 1} THEN $p"
    }.mkString("CASE ", " ", " END")

  /** q156 — Benford conformance of lineitem extended prices. */
  val q156 = Q(
    "q156_benford_audit",
    (s, dir) => {
      import s.implicits._
      val digits = Tables.load(s, dir, "lineitem")
        .select(expr(
          "cast(substring(cast(cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint) as string), 1, 1) as int)")
          .as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n"))
      val total = digits.agg(sum($"n").as("total"))
      digits.crossJoin(broadcast(total))
        .select($"digit", $"n",
          expr("(n * 1000000) div total").as("share_ppm"),
          expr(benfordCaseSql("digit")).as("benford_ppm"))
        .withColumn("dev_ppm", abs($"share_ppm" - $"benford_ppm"))
        .orderBy($"digit")
    },
    Some(s"""WITH digits AS (
      |  SELECT CAST(substr(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
      |         COUNT(*) AS n
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM digits)
      |SELECT digit, n,
      |       (n * 1000000) // t.total AS share_ppm,
      |       ${benfordCaseSql("digit")} AS benford_ppm,
      |       ABS((n * 1000000) // t.total - ${benfordCaseSql("digit")}) AS dev_ppm
      |FROM digits, t ORDER BY digit""".stripMargin),
    doc = "audit: Benford first-digit conformance of monetary amounts, integer-ppm exact. " +
      "First digit extracted per-row from exact decimal cents; the digit histogram is a 9-row map-side-combined aggregate; conformance stats are epilogue on 9 rows.")

  val all: Seq[Q] = Seq(q156)
}
