package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Fleiss' kappa (Fleiss 1971) — chance-corrected agreement among
  * MULTIPLE raters, where q233's Cohen kappa only handles two. The
  * "raters" are three independent deterministic curation gates every
  * LLM-data pipeline runs (length, token-count, digit-density): if
  * the gates mostly agree, one cheap gate can front-run the ensemble;
  * if kappa is low, the gates encode genuinely different quality
  * notions and dropping one silently changes the corpus.
  *
  * Determinism: each rating is an integer cross-multiplication
  * predicate (no float thresholds); with n = 3 raters and 2
  * categories, per-doc agreement needs only Σkeep and Σkeep² —
  * n_keep² + n_drop² = 2k² − 6k + 9 — so the whole test reduces to
  * three exact long sums and ONE mirrored IEEE epilogue. A degenerate
  * corpus (P_e = 1: all raters unanimous on every doc) NULLIFs.
  *
  * Scale shape: one map pass over the documents scan (string ops are
  * per-row codegen — the only explode-free token count is
  * size(split)), one 1-row aggregate. Nothing corpus-sized shuffles.
  */
object FleissKappa {

  val q270 = Q(
    "q270_fleiss_kappa",
    (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select($"n_chars",
          size(split(coalesce($"text", lit("")), " ")).cast("long").as("tok"),
          (length(coalesce($"text", lit("")))
            - length(regexp_replace(coalesce($"text", lit("")), "[0-9]", "")))
            .cast("long").as("digits"),
          length(coalesce($"text", lit(""))).cast("long").as("chars"))
        .select(
          when($"n_chars" >= 200, 1L).otherwise(0L).as("r1"),
          when($"tok" >= 40, 1L).otherwise(0L).as("r2"),
          when($"digits" * 20 <= $"chars", 1L).otherwise(0L).as("r3"))
        .withColumn("k1", $"r1" + $"r2" + $"r3")
        .agg(count(lit(1)).as("n_docs"),
          sum($"r1").as("keep1"), sum($"r2").as("keep2"), sum($"r3").as("keep3"),
          sum($"k1").as("sk"),
          sum($"k1" * $"k1").as("sk2"))
        .withColumn("nd", $"n_docs".cast("double"))
        .withColumn("p_bar", expr(
          "cast(2L * sk2 - 6L * sk + 9L * n_docs - 3L * n_docs as double)"
            + " / (6D * nd)"))
        .withColumn("p1", expr("cast(sk as double) / (3D * nd)"))
        .withColumn("p_e", expr("p1 * p1 + (1D - p1) * (1D - p1)"))
        .select($"n_docs", $"keep1", $"keep2", $"keep3", $"p_bar", $"p_e",
          expr("(p_bar - p_e) / nullif(1D - p_e, 0D)").as("fleiss_kappa"))
    },
    Some("""WITH rated AS (
      |  SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS r1,
      |         CASE WHEN len(string_split(COALESCE(text, ''), ' ')) >= 40
      |              THEN 1 ELSE 0 END AS r2,
      |         CASE WHEN (length(COALESCE(text, ''))
      |                    - length(regexp_replace(COALESCE(text, ''), '[0-9]', '', 'g'))) * 20
      |                   <= length(COALESCE(text, '')) THEN 1 ELSE 0 END AS r3
      |  FROM documents),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(r1) AS BIGINT) AS keep1,
      |         CAST(SUM(r2) AS BIGINT) AS keep2,
      |         CAST(SUM(r3) AS BIGINT) AS keep3,
      |         CAST(SUM(r1 + r2 + r3) AS BIGINT) AS sk,
      |         CAST(SUM((r1 + r2 + r3) * (r1 + r2 + r3)) AS BIGINT) AS sk2
      |  FROM rated),
      |parts AS (
      |  SELECT n_docs, keep1, keep2, keep3,
      |         CAST(n_docs AS DOUBLE) AS nd,
      |         CAST(2 * sk2 - 6 * sk + 9 * n_docs - 3 * n_docs AS DOUBLE)
      |           / (6e0 * CAST(n_docs AS DOUBLE)) AS p_bar,
      |         CAST(sk AS DOUBLE) / (3e0 * CAST(n_docs AS DOUBLE)) AS p1
      |  FROM agg),
      |pe AS (
      |  SELECT n_docs, keep1, keep2, keep3, p_bar,
      |         p1 * p1 + (1e0 - p1) * (1e0 - p1) AS p_e
      |  FROM parts)
      |SELECT n_docs, keep1, keep2, keep3, p_bar, p_e,
      |       (p_bar - p_e) / NULLIF(1e0 - p_e, 0e0) AS fleiss_kappa
      |FROM pe""".stripMargin),
    doc = "text-curation: Fleiss' kappa agreement among three deterministic quality gates (length/token/digit-density) — integer ratings, three exact sums, one IEEE epilogue. " +
      "Pure map over the documents scan (integer cross-mult rating predicates, per-row codegen) into ONE 1-row aggregate of three exact long sums — no explode, no join, no window.")

  val all: Seq[Q] = Seq(q270)
}
