package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mixed-script / homoglyph audit — the spoofing-and-contamination
  * screen beside q125's encoding noise (UTS #39's confusables
  * problem, reduced to its distributed core): a WORD that mixes
  * Latin letters with Cyrillic or Greek is either a homoglyph spoof
  * ("pаypal" with a Cyrillic а), OCR bleed, or cross-lingual
  * mojibake — all of which poison tokenizers and dedup keys while
  * passing ASCII-ratio gates (each word still LOOKS clean).
  *
  * Regex stance (the q125 lesson): PLAIN CHARACTER CLASSES only —
  * `[a-zA-Z]`, `[Ѐ-ӿ]`, `[Ͱ-Ͽ]` — no
  * alternation, no anchors, so Java regex (Spark) and RE2-style
  * (DuckDB) cannot diverge on match semantics. A word is mixed when
  * two different script classes both match it.
  *
  * Scale shape: ONE codegen'd map pass (filter over the split array
  * with two rlike probes per word) + one map-side-combinable
  * aggregate to |sources| rows with a struct-max worst-doc election.
  * The driver corpus is clean ASCII, so the registry run certifies
  * the all-zero path; the spec injects spoofed fixtures.
  */
object Homoglyph {

  /** Count of mixed-script words in `text`. */
  def mixedWordCount(text: Column): Column =
    size(filter(split(coalesce(text, lit("")), " "),
      w => w.rlike("[a-zA-Z]") &&
        (w.rlike("[\\x{0400}-\\x{04FF}]") || w.rlike("[\\x{0370}-\\x{03FF}]"))))
      .cast("long")

  /** [[q181]]'s pipeline over an in-memory frame, for spec fixtures
    * (the q125 convention).
    */
  private[text] def auditOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"source", $"doc_id", mixedWordCount($"text").as("mw"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"mw").as("mixed_words"),
        count_if($"mw" > 0).as("n_flagged_docs"),
        max(struct($"mw", (-$"doc_id").as("negid"))).as("w"))
      .select($"source", $"n_docs", $"mixed_words", $"n_flagged_docs",
        when($"w.mw" > 0, -$"w.negid").otherwise(lit(null).cast("long"))
          .as("worst_doc_id"))
      .orderBy($"source")
  }

  /** q181 — per-source mixed-script ledger. */
  val q181 = Q(
    "q181_homoglyph_audit",
    (s, dir) => auditOf(Tables.load(s, dir, "documents")),
    Some("""WITH m AS (
      |  SELECT source, doc_id,
      |         CAST(len(list_filter(string_split(COALESCE(text, ''), ' '),
      |           w -> regexp_matches(w, '[a-zA-Z]')
      |             AND (regexp_matches(w, '[\x{0400}-\x{04FF}]')
      |               OR regexp_matches(w, '[\x{0370}-\x{03FF}]'))))
      |           AS BIGINT) AS mw
      |  FROM documents),
      |mx AS (SELECT source, MAX(mw) AS m FROM m GROUP BY 1),
      |wd AS (
      |  SELECT m.source, MIN(m.doc_id) AS worst
      |  FROM m JOIN mx ON m.source = mx.source AND m.mw = mx.m
      |  GROUP BY 1)
      |SELECT m.source, COUNT(*) AS n_docs,
      |       CAST(SUM(mw) AS BIGINT) AS mixed_words,
      |       CAST(COUNT(CASE WHEN mw > 0 THEN 1 END) AS BIGINT) AS n_flagged_docs,
      |       CASE WHEN mx.m > 0 THEN wd.worst END AS worst_doc_id
      |FROM m JOIN mx ON m.source = mx.source JOIN wd ON m.source = wd.source
      |GROUP BY m.source, mx.m, wd.worst
      |ORDER BY m.source""".stripMargin),
    doc = "text: mixed-script homoglyph audit (UTS #39 confusables) — plain-char-class regexes, struct-max worst doc. " +
      "Mixed-script detection is per-row regex over tokens (map-side); the per-source ledger is one narrow combined aggregate.")

  val all: Seq[Q] = Seq(q181)
}
