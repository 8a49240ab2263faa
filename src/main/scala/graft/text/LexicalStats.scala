package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Two classical lexical profiles over the documents table:
  *
  *   q258 — Yule's characteristic K (Yule 1944): the length-invariant
  *          vocabulary-repetitiveness constant,
  *          K = 10⁴ · (Σ_m m²·V_m − N) / N² where V_m = #types seen m
  *          times. Template-generated or spun text drives K up; it is
  *          the corpus-QA twin of q104's hapax profile that does NOT
  *          change when the corpus grows.
  *   q259 — Flesch reading ease (Flesch 1948):
  *          206.835 − 1.015·(W/S) − 84.6·(Syl/W), with syllables
  *          approximated by vowel-cluster counts ([aeiouyAEIOUY]+) and
  *          sentences by terminal-punctuation groups ([.!?]+, floor 1
  *          per doc) — the standard proxy battery when no dictionary
  *          is available. A readability gate is a stock LLM-corpus
  *          filter next to q42/q107.
  *
  * Exactness: Σ m²V_m ≡ Σ_type freq², so BOTH numbers reduce to exact
  * integer sufficient statistics (token counts, cluster counts) with
  * one mirrored IEEE epilogue; the literal Flesch coefficients are
  * written as double literals (`…e0`) in both engines so neither
  * parses them as decimal.
  *
  * Scale shape: one explode compressed immediately to per-(source,
  * token) counts (q94's shape) for K; per-doc regexp counts collapse
  * map-side to 20 source rows for Flesch. Nothing corpus-sized
  * survives the first aggregate.
  */
object LexicalStats {

  val q258 = Q(
    "q258_yule_k",
    (s, dir) => {
      import s.implicits._
      val freqs = Tables.load(s, dir, "documents")
        .select($"source", explode(split($"text", " ")).as("tok"))
        .groupBy($"source", $"tok").agg(count(lit(1)).as("f"))
      freqs.groupBy($"source")
        .agg(sum($"f").as("n_tokens"), count(lit(1)).as("vocab"),
          sum($"f" * $"f").as("sum_f2"))
        .select($"source", $"n_tokens", $"vocab", $"sum_f2",
          (lit(10000d) * ($"sum_f2" - $"n_tokens").cast("double")
            / ($"n_tokens".cast("double") * $"n_tokens".cast("double")))
            .as("yule_k"))
        .orderBy($"source")
    },
    Some("""WITH freqs AS (
      |  SELECT source, tok, COUNT(*) AS f
      |  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS tok
      |        FROM documents)
      |  GROUP BY 1, 2)
      |SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
      |       COUNT(*) AS vocab, CAST(SUM(f * f) AS BIGINT) AS sum_f2,
      |       10000e0 * CAST(SUM(f * f) - SUM(f) AS DOUBLE)
      |         / (CAST(SUM(f) AS DOUBLE) * CAST(SUM(f) AS DOUBLE)) AS yule_k
      |FROM freqs GROUP BY source ORDER BY source""".stripMargin),
    doc = "text: Yule's characteristic K per source — length-invariant vocabulary repetitiveness from exact frequency-spectrum integers. " +
      "Frequency spectrum from one tokenize -> (source, tok) count; Yule's K folds the |spectrum|-sized frame with exact integers — length-invariant, two narrow shuffles total.")

  val q259 = Q(
    "q259_flesch_reading_ease",
    (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select($"source",
          size(split($"text", " ")).cast("long").as("w"),
          greatest(size(expr("regexp_extract_all(text, '[.!?]+', 0)")), lit(1))
            .cast("long").as("sent"),
          size(expr("regexp_extract_all(text, '[aeiouyAEIOUY]+', 0)"))
            .cast("long").as("syl"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"w").as("n_words"),
          sum($"sent").as("n_sentences"), sum($"syl").as("n_syllables"))
        .select($"source", $"n_docs", $"n_words", $"n_sentences", $"n_syllables",
          (lit(206.835d)
            - lit(1.015d) * ($"n_words".cast("double") / $"n_sentences".cast("double"))
            - lit(84.6d) * ($"n_syllables".cast("double") / $"n_words".cast("double")))
            .as("flesch"))
        .orderBy($"source")
    },
    Some("""WITH per_doc AS (
      |  SELECT source,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
      |         CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS sent,
      |         CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT) AS syl
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS n_words,
      |       CAST(SUM(sent) AS BIGINT) AS n_sentences,
      |       CAST(SUM(syl) AS BIGINT) AS n_syllables,
      |       206.835e0
      |         - 1.015e0 * (CAST(SUM(w) AS DOUBLE) / CAST(SUM(sent) AS DOUBLE))
      |         - 84.6e0 * (CAST(SUM(syl) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)) AS flesch
      |FROM per_doc GROUP BY source ORDER BY source""".stripMargin),
    doc = "quality: Flesch reading-ease per source — vowel-cluster syllable proxy, terminal-punctuation sentences, exact integer counts with one IEEE epilogue. " +
      "Word/sentence/syllable proxies are per-row codegen; per-source means divide exact integer sums — one map-side-combined aggregate.")

  val all: Seq[Q] = Seq(q258, q259)
}
