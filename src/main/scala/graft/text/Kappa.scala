package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Cohen's kappa (Cohen 1960) between two independent deterministic
  * keep/reject raters over the documents corpus — the agreement audit
  * a curation pipeline owes its filter stack: raw percent agreement
  * flatters any pair of filters that mostly say "keep" (high chance
  * agreement), while kappa subtracts the agreement two UNRELATED
  * raters with the same base rates would reach. A structural rater
  * (length + lexical-diversity, the q42 gates) is scored against a
  * linguistic rater (stopword density); low kappa per language means
  * the filters disagree on WHICH docs to drop, not just how many —
  * exactly the signal that decides whether stacking them multiplies
  * or merely repeats the filtering.
  *
  * Exactness: both raters are integer cross-multiplied predicates
  * (no float ratios); the 2×2 contingency cells are exact counts;
  * kappa collapses to ONE IEEE division of exact integers,
  * (n·(n11+n00) − pe) / (n² − pe) with
  * pe = (n11+n10)(n11+n01) + (n01+n00)(n10+n00) — bit-identical
  * across engines, NULL when a degenerate pe = n² (a constant rater)
  * makes kappa undefined.
  *
  * Scale shape: one map-side tokenize + predicate pass, one
  * map-side-combinable aggregate to |languages| rows.
  */
object Kappa {

  val q233 = Q(
    "q233_cohens_kappa",
    (s, dir) => {
      import s.implicits._
      val toks = split(col("text"), " ")
      val scored = Tables.load(s, dir, "documents")
        .select($"lang",
          size(toks).cast("long").as("nt"),
          size(array_distinct(toks)).cast("long").as("nu"),
          size(expr("filter(split(text, ' '), t -> t IN ('the','a','of','to','and','in'))"))
            .cast("long").as("ns"))
        .select($"lang",
          ($"nt" >= 20 && $"nu" * 10 >= $"nt" * 3).as("a"),
          ($"ns" * 20 > $"nt" * 3).as("b"))
      val ct = scored.groupBy($"lang").agg(
        count(lit(1)).as("n_docs"),
        count_if($"a" && $"b").as("n11"),
        count_if($"a" && !$"b").as("n10"),
        count_if(!$"a" && $"b").as("n01"),
        count_if(!$"a" && !$"b").as("n00"))
      val pe = ($"n11" + $"n10") * ($"n11" + $"n01") +
        ($"n01" + $"n00") * ($"n10" + $"n00")
      ct.select($"lang", $"n_docs", $"n11", $"n10", $"n01", $"n00",
          (($"n11" + $"n00").cast("double") / $"n_docs".cast("double")).as("po"),
          when($"n_docs" * $"n_docs" - pe === 0, lit(null).cast("double"))
            .otherwise(($"n_docs" * ($"n11" + $"n00") - pe).cast("double") /
              ($"n_docs" * $"n_docs" - pe).cast("double")).as("kappa"))
        .orderBy($"lang")
    },
    Some("""WITH t AS (
      |  SELECT lang,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
      |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nu,
      |         CAST(len(list_filter(string_split(text, ' '),
      |              t -> t IN ('the','a','of','to','and','in'))) AS BIGINT) AS ns
      |  FROM documents),
      |r AS (
      |  SELECT lang, (nt >= 20 AND nu * 10 >= nt * 3) AS a,
      |         (ns * 20 > nt * 3) AS b
      |  FROM t),
      |ct AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |         CAST(COUNT(CASE WHEN a AND b THEN 1 END) AS BIGINT) AS n11,
      |         CAST(COUNT(CASE WHEN a AND NOT b THEN 1 END) AS BIGINT) AS n10,
      |         CAST(COUNT(CASE WHEN NOT a AND b THEN 1 END) AS BIGINT) AS n01,
      |         CAST(COUNT(CASE WHEN NOT a AND NOT b THEN 1 END) AS BIGINT) AS n00
      |  FROM r GROUP BY 1)
      |SELECT lang, n_docs, n11, n10, n01, n00,
      |       CAST(n11 + n00 AS DOUBLE) / CAST(n_docs AS DOUBLE) AS po,
      |       CASE WHEN n_docs * n_docs
      |                 - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) = 0
      |            THEN NULL
      |            ELSE CAST(n_docs * (n11 + n00)
      |                 - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS DOUBLE)
      |               / CAST(n_docs * n_docs
      |                 - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) AS DOUBLE)
      |       END AS kappa
      |FROM ct ORDER BY lang""".stripMargin),
    doc = "text: Cohen's kappa between structural and stopword-density keep/reject raters per language — chance-corrected filter agreement from exact 2x2 contingency integers. " +
      "Kappa: one map-side tokenize + integer-predicate pass, one map-side-combinable aggregate to |languages| rows; kappa is one IEEE division of exact contingency integers.")

  val all: Seq[Q] = Seq(q233)
}
