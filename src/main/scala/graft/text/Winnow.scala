package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
  * SIGMOD 2003 — the MOSS algorithm): slide a window of `w`
  * consecutive k-gram hashes over each document and keep the window
  * minimum. The selected set carries the paper's guarantee — any
  * shared token run of length ≥ w + k − 1 between two documents
  * produces at least one shared fingerprint — at an expected density
  * of 2/(w+1) of the gram stream, so the corpus-wide shuffle that
  * dup-detection needs moves ~60% fewer rows (w=4) than the
  * every-gram stream (q96) while staying exhaustive above the
  * guarantee threshold.
  *
  * This implementation keeps the fingerprint SET per document (the
  * dedup/audit use), so plain window-min suffices; the paper's
  * rightmost-min tiebreak only matters for positional fingerprints.
  * Grams are [[graft.functions.Md5Prefix]] longs
  * ([[TextQueries.gramHashArr]] — k=8), so selection happens on longs,
  * never gram text.
  *
  * Scale shape: selection is a PURE MAP — two higher-order array ops
  * per row behind materialization barriers (each lambda's input array
  * must be materialized or CollapseProject re-runs its defining
  * expression per window position — the q96 lesson). Nothing shuffles
  * until the caller explodes the (smaller) fingerprint sets.
  */
object Winnow {

  /** Per-document winnowed fingerprints over `docs` (needs `doc_id`,
    * `source`, `text`): (doc_id, source, m = gram count, fps =
    * distinct winnowed fingerprint array). Documents shorter than
    * w + k − 1 tokens have no full window and are dropped — they are
    * below the guarantee threshold by definition.
    */
  def fingerprints(docs: DataFrame, window: Int = 4): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    require(window >= 1, s"window must be >= 1, got $window")
    val minTokens = window + 8 - 1 // gram size k = 8 (gramHashArr)
    val toks = graft.Barrier(docs
      .select($"doc_id", $"source", split($"text", " ").as("tk"))
      .filter(size($"tk") >= minTokens))
    // gh materialized before the window lambda references it; without
    // the barrier, slice(gh, i, w)'s gh inlines to the gramHashArr
    // expression and the md5s re-run per window position
    val grams = graft.Barrier(toks
      .select($"doc_id", $"source", TextQueries.gramHashArr.as("gh")))
    grams.select($"doc_id", $"source", size($"gh").cast("long").as("m"),
      expr(s"""array_distinct(transform(
           |  sequence(1, size(gh) - ${window - 1}),
           |  i -> array_min(slice(gh, i, $window))))""".stripMargin)
        .as("fps"))
  }
}
