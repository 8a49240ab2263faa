package graft.text

import graft.{Q, Tables}
import graft.operators.DistributedRank
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Heaps'-law vocabulary growth curve (Heaps 1978; Herdan 1960):
  * distinct vocabulary V(T) against token volume T at crawl-order
  * prefixes N/8, N/4, N/2, N — natural corpora grow V ∝ T^β with
  * β ≈ 0.4–0.6, and a corpus whose β collapses early is
  * template-saturated (the companion to q161's Zipf tail and q118's
  * gram novelty: THIS one says when more crawling stops buying
  * vocabulary).
  *
  * Exactness: the per-segment growth exponent is the ratio of
  * quantized-log2 deltas, β_ppm = (Δlq(V)·10⁶) div Δlq(T) — exact
  * longs end to end (the q161 Hill stance).
  *
  * Scale shape: crawl positions come from one DistributedRank pass
  * over the slim (doc_id) frame; token first-positions collapse to a
  * per-token min (map-side combinable, the q118 election); the four
  * prefix ledgers are conditional aggregates against a broadcast
  * threshold list. The curve frame is 4 rows.
  */
object Heaps {

  /** q177 — vocabulary growth at crawl-order prefixes. */
  val q177 = Q(
    "q177_heaps_curve",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val pos = DistributedRank.withRowNumber(
        docs.select($"doc_id"), Seq($"doc_id".asc), out = "rn")
      val d = docs.select($"doc_id",
          split(coalesce($"text", lit("")), " ").as("toks"))
        .join(pos, "doc_id")
      val nDf = d.agg(count(lit(1)).as("nd"))
      val cuts = nDf.select(explode(expr(
        "array(struct(1 as seg, nd div 8 as k), struct(2 as seg, nd div 4 as k), " +
          "struct(3 as seg, nd div 2 as k), struct(4 as seg, nd as k))")).as("c"))
        .select($"c.seg".as("seg"), $"c.k".as("k"))
      val firstPos = d.select($"rn", explode($"toks").as("t"))
        .groupBy($"t").agg(min($"rn").as("fp"))
      val vocab = firstPos.crossJoin(broadcast(cuts))
        .filter($"fp" <= $"k")
        .groupBy($"seg", $"k").agg(count(lit(1)).as("vocab"))
      val toks = d.select($"rn", size($"toks").cast("long").as("nt"))
        .crossJoin(broadcast(cuts))
        .filter($"rn" <= $"k")
        .groupBy($"seg").agg(sum($"nt").as("tokens"))
      val curve = vocab.join(toks, "seg")
      val byseg = Window.orderBy($"seg") // 4-row frame
      curve
        .withColumn("pv", lag($"vocab", 1).over(byseg))
        .withColumn("pt", lag($"tokens", 1).over(byseg))
        .select($"seg", $"k".as("prefix_docs"), $"tokens", $"vocab",
          when($"pv".isNull, lit(null).cast("long"))
            .otherwise(expr(
              s"((${TextQueries.lqSql("vocab")} - ${TextQueries.lqSql("pv")}) * 1000000)" +
                s" div (${TextQueries.lqSql("tokens")} - ${TextQueries.lqSql("pt")})"))
            .as("beta_ppm"))
        .orderBy($"seg")
    },
    Some(s"""WITH pos AS (
      |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
      |  FROM documents),
      |d AS (
      |  SELECT p.rn, string_split(COALESCE(doc.text, ''), ' ') AS toks
      |  FROM documents doc JOIN pos p ON p.doc_id = doc.doc_id),
      |n AS (SELECT COUNT(*) AS nd FROM d),
      |cuts AS (
      |  SELECT 1 AS seg, nd // 8 AS k FROM n
      |  UNION ALL SELECT 2, nd // 4 FROM n
      |  UNION ALL SELECT 3, nd // 2 FROM n
      |  UNION ALL SELECT 4, nd FROM n),
      |fp AS (
      |  SELECT t, MIN(rn) AS fp
      |  FROM (SELECT rn, UNNEST(toks) AS t FROM d) GROUP BY 1),
      |vocab AS (
      |  SELECT seg, k, COUNT(*) AS vocab
      |  FROM fp, cuts WHERE fp.fp <= cuts.k GROUP BY 1, 2),
      |toks AS (
      |  SELECT seg, CAST(SUM(len(toks)) AS BIGINT) AS tokens
      |  FROM d, cuts WHERE d.rn <= cuts.k GROUP BY 1),
      |curve AS (
      |  SELECT v.seg, v.k, t.tokens, v.vocab,
      |         LAG(v.vocab) OVER (ORDER BY v.seg) AS pv,
      |         LAG(t.tokens) OVER (ORDER BY v.seg) AS pt
      |  FROM vocab v JOIN toks t ON t.seg = v.seg)
      |SELECT seg, k AS prefix_docs, tokens, vocab,
      |       CASE WHEN pv IS NULL THEN NULL
      |            ELSE ((${TextQueries.lqDuck("vocab")} - ${TextQueries.lqDuck("pv")}) * 1000000)
      |              // (${TextQueries.lqDuck("tokens")} - ${TextQueries.lqDuck("pt")}) END AS beta_ppm
      |FROM curve ORDER BY seg""".stripMargin),
    doc = "text: Heaps-law vocabulary growth at crawl prefixes — quantized-log2 segment exponents. " +
      "Vocabulary growth via per-token MIN-first-position (map-side combinable); the four crawl-order prefix ledgers are conditional aggregates against a broadcast threshold list — 4-row curve out.")

  val all: Seq[Q] = Seq(q177)
}
