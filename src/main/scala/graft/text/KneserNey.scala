package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995;
  * Chen & Goodman 1999) — the smoothing the production LM-filter
  * stack (KenLM, the CCNet reference implementation) actually uses,
  * where q116's +1-smoothed gate is the teaching version: add-one
  * spreads mass uniformly over the vocabulary, so rare-context docs
  * are over-penalized; KN discounts every seen bigram by a fixed
  * D = 3/4 and backs off to the CONTINUATION unigram (how many
  * distinct contexts a word follows — "Francisco" is frequent but
  * follows only "San", and KN is the smoothing that knows it).
  *
  * Exactness: with D = 3/4 the interpolated probability is an exact
  * integer RATIONAL on a common denominator:
  *   p(w|v) = [max(4c(vw)−3, 0)·T + 3·N1+(v·)·N1+(·w)] / [4c(v)·T]
  * with T the total distinct bigram types; per-position surprisal is
  * the quantized-log2 difference L(den) − L(num) (TextQueries.lqSql —
  * exact long, monotone in 1/p, the q99/q105/q116 no-libm stance).
  * Ceiling: den = 4·c(v)·T must stay < 2⁴³ for lq exactness —
  * ~3·10⁶ max-context-count × type-count product, fine to ~10⁹-token
  * corpora; past that shrink the lq quantum (documented, not silent).
  *
  * Scale shape: q116's — ONE explode compresses immediately to
  * per-(doc, v, w) counts (map-side combine) behind a Barrier with
  * two consumers (model + scoring); the model, context totals,
  * continuation counts, and the 1-row type total are all
  * bigram-TYPE-bounded (≪ corpus positions); the scoring join
  * shuffles doc-bigram pairs on the (v, w) type key (AQE-splittable
  * equi-join, never a window). Top-doc election is max(struct).
  */
object KneserNey {

  val q243 = Q(
    "q243_kneser_ney",
    (s, dir) => {
      import s.implicits._
      // tokens hash to Md5Prefix longs BEFORE the first shuffle
      // ("shuffle keys, not payloads"): every aggregate and join
      // downstream (docbg, model, ctx, cont, sq, the scoring join) keys
      // on longs instead of token strings. One md5 per token (both
      // bigram roles read the hashed array); collisions ~2⁻⁶⁰ merge two
      // types' counts identically on both engines.
      val tok = Tables.load(s, dir, "documents")
        .select($"doc_id", $"source",
          split(coalesce($"text", lit("")), " ").as("a"))
        .filter(size($"a") >= 2)
      val pos = tok.select($"doc_id", $"source", expr(
          s"transform(a, t -> ${graft.functions.Md5Prefix.sql("t")})")
          .as("ha"))
        .select($"doc_id", $"source",
          explode(expr(
            "transform(sequence(0, size(ha) - 2), i -> named_struct('v', ha[i], 'w', ha[i + 1]))"))
            .as("bg"))
        .select($"doc_id", $"source", $"bg.v".as("v"), $"bg.w".as("w"))
      val docbg = graft.Barrier(pos.groupBy($"doc_id", $"source", $"v", $"w")
        .agg(count(lit(1)).as("c")))
      val model = graft.Barrier(docbg.groupBy($"v", $"w")
        .agg(sum($"c").as("cb")))
      val ctx = model.groupBy($"v")
        .agg(sum($"cb").as("cu"), count(lit(1)).as("n1v"))
      val cont = model.groupBy($"w").agg(count(lit(1)).as("n1w"))
      val types = model.agg(count(lit(1)).as("tt"))
      val sq = model
        .join(ctx, "v").join(cont, "w").crossJoin(broadcast(types))
        .select($"v", $"w",
          expr(s"${TextQueries.lqSql("4L * cu * tt")} - " +
            TextQueries.lqSql("greatest(4L * cb - 3L, 0L) * tt + 3L * n1v * n1w"))
            .as("sq"))
      val perdoc = docbg.join(sq, Seq("v", "w"))
        .groupBy($"doc_id", $"source")
        .agg(sum($"c" * $"sq").as("ssum"), sum($"c").as("n_bg"))
        .withColumn("mean_q", expr("ssum div n_bg"))
      perdoc.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_bg").as("n_bigrams"),
          (sum($"ssum").cast("double") / sum($"n_bg")).as("mean_kn_surprisal"),
          max(struct($"mean_q", $"doc_id")).as("t"))
        .select($"source", $"n_docs", $"n_bigrams", $"mean_kn_surprisal",
          $"t.doc_id".as("top_doc"), $"t.mean_q".as("top_doc_mean_q"))
        .orderBy($"source")
    },
    Some(s"""WITH tok AS (
      |  SELECT doc_id, source,
      |         list_transform(string_split(COALESCE(text, ''), ' '),
      |           t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS a
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, source, a[i] AS v, a[i + 1] AS w
      |  FROM (SELECT doc_id, source, a, UNNEST(range(1, len(a))) AS i
      |        FROM tok WHERE len(a) >= 2)),
      |docbg AS MATERIALIZED (
      |  SELECT doc_id, source, v, w, COUNT(*) AS c FROM pos GROUP BY 1, 2, 3, 4),
      |model AS MATERIALIZED (
      |  SELECT v, w, CAST(SUM(c) AS BIGINT) AS cb FROM docbg GROUP BY 1, 2),
      |ctx AS (
      |  SELECT v, CAST(SUM(cb) AS BIGINT) AS cu, COUNT(*) AS n1v
      |  FROM model GROUP BY 1),
      |cont AS (SELECT w, COUNT(*) AS n1w FROM model GROUP BY 1),
      |types AS (SELECT COUNT(*) AS tt FROM model),
      |sq AS (
      |  SELECT m.v, m.w,
      |         ${TextQueries.lqDuck("4 * c.cu * t.tt")}
      |           - ${TextQueries.lqDuck(
                   "greatest(4 * m.cb - 3, 0) * t.tt + 3 * c.n1v * o.n1w")} AS sq
      |  FROM model m JOIN ctx c USING (v) JOIN cont o USING (w), types t),
      |perdoc AS (
      |  SELECT d.doc_id, d.source,
      |         CAST(SUM(d.c * s.sq) AS BIGINT) AS ssum,
      |         CAST(SUM(d.c) AS BIGINT) AS n_bg
      |  FROM docbg d JOIN sq s ON d.v = s.v AND d.w = s.w
      |  GROUP BY 1, 2),
      |pd AS (SELECT *, ssum // n_bg AS mean_q FROM perdoc),
      |agg AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |         CAST(SUM(n_bg) AS BIGINT) AS n_bigrams,
      |         CAST(SUM(ssum) AS DOUBLE) / SUM(n_bg) AS mean_kn_surprisal
      |  FROM pd GROUP BY 1),
      |top AS (
      |  SELECT source, doc_id AS top_doc, mean_q AS top_doc_mean_q
      |  FROM (SELECT source, doc_id, mean_q,
      |               ROW_NUMBER() OVER (PARTITION BY source
      |                 ORDER BY mean_q DESC, doc_id DESC) AS rn
      |        FROM pd) WHERE rn = 1)
      |SELECT a.source, a.n_docs, a.n_bigrams, a.mean_kn_surprisal,
      |       t.top_doc, CAST(t.top_doc_mean_q AS BIGINT) AS top_doc_mean_q
      |FROM agg a JOIN top t USING (source) ORDER BY a.source""".stripMargin),
    doc = "quality: interpolated Kneser-Ney bigram LM scoring (D=3/4, exact integer rationals, quantized-log2 surprisal) per source + most-perplexing doc — the KenLM-style upgrade of q116")

  val all: Seq[Q] = Seq(q243)
}
