package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes language classifier (the add-one-smoothed
  * bag-of-words baseline of Manning et al., IR ch. 13) — trained and
  * resubstitution-evaluated on the corpus itself, reporting the
  * confusion matrix per true language. This is the model-based
  * upgrade of q43's heuristic lang-ID: q43 scores against fixed
  * marker lists; this LEARNS per-class token distributions and
  * exposes exactly where classes collide (the confusion cells), which
  * is the audit a curation pipeline runs before trusting any lang
  * column it did not produce.
  *
  * Determinism (the q116 stance): libm ln() low bits are not
  * cross-engine stable, so the per-token log-likelihood rides as the
  * QUANTIZED integer surprisal surp_q(c,w) = (tot_c + V)·10⁶ div
  * (cnt_cw + 1) — a monotone transform of −log p(w|c) exact in both
  * engines (positive numerator, so Spark's truncating `div` and
  * DuckDB's flooring `//` agree); the class prior joins the same way
  * as prior_q(c) = (N + K)·10⁶ div (n_c + 1); argmin breaks ties on
  * the lexicographically smaller language.
  *
  * Scale shape: the corpus tokenizes ONCE into per-(doc, token)
  * counts (map-side combinable). The model is SPARSE: the dense
  * (V × K) smoothing grid never materializes. For an absent (c, w)
  * the smoothed surprisal is the class constant
  * surp0(c) = (tot_c + V)·10⁶ div 1, so the score decomposes exactly
  * (pure integer algebra, no division re-association) as
  *   score(d, c) = len_d·surp0(c) − Σ_{w∈d, cnt_cw>0} c_dw·(surp0(c)
  *                 − surp_q(c, w)) + prior_q(c)
  * — one equi-join of doc-token counts against the OBSERVED
  * class-token deltas on the token (fanout ≤ classes-containing-w),
  * compressed by a (doc, class) aggregate, then a K-row broadcast of
  * class constants onto the per-doc baseline and a struct-min
  * election. The former dense form cross-joined vocab × classes and
  * left-joined the V×K grid — two extra corpus-vocabulary shuffles
  * and a K-fanout join against mostly-absent cells, all scheduling
  * and shuffle cost with zero information (profiled at ~40% of q203's
  * wall at sf0.1). V and the doc/class totals are driver literals off
  * 1-row aggregates (bounded at any corpus size — the q137 nv
  * pattern). Overflow: (tot_c + V)·10⁶ rides a decimal(38,0), exact
  * to ~10³² class tokens; len·surp0 and the correction sum carry the
  * same magnitude as the dense ssum did (long, exact to 2⁶³).
  */
object NaiveBayes {

  val Quantum = 1000000L

  val q203 = Q(
    "q203_naive_bayes_lang",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select($"doc_id", $"lang", split(coalesce($"text", lit("")), " ").as("tk"))
      // docTok is cached PARTITIONED BY (doc_id, lang): hash(doc,lang)
      // satisfies every downstream per-doc requirement — the len
      // aggregate, the (doc,lang,cls) correction aggregate, the
      // base⋈correction merge join and the argmin election — so after
      // this one compact exchange (the grouped counts, not the raw
      // explode) the K-fanout scoring frame NEVER crosses the network
      // again. The dense-era plan exchanged the full fanout once per
      // aggregate.
      val docTok = graft.Barrier(docs
        .select($"doc_id", $"lang", explode($"tk").as("w"))
        .groupBy($"doc_id", $"lang", $"w")
        .agg(count(lit(1)).as("c"))
        .repartition($"doc_id", $"lang"))
      // all three scalar model constants in ONE 1-row driver action
      // (the q137 nv pattern): vocabulary size, corpus doc count
      // (doc_id is the documents PK, and split() never returns an
      // empty array, so every doc reaches docTok), class count. A
      // 1-row-frame broadcast was measured ~0.6 s SLOWER here — the
      // stats→clsConst→deltas broadcast chain serializes into three
      // dependent broadcast waves, where the single head() pays one.
      val stats = docTok.agg(countDistinct($"w"),
        countDistinct($"doc_id"), countDistinct($"lang")).head()
      val v = stats.getLong(0)
      val nPlusK = stats.getLong(1) + stats.getLong(2)
      // K-row class constants off ONE aggregate: class token total
      // (Σ_w cnt_cw ≡ Σ tokens in class), per-class doc count (the
      // prior's denominator), absent-token surprisal surp0 and the
      // prior on the quantized ladder
      val clsConst = docTok.groupBy($"lang".as("cls"))
        .agg(sum($"c").as("totc"),
          countDistinct($"doc_id").as("nc"))
        .select($"cls", $"totc",
          expr(s"cast((cast(totc + $v as decimal(38,0)) * $Quantum)" +
            " div 1 as bigint)").as("surp0"),
          expr(s"cast((cast($nPlusK as decimal(38,0)) * $Quantum)" +
            " div (nc + 1) as bigint)").as("prior_q"))
      // per-(cls, w) correction = surp0 − surp_q, only where observed
      // (cnt ≥ 1) — the sparse complement of the dense grid
      val deltas = docTok.groupBy($"lang".as("cls"), $"w")
        .agg(sum($"c").as("cnt"))
        .join(broadcast(clsConst.select($"cls", $"totc", $"surp0")), "cls")
        .select($"cls", $"w",
          ($"surp0" -
           expr(s"cast((cast(totc + $v as decimal(38,0)) * $Quantum)" +
            " div (cnt + 1) as bigint)")).as("delta"))
      // per-doc baseline len_d·surp0(c) + prior_q(c) for every class
      // (len = Σ_w c_dw off the PERSISTED docTok — size(tk) on the raw
      // docs frame would re-run split() over the whole corpus); both
      // the broadcast-NL cross and the len aggregate ride docTok's
      // (doc_id, lang) partitioning
      val baseParts = docTok
        .groupBy($"doc_id", $"lang").agg(sum($"c").as("len"))
        .crossJoin(broadcast(clsConst.select($"cls", $"surp0", $"prior_q")))
        .select($"doc_id", $"lang", $"cls",
          ($"len" * $"surp0" + $"prior_q").as("part"))
      // observed corrections, aggregated IN PLACE (hash(doc,lang)
      // satisfies the (doc,lang,cls) grouping), then merged onto the
      // baseline grid with a co-partitioned sort-merge join — the
      // K-fanout frame never exchanges
      val corrAgg = docTok.join(deltas, "w")
        .select($"doc_id", $"lang", $"cls", ($"c" * $"delta").as("part"))
        .groupBy($"doc_id", $"lang", $"cls")
        .agg(sum($"part").as("csum"))
      val scored = baseParts
        .join(corrAgg, Seq("doc_id", "lang", "cls"), "left_outer")
        .select($"doc_id", $"lang", $"cls",
          ($"part" - coalesce($"csum", lit(0L))).as("score"))
      val pred = scored.groupBy($"doc_id", $"lang")
        .agg(min(struct($"score", $"cls")).as("w"))
        .select($"lang".as("true_lang"), $"w.cls".as("pred_lang"))
      pred.groupBy($"true_lang", $"pred_lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"true_lang", $"pred_lang")
    },
    Some(s"""WITH tok AS (
      |  SELECT doc_id, lang, UNNEST(string_split(COALESCE(text, ''), ' ')) AS w
      |  FROM documents),
      |doc_tok AS (
      |  SELECT doc_id, lang, w, COUNT(*) AS c FROM tok GROUP BY 1, 2, 3),
      |cw AS (
      |  SELECT lang AS cls, w, CAST(SUM(c) AS BIGINT) AS cnt
      |  FROM doc_tok GROUP BY 1, 2),
      |vocab AS (SELECT DISTINCT w FROM doc_tok),
      |v AS (SELECT COUNT(*) AS v FROM vocab),
      |classes AS (SELECT DISTINCT lang AS cls FROM doc_tok),
      |totc AS (SELECT cls, CAST(SUM(cnt) AS BIGINT) AS totc FROM cw GROUP BY 1),
      |model AS (
      |  SELECT cl.cls, vo.w,
      |         CAST((t.totc + (SELECT v FROM v)) * $Quantum
      |              // (COALESCE(c.cnt, 0) + 1) AS BIGINT) AS surp_q
      |  FROM vocab vo CROSS JOIN classes cl
      |  LEFT JOIN cw c ON c.cls = cl.cls AND c.w = vo.w
      |  JOIN totc t ON t.cls = cl.cls),
      |nall AS (
      |  SELECT COUNT(*) AS n, COUNT(DISTINCT lang) AS k FROM documents),
      |prior AS (
      |  SELECT lang AS cls,
      |         CAST(((SELECT n FROM nall) + (SELECT k FROM nall)) * $Quantum
      |              // (COUNT(*) + 1) AS BIGINT) AS prior_q
      |  FROM documents GROUP BY 1),
      |scored AS (
      |  SELECT d.doc_id, d.lang, m.cls,
      |         CAST(SUM(d.c * m.surp_q) AS BIGINT) + ANY_VALUE(p.prior_q) AS score
      |  FROM doc_tok d JOIN model m ON m.w = d.w
      |  JOIN prior p ON p.cls = m.cls
      |  GROUP BY 1, 2, 3),
      |pred AS (
      |  SELECT lang AS true_lang, cls AS pred_lang FROM (
      |    SELECT doc_id, lang, cls,
      |           ROW_NUMBER() OVER (PARTITION BY doc_id
      |             ORDER BY score, cls) AS rn
      |    FROM scored) WHERE rn = 1)
      |SELECT true_lang, pred_lang, COUNT(*) AS n_docs
      |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    doc = "text: add-one multinomial Naive Bayes lang classifier, confusion matrix via quantized integer surprisal (no cross-engine ln). " +
      "Naive Bayes, SPARSE (r11): the dense V*K grid never materializes — score = len*surp0(c) - observed-token corrections + prior (exact integer identity). docTok is cached partitioned by (doc_id, lang), which satisfies the len aggregate, the (doc,lang,cls) correction aggregate, the base-vs-correction merge join AND the argmin election — the K-fanout frame never crosses the network; quantized integer surprisal, no ln().")

  val all: Seq[Q] = Seq(q203)
}
