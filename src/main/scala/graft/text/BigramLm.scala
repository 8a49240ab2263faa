package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bigram-LM perplexity scoring as a reusable transform — the q116
  * operator's model (a +1-smoothed bigram LM, the CCNet/LLaMA
  * perplexity gate, Wenzek et al. 2020) over arbitrary frames, so the
  * curation stage can DROP incoherent docs — word-soup whose unigram
  * profile looks fine — before they compete for budget.
  *
  * Determinism is the q116 contract: bigram positions hash to
  * [[graft.functions.Md5Prefix]] longs ([[TextQueries.bigramPosArr]],
  * shared with q116's oracle-verified query), and every per-position
  * surprisal is the exact long (c(w1·)+V)·10⁶ div (c(w1w2)+1) — a
  * score threshold is reproducible bit-for-bit across runs and
  * engines. Thresholds are ABSOLUTE quantized values: production
  * calibrates one against the score distribution (e.g. a held-out
  * quantile) and pins it, the same way CCNet pins its per-language
  * perplexity cutoffs.
  *
  * Scale design: the scored frame explodes ONCE into per-(doc, bigram)
  * counts (map-side combinable, hashed longs only) behind a barrier
  * with two consumers (model + scoring); the model is
  * bigram-type-bounded; the scoring join shuffles doc-bigram pairs on
  * the bigram long (AQE-skew-splittable). Nothing driver-side, no
  * window.
  */
object BigramLm {

  /** Appends to `docs`:
    *  - `bg_ssum`   exact long — Σ position surprisals (quantized)
    *  - `bg_n`      long — bigram positions (n_tokens − 1; 0 if < 2 tokens)
    *  - `ppx_q`     long — mean quantized surprisal, bg_ssum div bg_n;
    *                NULL for docs with no bigram (un-scorable)
    *
    * The LM trains on `model` (a frame with a `text` column) — pass
    * `docs` itself for intrinsic scoring (the q116 shape), or a clean
    * reference corpus for the CCNet stance (score the crawl under the
    * target-domain LM). The smoothing vocabulary V is the MODEL's
    * unigram type count.
    */
  def withPerplexity(docs: DataFrame, model: DataFrame = null): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val modelDf = Option(model).getOrElse(docs)
    val selfScored = modelDf eq docs

    def bgCounts(df: DataFrame): DataFrame = graft.Barrier(df
      .select(col("doc_id"), split(coalesce(col("text"), lit("")), " ").as("tk"))
      .filter(size($"tk") >= 2)
      .select($"doc_id", explode(TextQueries.bigramPosArr).as("p"))
      .select($"doc_id", $"p.w1".as("w1"), $"p.bg".as("bg"))
      .groupBy($"doc_id", $"w1", $"bg").agg(count(lit(1)).as("c")))

    val docBg = bgCounts(docs)
    // self-scoring reuses the barriered counts for the model side —
    // one explode, two consumers (the q116 shape); a reference model
    // tokenizes its own frame instead
    val modelBg = if (selfScored) docBg else bgCounts(modelDf)
    val vocab = modelDf
      .select(explode(array_distinct(split(coalesce(col("text"), lit("")), " ")))
        .as("t"))
      .agg(count_distinct($"t").as("v"))
    val m = modelBg.groupBy($"w1", $"bg").agg(sum($"c").as("cb"))
    val ctx = m.groupBy($"w1").agg(sum($"cb").as("cu"))
    val sq = m.join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select($"bg", expr("(cu + v) * 1000000L div (cb + 1)").as("sq"))
    // under a REFERENCE model, bigrams unseen in it get the strongest
    // unseen penalty expressible without per-context fan-out: cb = 0
    // with the GLOBAL worst-case context mass — (max cu + V)·10⁶ —
    // an exact, order-preserving stand-in for backoff
    val unseen = ctx.crossJoin(broadcast(vocab))
      .agg(max(expr("(cu + v) * 1000000L")).as("sq0"))
    val perDoc = docBg
      .join(sq, Seq("bg"), "left_outer")
      .crossJoin(broadcast(unseen))
      .withColumn("sqv",
        if (selfScored) $"sq" // self-scored: every bigram is in the model
        else coalesce($"sq", $"sq0"))
      .groupBy($"doc_id")
      .agg(sum($"c" * $"sqv").as("bg_ssum"), sum($"c").as("bg_n"))
    docs.join(perDoc, Seq("doc_id"), "left_outer")
      .withColumn("bg_ssum", coalesce($"bg_ssum", lit(0L)))
      .withColumn("bg_n", coalesce($"bg_n", lit(0L)))
      .withColumn("ppx_q",
        when($"bg_n" > 0, expr("bg_ssum div bg_n")))
  }

  /** The gate form: docs whose mean quantized surprisal stays UNDER
    * `maxPpxQ` (un-scorable <2-token docs drop — a doc without one
    * bigram has no business in a training mix). Schema-preserving.
    */
  def passing(docs: DataFrame, maxPpxQ: Long,
              model: DataFrame = null): DataFrame =
    withPerplexity(docs, model)
      .filter(col("ppx_q").isNotNull && col("ppx_q") < maxPpxQ)
      .drop("bg_ssum", "bg_n", "ppx_q")
}
