package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Applied byte-pair encoding (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units") — the real trainer
  * loop and an encoder, not just the single merge step q109 proves.
  *
  * Trainer scale design (the move every production BPE trainer makes):
  * ALL iteration happens on the vocab-with-counts dict, never the
  * corpus. One corpus-sized shuffle builds (word, count); each of the
  * k merge rounds is then (1) a pair-count aggregate over |vocab| rows
  * weighted by count, (2) a driver-side argmax of ONE row (bounded
  * collect), (3) a map-side greedy rewrite of the symbol arrays —
  * checkpointed so round k+1 reads materialized symbols, not a k-deep
  * expression tree. At 100 TB the vocab is millions of rows where the
  * corpus is trillions of tokens; the loop's cost is independent of
  * corpus size after the first aggregate.
  *
  * Greedy semantics: merges apply left-to-right, non-overlapping
  * (`aaaa` under merge (a,a) → `aa aa`), matching the reference
  * implementation; [[mergeOnce]] implements this as one `aggregate`
  * higher-order expression — a built-in Catalyst expression evaluated
  * columnar-side, no UDF and no serialization boundary.
  *
  * Encoding scale design: [[encodedDict]] encodes each DISTINCT word
  * once (k chained merges over the dict), and corpus encoding is a
  * broadcast/shuffle join of exploded words against that dict — the
  * dictionary-encoding shape, never per-token re-derivation.
  */
object Bpe {

  /** One trainer step: the merged pair, its pre-merge corpus pair
    * count, and the corpus token count AFTER applying merges 1..rank.
    */
  final case class Step(rank: Int, lhs: String, rhs: String,
                        pairN: Long, corpusTokens: Long)

  /** (w, c) word-frequency dict of a documents frame — whitespace
    * tokens, the repo-wide q109/q69 convention.
    */
  def vocabOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
  }

  /** Character symbols of a word, by codepoint on BOTH engines (the
    * q109 substring-parity convention — Java's split("") would split
    * surrogate pairs). Empty word → empty array.
    */
  private def charSyms(w: Column): Column =
    when(length(w) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(w)),
        i => substr(w, i, lit(1))))

  /** One greedy left-to-right merge pass of pair (a, b) over a symbol
    * array: scan symbols, and whenever the accumulated tail is `a` and
    * the next symbol is `b`, replace the tail with `ab`. A freshly
    * merged `ab` never re-matches as `a` within the same pass
    * (a+b ≠ a), so overlaps resolve exactly as the reference trainer
    * does.
    */
  def mergeOnce(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Train `nMerges` merges over a (w, c) vocab. Ties in the pair
    * argmax break lexicographically on (lhs, rhs) — deterministic on
    * both engines. Stops early if no pair remains (vocab fully
    * merged).
    */
  def train(vocab: DataFrame, nMerges: Int): Seq[Step] =
    trainLoop(vocab, nMerges, tokenCounts = true)._1

  /** The trainer loop, returning the steps AND the final per-word
    * state (w, syms, c) — which IS the encoded dict under the learned
    * merges (the same equivalence the unrolled oracle uses: its q162
    * dict is `SELECT w, len(syms) FROM vK`), so a dict consumer skips
    * [[encodedDict]]'s second vocab pass + k-deep nested re-encode.
    * `tokenCounts = false` additionally skips the per-round
    * corpus-token aggregate — one driver action per round that only
    * q127's output ledger needs (r14, guide §1.2/§5: q162 profiled 41
    * jobs / 134 tasks at sf0.1, wall almost pure scheduling; the toks
    * aggregates and the re-encode were half of them). With it off,
    * each round's cut materializes inside the NEXT round's argmax job
    * (the q182 lazy-cut discipline) and `Step.corpusTokens` is -1.
    */
  private[text] def trainLoop(vocab: DataFrame, nMerges: Int,
                              tokenCounts: Boolean): (Seq[Step], DataFrame) = {
    val s = vocab.sparkSession
    import s.implicits._
    // Barrier.cut per round (not raw localCheckpoint): the k-round
    // merge loop must truncate lineage each round, and with
    // spark.graft.checkpointDir set the vocab-dict state survives
    // executor loss (it is tiny — |vocab| rows — so the reliable
    // write is cheap).
    var v = graft.Barrier.cut(
      vocab.select($"w", charSyms($"w").as("syms"), $"c"))
    val steps = scala.collection.mutable.ArrayBuffer[Step]()
    var done = false
    var rank = 1
    while (rank <= nMerges && !done) {
      val best = v.filter(size($"syms") >= 2)
        .select($"c", explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  j -> struct(element_at(syms, j) as a,
            |              element_at(syms, j + 1) as b))""".stripMargin))
          .as("p"))
        .groupBy($"p.a", $"p.b").agg(sum($"c").as("n"))
        .orderBy($"n".desc, $"a", $"b").limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (a, b, n) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        v = graft.Barrier.cut(
          v.select($"w", mergeOnce($"syms", a, b).as("syms"), $"c"))
        val toks =
          if (tokenCounts)
            v.agg(coalesce(sum($"c" * size($"syms")), lit(0L)))
              .head().getLong(0)
          else -1L
        steps += Step(rank, a, b, n, toks)
        rank += 1
      }
    }
    (steps.toSeq, v)
  }

  /** Dictionary encoding: each distinct word → its subword tokens
    * under `merges` (applied in rank order). The k merges chain as k
    * nested `aggregate` expressions over the dict — |vocab| rows, one
    * pass, no corpus involvement.
    */
  def encodedDict(vocab: DataFrame, merges: Seq[Step]): DataFrame = {
    val s = vocab.sparkSession
    import s.implicits._
    val syms = merges.foldLeft(charSyms($"w")) {
      (c, m) => mergeOnce(c, m.lhs, m.rhs)
    }
    vocab.select($"w", $"c", syms.as("bpe"),
      size(syms).cast("long").as("n_bpe"))
  }

  /** Re-tokenize a documents frame under learned merges: explode to
    * (doc_id, pos, word), join the encoded dict on the word key
    * (Catalyst broadcasts it when small — the usual case: the dict is
    * vocabulary-shaped), and re-assemble per-doc subword streams in
    * original word order. Adds `bpe_tokens` + `n_bpe_tokens`.
    */
  def encodeDocs(docs: DataFrame, merges: Seq[Step]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val dict = encodedDict(vocabOf(docs), merges)
    val words = docs.select($"doc_id",
      posexplode(split($"text", " ")).as(Seq("pos", "w")))
    words.join(dict.select($"w", $"bpe"), Seq("w"))
      .groupBy($"doc_id")
      .agg(flatten(array_sort(collect_list(struct($"pos", $"bpe")))
        .getField("bpe")).as("bpe_tokens"))
      .withColumn("n_bpe_tokens", size($"bpe_tokens").cast("long"))
      .join(docs, Seq("doc_id"))
  }

  /** q127 — the applied-BPE audit: train `K` merges on the corpus
    * vocab and report, per rank, the merged pair, its pre-merge pair
    * count, and the corpus token count under merges 1..rank (the
    * number a token-budget planner would actually use). The ORACLE
    * unrolls the identical trainer as K chained CTE triples
    * (pairs → argmax → greedy rewrite via `list_reduce` with a
    * space-joined accumulator — symbols never contain a space, the
    * whitespace-token invariant), so both engines run the full loop
    * independently.
    */
  val K = 8

  /** Hard ceiling on oracle-side CTE unrolling — see [[roundsCte]]. */
  val MaxUnrollK = 16

  val q127 = Q(
    "q127_bpe_train",
    (s, dir) => {
      import s.implicits._
      val steps = train(vocabOf(Tables.load(s, dir, "documents")), K)
      s.createDataFrame(steps).select(
        $"rank", $"lhs", $"rhs", concat($"lhs", $"rhs").as("merged"),
        $"pairN".as("pair_n"), $"corpusTokens".as("corpus_tokens"))
        .orderBy($"rank")
    },
    Some(oracleSql(K)),
    doc = "tokenizer: applied BPE — train K merges on the vocab dict (pair argmax + greedy rewrite per round), corpus token counts under the learned vocab. " +
      "Applied BPE: all k trainer rounds iterate the |vocab| dict (localCheckpoint per round so round k+1 reads materialized symbols, not a k-deep expression tree); each round = one map-side-combinable pair aggregate + a 1-row argmax collect; the corpus is touched exactly once (the vocab groupBy).")

  /** The unrolled DuckDB twin of [[train]]. Static SQL generated once
    * at build time; k iterations of (pair-count, argmax, rewrite).
    */
  /** The shared CTE prefix v0..vK/m1..mK of the unrolled trainer —
    * carries the word key `w` through every round (a per-row rewrite,
    * so q127's counts are unchanged) so downstream oracles (q162's
    * fertility join) can use the final dict per word.
    */
  private[text] def roundsCte(k: Int): String = {
    // Documented unroll ceiling (the q127/q182 oracle pattern): each
    // round is a MATERIALIZED CTE triple, and DuckDB plans the whole
    // unrolled chain at once — fine at K=8 (~7 KB SQL, sub-second),
    // but the cost is superlinear in K and a careless iteration bump
    // would time the oracle out instead of failing fast. Raising the
    // ceiling means re-measuring DuckDB wall time first.
    require(k <= MaxUnrollK,
      s"oracle unrolls $k rounds as MATERIALIZED CTEs; ceiling is " +
        s"$MaxUnrollK — re-measure DuckDB planning/run time before raising")
    val sb = new StringBuilder
    sb ++=
      """WITH v0 AS MATERIALIZED (
        |  SELECT w,
        |         CASE WHEN len(w) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE list_transform(generate_series(1, len(w)), i -> substr(w, i, 1)) END AS syms,
        |         COUNT(*) AS c
        |  FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w)""".stripMargin
    for (i <- 1 to k) {
      sb ++= s""",
        |m$i AS MATERIALIZED (
        |  SELECT p.a AS a, p.b AS b, CAST(SUM(c) AS BIGINT) AS n
        |  FROM (SELECT c, UNNEST(list_transform(generate_series(1, len(syms) - 1),
        |          j -> struct_pack(a := syms[j], b := syms[j + 1]))) AS p
        |        FROM v${i - 1} WHERE len(syms) >= 2)
        |  GROUP BY p.a, p.b ORDER BY n DESC, a, b LIMIT 1),
        |v$i AS MATERIALIZED (
        |  SELECT w, CASE WHEN len(syms) < 2 THEN syms
        |         ELSE string_split(list_reduce(syms, (acc, x) ->
        |           CASE WHEN string_split(acc, ' ')[-1] = m.a AND x = m.b
        |             THEN array_to_string(list_concat(string_split(acc, ' ')[:-2], [m.a || m.b]), ' ')
        |             ELSE acc || ' ' || x END), ' ') END AS syms, c
        |  FROM v${i - 1}, m$i AS m)""".stripMargin
    }
    sb.toString
  }

  private def oracleSql(k: Int): String = {
    val sb = new StringBuilder
    sb ++= roundsCte(k)
    sb ++= "\nSELECT * FROM (\n"
    sb ++= (1 to k).map { i =>
      s"""  SELECT CAST($i AS INT) AS rank, a AS lhs, b AS rhs, a || b AS merged,
         |         n AS pair_n,
         |         (SELECT CAST(SUM(c * len(syms)) AS BIGINT) FROM v$i) AS corpus_tokens
         |  FROM m$i""".stripMargin
    }.mkString("\n  UNION ALL\n")
    sb ++= "\n) ORDER BY rank"
    sb.toString
  }

  /** q162 — tokenizer fertility audit: encode every source under the
    * K learned merges and report chars-per-subword (fertility — the
    * cross-lingual tokenizer-equity metric: a source whose fertility
    * runs high pays more sequence length for the same text) and
    * subwords-per-whitespace-word (compression). The oracle reuses
    * the SAME unrolled trainer CTEs as q127 and joins the final
    * round's per-word dict — both engines train AND apply the
    * tokenizer independently.
    *
    * Scale shape: training is vocab-dict-bound (q127); application is
    * one explode + a dict join (broadcast at vocab scale) + one
    * map-side-combinable per-source aggregate. Integer-ppm ratios.
    */
  val q162 = Q(
    "q162_tokenizer_fertility",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val vocab = vocabOf(docs)
      // the trainer's final state IS the dict (trainLoop doc): no
      // second vocabOf pass, no k-deep nested re-encode, and no
      // per-round token-count actions (q127's ledger needs those,
      // this fertility audit does not)
      val (_, finalState) = trainLoop(vocab, K, tokenCounts = false)
      val dict = finalState
        .select($"w", size($"syms").cast("long").as("n_bpe"))
      docs.select($"source", explode(split($"text", " ")).as("w"))
        .join(dict, Seq("w"))
        .groupBy($"source")
        .agg(count(lit(1)).as("ws_tokens"),
          sum($"n_bpe").as("bpe_tokens"),
          sum(length($"w")).cast("long").as("token_chars"))
        .select($"source", $"ws_tokens", $"bpe_tokens", $"token_chars",
          expr("(token_chars * 1000000) div bpe_tokens").as("fertility_ppm"),
          expr("(bpe_tokens * 1000000) div ws_tokens").as("compression_ppm"))
        .orderBy($"source")
    },
    Some(s"""${roundsCte(K)},
      |dict AS (SELECT w, len(syms) AS n_bpe FROM v$K),
      |words AS (SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents),
      |agg AS (
      |  SELECT source, COUNT(*) AS ws_tokens,
      |         CAST(SUM(d.n_bpe) AS BIGINT) AS bpe_tokens,
      |         CAST(SUM(len(words.w)) AS BIGINT) AS token_chars
      |  FROM words JOIN dict d USING (w) GROUP BY 1)
      |SELECT source, ws_tokens, bpe_tokens, token_chars,
      |       (token_chars * 1000000) // bpe_tokens AS fertility_ppm,
      |       (bpe_tokens * 1000000) // ws_tokens AS compression_ppm
      |FROM agg ORDER BY source""".stripMargin),
    doc = "tokenizer: per-source fertility (chars/subword) and compression (subwords/word) under the K learned merges. " +
      "Training is vocab-dict-bound (q127's loop); application joins exploded words against the encoded dict (broadcast at vocab scale) and folds per source map-side — corpus text never shuffles.")

  val all: Seq[Q] = Seq(q127, q162)
}
