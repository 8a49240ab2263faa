package graft.etl

import graft.streaming.CorpusIngestJob
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end LLM training-data curation: crawl → dedup → select →
  * pack, composed from the operators the library already ships as one
  * runnable stage (the reference's run_pipeline idea,
  * healthcare-data-pipeline-main.py:507-546, applied to the corpus
  * side of the house).
  *
  *  1. '''Crawl''': document batches land as files; the streaming
  *     ingest loop ([[graft.streaming.CorpusIngestJob]]) dedupes each
  *     micro-batch against the persisted [[BandIndex]] (exact
  *     fingerprint + MinHash near-dup) and sinks the kept slice.
  *  2. '''Select''': the kept corpus is quality-scored (distinct-token
  *     ratio, integer-exact) and the best docs are kept until a token
  *     budget is spent — the q90 operator as a reusable transform.
  *  3. '''Pack''': survivors are laid out in the seeded training order
  *     and split into fixed-size sequences — the q86 operator; the
  *     output manifest carries (doc_id, source, n_tokens, quality,
  *     seq_id, straddle).
  *
  * Scale design: every stage is the plan the per-operator queries
  * already vetted — per-batch dedup cost is batch-sized (bucketed
  * index, no corpus re-read), selection and packing use
  * [[graft.operators.DistributedRank.withPrefixSum]] (range sort +
  * per-partition offsets, never an unpartitioned window), and the
  * manifest write is a parallel columnar sink. Nothing here collects
  * doc-cardinality data to the driver.
  *
  * The composed output is BY CONSTRUCTION the composition of the
  * individual operators — `PipelineSpec` pins that: running
  * [[selectByBudget]] then [[packSequences]] on the ingest sink equals
  * the pipeline's manifest row-for-row.
  */
object CurationPipeline {

  /** One gate's per-source ledger line: `in` docs entered the gate
    * from `source`, `kept` survived it. A source wholly consumed by an
    * earlier gate still gets a line (in = kept = 0 is elided; in > 0,
    * kept = 0 is the interesting case).
    */
  final case class GateCount(gate: String, source: String,
                             in: Long, kept: Long) {
    def dropped: Long = in - kept
  }

  final case class CurationReport(
      kept: Long, selected: Long, selectedTokens: Long,
      tokenBudget: Long, nSequences: Long, manifestPath: String,
      /** Per-gate per-source kept/dropped ledger, in gate execution
        * order (canonicalize → trim → noise → rules → perplexity;
        * only enabled gates appear). By construction each gate's `in`
        * equals the previous gate's `kept` per source, so the gate
        * drops sum EXACTLY to ingest-kept minus final-kept — a user
        * can see which gate cost them which corpus slice.
        */
      gateAccounting: Seq[GateCount] = Nil)

  /** How the selection stage ranks docs before the token budget cuts. */
  sealed trait SelectPolicy
  /** Intrinsic quality (distinct-token ratio) — the q90 ranking. */
  case object ByQuality extends SelectPolicy
  /** DSIR target-affinity (the q105 model as a selection policy): rank
    * every kept doc by [[graft.text.Dsir.scoreAffinity]] against the
    * kept docs of `source` — spend the budget on the docs most like the
    * seed domain instead of the intrinsically cleanest.
    */
  final case class ByTargetAffinity(source: String) extends SelectPolicy

  /** Whitespace token count + integer quality (u·10⁶ div m — the q90
    * scoring): appended as (m, q) columns. One pass over text.
    */
  def scoreQuality(docs: DataFrame): DataFrame = {
    val tk = split(coalesce(col("text"), lit("")), " ")
    docs
      .withColumn("m", size(tk).cast("long"))
      .withColumn("q",
        expr("cast(size(array_distinct(split(coalesce(text, ''), ' '))) as long)" +
             " * 1000000L div m"))
  }

  /** Quality-ranked selection under a global token budget of
    * `budgetNum/budgetDen` of the corpus's tokens (default half, the
    * q90 operator): returns the SELECTED docs with (m, q, budget)
    * attached. Global cumsum via the distributed prefix sum; ties
    * break on doc_id so the subset is deterministic.
    */
  def selectByBudget(docs: DataFrame, budgetNum: Long = 1,
                     budgetDen: Long = 2): DataFrame =
    selectByBudget(docs, budgetNum, budgetDen, ByQuality)

  /** As above with an explicit ranking policy; [[ByTargetAffinity]]
    * appends `dsir_q` and ranks on it (desc, doc_id ties) — same
    * distributed prefix-sum cut, different order. The target slice is
    * ranked on the same scale (its docs score high naturally, they ARE
    * the target distribution), so one budget governs everything.
    */
  def selectByBudget(docs: DataFrame, budgetNum: Long, budgetDen: Long,
                     policy: SelectPolicy): DataFrame = {
    val scored0 = scoreQuality(docs)
    val (scored, rankKey) = policy match {
      case ByQuality => (scored0, Seq(col("q").desc, col("doc_id")))
      case ByTargetAffinity(src) =>
        (graft.text.Dsir.scoreAffinity(scored0,
           docs.filter(col("source") === src)),
         Seq(col("dsir_q").desc, col("doc_id")))
    }
    val tot = scored.agg(expr(s"sum(m) * $budgetNum div $budgetDen").as("budget"))
    graft.operators.DistributedRank.withPrefixSum(
        scored.crossJoin(broadcast(tot)), rankKey, col("m"), "cum")
      .filter(col("cum") <= col("budget"))
  }

  /** Sequence packing at `block` tokens over the seeded-hash training
    * order (the q86/q84 operators): appends (seq_id, straddle). The
    * running offset is the distributed prefix sum of `m` in key order.
    */
  def packSequences(selected: DataFrame, block: Long = 4096L,
                    seed: String = "pack42_"): DataFrame =
    packSequencesBy(selected, Seq("doc_id"), block, seed)

  /** As [[packSequences]] but keyed by a composite unit id — for packing
    * sub-document units (e.g. [[chunkWindows]] context chunks), where
    * doc_id alone no longer distinguishes rows: the order hash and the
    * tie-break must see the full unit key, or the chunks of one doc —
    * identical in every sorted column — would be order-ambiguous in the
    * prefix sum and seq assignment would differ run to run.
    *
    * ERASURE STANCE (doc-level, deliberate): [[Erasure.erase]] removes
    * every manifest row of an erased doc, but sequences are NOT
    * re-numbered — other docs' chunks stay packed in sequences that
    * once also contained the erased doc's chunks, with a token-count
    * gap where its rows were. Their content never included the erased
    * text (each row carries only its own doc's tokens), so nothing of
    * the erased doc survives; what does survive is the packing
    * GEOMETRY it influenced. A trainer re-materializing sequences from
    * the manifest simply gets shorter sequences at the gaps; re-pack
    * (re-run the pipeline) when exact block occupancy matters more
    * than stable seq_ids.
    */
  def packSequencesBy(selected: DataFrame, idCols: Seq[String],
                      block: Long = 4096L,
                      seed: String = "pack42_"): DataFrame = {
    require(idCols.nonEmpty, "need at least one unit-id column")
    val keyExpr = idCols.map(c => s"cast($c as string)").mkString(", '_', ")
    graft.operators.DistributedRank.withPrefixSum(
        selected.withColumn("key", expr(
          graft.functions.Md5Prefix.sql(s"concat('$seed', $keyExpr)"))),
        col("key") +: idCols.map(col), col("m"), "pack_cum")
      .withColumn("seq_id", expr(s"(pack_cum - m) div $block"))
      .withColumn("straddle", expr(s"(pack_cum - m) div $block != (pack_cum - 1) div $block"))
      .drop("key")
  }

  /** Explode selected docs into fixed context windows (the q110
    * chunking as a pipeline stage): `window` tokens per chunk at
    * `stride`, the last chunk right-aligned to the doc end — no
    * padding, bounded overlap. Pure ARITHMETIC on the token count `m`:
    * no text is read or shuffled here; the training reader re-derives
    * each chunk's token slice from (doc_id, start_pos, n_tokens) at
    * materialization time. Each chunk row replaces `m` with the chunk
    * length min(window, m), so downstream packing totals deliberately
    * count window overlap — that is what the trainer consumes. The
    * doc-level quality column rides along unchanged (chunks inherit
    * their doc's score).
    */
  def chunkWindows(selected: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    selected
      .withColumn("n_chunks",
        when(col("m") <= window, lit(1))
          .otherwise(expr(s"cast(1 + (m - $window + ${stride - 1}) div $stride as int)")))
      .withColumn("chunk_idx", explode(expr("sequence(0, n_chunks - 1)")))
      .withColumn("start_pos", expr(
        s"""CASE WHEN chunk_idx = n_chunks - 1 AND m > $window
           |     THEN cast(m - $window + 1 as int)
           |     ELSE cast(1 + $stride * chunk_idx as int) END""".stripMargin))
      .withColumn("m", least(lit(window.toLong), col("m")))
      .drop("n_chunks")
  }

  /** Run the full stage. `srcDir` is the crawl drop directory (parquet
    * files in the `documents` schema); the band index at
    * `indexName`/`indexPath` is declared if absent
    * ([[BandIndex.declare]]: its three tables, no rows), so a
    * from-scratch corpus needs no seeding step — with `lshParams` as
    * its pinned tunables (see [[graft.text.LshParams]]'s S-curve
    * notes; a pre-existing index re-checks them against its on-disk
    * params and rejects a mismatch — stored signatures always win).
    * Outputs under `workDir`: `corpus/` (the deduped kept
    * slice, per-batch partitions), `manifest/` (the packed training
    * manifest parquet). Re-running with the same checkpoint resumes
    * where the crawl left off; selection and packing recompute over
    * the whole kept corpus (they are global decisions — a budget is
    * not incremental).
    *
    * `canonicalize`, when given, re-elects each near-dup cluster's
    * survivor over the WHOLE kept corpus before selection
    * ([[graft.text.Canonicalize.survivors]]) — the streaming ingest
    * necessarily keeps the first-crawled member (it cannot know a
    * better one arrives later); a batch policy like `KeepLongest`
    * promotes the most complete mirror instead. With it set, the
    * report's `kept` counts post-canonicalization survivors.
    *
    * `selectBy` picks the selection ranking: [[ByQuality]] (default,
    * the q90 intrinsic score) or [[ByTargetAffinity]] (the q105 DSIR
    * model — budget goes to the docs most like a named seed source).
    *
    * `takedownDir`, when given, is drained at every micro-batch
    * boundary ([[CorpusIngestJob.drainTakedowns]]) — and because the
    * manifest is REGENERATED from the kept corpus after ingest, a
    * drained takedown needs no separate manifest erase: this run's
    * manifest simply never contains the erased docs. (Erasing from a
    * manifest BETWEEN runs is [[Erasure.erase]]'s `manifestDir` path.)
    *
    * `chunk = Some((window, stride))` inserts [[chunkWindows]] between
    * selection and packing: the budget still governs SELECTION on raw
    * doc tokens, then selected docs shard into context windows and the
    * manifest packs CHUNKS — its rows gain (chunk_idx, start_pos), its
    * n_tokens become chunk lengths (overlap counted, as trained), and
    * the report's `selected`/`selectedTokens` count packed units.
    * Erasure by doc_id still reaches every chunk row.
    *
    * `qualityGate`, when given, drops kept docs failing the Gopher
    * rule battery ([[graft.text.QualityRules.passing]] — the q107
    * rules) AFTER canonicalization and BEFORE selection: rule-failing
    * docs never compete for budget, and the report's `kept` counts
    * gate survivors. (The dedup index still learns gated-out docs —
    * they were crawled; re-crawls of them classify as duplicates, not
    * fresh content.)
    *
    * `trim = Some(minRunTokens)` inserts [[trimStage]] (the Lee et al.
    * exact-substring cut, [[graft.text.SubstringTrim]]) between
    * canonicalization and the quality gate: the survivor of each
    * near-dup cluster keeps its full text, then cross-doc duplicated
    * runs — boilerplate the whole-doc dedup can't reach — are scrubbed
    * from every kept doc, so the gate's statistics and the selection
    * budget both see the cleaned text. Docs trimmed to nothing drop.
    *
    * `perplexityGate = Some(maxPpxQ)` drops docs whose mean quantized
    * bigram surprisal ([[graft.text.BigramLm]], the CCNet gate and the
    * q116 scoring) reaches `maxPpxQ` — incoherent word-soup whose
    * unigram statistics pass the rule battery never competes for
    * budget. Runs LAST of the gates (rules are cheaper than the LM;
    * the LM then trains on rule-passing survivors only — the CCNet
    * clean-reference stance, intrinsically). The threshold is an
    * ABSOLUTE quantized score: calibrate it against the corpus'
    * ppx_q distribution and pin it, as CCNet pins per-language
    * cutoffs. Un-scorable docs (<2 tokens) drop with it.
    *
    * `noiseGate = Some(maxPerMcharQ)` drops docs whose encoding-noise
    * density ([[graft.text.EncodingNoise]], the q125 class) exceeds
    * the threshold, BEFORE the rule battery (one codegen'd regexp map
    * — the cheapest gate): mojibake belongs in a re-decoding queue,
    * not a training mix. `Some(0)` keeps only artifact-free docs.
    * Gated docs stay in the dedup index like every other gate's.
    *
    * `decontaminate`, when given, drops kept docs whose distinct
    * shingles overlap the held-out benchmark corpus past the
    * threshold ([[DecontaminationGate]] →
    * [[graft.text.BloomPrune.decontaminated]], the q83/q129
    * semantics) — eval leakage never reaches the training manifest.
    * Runs LAST of the gates: it is the most expensive (a shingle
    * explode), so it sees only the pool every cheaper gate already
    * passed, and the Bloom prune keeps its shuffle candidate-sized.
    *
    * The returned report's `gateAccounting` ledgers every enabled
    * stage per source (see [[CurationReport.gateAccounting]]): one
    * tiny aggregate per enabled boundary, differenced so gate drops
    * sum exactly to the total drop.
    */
  /** [[graft.text.SubstringTrim]] as a pipeline stage: text becomes
    * its trimmed form, `n_chars` refreshes, and docs trimmed to
    * nothing drop. Public so composition receipts run the EXACT stage
    * the pipeline runs.
    */
  def trimStage(docs: DataFrame, minRunTokens: Int): DataFrame = {
    import docs.sparkSession.implicits._
    graft.text.SubstringTrim.trim(docs, minRunTokens)
      .filter($"n_tokens_after" > 0)
      .withColumn("text", $"text_trimmed")
      .withColumn("n_chars", length($"text").cast("long"))
      .drop("text_trimmed", "n_tokens_before", "n_tokens_after")
  }

  /** Benchmark-overlap gate parameters: the held-out corpus (any frame
    * with a `text` column), shingle width, the drop threshold (hit
    * shingles ≥ `maxHitPct`% of doc shingles), and the Bloom sizing
    * (see [[graft.text.BloomPrune.buildBloom]]).
    */
  final case class DecontaminationGate(
      benchmark: DataFrame, shingleN: Int = 7, maxHitPct: Int = 10,
      expectedItems: Long = 1L << 20, bloomBits: Long = 1L << 23)

  def run(spark: SparkSession, srcDir: String, indexName: String,
          indexPath: String, workDir: String, buckets: Int = 32,
          budgetNum: Long = 1, budgetDen: Long = 2,
          block: Long = 4096L,
          lshParams: graft.text.LshParams = graft.text.LshParams(),
          takedownDir: Option[String] = None,
          canonicalize: Option[graft.text.Canonicalize.Policy] = None,
          selectBy: SelectPolicy = ByQuality,
          chunk: Option[(Int, Int)] = None,
          qualityGate: Option[graft.text.QualityRules.Params] = None,
          trim: Option[Int] = None,
          perplexityGate: Option[Long] = None,
          noiseGate: Option[Long] = None,
          decontaminate: Option[DecontaminationGate] = None,
          lineageDir: Option[String] = None,
          lineageRound: Long = 0L)
      : CurationReport = {
    import spark.implicits._
    BandIndex.declare(spark, indexName, indexPath, buckets, lshParams)

    val corpusDir = s"$workDir/corpus"
    val ckptDir = s"$workDir/ckpt"
    // pre-create the sink dir: a crawl directory with no files yet
    // (the from-scratch case) terminates AvailableNow with zero
    // batches and nothing ever writes corpusDir — the read below
    // must see an empty directory, not PATH_NOT_FOUND. Through the
    // Hadoop FS API, not java.io.File: workDir may be s3a://.../hdfs
    val corpusPath = new org.apache.hadoop.fs.Path(corpusDir)
    corpusPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .mkdirs(corpusPath)
    CorpusIngestJob.run(spark, srcDir, indexName, indexPath,
      corpusDir, ckptDir, buckets,
      takedownDir = takedownDir).awaitTermination()

    // ingest ran through the streaming clone session; make sure THIS
    // session sees the final file listing (the CorpusIngestSpec pitfall)
    Seq(BandIndex.docsTable(indexName), BandIndex.bandsTable(indexName),
        BandIndex.toksTable(indexName))
      .foreach(spark.catalog.refreshTable)

    val keptRaw = spark.read.schema(
        graft.Tables.schemas("documents").add("ingest_batch", "long"))
      .parquet(corpusDir)
    // Optional batch re-canonicalization: the streaming ingest keeps
    // the FIRST-crawled member of every near-dup cluster (it cannot
    // know a better member arrives later); a policy here re-elects the
    // survivor over the whole kept corpus — e.g. KeepLongest promotes
    // the most complete mirror before selection spends budget on it.
    // Exact-dup and near-dup-vs-index removal already happened at
    // ingest; this pass only re-adjudicates WITHIN the kept slice.
    val keptCanon = canonicalize
      .map(p => graft.text.Canonicalize.survivors(keptRaw, policy = p))
      .getOrElse(keptRaw)
    // optional exact-substring cut over the kept slice: cross-doc
    // duplicated runs (boilerplate whole-doc dedup can't reach) are
    // scrubbed before any stage reads token statistics
    val keptTrim = trim
      .map(minRun => trimStage(keptCanon, minRun))
      .getOrElse(keptCanon)
    // optional encoding-noise gate FIRST among the gates (one
    // codegen'd regexp map — the cheapest): mojibake/control-junk
    // docs are routed to re-decoding, not training, before any stage
    // reads their statistics (the q125 class via EncodingNoise)
    val keptClean = noiseGate
      .map(m => graft.text.EncodingNoise.passing(keptTrim, m))
      .getOrElse(keptTrim)
    // optional Gopher-rule gate: rule-failing docs never reach the
    // budget ranking (they were still indexed at ingest — a re-crawl
    // classifies as duplicate, not fresh)
    val keptRules = qualityGate
      .map(p => graft.text.QualityRules.passing(keptClean, p))
      .getOrElse(keptClean)
    // LM gate after rules: rules are cheap, and the intrinsic bigram
    // model then trains on rule-passing survivors only (CCNet stance)
    val keptPpx = perplexityGate
      .map(t => graft.text.BigramLm.passing(keptRules, t))
      .getOrElse(keptRules)
    // benchmark-overlap gate LAST (the priciest — a shingle explode —
    // runs on the smallest pool; Bloom prune keeps it candidate-sized)
    val kept = decontaminate
      .map(g => graft.text.BloomPrune.decontaminated(keptPpx, g.benchmark,
        g.shingleN, g.maxHitPct, g.expectedItems, g.bloomBits))
      .getOrElse(keptPpx)

    // Per-gate per-source accounting: one |sources|-row map-side-
    // combined aggregate per ENABLED stage boundary (a gate-less run
    // adds zero jobs — the final boundary count replaces the one
    // kept.count() the report always needed). Differencing adjacent
    // boundaries makes gate drops sum to the total drop BY
    // CONSTRUCTION. Counts collect to the driver at |sources|
    // cardinality — never doc cardinality.
    def bySource(df: DataFrame): Map[String, Long] =
      df.groupBy(coalesce($"source", lit("")).as("src"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val boundaries: Seq[(String, DataFrame)] = Seq(
      canonicalize.map(_ => "canonicalize" -> keptCanon),
      trim.map(_ => "trim" -> keptTrim),
      noiseGate.map(_ => "noise" -> keptClean),
      qualityGate.map(_ => "rules" -> keptRules),
      perplexityGate.map(_ => "perplexity" -> keptPpx),
      decontaminate.map(_ => "decontaminate" -> kept)).flatten
    var gateIn = bySource(keptRaw)
    val gateAccounting = boundaries.flatMap { case (gate, df) =>
      val out = bySource(df)
      val lines = gateIn.toSeq.sortBy(_._1).collect {
        case (src, n) if n > 0 =>
          GateCount(gate, src, n, out.getOrElse(src, 0L))
      }
      gateIn = out
      lines
    }
    val keptCount = gateIn.values.sum

    // Lineage ledger (round-8 stretch): every decision event appends a
    // (doc_id, stage, verdict, detail, round) row — each frame below is
    // an anti-join/projection of frames the run already computed, so
    // the ledger costs narrow shuffles only, never a fresh corpus scan.
    lineageDir.foreach { ldir =>
      // ingest dedup drops: crawled but not kept. Exact-dup drops get
      // their survivor's id in `detail` via the text-hash join (narrow
      // 32-byte keys); near-dup drops (no identical text survives) are
      // labeled as such — their cluster membership lives in the index.
      val crawled = spark.read.schema(graft.Tables.schemas("documents"))
        .parquet(srcDir).select($"doc_id", $"source", sha2($"text", 256).as("h"))
      val keptHashes = keptRaw
        .groupBy(sha2($"text", 256).as("h")).agg(min($"doc_id").as("dup_of"))
      val droppedAtIngest = crawled
        .join(keptRaw.select($"doc_id".as("k_id")),
          $"doc_id" === $"k_id", "left_anti")
      Lineage.record(spark, ldir,
        droppedAtIngest.join(keptHashes, Seq("h"), "left")
          .withColumn("why", when($"dup_of".isNotNull,
              concat(lit("exact_dup_of="), $"dup_of"))
            .otherwise(lit("near_dup"))),
        "ingest_dedup", "dropped", col("why"), lineageRound)
      // per-gate drops: in-frame minus out-frame at each enabled
      // boundary (the same frames the accounting differenced)
      var prev: DataFrame = keptRaw
      boundaries.foreach { case (gate, df) =>
        val dropped = prev.select($"doc_id", $"source")
          .join(df.select($"doc_id".as("k_id")), $"doc_id" === $"k_id", "left_anti")
        Lineage.record(spark, ldir, dropped, gate, "dropped",
          lit(gate + "_gate"), lineageRound)
        prev = df
      }
    }
    // budget rides along as a column (selectByBudget attached it), so
    // the report needs NO second scoring scan of the corpus; text is
    // projected away BEFORE the checkpoint materializes anything
    val selected0 = selectByBudget(kept, budgetNum, budgetDen, selectBy)
    // with lineage on, pin the selection once so the ledger writes and
    // the packing read the SAME execution (selection is deterministic,
    // this is a cost cut, not a correctness need)
    val selected =
      if (lineageDir.isDefined) selected0.localCheckpoint() else selected0
    lineageDir.foreach { ldir =>
      Lineage.record(spark, ldir, selected.select($"doc_id", $"source"),
        "select", "selected", lit("within_budget"), lineageRound)
      Lineage.record(spark, ldir,
        kept.select($"doc_id", $"source")
          .join(selected.select($"doc_id".as("s_id")),
            $"doc_id" === $"s_id", "left_anti"),
        "select", "over_budget", lit("budget_exhausted"), lineageRound)
    }
    val packed0 = chunk match {
      case Some((w, st)) =>
        // chunks of one doc are identical in every packed column, so
        // the pack key must include chunk_idx (see packSequencesBy)
        packSequencesBy(chunkWindows(selected, w, st),
          Seq("doc_id", "chunk_idx"), block)
      case None => packSequences(selected, block)
    }
    val manifestCols =
      Seq($"doc_id") ++
      (if (chunk.isDefined) Seq($"chunk_idx", $"start_pos") else Nil) ++
      Seq($"source", $"m".as("n_tokens"), $"q".as("quality"),
          $"seq_id", $"straddle", $"budget")
    val packed = packed0.select(manifestCols: _*)
      .localCheckpoint() // one selection execution feeds sink + report

    val manifestPath = s"$workDir/manifest"
    packed.drop("budget").write.mode("overwrite").parquet(manifestPath)

    val stats = packed.agg(
      count(lit(1)), coalesce(sum($"n_tokens"), lit(0L)),
      coalesce(max($"seq_id"), lit(-1L)) + 1, max($"budget")).head()
    val budget =
      if (stats.isNullAt(3))
        // empty selection (empty corpus, or budget below the first
        // doc): the rare edge where the scalar must be re-derived
        scoreQuality(kept).agg(coalesce(
          expr(s"sum(m) * $budgetNum div $budgetDen"), lit(0L)))
          .head().getLong(0)
      else stats.getLong(3)
    CurationReport(
      kept = keptCount, selected = stats.getLong(0),
      selectedTokens = stats.getLong(1), tokenBudget = budget,
      nSequences = stats.getLong(2), manifestPath = manifestPath,
      gateAccounting = gateAccounting)
  }
}
