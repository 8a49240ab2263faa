package graft.etl

import graft.SparkSpec
import java.nio.file.Files

/** End-to-end E1 orchestration: generate → transform → load → analyze →
  * report, on a small deterministic scale (reference demo ratios
  * 1000/5000/10000, healthcare-data-pipeline-main.py:553,565,586).
  */
class PipelineSpec extends SparkSpec {

  test("pipeline run writes warehouse tables + report and gates quality") {
    val out = Files.createTempDirectory("graft-pipeline").toString
    val r = Pipeline.run(spark, out, nPatients = 200)

    assert(r.patients == 200 && r.encounters == 1000 && r.labs == 2000)
    assert(r.quality.overall > 0.9, s"quality gate: ${r.quality}")

    val patients = spark.read.parquet(s"$out/dim_patient")
    assert(patients.count() == 200)
    // Privacy transforms applied: birth_date dropped, mrn hashed, ssn masked.
    assert(!patients.columns.contains("birth_date"))
    assert(patients.columns.contains("birth_year"))
    val p0 = patients.orderBy("patient_id").collect()(0)
    assert(p0.getAs[String]("mrn").matches("[0-9a-f]{64}"))
    assert(p0.getAs[String]("ssn") == Masking.MaskToken)
    assert(Set("Male", "Female", "Other")
      .contains(p0.getAs[String]("gender")))

    assert(spark.read.parquet(s"$out/fact_encounters").count() == 1000)
    assert(spark.read.parquet(s"$out/fact_lab_results").count() == 2000)

    val report = Files.readString(java.nio.file.Paths.get(r.reportPath))
    assert(report.contains("\"patients\":200"))
    assert(report.contains("readmission_analysis"))
  }

  test("re-run upserts the warehouse: overlapping keys replaced, new appended") {
    val out = Files.createTempDirectory("graft-pipeline-upsert").toString
    Pipeline.run(spark, out, nPatients = 100)
    Pipeline.run(spark, out, nPatients = 150) // keys 1..100 overlap, 101..150 new
    val patients = spark.read.parquet(s"$out/dim_patient")
    assert(patients.count() == 150)
    assert(patients.select("patient_id").distinct().count() == 150)
    assert(spark.read.parquet(s"$out/fact_encounters").count() == 750)
  }

  test("generation is deterministic: same ids ⇒ same rows, any partitioning") {
    val a = Pipeline.generateEncounters(spark, 100).repartition(7)
      .orderBy("encounter_id").collect()
    val b = Pipeline.generateEncounters(spark, 100).repartition(3)
      .orderBy("encounter_id").collect()
    assert(a.sameElements(b))
  }

  test("curation stage: crawl→dedup→select→pack equals the per-operator composition") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val name = "cur_idx"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name), BandIndex.docsTable(name + "_ref"),
        BandIndex.bandsTable(name + "_ref"), BandIndex.toksTable(name + "_ref"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = Files.createTempDirectory("graft-curation")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)

    def docsDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", when($"doc_id" % 2 === 0, "web").otherwise("books"))
      .withColumn("n_chars", length($"text").cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")

    // two crawl batches with exact + cross-batch duplicates and a
    // quality spread (repetitive docs score low and miss the budget)
    val batchA = docsDf(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "spam spam spam spam spam spam spam spam spam spam",
      3L -> "distributed systems require careful coordination of state")
    val batchB = docsDf(
      10L -> "the quick brown fox jumps over the lazy dog tonight", // dup of 1
      11L -> "novel second batch content with many distinct useful words",
      12L -> "data data data data data data data data data data")
    batchA.coalesce(1).write.parquet(s"$srcDir/a")
    batchB.coalesce(1).write.parquet(s"$srcDir/b")

    val work = root.resolve("work").toString
    val r = CurationPipeline.run(spark, s"$srcDir/*", name,
      root.resolve("idx").toString, work, buckets = 4, block = 16L)

    // per-operator composition, independently: batch-API ingest in the
    // same order, then the select + pack transforms on the kept union
    BandIndex.create(spark, batchA.limit(0), name + "_ref",
      root.resolve("idxref").toString, buckets = 4)
    val keptRef = Seq(batchA, batchB).map { b =>
      val flags = BandIndex.ingest(spark, b, name + "_ref",
        root.resolve("idxref").toString)
      BandIndex.keptOf(b, flags)
    }.reduce(_ unionByName _)
    val expected = CurationPipeline.packSequences(
        CurationPipeline.selectByBudget(keptRef), block = 16L)
      .select($"doc_id", $"source", $"m".as("n_tokens"), $"q".as("quality"),
              $"seq_id", $"straddle")
      .collect().map(_.toSeq).toSet

    val got = spark.read.parquet(r.manifestPath)
      .select("doc_id", "source", "n_tokens", "quality", "seq_id", "straddle")
      .collect().map(_.toSeq).toSet
    assert(got === expected, s"manifest diverges from composed operators")

    // the dup (10) is rejected; the spammy docs (2, 12) rank below the
    // budget line; report numbers agree with the manifest
    val keptIds = spark.read.parquet(s"$work/corpus")
      .select($"doc_id").as[Long].collect().toSet
    assert(keptIds === Set(1L, 2L, 3L, 11L, 12L))
    val selIds = got.map(_.head.asInstanceOf[Long])
    assert(selIds.subsetOf(keptIds) && !selIds.contains(10L))
    assert(Set(2L, 12L).intersect(selIds).isEmpty,
      s"repetitive docs beat the quality ranking: $selIds")
    assert(r.kept === 5 && r.selected === got.size)
    assert(r.selectedTokens <= r.tokenBudget)
    assert(r.nSequences >= 1)
  }

  test("canonicalize re-elects kept-corpus survivors (KeepLongest beats first-crawled)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Within-batch near-dup pairs BOTH pass ingest (dedupBatch
    // classifies only against the pre-batch index — it cannot know a
    // better member is in flight); the batch canonicalization pass is
    // the exact safety net that re-adjudicates them.
    val name = "cur_canon"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = Files.createTempDirectory("graft-canon")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    def docsDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("web"))
      .withColumn("n_chars", length($"text").cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    // 1 and 2 are near-dups in the SAME batch (3-gram J = 10/12 ≈ 0.83,
    // safely above the 0.8 edge and its float boundary); 2 is longer
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    docsDf(
      1L -> base,
      2L -> (base + " sigma tau"),
      3L -> "totally different content about storage engines and compaction policies")
      .coalesce(1).write.parquet(s"$srcDir/a")

    val r = CurationPipeline.run(spark, s"$srcDir/*", name,
      root.resolve("idx").toString, root.resolve("work").toString,
      buckets = 4, budgetNum = 1, budgetDen = 1, block = 16L,
      canonicalize = Some(graft.text.Canonicalize.KeepLongest))

    // both near-dups landed in the sink; the canonical pass dropped the
    // shorter one before selection — with the whole-corpus budget, the
    // manifest is exactly the survivor set
    val sinkIds = spark.read.parquet(s"${root.resolve("work")}/corpus")
      .select($"doc_id").as[Long].collect().toSet
    assert(sinkIds === Set(1L, 2L, 3L), s"ingest should keep all: $sinkIds")
    assert(r.kept === 2, s"report.kept counts survivors: ${r.kept}")
    val manifestIds = spark.read.parquet(r.manifestPath)
      .select($"doc_id").as[Long].collect().toSet
    assert(manifestIds === Set(2L, 3L),
      s"KeepLongest promotes 2 over first-crawled 1: $manifestIds")
  }

  test("takedown erasure reaches the curation manifest") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val name = "cur_ers"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = Files.createTempDirectory("graft-cur-erase")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    def docsDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("web"))
      .withColumn("n_chars", length($"text").cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    val takedownText = "sensitive document that must be fully forgotten later"
    docsDf(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> takedownText,
      3L -> "distributed systems require careful coordination of state")
      .coalesce(1).write.parquet(s"$srcDir/a")
    val work = root.resolve("work").toString
    val r = CurationPipeline.run(spark, s"$srcDir/*", name,
      root.resolve("idx").toString, work, buckets = 4,
      budgetNum = 1, budgetDen = 1, block = 16L) // full budget: all selected
    val beforeRows = spark.read.parquet(r.manifestPath)
      .collect().map(_.toSeq).toSet
    assert(beforeRows.exists(_.head == 2L), "doc 2 missing from the manifest")

    val report = Erasure.erase(spark, s"$work/corpus", name,
      root.resolve("idx").toString, Seq(2L).toDF("doc_id"), buckets = 4,
      manifestDir = Some(r.manifestPath))
    assert(report === Erasure.EraseReport(1L, 1L, indexRewriteRan = true))

    // the manifest no longer knows the doc — and every surviving row is
    // exactly what it was (no re-pack: seq_id holes are documented)
    val afterRows = spark.read.parquet(r.manifestPath)
      .collect().map(_.toSeq).toSet
    assert(afterRows === beforeRows.filterNot(_.head == 2L))
    // corpus sink cleaned, and a re-crawl of the text classifies kept
    assert(!spark.read.schema(
        graft.Tables.schemas("documents").add("ingest_batch", "long"))
      .parquet(s"$work/corpus")
      .select($"doc_id").as[Long].collect().contains(2L))
    val flags = BandIndex.dedupBatch(spark,
      Seq((20L, takedownText)).toDF("doc_id", "text"), name)
      .collect().map(rr => rr.getLong(0) -> rr.getString(1)).toMap
    assert(flags === Map(20L -> "kept"))
  }

  test("curation run drains queued takedowns; the regenerated manifest forgets them") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val name = "cur_td"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = Files.createTempDirectory("graft-cur-takedown")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    val tdDir = root.resolve("takedowns").toString
    def docsDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("web"))
      .withColumn("n_chars", length($"text").cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    val secret = "queued takedown text the pipeline must forget entirely"
    docsDf(1L -> secret, 2L -> "ordinary first batch document words")
      .coalesce(1).write.parquet(s"$srcDir/a")
    val work = root.resolve("work").toString
    val r1 = CurationPipeline.run(spark, s"$srcDir/*", name,
      root.resolve("idx").toString, work, buckets = 4,
      budgetNum = 1, budgetDen = 1, block = 16L,
      takedownDir = Some(tdDir))
    assert(spark.read.parquet(r1.manifestPath)
      .select($"doc_id").as[Long].collect().toSet === Set(1L, 2L))

    // enqueue the takedown, drop a new crawl batch containing a
    // verbatim re-crawl, rerun the stage from the same checkpoint
    Seq(1L).toDF("doc_id").coalesce(1).write.parquet(tdDir)
    docsDf(10L -> secret, 11L -> "fresh second batch content words")
      .coalesce(1).write.parquet(s"$srcDir/b")
    val r2 = CurationPipeline.run(spark, s"$srcDir/*", name,
      root.resolve("idx").toString, work, buckets = 4,
      budgetNum = 1, budgetDen = 1, block = 16L,
      takedownDir = Some(tdDir))

    // corpus: 1 erased, the re-crawl (10) kept; manifest regenerated
    // from the corpus, so it forgot doc 1 with no manifest-erase step
    val keptIds = spark.read.schema(
        graft.Tables.schemas("documents").add("ingest_batch", "long"))
      .parquet(s"$work/corpus").select($"doc_id").as[Long].collect().toSet
    assert(keptIds === Set(2L, 10L, 11L))
    assert(spark.read.parquet(r2.manifestPath)
      .select($"doc_id").as[Long].collect().toSet === Set(2L, 10L, 11L))
    spark.catalog.refreshTable(BandIndex.docsTable(name))
    assert(spark.table(BandIndex.docsTable(name))
      .filter($"doc_id" === 1L).count() === 0)
  }

  test("curation stage bootstraps from an empty crawl directory (zero batches)") {
    val name = "cur_idx_empty"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = Files.createTempDirectory("graft-curation-empty")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    val r = CurationPipeline.run(spark, s"$srcDir/*", name,
      root.resolve("idx").toString, root.resolve("work").toString, buckets = 4)
    assert(r.kept === 0 && r.selected === 0 && r.selectedTokens === 0)
    assert(r.tokenBudget === 0 && r.nSequences === 0)
  }

  test("curation stage chunks selected docs into context windows before packing") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val name = "cur_idx_chunk"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = Files.createTempDirectory("graft-curation-chunk")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    def docsDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", when($"doc_id" % 2 === 0, "web").otherwise("books"))
      .withColumn("n_chars", length($"text").cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docsDf(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa", // 10 toks
      2L -> "one two three four",                                       // 4 toks
      3L -> "red orange yellow green blue indigo violet")               // 7 toks
      .coalesce(1).write.parquet(s"$srcDir/a")

    val (w, st) = (4, 3)
    val work = root.resolve("work").toString
    val r = CurationPipeline.run(spark, s"$srcDir/*", name,
      root.resolve("idx").toString, work, buckets = 4,
      budgetNum = 1, budgetDen = 1, block = 8L, chunk = Some((w, st)))

    val manifest = spark.read.parquet(r.manifestPath)
    val got = manifest
      .select($"doc_id", $"chunk_idx", $"start_pos", $"n_tokens")
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getLong(3)))
      .toSet
    // driver-side chunk arithmetic: full budget selects all three docs
    val expected = Seq(1L -> 10, 2L -> 4, 3L -> 7).flatMap { case (id, m) =>
      val nChunks = if (m <= w) 1 else 1 + (m - w + st - 1) / st
      (0 until nChunks).map { i =>
        val start = if (i == nChunks - 1 && m > w) m - w + 1 else 1 + st * i
        (id, i, start, math.min(w, m).toLong)
      }
    }.toSet
    assert(got === expected)
    // last chunk right-aligns: each doc's max chunk covers the doc end
    assert(r.selected === expected.size.toLong)
    assert(r.selectedTokens === expected.toSeq.map(_._4).sum)

    // composition: the manifest equals chunk+pack applied to the kept
    // corpus through the public transforms, seq assignment included
    val kept = spark.read.parquet(s"$work/corpus")
    val composed = CurationPipeline.packSequencesBy(
        CurationPipeline.chunkWindows(
          CurationPipeline.selectByBudget(kept, 1, 1), w, st),
        Seq("doc_id", "chunk_idx"), block = 8L)
      .select($"doc_id", $"chunk_idx", $"start_pos", $"source",
        $"m".as("n_tokens"), $"q".as("quality"), $"seq_id", $"straddle")
      .collect().map(_.toSeq).toSet
    val gotFull = manifest
      .select($"doc_id", $"chunk_idx", $"start_pos", $"source",
        $"n_tokens", $"quality", $"seq_id", $"straddle")
      .collect().map(_.toSeq).toSet
    assert(gotFull === composed)
  }

  test("curation stage gates kept docs on the Gopher rule battery before selection") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val name = "cur_idx_gate"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = Files.createTempDirectory("graft-curation-gate")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    def docsDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", when($"doc_id" % 2 === 0, "web").otherwise("books"))
      .withColumn("n_chars", length($"text").cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docsDf(
      1L -> "substantial document with many useful distinct tokens inside it",
      2L -> "too short",                                         // fails minWords=5
      3L -> "spam spam spam spam spam spam spam spam spam spam") // fails top-token 20%
      .coalesce(1).write.parquet(s"$srcDir/a")

    // thresholds tuned to the fixture: only the word-count floor and
    // the repetition cap have teeth
    val gate = graft.text.QualityRules.Params(
      minWords = 5, minMeanLen = 1, maxMeanLen = 100, minStop = 0,
      topTokenPctMax = 20, symbolPctMax = 100, alphaPctMin = 0)
    val r = CurationPipeline.run(spark, s"$srcDir/*", name,
      root.resolve("idx").toString, root.resolve("work").toString,
      buckets = 4, budgetNum = 1, budgetDen = 1, block = 16L,
      qualityGate = Some(gate))

    // all three docs pass dedup into the corpus; the gate then drops
    // 2 (short) and 3 (repetitive) before selection
    val manifestIds = spark.read.parquet(r.manifestPath)
      .select($"doc_id").as[Long].collect().toSet
    assert(manifestIds === Set(1L))
    assert(r.kept === 1)
    // the gated-out docs were still indexed: a re-crawl of doc 3's text
    // classifies as a duplicate, not fresh content
    val flags = BandIndex.ingest(spark,
      docsDf(30L -> "spam spam spam spam spam spam spam spam spam spam"),
      name, root.resolve("idx").toString)
    assert(BandIndex.keptOf(docsDf(
      30L -> "spam spam spam spam spam spam spam spam spam spam"), flags)
      .count() === 0L)
  }

  test("gate accounting: per-gate per-source drops chain and sum to the total drop") {
    // VERDICT r5 #8: with four possible gates a user could see THAT
    // docs dropped but not WHERE. The report now carries a per-gate
    // per-source ledger whose adjacent lines chain (gate N's `in` =
    // gate N-1's `kept`) — so gate drops sum EXACTLY to the total.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val name = "cur_idx_acct"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = Files.createTempDirectory("graft-curation-acct")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    def docsDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", when($"doc_id" % 2 === 0, "web").otherwise("books"))
      .withColumn("n_chars", length($"text").cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docsDf(
      1L -> "substantial document with many useful distinct tokens inside it",
      2L -> "too short",                                          // rules: minWords
      3L -> "spam spam spam spam spam spam spam spam spam spam",  // rules: top-token
      4L -> "cafÃ© menu with plenty Ã©tÃ© mojibake tokens here")  // noise gate
      .coalesce(1).write.parquet(s"$srcDir/a")

    val gate = graft.text.QualityRules.Params(
      minWords = 5, minMeanLen = 1, maxMeanLen = 100, minStop = 0,
      topTokenPctMax = 20, symbolPctMax = 100, alphaPctMin = 0)
    val r = CurationPipeline.run(spark, s"$srcDir/*", name,
      root.resolve("idx").toString, root.resolve("work").toString,
      buckets = 4, budgetNum = 1, budgetDen = 1, block = 16L,
      qualityGate = Some(gate), noiseGate = Some(0L))

    assert(r.kept === 1)
    val acct = r.gateAccounting
    // gates appear in execution order, enabled ones only
    assert(acct.map(_.gate).distinct === Seq("noise", "rules"))
    // the noise gate drops the mojibake doc (web); rules then drop the
    // short doc (web) and the spam doc (books)
    def line(g: String, s: String) =
      acct.find(c => c.gate == g && c.source == s).get
    assert(line("noise", "web") === CurationPipeline.GateCount("noise", "web", 2, 1))
    assert(line("noise", "books") === CurationPipeline.GateCount("noise", "books", 2, 2))
    assert(line("rules", "web") === CurationPipeline.GateCount("rules", "web", 1, 0))
    assert(line("rules", "books") === CurationPipeline.GateCount("rules", "books", 2, 1))
    // chain: each gate's in equals the previous gate's kept per source
    for (s <- Seq("web", "books"))
      assert(line("rules", s).in === line("noise", s).kept)
    // and the gate drops sum exactly to ingest-kept minus final-kept
    val ingestKept = spark.read
      .parquet(root.resolve("work").toString + "/corpus").count()
    assert(acct.map(_.dropped).sum === ingestKept - r.kept)
  }

  test("curation stage gates benchmark-contaminated docs before the manifest") {
    // eval leakage: doc 3 embeds a run of benchmark text long enough
    // that ≥10% of its 7-shingles are benchmark shingles; doc 1 is
    // clean. The decontamination gate (Bloom-pruned q83/q129
    // semantics) must drop 3 and ledger the drop.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val name = "cur_idx_deco"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = Files.createTempDirectory("graft-curation-deco")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    def docsDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", when($"doc_id" % 2 === 0, "web").otherwise("books"))
      .withColumn("n_chars", length($"text").cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    val benchRun = (1 to 12).map("eval" + _).mkString(" ") // 6 bench 7-shingles
    val clean = (1 to 30).map("alpha" + _).mkString(" ")
    docsDf(
      1L -> clean,
      3L -> s"${(1 to 20).map("beta" + _).mkString(" ")} $benchRun")
      .coalesce(1).write.parquet(s"$srcDir/a")

    val bench = Seq((900L, benchRun)).toDF("doc_id", "text")
    val r = CurationPipeline.run(spark, s"$srcDir/*", name,
      root.resolve("idx").toString, root.resolve("work").toString,
      buckets = 4, budgetNum = 1, budgetDen = 1, block = 64L,
      decontaminate = Some(CurationPipeline.DecontaminationGate(bench)))

    assert(r.kept === 1)
    val manifestIds = spark.read.parquet(r.manifestPath)
      .select($"doc_id").as[Long].collect().toSet
    assert(manifestIds === Set(1L))
    val line = r.gateAccounting.find(_.gate == "decontaminate")
    assert(line.isDefined)
    assert(r.gateAccounting.filter(_.gate == "decontaminate")
      .map(_.dropped).sum === 1)
  }

  test("curation stage trims cross-doc duplicated runs before gating and selection") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val name = "cur_idx_trim"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = Files.createTempDirectory("graft-curation-trim")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    def docsDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", when($"doc_id" % 2 === 0, "web").otherwise("books"))
      .withColumn("n_chars", length($"text").cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    // 16-token boilerplate shared by docs 1 and 2, each otherwise
    // distinct enough (Jaccard ≈ 16/56 ≈ 0.29) that ingest dedup keeps
    // BOTH — exactly the case whole-doc dedup can't reach
    val boiler = (1 to 16).map("footer" + _).mkString(" ")
    val uniqA = (1 to 20).map("alpha" + _).mkString(" ")
    val uniqB = (1 to 20).map("beta" + _).mkString(" ")
    docsDf(
      1L -> s"$uniqA $boiler",
      2L -> s"$boiler $uniqB",
      3L -> (1 to 12).map("gamma" + _).mkString(" ")) // untouched control
      .coalesce(1).write.parquet(s"$srcDir/a")

    val work = root.resolve("work").toString
    val r = CurationPipeline.run(spark, s"$srcDir/*", name,
      root.resolve("idx").toString, work, buckets = 4,
      budgetNum = 1, budgetDen = 1, block = 64L, trim = Some(16))

    // both boilerplate carriers landed in the corpus (not deduped away)
    val kept = spark.read.parquet(s"$work/corpus")
    assert(kept.select($"doc_id").as[Long].collect().toSet === Set(1L, 2L, 3L))
    // the manifest sees TRIMMED token counts: 36 - 16 = 20 for docs 1
    // and 2, the control untouched at 12
    val m = spark.read.parquet(r.manifestPath)
      .select($"doc_id", $"n_tokens").as[(Long, Long)].collect().toMap
    assert(m === Map(1L -> 20L, 2L -> 20L, 3L -> 12L), s"manifest tokens: $m")
    // composition: the manifest equals trim+select+pack through the
    // public transforms, and the trimmed text itself lost the run
    val composed = CurationPipeline.packSequences(
        CurationPipeline.selectByBudget(
          CurationPipeline.trimStage(kept, 16), 1, 1), block = 64L)
      .select($"doc_id", $"source", $"m".as("n_tokens"), $"q".as("quality"),
        $"seq_id", $"straddle")
      .collect().map(_.toSeq).toSet
    val gotFull = spark.read.parquet(r.manifestPath)
      .select($"doc_id", $"source", $"n_tokens", $"quality",
        $"seq_id", $"straddle")
      .collect().map(_.toSeq).toSet
    assert(gotFull === composed)
    val trimmedText = CurationPipeline.trimStage(kept, 16)
      .filter($"doc_id" === 1L).select($"text").head().getString(0)
    assert(!trimmedText.contains("footer1"), "boilerplate survived the trim")
    assert(trimmedText.contains("alpha1"), "unique content was cut")
  }

  test("curation stage gates incoherent docs on bigram perplexity before selection") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val name = "cur_idx_ppx"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = Files.createTempDirectory("graft-curation-ppx")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    // four FLUENT docs (per-doc token pairs in strict alternation —
    // disjoint vocabularies, so dedup keeps all) and one SCRAMBLED doc:
    // same two tokens, incoherent order. Its unigram profile matches
    // the fluent shape exactly; only a conditional model can see it.
    def fluent(i: Int) = (1 to 10).flatMap(_ => Seq(s"p$i", s"q$i"))
      .mkString(" ") + s" p$i"
    val scrambled = "p0 p0 q0 q0 p0 q0 p0 p0 q0 q0 p0 p0 q0 q0 p0 q0 q0 p0 p0 q0 p0"
    val docsDf = ((1 to 4).map(i => (i.toLong, fluent(i))) :+ (9L, scrambled))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length($"text").cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docsDf.coalesce(1).write.parquet(s"$srcDir/a")

    // calibrate the cutoff the way production would: inspect the score
    // distribution, pin a threshold that splits it
    val scores = graft.text.BigramLm.withPerplexity(
        docsDf.select($"doc_id", $"text"))
      .select($"doc_id", $"ppx_q").as[(Long, Long)].collect().toMap
    val fluentMax = (1 to 4).map(i => scores(i.toLong)).max
    assert(scores(9L) > fluentMax,
      s"scrambled doc did not out-perplex the fluent docs: $scores")

    val work = root.resolve("work").toString
    val r = CurationPipeline.run(spark, s"$srcDir/*", name,
      root.resolve("idx").toString, work, buckets = 4,
      budgetNum = 1, budgetDen = 1, block = 64L,
      perplexityGate = Some(scores(9L)))
    // all five docs are KEPT (no near-dups — disjoint vocabularies),
    // but the scrambled one never reaches the manifest
    assert(r.kept == 4, s"gate should leave 4 of the 5 kept docs: ${r.kept}")
    val selIds = spark.read.parquet(r.manifestPath)
      .select($"doc_id").as[Long].collect().toSet
    assert(selIds == Set(1L, 2L, 3L, 4L),
      s"manifest should hold the fluent docs only: $selIds")
  }

  test("curation stage gates mojibake docs on encoding noise before selection") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val name = "cur_idx_noise"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = Files.createTempDirectory("graft-curation-noise")
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    // three clean docs (disjoint vocabularies — dedup keeps all) and
    // one double-encoded doc: same shape, but every accented char
    // arrives as a mojibake pair
    def clean(i: Int) = (1 to 12).map(j => s"w${i}_$j").mkString(" ")
    val mojibake = "cafÃ© rÃ©sumÃ© naÃ¯ve " + (1 to 9).map(j => s"m_$j").mkString(" ")
    val docsDf = ((1 to 3).map(i => (i.toLong, clean(i))) :+ (9L, mojibake))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("web"))
      .withColumn("n_chars", length($"text").cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docsDf.coalesce(1).write.parquet(s"$srcDir/a")

    val r = CurationPipeline.run(spark, s"$srcDir/*", name,
      root.resolve("idx").toString, root.resolve("work").toString,
      buckets = 4, budgetNum = 1, budgetDen = 1, block = 64L,
      noiseGate = Some(0L)) // artifact-free docs only
    assert(r.kept == 3, s"gate should leave 3 of the 4 kept docs: ${r.kept}")
    val selIds = spark.read.parquet(r.manifestPath)
      .select($"doc_id").as[Long].collect().toSet
    assert(selIds == Set(1L, 2L, 3L),
      s"manifest should hold the clean docs only: $selIds")
    // the gated doc was still crawled: its re-crawl classifies as a
    // duplicate, never fresh content
    val re = BandIndex.dedupBatch(spark,
      Seq((99L, mojibake)).toDF("doc_id", "text"), name)
    assert(re.filter($"flag" === "kept").count() == 0,
      "re-crawled mojibake must classify as duplicate")
  }

  test("curation stage ingests a raw WET crawl end-to-end (bytes to packed manifest)") {
    // The full Common-Crawl-shaped path: WARC/WET bytes →
    // [[graft.sources.Warc.wetDocuments]] → documents-contract crawl
    // drop → CurationPipeline (streaming ingest + dedup + select +
    // pack). A re-crawl of batch 1's text arriving in batch 2 must
    // classify as a duplicate of the indexed original.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val name = "cur_idx_wet"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = Files.createTempDirectory("graft-curation-wet")

    def record(id: String, uri: String, text: String): Array[Byte] = {
      val payload = text.getBytes("UTF-8")
      val head = Seq(
        "WARC/1.0", "WARC-Type: conversion",
        s"WARC-Record-ID: <urn:uuid:$id>",
        "WARC-Date: 2024-03-01T00:00:00Z",
        s"WARC-Target-URI: $uri",
        "Content-Type: text/plain",
        s"Content-Length: ${payload.length}", "", "").mkString("\r\n")
      val out = new java.io.ByteArrayOutputStream()
      out.write(head.getBytes("UTF-8")); out.write(payload)
      out.write("\r\n\r\n".getBytes("UTF-8"))
      out.toByteArray
    }
    val textA = "the quick brown fox jumps over the lazy dog tonight"
    val textB = "distributed systems require careful coordination of shared state"
    val textD = "novel second batch content with many distinct useful words"
    def writeWet(p: java.nio.file.Path, recs: Array[Byte]*): Unit = {
      val out = new java.io.ByteArrayOutputStream()
      recs.foreach(out.write)
      java.nio.file.Files.write(p, out.toByteArray)
    }
    val wetDir = root.resolve("wet"); Files.createDirectories(wetDir)
    writeWet(wetDir.resolve("batch1.wet"),
      record("11111111-1111-1111-1111-111111111111", "https://a.example/1", textA),
      record("22222222-2222-2222-2222-222222222222", "https://a.example/2", textB))
    writeWet(wetDir.resolve("batch2.wet"),
      record("33333333-3333-3333-3333-333333333333", "https://b.example/1", textA), // re-crawl
      record("44444444-4444-4444-4444-444444444444", "https://b.example/2", textD))

    // adapt to the documents contract (lang is the one missing column —
    // language-ID is its own operator downstream) and drop each WET
    // file as its own crawl batch
    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    for (f <- Seq("batch1", "batch2"))
      graft.sources.Warc.wetDocuments(spark, wetDir.resolve(f + ".wet").toString)
        .withColumn("lang", lit("und"))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$srcDir/$f")

    val work = root.resolve("work").toString
    val r = CurationPipeline.run(spark, s"$srcDir/*", name,
      root.resolve("idx").toString, work, buckets = 4,
      budgetNum = 1, budgetDen = 1, block = 64L)

    // exactly one of the A/C re-crawl pair survives (file order is the
    // stream's choice; either member is a valid survivor), B and D both
    val kept = spark.read.parquet(s"$work/corpus")
      .select($"text").as[String].collect().toSeq
    assert(kept.size == 3 && kept.toSet == Set(textA, textB, textD),
      s"kept corpus wrong: $kept")
    // the manifest packs the three survivors with their true token counts
    val m = spark.read.parquet(r.manifestPath)
      .select($"n_tokens").as[Long].collect().sorted.toSeq
    assert(m == Seq(textA, textB, textD).map(_.split(" ").length.toLong).sorted,
      s"manifest tokens wrong: $m")
    assert(r.kept == 3 && r.selected == 3)
  }

  test("curation stage ingests a raw WARC (response records) end-to-end") {
    // The round-6 twin of the WET test: no pre-extracted text —
    // [[graft.sources.Warc.responseDocuments]] does the HTTP framing +
    // HTML extraction in-engine, and the extracted prose (not the
    // page's nav/footer boilerplate) is what reaches the curation
    // index, so a re-crawl of the same ARTICLE under different chrome
    // still classifies as a duplicate.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val name = "cur_idx_warc"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = Files.createTempDirectory("graft-curation-warc")

    def htmlPage(para: String, nav: String): String =
      s"<html><body><nav><a href=/>$nav</a></nav><p>$para</p>" +
        "<footer>Copyright 2024, all rights reserved here.</footer></body></html>"
    def responseRecord(id: String, uri: String, html: String): Array[Byte] = {
      val body = html.getBytes("UTF-8")
      val http = new java.io.ByteArrayOutputStream()
      http.write(("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
        "charset=utf-8\r\n\r\n").getBytes("UTF-8"))
      http.write(body)
      val payload = http.toByteArray
      val head = Seq(
        "WARC/1.0", "WARC-Type: response",
        s"WARC-Record-ID: <urn:uuid:$id>",
        "WARC-Date: 2024-03-01T00:00:00Z",
        s"WARC-Target-URI: $uri",
        "Content-Type: application/http; msgtype=response",
        s"Content-Length: ${payload.length}", "", "").mkString("\r\n")
      val out = new java.io.ByteArrayOutputStream()
      out.write(head.getBytes("UTF-8")); out.write(payload)
      out.write("\r\n\r\n".getBytes("UTF-8"))
      out.toByteArray
    }
    val textA = "the quick brown fox jumps over the lazy dog again tonight"
    val textB = "distributed systems require careful coordination of shared state"
    val textD = "novel second batch content with many distinct useful words"
    val warcDir = root.resolve("warc"); Files.createDirectories(warcDir)
    def writeWarc(p: java.nio.file.Path, recs: Array[Byte]*): Unit = {
      val out = new java.io.ByteArrayOutputStream()
      recs.foreach(out.write)
      java.nio.file.Files.write(p, out.toByteArray)
    }
    writeWarc(warcDir.resolve("batch1.warc"),
      responseRecord("11111111-aaaa-1111-1111-111111111111",
        "https://a.example/1", htmlPage(textA, "SiteOne menu")),
      responseRecord("22222222-aaaa-2222-2222-222222222222",
        "https://a.example/2", htmlPage(textB, "SiteOne menu")))
    writeWarc(warcDir.resolve("batch2.warc"),
      // re-crawl of article A on a DIFFERENT site: other nav text,
      // same article body — must still classify as duplicate
      responseRecord("33333333-aaaa-3333-3333-333333333333",
        "https://b.example/1", htmlPage(textA, "OtherSite navigation")),
      responseRecord("44444444-aaaa-4444-4444-444444444444",
        "https://b.example/2", htmlPage(textD, "OtherSite navigation")))

    val srcDir = root.resolve("src"); Files.createDirectories(srcDir)
    for (f <- Seq("batch1", "batch2"))
      graft.sources.Warc.responseDocuments(spark,
          warcDir.resolve(f + ".warc").toString)
        .withColumn("lang", lit("und"))
        .select("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$srcDir/$f")

    val work = root.resolve("work").toString
    val r = CurationPipeline.run(spark, s"$srcDir/*", name,
      root.resolve("idx").toString, work, buckets = 4,
      budgetNum = 1, budgetDen = 1, block = 64L)

    val kept = spark.read.parquet(s"$work/corpus")
      .select($"text").as[String].collect().toSeq
    assert(kept.size == 3 && kept.toSet == Set(textA, textB, textD),
      s"kept corpus wrong (boilerplate leaked or dedup missed): $kept")
    assert(r.kept == 3 && r.selected == 3)
  }

  test("readmission RCA matches a brute-force self-join oracle") {
    import spark.implicits._
    val enc = Pipeline.generateEncounters(spark, 50)
    val fast = Pipeline.analyzeReadmissions(enc)
      .select("encounter_type", "encounters", "readmissions").collect()

    // Naive O(n²) EXISTS self-join — the reference's own formulation
    // (healthcare-sql-analytics.sql:164-171); must agree with the
    // window-based plan exactly.
    enc.createOrReplaceTempView("enc_oracle")
    val slow = spark.sql(
      """WITH flagged AS (
        |  SELECT e1.encounter_type,
        |         EXISTS(SELECT 1 FROM enc_oracle e2
        |                WHERE e2.patient_id = e1.patient_id
        |                  AND e2.encounter_id <> e1.encounter_id
        |                  AND e2.encounter_date BETWEEN e1.encounter_date
        |                      AND date_add(e1.discharge_date, 30)
        |                  AND e2.encounter_date >= e1.encounter_date) AS readmit
        |  FROM enc_oracle e1)
        |SELECT encounter_type, COUNT(*) AS encounters,
        |       SUM(CASE WHEN readmit THEN 1 ELSE 0 END) AS readmissions
        |FROM flagged GROUP BY encounter_type HAVING COUNT(*) >= 10
        |""".stripMargin)
      .select("encounter_type", "encounters", "readmissions").collect()

    val key = (r: org.apache.spark.sql.Row) => r.getString(0)
    assert(fast.map(key).toSet == slow.map(key).toSet)
    val slowMap = slow.map(r => key(r) -> (r.getLong(1), r.getLong(2))).toMap
    fast.foreach { r =>
      assert(slowMap(key(r)) == ((r.getLong(1), r.getLong(2))),
        s"mismatch for ${key(r)}")
    }
  }
}
