package graft.streaming

import graft.SparkSpec
import graft.etl.BandIndex
import org.apache.spark.sql.DataFrame

/** [[CorpusIngestJob]] — the streaming crawl-ingest loop: per-batch
  * dedup against the persisted index, kept docs appended to index +
  * curated sink. The load-bearing property is CROSS-BATCH: a doc kept
  * in micro-batch N must reject its duplicate arriving in batch N+1,
  * which only works if the index append really happened between
  * batches.
  */
class CorpusIngestSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs one steady-state micro-batch may run (see its test). */
  private val MaxJobs = 18

  private def docsDf(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("crawl"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")

  test("cross-batch dedup: batch 2 rejects a doc kept in batch 1") {
    val name = "cidx_stream"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = java.nio.file.Files.createTempDirectory("graft-ingest")
    val (srcDir, indexPath, outDir, ckpt) =
      (root.resolve("src"), root.resolve("idx"), root.resolve("out"), root.resolve("ckpt"))
    java.nio.file.Files.createDirectories(srcDir)

    // seed corpus: docs 1 and 2
    BandIndex.create(spark,
      docsDf(1L -> "alpha beta gamma delta", 2L -> "one two three four"),
      name, indexPath.toString, buckets = 4)

    // batch A: 10 = exact dup of corpus doc 1; 11 = fresh
    docsDf(10L -> "alpha beta gamma delta", 11L -> "fresh words first batch")
      .coalesce(1).write.parquet(s"$srcDir/a")
    // batch B: 20 = exact dup of 11 (kept only in batch A!); 21 = fresh
    docsDf(20L -> "fresh words first batch", 21L -> "novel content second batch")
      .coalesce(1).write.parquet(s"$srcDir/b")

    val q = CorpusIngestJob.run(spark, s"$srcDir/*", name, indexPath.toString,
      outDir.toString, ckpt.toString, buckets = 4)
    q.awaitTermination()

    val kept = spark.read.parquet(outDir.toString)
      .select($"doc_id").as[Long].collect().toSet
    // 10 exact-dups corpus, 20 exact-dups batch-A's kept doc 11 — only
    // possible to reject if batch A's append landed before batch B ran
    assert(kept === Set(11L, 21L))
    // index grew by exactly the kept docs: 2 seed + 11 + 21
    assert(spark.table(BandIndex.docsTable(name)).count() === 4)

    // restart from the same checkpoint with one new file: only the new
    // file is processed (no reclassification, no double-append), and a
    // dup of an earlier-kept doc is still rejected across the restart
    docsDf(30L -> "novel content second batch", 31L -> "post restart fresh")
      .coalesce(1).write.parquet(s"$srcDir/c")
    val q2 = CorpusIngestJob.run(spark, s"$srcDir/*", name, indexPath.toString,
      outDir.toString, ckpt.toString, buckets = 4)
    q2.awaitTermination()
    val kept2 = spark.read.parquet(outDir.toString)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept2 === Set(11L, 21L, 31L)) // 30 dups doc 21 kept pre-restart
    // the job appended through the streaming clone session; this outer
    // session's relation cache needs a refresh to see the new files
    spark.catalog.refreshTable(BandIndex.docsTable(name))
    assert(spark.table(BandIndex.docsTable(name)).count() === 5)
  }

  test("media stream: cross-batch dHash dedup through the persisted media index") {
    import graft.etl.MediaBandIndex
    import graft.multimodal.ImageDedup
    val name = "midx_stream"
    Seq(MediaBandIndex.docsTable(name), MediaBandIndex.bandsTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = java.nio.file.Files.createTempDirectory("graft-mingest")
    val (srcDir, indexPath, outDir, ckpt) =
      (root.resolve("src"), root.resolve("idx"), root.resolve("out"), root.resolve("ckpt"))
    java.nio.file.Files.createDirectories(srcDir)

    def mediaDf(rows: (Long, Array[Byte])*) =
      rows.toSeq.toDF("doc_id", "payload")
        .withColumn("source", org.apache.spark.sql.functions.lit("crawl"))
        .select("doc_id", "source", "payload")

    // seed index: image 1
    MediaBandIndex.create(spark, mediaDf(1L -> ImageDedup.patternPng(1)),
      name, indexPath.toString, buckets = 4)
    // batch A: 10 = twin of indexed 1; 11 = fresh seed-40
    mediaDf(10L -> ImageDedup.patternPng(1, flip = 1),
            11L -> ImageDedup.patternPng(40))
      .coalesce(1).write.parquet(s"$srcDir/a")
    // batch B: 20 = twin of 11 (kept only in batch A!); 21 = fresh
    mediaDf(20L -> ImageDedup.patternPng(40, flip = 1),
            21L -> ImageDedup.patternPng(41))
      .coalesce(1).write.parquet(s"$srcDir/b")

    val q = CorpusIngestJob.runMedia(spark, s"$srcDir/*", name,
      indexPath.toString, outDir.toString, ckpt.toString, buckets = 4)
    q.awaitTermination()

    val kept = spark.read.parquet(outDir.toString)
      .select($"doc_id").as[Long].collect().toSet
    // 20 near-dups batch-A's kept 11 — only rejectable if A's index
    // append landed before B classified
    assert(kept === Set(11L, 21L))
    spark.catalog.refreshTable(MediaBandIndex.docsTable(name))
    assert(spark.table(MediaBandIndex.docsTable(name))
      .select("doc_id").as[Long].collect().toSet === Set(1L, 11L, 21L))
  }

  test("a queued takedown erases at the next batch boundary; its re-crawl classifies kept") {
    val name = "cidx_takedown"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = java.nio.file.Files.createTempDirectory("graft-takedown")
    val (srcDir, indexPath, outDir, ckpt, tdDir) =
      (root.resolve("src"), root.resolve("idx").toString,
       root.resolve("out").toString, root.resolve("ckpt").toString,
       root.resolve("takedowns").toString)
    java.nio.file.Files.createDirectories(srcDir)
    BandIndex.create(spark, docsDf(1L -> "seed").limit(0), name, indexPath,
      buckets = 4)

    val secret = "sensitive takedown text that must be forgotten"
    docsDf(1L -> secret, 2L -> "ordinary surviving document")
      .coalesce(1).write.parquet(s"$srcDir/a")
    CorpusIngestJob.run(spark, s"$srcDir/*", name, indexPath, outDir, ckpt,
      buckets = 4, takedownDir = Some(tdDir)).awaitTermination()
    assert(spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
      === Set(1L, 2L))

    // enqueue the takedown of doc 1, then crawl batch B containing a
    // verbatim re-crawl of the secret text plus a fresh doc
    Seq(1L).toDF("doc_id").coalesce(1).write.parquet(tdDir)
    docsDf(10L -> secret, 11L -> "fresh post takedown content")
      .coalesce(1).write.parquet(s"$srcDir/b")
    CorpusIngestJob.run(spark, s"$srcDir/*", name, indexPath, outDir, ckpt,
      buckets = 4, takedownDir = Some(tdDir)).awaitTermination()

    // doc 1 is gone from the sink; the re-crawl (10) was KEPT — the
    // index really forgot the derived signatures before classifying
    assert(spark.read.parquet(outDir).select($"doc_id").as[Long].collect().toSet
      === Set(2L, 10L, 11L))
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name)).foreach { t =>
      spark.catalog.refreshTable(t)
      assert(spark.table(t)
        .filter(org.apache.spark.sql.functions.col("doc_id") === 1L)
        .count() === 0, t)
    }
    // the queue is drained (no data files) and the lease released
    val left = new java.io.File(tdDir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    assert(left.isEmpty, left.mkString(","))
    assert(BandIndex.readLease(spark, indexPath).isEmpty)
  }

  test("crash-window replay: sink-then-append sequence is idempotent") {
    val name = "cidx_replay"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = java.nio.file.Files.createTempDirectory("graft-replay")
    val (indexPath, outDir) = (root.resolve("idx").toString, root.resolve("out").toString)
    BandIndex.create(spark, docsDf(1L -> "alpha beta gamma"), name, indexPath, buckets = 4)
    val batch = docsDf(10L -> "alpha beta gamma", 11L -> "kept fresh words")

    // the job's own per-batch step
    def step(idx: String): Unit = CorpusIngestJob.ingestBatch(spark, batch,
      0L, name, idx, outDir, buckets = 4, takedownDir = None)
    def sinkIds() = spark.read.parquet(outDir)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    def indexed() = {
      spark.catalog.refreshTable(BandIndex.docsTable(name))
      spark.table(BandIndex.docsTable(name)).count()
    }

    // window (b): crash AFTER the sink write, BEFORE the index append —
    // an index path under a regular file cannot take the append
    // beacon, so the step dies exactly there. The replay reruns the
    // step; the partition overwrite must not duplicate and the append
    // must still land
    val notADir = java.nio.file.Files.createFile(root.resolve("not-a-dir"))
    intercept[java.io.IOException](step(s"$notADir/idx"))
    assert(sinkIds() === Seq(11L))
    assert(indexed() === 1)
    step(indexPath)
    assert(sinkIds() === Seq(11L))
    assert(indexed() === 2)

    // window (c): crash AFTER the append, BEFORE the checkpoint commit —
    // a full replay now classifies doc 11 as a dup of itself, the kept
    // slice is empty, the empty dynamic overwrite leaves the sink
    // partition alone, and the index is unchanged
    step(indexPath)
    assert(sinkIds() === Seq(11L))
    assert(indexed() === 2)
  }

  test("a steady-state micro-batch runs a pinned number of Spark jobs") {
    val name = "cidx_jobs"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = java.nio.file.Files.createTempDirectory("graft-jobs")
    val (srcDir, indexPath, outDir) = (root.resolve("src").toString,
      root.resolve("idx").toString, root.resolve("out").toString)
    // 200 tokens; `change` swaps one → Jaccard 199/201, a near dup
    def bigDoc(change: Boolean): String = (0 until 200).map(i =>
      if (change && i == 7) "changed" else s"tok$i").mkString(" ")
    // a micro-batch as the file source hands it over: a parquet scan
    def crawlFile(tag: String, rows: (Long, String)*): DataFrame = {
      docsDf(rows: _*).coalesce(1).write.parquet(s"$srcDir/$tag")
      spark.read.parquet(s"$srcDir/$tag")
    }
    def step(batch: DataFrame, batchId: Long): Unit =
      CorpusIngestJob.ingestBatch(spark, batch, batchId, name, indexPath,
        outDir, buckets = 4, takedownDir = None)
    BandIndex.create(spark,
      docsDf(1L -> "alpha beta gamma delta", 2L -> bigDoc(false)),
      name, indexPath, buckets = 4)
    step(crawlFile("a", 3L -> "warm up words"), 0L)

    val batch = crawlFile("b",
      10L -> "alpha beta gamma delta", // exact dup of 1
      11L -> bigDoc(true),             // near dup of 2
      12L -> "entirely fresh content") // kept
    val counters = graft.RunCounters.attach(spark.sparkContext)
    val jobs = try {
      assert(counters.settle())
      counters.reset()
      step(batch, 1L)
      assert(counters.settle())
      counters.jobs
    } finally spark.sparkContext.removeSparkListener(counters)
    assert(spark.read.parquet(outDir).select($"doc_id").as[Long].collect()
      .toSet === Set(3L, 12L))
    // classify's prefix collect (4 jobs) and its one localCheckpoint
    // (9), the sink write and the three index inserts (5): 18, down
    // from 26 when the step re-read, re-joined and re-tokenized the
    // batch
    assert(jobs.size <= MaxJobs, jobs.map(_._3).mkString("\n"))
  }
}
