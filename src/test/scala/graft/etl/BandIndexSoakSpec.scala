package graft.etl

import graft.SparkSpec
import graft.streaming.CorpusIngestJob
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** VERDICT r9 item 5: one adversarial soak over the index layer's
  * WHOLE operational surface at once — serialized streaming ingest
  * interleaved with concurrent [[BandIndex.compactIfNeeded]] attempts,
  * takedown erasure (applied twice), a re-crawl of erased content, and
  * a crashed-holder STALE lease — asserting at the end that no append
  * was lost, no erasure double-applied, and classification is still
  * exact. The piecewise specs (`BandIndexSpec`, `ErasureSpec`,
  * `CorpusIngestSpec`) prove each protocol alone; this one proves the
  * protocols against each other: every failure the schedule provokes
  * must be the DESIGNED one (fail-fast
  * [[BandIndex.ConcurrentMaintenanceException]] and a stream restart),
  * never silent corruption.
  */
class BandIndexSoakSpec extends SparkSpec {
  import spark.implicits._

  private val name = "cidx_soak"

  private def text(id: Long): String =
    s"soak corpus doc alpha$id beta$id gamma$id delta$id epsilon$id " +
      s"zeta$id eta$id theta$id iota$id kappa$id"

  private def docsDf(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("crawl"))
      .withColumn("n_chars", length($"text").cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")

  /** The two DESIGNED failure modes of a batch racing maintenance —
    * anything else is a spec failure:
    *
    *  1. fail-fast: [[BandIndex.ConcurrentMaintenanceException]] from
    *     the assertNoMaintenance guards (lease already on file when
    *     the batch starts);
    *  2. loud read abort: `FAILED_READ_FILE.FILE_NOT_EXIST` on an
    *     index GENERATION path — the batch passed the guard, planned
    *     its scan, and the lease-holding compaction swept the old
    *     generation out from under it (this soak DEMONSTRATED the
    *     window, round 9). It cannot be closed beacon-style because
    *     dedupBatch's returned frame reads the live tables lazily at
    *     the CALLER's consumption point; it is safe because the
    *     failure is loud and the at-least-once replay re-classifies
    *     against the new generation — compaction never changes
    *     content, and a remove-concurrent classify converges to
    *     post-remove semantics (documented on
    *     [[BandIndex.dedupBatch]]).
    */
  private def isDesignedFailure(e: Throwable): Boolean = {
    var c: Throwable = e
    while (c != null) {
      if (c.isInstanceOf[BandIndex.ConcurrentMaintenanceException]) return true
      val m = if (c.getMessage == null) "" else c.getMessage
      if (m.contains("maintenance") || m.contains("lease")) return true
      if ((m.contains("FAILED_READ_FILE") || m.contains("FileNotFound") ||
           m.contains("File does not exist")) &&
          (m.contains("__g") || m.contains(name))) return true
      c = c.getCause
    }
    false
  }

  test("soak: ingest vs concurrent compaction vs double takedown vs stale lease") {
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = java.nio.file.Files.createTempDirectory("graft-soak")
    val srcDir = root.resolve("src"); java.nio.file.Files.createDirectories(srcDir)
    val tdDir = root.resolve("takedown").toString
    val idx = root.resolve("idx").toString
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString

    BandIndex.create(spark, docsDf(1L -> text(1), 2L -> text(2)),
      name, idx, buckets = 4)

    // the takedown queue is a FLAT directory of parquet files —
    // write to scratch, move the part file in under a request name
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tdDir))
    def dropTakedown(ids: Seq[Long], tag: String): Unit = {
      val tmp = root.resolve(s"tdtmp-$tag").toString
      ids.toDF("doc_id").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.isFile && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(tdDir, s"$tag.parquet"))
      ()
    }

    /** Run the ingest stream to completion; every failure along the
      * way must be the designed fail-fast, and the stream must always
      * recover by restart once maintenance quiesces.
      */
    def runStream(maxRetries: Int = 15): Int = {
      var attempts = 0
      var failures = 0
      while (attempts <= maxRetries) {
        attempts += 1
        val q = CorpusIngestJob.run(spark, s"$srcDir/*", name, idx,
          outDir, ckpt, buckets = 4, takedownDir = Some(tdDir))
        try { q.awaitTermination(); return failures }
        catch {
          case e: Throwable =>
            assert(isDesignedFailure(e),
              s"NOT the designed fail-fast: ${e}")
            failures += 1
            // A lease-held fail-fast clears only when the maintenance
            // holder finishes — wait that out on WALL time (bounded),
            // not retry budget: with fixed 250 ms retries, 15 attempts
            // span ~4 s of lease-held window while round B's hammer
            // legitimately holds the lease for most of its 6-compaction
            // run, so the budget could exhaust with zero undesigned
            // failures (observed flaky under load and occasionally
            // quiet). Round E's stale lease never reaches this loop —
            // its probe calls CorpusIngestJob.run directly.
            val deadline = System.currentTimeMillis() + 30000
            while (BandIndex.readLease(spark, idx).nonEmpty &&
                   System.currentTimeMillis() < deadline)
              Thread.sleep(100)
            Thread.sleep(250)
        }
      }
      fail(s"stream never recovered after $maxRetries designed failures")
    }
    def keptSet: Set[Long] = {
      val f = new java.io.File(outDir)
      if (!f.exists()) Set.empty
      else spark.read.parquet(outDir).select($"doc_id").as[Long]
        .collect().toSet
    }

    // ---- round A: plain ingest (3 fresh + 1 dup of a seed) ----
    docsDf(101L -> text(101), 102L -> text(102), 103L -> text(103),
      104L -> text(1)).coalesce(1).write.parquet(s"$srcDir/a")
    runStream()
    assert(keptSet === Set(101L, 102L, 103L))

    // ---- round B: ingest racing a compaction hammer ----
    docsDf(111L -> text(111), 112L -> text(112))
      .coalesce(1).write.parquet(s"$srcDir/b1")
    docsDf(113L -> text(113), 114L -> text(101))
      .coalesce(1).write.parquet(s"$srcDir/b2")
    val cmes = new java.util.concurrent.atomic.AtomicInteger(0)
    val compacts = new java.util.concurrent.atomic.AtomicInteger(0)
    val hammer = new Thread(() => {
      (1 to 6).foreach { _ =>
        try {
          if (BandIndex.compactIfNeeded(spark, name, idx, buckets = 4,
              maxFiles = 1)) compacts.incrementAndGet()
          ()
        } catch {
          case _: BandIndex.ConcurrentMaintenanceException =>
            cmes.incrementAndGet(); ()
        }
        Thread.sleep(150)
      }
    })
    hammer.start()
    val bFailures = runStream()
    hammer.join(120000)
    assert(!hammer.isAlive, "compaction hammer wedged")
    info(s"round B: $bFailures designed stream fail-fasts, " +
      s"${compacts.get} compactions, ${cmes.get} maintenance rejections")
    assert(keptSet === Set(101L, 102L, 103L, 111L, 112L, 113L))

    // ---- round C: takedown {101, 111} + same-batch re-crawl of 101's
    // text under a fresh id — forget semantics demand it is KEPT ----
    dropTakedown(Seq(101L, 111L), "td1")
    docsDf(121L -> text(101), 122L -> text(122))
      .coalesce(1).write.parquet(s"$srcDir/c")
    runStream()
    assert(keptSet === Set(102L, 103L, 112L, 113L, 121L, 122L),
      "erased ids gone from the sink; the re-crawl of erased content kept")

    // ---- round D: the SAME takedown again (double-apply probe) ----
    dropTakedown(Seq(101L, 111L), "td2")
    docsDf(131L -> text(131), 132L -> text(101)) // 132 dups 121's CONTENT
      .coalesce(1).write.parquet(s"$srcDir/d")
    runStream()
    assert(keptSet === Set(102L, 103L, 112L, 113L, 121L, 122L, 131L),
      "re-applied takedown is a no-op; 121 (same text, different id) survives it")

    // ---- round E: crashed maintenance holder (stale lease on file) ----
    BandIndex.acquireLease(spark, idx, "crashed_compact", ttlMs = 1L)
    Thread.sleep(10) // now stale — and a stale lease still blocks
    docsDf(141L -> text(141)).coalesce(1).write.parquet(s"$srcDir/e")
    val q = CorpusIngestJob.run(spark, s"$srcDir/*", name, idx,
      outDir, ckpt, buckets = 4, takedownDir = Some(tdDir))
    val designed = try { q.awaitTermination(); false }
      catch { case e: Throwable => isDesignedFailure(e) }
    assert(designed, "a stale lease must fail the batch fast, not be ignored")
    // the documented remedy: rerun maintenance (takes the stale lease
    // over, releases it), then restart the stream
    BandIndex.compact(spark, name, idx, buckets = 4)
    assert(BandIndex.readLease(spark, idx).isEmpty)
    runStream()
    val finalKept = Set(102L, 103L, 112L, 113L, 121L, 122L, 131L, 141L)
    assert(keptSet === finalKept, "no append lost across the whole soak")

    // ---- invariants over the final state ----
    // exactly-once sink: no doc_id landed twice
    val sunk = spark.read.parquet(outDir).select($"doc_id").as[Long].collect()
    assert(sunk.length === sunk.distinct.length, "sink has duplicate rows")
    // index consistency: seeds + every kept doc − the two erased
    spark.catalog.refreshTable(BandIndex.docsTable(name))
    assert(spark.table(BandIndex.docsTable(name)).count() ===
      (2 + 10 - 2).toLong)
    // classify-correctness after all the churn: every surviving kept
    // text is a dup; erased-and-recrawled text dups its SURVIVOR (121),
    // fresh text is kept
    val probe = docsDf(
      901L -> text(102), 902L -> text(113), 903L -> text(101), // 121's content
      904L -> text(131), 905L -> text(141), 999L -> text(999))
    val flags = BandIndex.dedupBatch(spark, probe, name)
      .select($"doc_id", $"flag").as[(Long, String)].collect().toMap
    assert(Seq(901L, 902L, 903L, 904L, 905L).forall(flags(_) === "exact"),
      s"kept texts must classify exact-dup: $flags")
    assert(flags(999L) === "kept", s"fresh text must classify kept: $flags")
  }
}
