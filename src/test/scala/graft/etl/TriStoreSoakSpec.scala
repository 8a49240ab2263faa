package graft.etl

import graft.SparkSpec
import graft.streaming.CorpusIngestJob
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** VERDICT r9 item 6: ONE schedule interleaving all three persisted
  * stores' maintenance under the shared lease protocol — streaming
  * ingest into the band index + sink, lineage records per round,
  * vector-index appends per round, while a hammer thread cycles ALL
  * THREE maintenance ops (band compactIfNeeded, Lineage.compact,
  * VectorIndex.retrain), then a cross-store takedown applied twice.
  * The per-store specs prove each protocol alone; this one proves
  * them against EACH OTHER:
  *
  *  - each store's lease serializes ITS maintenance against its
  *    writers (every mid-schedule failure must be the designed
  *    fail-fast, never silent corruption);
  *  - the leases are INDEPENDENT across stores — one store under
  *    maintenance never blocks another store's writers (asserted
  *    directly: with the vector index's lease held, band appends and
  *    lineage records proceed);
  *  - after the full schedule: no ingested doc lost anywhere, no
  *    erasure double-applied, the ledger's terminal states exact, the
  *    vector index content-exact and serving with full-probe recall
  *    1.0, every lease released, every protocol scratch gone.
  */
class TriStoreSoakSpec extends SparkSpec {
  import spark.implicits._

  private val name = "tri_soak"

  private def text(id: Long): String =
    s"tri corpus doc alpha$id beta$id gamma$id delta$id epsilon$id " +
      s"zeta$id eta$id theta$id iota$id kappa$id"

  private def docsDf(ids: Long*): DataFrame =
    ids.toSeq.map(i => (i, text(i))).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("crawl"))
      .withColumn("n_chars", length($"text").cast("long"))

  /** Deterministic 8-dim embedding per doc id. */
  private def embOf(id: Long): Array[Float] =
    Array.tabulate(8)(j =>
      (((id * 31 + j * 17) % 13).toFloat - 6f) / 6f)

  private def embDf(ids: Long*): DataFrame =
    ids.toSeq.map(i => (i, (i % 4).toInt, embOf(i))).toSeq
      .toDF("vec_id", "label", "embedding")
      .select($"vec_id", $"label", $"embedding".cast("array<float>"))

  private def designed(e: Throwable): Boolean = {
    var c: Throwable = e
    while (c != null) {
      if (c.isInstanceOf[BandIndex.ConcurrentMaintenanceException]) return true
      val m = Option(c.getMessage).getOrElse("")
      if (m.contains("maintenance") || m.contains("lease")) return true
      if ((m.contains("FAILED_READ_FILE") || m.contains("FileNotFound") ||
           m.contains("File does not exist")) &&
          (m.contains("__g") || m.contains(name) ||
           m.contains("postings") || m.contains("lineage"))) return true
      c = c.getCause
    }
    false
  }

  /** Retry a writer op through designed maintenance rejections. */
  private def withRetry[T](what: String, maxRetries: Int = 20)(op: => T): T = {
    var tries = 0
    while (true) {
      tries += 1
      try return op
      catch {
        case e: Throwable =>
          assert(designed(e), s"$what: NOT a designed failure: $e")
          assert(tries <= maxRetries, s"$what never recovered")
          Thread.sleep(200)
      }
    }
    sys.error("unreachable")
  }

  test("tri-store soak: ingest × all-three maintenance × double takedown") {
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val root = java.nio.file.Files.createTempDirectory("tri-soak")
    val srcDir = root.resolve("src")
    java.nio.file.Files.createDirectories(srcDir)
    val tdDir = root.resolve("takedown").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tdDir))
    val idx = root.resolve("idx").toString
    val ldir = root.resolve("lineage").toString
    val vdir = root.resolve("vec").toString
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString

    BandIndex.create(spark, docsDf(1L, 2L), name, idx, buckets = 4)
    VectorIndex.build(spark, embDf(1L, 2L), vdir,
      (0 until 4).map(c => (c, embOf(100L + c))))

    def runStream(): Unit = withRetry("ingest stream") {
      val q = CorpusIngestJob.run(spark, s"$srcDir/*", name, idx,
        outDir, ckpt, buckets = 4, takedownDir = Some(tdDir))
      q.awaitTermination()
    }
    def keptSet: Set[Long] = {
      if (!new java.io.File(outDir).exists()) Set.empty
      else spark.read.parquet(outDir).select($"doc_id").as[Long]
        .collect().toSet
    }

    // ---- the hammer: cycles ALL THREE stores' maintenance ----
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val maint = new java.util.concurrent.atomic.AtomicInteger(0)
    val rejected = new java.util.concurrent.atomic.AtomicInteger(0)
    val hammerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val hammer = new Thread(() => {
      try while (!stop.get()) {
        def guard(op: => Unit): Unit =
          try { op; maint.incrementAndGet(); () }
          catch {
            case e: Throwable if designed(e) => rejected.incrementAndGet(); ()
          }
        guard { BandIndex.compactIfNeeded(spark, name, idx,
          buckets = 4, maxFiles = 1); () }
        guard { Lineage.compact(spark, ldir, maxFilesPerBucket = 1); () }
        guard { VectorIndex.retrain(spark, vdir, k = 4, iters = 2) }
        Thread.sleep(100)
      } catch { case t: Throwable => hammerErr.set(t) }
    }, "tri-soak-hammer")

    // ---- rounds: ingest + lineage + vector appends under the hammer ----
    val allIngested = scala.collection.mutable.Set[Long]()
    hammer.start()
    try {
      (1 to 3).foreach { r =>
        val ids = (1 to 4).map(i => (100 * r + i).toLong)
        allIngested ++= ids
        docsDf(ids: _*).coalesce(1).write.parquet(s"$srcDir/r$r")
        runStream()
        withRetry("lineage record") {
          Lineage.record(spark, ldir, docsDf(ids: _*)
              .select($"doc_id", $"source"),
            "ingest", "kept", lit(s"round-$r"), r.toLong)
        }
        withRetry("vector append") {
          VectorIndex.append(spark, vdir, embDf(ids: _*)); ()
        }
      }
    } finally {
      stop.set(true)
      hammer.join(180000)
    }
    assert(!hammer.isAlive, "hammer wedged")
    assert(hammerErr.get() == null, s"hammer died: ${hammerErr.get()}")
    info(s"hammer: ${maint.get} maintenance ops, " +
      s"${rejected.get} designed rejections")
    assert(keptSet === allIngested.toSet,
      "no ingested doc may be lost to concurrent maintenance")

    // ---- cross-store independence: vdir leased ⇏ others blocked ----
    val fence = BandIndex.acquireLease(spark, vdir, "vector_retrain", 60000L)
    intercept[BandIndex.ConcurrentMaintenanceException] {
      VectorIndex.append(spark, vdir, embDf(901L)); ()
    }
    // band + lineage writers proceed under vdir's lease
    docsDf(401L).coalesce(1).write.parquet(s"$srcDir/x")
    runStream()
    allIngested += 401L
    Lineage.record(spark, ldir, docsDf(401L).select($"doc_id", $"source"),
      "ingest", "kept", lit("round-x"), 4L)
    BandIndex.releaseLease(spark, vdir, fence)
    withRetry("vector append post-lease") {
      VectorIndex.append(spark, vdir, embDf(401L)); ()
    }

    // ---- cross-store takedown, applied twice ----
    val eraseIds = Seq(101L, 201L)
    def takedown(tag: String, riderId: Long): Unit = {
      val tmp = root.resolve(s"tdtmp-$tag").toString
      eraseIds.toDF("doc_id").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.isFile && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(tdDir, s"$tag.parquet"))
      // sink + band index via the stream's takedown lane; vector index
      // and ledger receipts directly (idempotent on both)
      docsDf(riderId).coalesce(1).write.parquet(s"$srcDir/td-$tag")
      allIngested += riderId
      runStream()
      withRetry("vector append rider") {
        VectorIndex.append(spark, vdir, embDf(riderId)); ()
      }
      withRetry("vector remove") {
        VectorIndex.remove(spark, vdir, eraseIds); ()
      }
      withRetry("lineage erasure receipt") {
        Lineage.record(spark, ldir, docsDf(eraseIds: _*)
            .select($"doc_id", $"source"),
          "erasure", "erased", lit(tag), 9L)
      }
    }
    takedown("td1", 501L)
    takedown("td2", 502L)

    val expectKept = allIngested.toSet -- eraseIds
    assert(keptSet === expectKept, "takedown exact, reapply a no-op")
    // sink exactly-once
    val sunk = spark.read.parquet(outDir).select($"doc_id").as[Long].collect()
    assert(sunk.length === sunk.distinct.length)

    // ---- ledger end-state ----
    val terminal = Lineage.terminalStates(spark, ldir)
    val erased = terminal.filter($"verdict" === "erased")
      .select($"doc_id").as[Long].collect().toSet
    assert(erased === eraseIds.toSet,
      "exactly the taken-down ids terminally erased")
    // content survived every compaction: ingest rows exactly once per
    // (doc, round); erasure receipts exactly twice (td1 + td2)
    val counts = spark.read.parquet(ldir)
      .groupBy($"doc_id", $"stage", $"round").count()
    assert(counts.filter($"stage" === "ingest" && $"count" =!= 1L)
      .count() === 0L, "an ingest row was lost or multiplied by compaction")
    assert(counts.filter($"stage" === "erasure" && $"count" =!= 2L)
      .count() === 0L, "erasure receipts must appear exactly twice")

    // ---- vector index end-state ----
    val vids = spark.read.parquet(s"$vdir/postings")
      .select($"vec_id").as[Long].collect().toSet
    assert(vids === (Set(1L, 2L) ++ allIngested -- eraseIds),
      "vector index holds exactly the non-erased corpus")
    val probes = embDf(102L, 301L)
      .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
    val k = spark.read.parquet(s"$vdir/centroids").count().toInt
    val audit = VectorIndex
      .recallAudit(spark, vdir, probes, nprobe = k, topK = 3).collect()
    assert(audit.forall(_.getDouble(2) === 1.0),
      "full-probe recall must be exact after the whole schedule")

    // ---- protocol hygiene: leases released, scratch gone ----
    Seq(idx, ldir, vdir).foreach { p =>
      assert(BandIndex.readLease(spark, p).isEmpty, s"lease left at $p")
    }
    Seq(s"$ldir/.gen", s"$ldir/.commit", s"$vdir/.gen", s"$vdir/.commit")
      .foreach(p => assert(!new java.io.File(p).exists(), s"scratch left: $p"))
  }
}
