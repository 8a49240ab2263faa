package graft.streaming

import graft.Tables
import graft.etl.{BandIndex, Erasure}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming corpus ingestion — the crawl-pipeline front door: document
  * batches arrive as files in a directory, every micro-batch is deduped
  * against the persisted [[BandIndex]] (exact fingerprint join +
  * MinHash near-dup, both reading the bucketed index tables only), and
  * the kept slice is appended to BOTH the curated corpus sink and the
  * index from one classified frame — history is never re-read, nothing
  * is tokenized twice, so per-batch cost stays batch-sized forever.
  *
  * `foreachBatch`, not a streaming sink: the per-batch work is
  * multi-output (classify → sink corpus → append index) built from
  * joins the incremental engine can't express; Structured Streaming
  * serializes batches, which is exactly the ordering the index append
  * needs (batch N+1 must see batch N's kept docs — the cross-batch
  * dedup guarantee the spec proves).
  *
  * Replay safety (foreachBatch is at-least-once): the corpus sink is
  * partitioned by the micro-batch id and written with dynamic
  * partition OVERWRITE — a replayed batch rewrites its own partition
  * instead of appending duplicates — and it is written BEFORE the
  * index append ([[ingestBatch]]). Walking the crash windows: (a) die
  * before the sink write → clean replay; (b) die between sink write and
  * index append → the replay re-classifies against the same index, so
  * the same kept set overwrites the same partition with identical rows,
  * and the append is retried; (c) die after the append but before the
  * checkpoint commit → the replay classifies the batch's kept docs as
  * duplicates of themselves, the kept slice is empty, and an empty
  * dynamic overwrite touches no partitions — the earlier sink write
  * survives. No window loses a doc or double-lands one.
  * [[BandIndex.appendSignatures]]' bands-before-fingerprints write
  * order makes the append itself replay-safe the same way.
  *
  * Intra-batch duplicates are upstream's job (the batch-level q40/q45
  * operators) — this job's contract is batch-vs-history.
  */
object CorpusIngestJob {

  /** File-source stream of document batches, schema pinned. */
  def readDocStream(spark: SparkSession, dir: String,
                    maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(Tables.schemas("documents"))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Drain the takedown queue at a batch boundary: every parquet file
    * under `takedownDir` (schema: `doc_id long`) is a takedown request;
    * the union of their ids is erased from the corpus sink AND the band
    * index via [[Erasure.erase]], then the drained files are deleted.
    *
    * This is the scheduled form of the offline-maintenance window the
    * erase contract requires: inside `foreachBatch` the stream is
    * quiescent by construction (batches are serialized), so the
    * maintenance lease is taken and released with no appender to
    * collide with — takedown becomes an operational routine instead of
    * a stop-the-world manual step. Crash-safe under at-least-once
    * replay: the queue-file snapshot is taken BEFORE erasing (requests
    * landing mid-drain wait for the next boundary), erase is
    * idempotent, and a crash between the erase and the file deletes
    * just re-runs a no-op erase before deleting. CAVEAT: an idle
    * stream (no new crawl files) never enters `foreachBatch` — a
    * takedown that must not wait for the next crawl batch should run
    * [[Erasure.erase]] directly while the stream is stopped.
    */
  private[streaming] def drainTakedowns(ss: SparkSession, takedownDir: String,
                                        outDir: String, indexName: String,
                                        indexPath: String,
                                        buckets: Int): Unit = {
    val root = new org.apache.hadoop.fs.Path(takedownDir)
    val fs = root.getFileSystem(ss.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val files = fs.listStatus(root)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath)
    if (files.isEmpty) return
    val ids = ss.read.schema("doc_id long")
      .parquet(files.map(_.toString).toIndexedSeq: _*)
    if (fs.exists(new org.apache.hadoop.fs.Path(outDir)))
      Erasure.erase(ss, outDir, indexName, indexPath, ids, buckets)
    else // nothing sunk yet: only the index can hold the ids
      BandIndex.remove(ss, indexName, indexPath, ids, buckets)
    files.foreach(fs.delete(_, false))
  }

  /** One micro-batch of [[run]]: drain takedowns, classify the batch
    * once, sink its kept rows, THEN append their signatures to the
    * index — the replay-safe order of the class doc.
    */
  def ingestBatch(ss: SparkSession, batch: DataFrame, batchId: Long,
                  indexName: String, indexPath: String, outDir: String,
                  buckets: Int, takedownDir: Option[String]): Unit = {
    // takedowns drain FIRST, before this batch classifies: an
    // erased doc's re-crawl in this very batch is kept (forgotten)
    takedownDir.foreach(
      drainTakedowns(ss, _, outDir, indexName, indexPath, buckets))
    val (classified, params) = BandIndex.classify(ss, batch, indexName)
    val kept = classified.filter(col("flag") === "kept")
    kept.select(batch.columns.map(col): _*)
      .withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch")
      .parquet(outDir)
    BandIndex.appendSignatures(ss, kept, params, indexName, indexPath)
  }

  /** Run until all available files are processed (Trigger.AvailableNow).
    * The band index at `indexName`/`indexPath` must be declared
    * ([[BandIndex.create]] on a seed corpus, [[BandIndex.declare]] for
    * none). `maxFilesPerTrigger` sizes the micro-batch:
    * larger batches amortize the per-batch dedup round and cut the
    * per-append small-file count in the index (each append adds up to
    * 3×buckets + [[BandIndex.PfxCount]] files across the three tables)
    * — tune it to the crawl's file sizes. Even so, a long-running
    * ingest accumulates thousands of small files per bucket: run
    * [[BandIndex.compactIfNeeded]] periodically BETWEEN stream
    * restarts (compaction is offline maintenance — it takes the index's
    * maintenance lease, and this job's per-batch append/classify FAIL
    * FAST with [[graft.etl.BandIndex.ConcurrentMaintenanceException]]
    * while the lease is on file, killing the stream rather than
    * silently losing an append to a mid-swap generation sweep; restart
    * the stream after maintenance completes) to fold them back to one
    * file per bucket/prefix.
    */
  def run(spark: SparkSession, srcDir: String, indexName: String,
          indexPath: String, outDir: String, checkpointDir: String,
          buckets: Int = 32, maxFilesPerTrigger: Int = 1,
          takedownDir: Option[String] = None): StreamingQuery =
    readDocStream(spark, srcDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // batch.sparkSession, NOT the outer session: foreachBatch frames
        // are bound to the streaming clone, and reads + writes + cache
        // invalidation must all go through ONE session or batch N+1
        // classifies against batch N's stale file listing
        ingestBatch(batch.sparkSession, batch, batchId, indexName,
          indexPath, outDir, buckets, takedownDir)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** File-source stream of media batches (opaque binary payload +
    * typed metadata — the multimodal-column convention), schema
    * pinned.
    */
  def readMediaStream(spark: SparkSession, dir: String,
                      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema("doc_id long, source string, payload binary")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** The media-column twin of [[run]]: per-batch perceptual dedup
    * against the persisted [[graft.etl.MediaBandIndex]] (dHash band
    * join + Hamming verify reading the bucketed tables only), kept
    * payloads appended to the curated sink and their hashes to the
    * index. Same serialized-batch ordering (batch N+1 classifies
    * against batch N's kept images) and the same replay-safety walk:
    * the sink write is per-batch-partitioned dynamic OVERWRITE and
    * happens BEFORE the index append, and a replayed already-appended
    * image classifies as a dup of itself, emptying the retried kept
    * slice (see [[graft.etl.MediaBandIndex.dedupBatch]]).
    *
    * Undecodable payloads are neither sunk nor indexed here — the
    * curated corpus is the de-facto decodable set; route the
    * `undecodable` flags to a quarantine sink if they need retention.
    */
  def runMedia(spark: SparkSession, srcDir: String, indexName: String,
               indexPath: String, outDir: String, checkpointDir: String,
               buckets: Int = 16,
               maxFilesPerTrigger: Int = 1): StreamingQuery =
    readMediaStream(spark, srcDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the one-session rule — see [[run]]'s rationale
        val ss = batch.sparkSession
        val flags = graft.etl.MediaBandIndex
          .dedupBatch(ss, batch, indexName).localCheckpoint()
        BandIndex.keptOf(batch, flags)
          .withColumn("ingest_batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_batch")
          .parquet(outDir)
        graft.etl.MediaBandIndex.append(ss,
          BandIndex.keptOf(batch, flags), indexName, indexPath, buckets)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
