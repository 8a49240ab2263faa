package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end document erasure — the takedown / right-to-be-forgotten
  * workflow across EVERY store a curated corpus lives in: the parquet
  * sink ([[graft.streaming.CorpusIngestJob]]'s output, partitioned by
  * `ingest_batch`), the derived [[BandIndex]], and the
  * [[CurationPipeline]] manifest (which retains erased doc ids plus
  * their derived metadata — token counts, quality scores, packing
  * positions — a third derived store deletion must reach). The
  * reference's compliance posture (PII masking, encryption, audit)
  * implies deletion must reach derived data too; for an LLM corpus
  * this is the standard takedown path.
  *
  * Scale design of the sink rewrite: erasing k docs from a corpus of
  * N batches rewrites ONLY the partitions that contain them — a
  * semi-join finds the affected `ingest_batch` ids (bounded by the
  * partition count, not doc count), the surviving rows of those
  * partitions are materialized (localCheckpoint — the write overwrites
  * the very files being read), and a dynamic partition overwrite swaps
  * them in. Partitions with no erased docs are never read past the
  * semi-join probe and never rewritten. A partition whose EVERY doc is
  * erased is deleted outright (dynamic overwrite only replaces
  * partitions present in the written data, so an emptied partition
  * must be removed explicitly or its files would survive).
  *
  * The manifest rewrite is FILE-granular (the manifest is flat
  * parquet, no partition column): `_metadata.file_path` + a semi-join
  * find the files holding erased rows — everything else is untouched,
  * byte-for-byte — and the survivors of those files replace them
  * through [[FileCommit]], so a crash at any point is healed by the
  * next erase. Sequence RE-numbering is
  * explicitly out of scope: erased docs leave holes in the packed
  * seq_id space, and a neighbor's `straddle` flag still describes the
  * layout at pack time — re-pack (rerun the pipeline's pack stage) when
  * contiguous sequences matter.
  *
  * Idempotent: re-running with the same ids finds no affected
  * partitions/files and reports zeros. OFFLINE maintenance — [[erase]]
  * holds the [[BandIndex]] maintenance lease for its whole duration,
  * so a concurrent ingest append fails fast instead of racing the
  * index rewrite.
  */
object Erasure {

  /** What one [[erase]] invocation actually did. A rerun that finishes
    * a crashed takedown can legitimately report `corpusRowsErased = 0`
    * with `indexRewriteRan = true` (the corpus was cleansed by the
    * crashed run; this run completed the index) — auditors should sum
    * `corpusRowsErased` across attempts, and treat all-zeros +
    * `indexRewriteRan = false` as "ids were never present".
    */
  final case class EraseReport(corpusRowsErased: Long,
                               manifestRowsErased: Long,
                               indexRewriteRan: Boolean)

  /** Remove `docIds` rows from the partitioned corpus sink. Returns
    * the number of docs actually erased.
    */
  def eraseFromCorpus(spark: SparkSession, corpusDir: String,
                      docIds: DataFrame): Long = {
    val schema = graft.Tables.schemas("documents").add("ingest_batch", "long")
    val corpus = spark.read.schema(schema).parquet(corpusDir)
    val ids = docIds.select("doc_id").distinct().localCheckpoint()
    // affected partitions: bounded by partition count, not doc count
    val hit = corpus.join(ids, Seq("doc_id"), "left_semi")
      .groupBy(col("ingest_batch")).agg(count(lit(1)).as("n_erase"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (hit.isEmpty) return 0L
    val erased = hit.values.sum
    // survivors of the affected partitions only; materialized BEFORE
    // the overwrite destroys its own input files. The isin literal is
    // what reaches the scan as a PARTITION filter (only affected
    // partition dirs are listed/read); it is bounded by the affected-
    // partition count — a takedown touching millions of micro-batch
    // partitions would bloat the literal, at which point chunking the
    // erase by partition ranges is the operational answer
    val survivors = corpus
      .filter(col("ingest_batch").isin(hit.keys.toSeq: _*))
      .join(ids, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    FileCommit.overwritePartitions(survivors, corpusDir, "ingest_batch", hit.keys)
    erased
  }

  /** Remove `docIds` rows from a flat-parquet manifest (the
    * [[CurationPipeline]] output, or any unpartitioned parquet store of
    * per-doc metadata). Only the FILES containing erased rows are
    * rewritten; every other file is untouched on disk. Returns the
    * number of rows erased. The survivors of the affected files are
    * staged and swapped in by [[FileCommit]] (the affected-file list is
    * the commit marker); an erase a crash interrupted is healed first.
    */
  def eraseFromManifest(spark: SparkSession, manifestDir: String,
                        docIds: DataFrame): Long = {
    val root = new org.apache.hadoop.fs.Path(manifestDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0L
    FileCommit.resume(spark, manifestDir)
    // a fully-erased manifest has no data files left — nothing to do
    // (and no schema to infer a read from)
    if (FileCommit.dataFiles(fs, root).isEmpty) return 0L

    val ids = docIds.select("doc_id").distinct().localCheckpoint()
    val mf = spark.read.parquet(manifestDir)
      .withColumn("__f", col("_metadata.file_path"))
    // affected files: bounded by file count, not row count
    val hit = mf.join(ids, Seq("doc_id"), "left_semi")
      .groupBy(col("__f")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (hit.isEmpty) return 0L

    mf.filter(col("__f").isin(hit.keys.toSeq: _*))
      .join(ids, Seq("doc_id"), "left_anti")
      .drop("__f")
      .write.parquet(FileCommit.gen(manifestDir))
    FileCommit.land(spark, manifestDir, hit.keys.toSeq
      .map(f => new org.apache.hadoop.fs.Path(new java.net.URI(f))))
    FileCommit.redo(spark, manifestDir)
    hit.values.sum
  }

  /** Full takedown: erase from the corpus sink, the curation manifest
    * (when given), AND the band index, in that order — the sink holds
    * the text itself, the most sensitive artifact, so it dies first;
    * the manifest holds per-doc derived metadata; the index holds only
    * derived hashes and is cleansed by the idempotent
    * [[BandIndex.removeUnderLease]], resumable on failure by
    * re-running. The whole operation runs under the index's
    * maintenance lease, so concurrent appends/classifies fail fast
    * (see [[BandIndex]]); a failed run leaves the lease on file and a
    * rerun takes it over once stale.
    */
  def erase(spark: SparkSession, corpusDir: String, indexName: String,
            indexPath: String, docIds: DataFrame, buckets: Int = 32,
            manifestDir: Option[String] = None,
            leaseTtlMs: Long = BandIndex.DefaultLeaseTtlMs,
            lineageDir: Option[String] = None,
            lineageRound: Long = 0L): EraseReport =
    BandIndex.withLease(spark, indexPath, "erase", leaseTtlMs) { fence =>
      val nCorpus = eraseFromCorpus(spark, corpusDir, docIds)
      val nManifest = manifestDir
        .map(eraseFromManifest(spark, _, docIds)).getOrElse(0L)
      val rewrote = BandIndex.removeUnderLease(
        spark, indexName, indexPath, docIds, buckets, fence)
      // Lineage receipt (round-8 stretch): the ledger keeps WHY a doc
      // is absent — the erased doc's text is gone from corpus, index
      // and manifest, but the takedown itself must stay auditable.
      // Idempotent at the semantic level: a replayed erase appends a
      // second identical receipt, which changes no terminal state.
      lineageDir.foreach { ldir =>
        val withSource =
          if (docIds.columns.contains("source")) docIds
          else docIds.withColumn("source",
            org.apache.spark.sql.functions.lit(""))
        Lineage.record(spark, ldir, withSource, "erasure", "erased",
          org.apache.spark.sql.functions.lit("takedown"), lineageRound)
      }
      EraseReport(nCorpus, nManifest, rewrote)
    }
}
