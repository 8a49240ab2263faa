package graft.etl

import graft.multimodal.ImageDedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted dHash band index — q179's banded perceptual image dedup
  * (decode → 64-bit dHash → 4 × 16-bit bands → Hamming verify) as an
  * INCREMENTAL corpus service, the media-column twin of the MinHash
  * [[BandIndex]]: the corpus's image hashes are decoded ONCE into two
  * bucketed tables, and each arriving batch classifies against the
  * tables alone — per-batch cost is batch-sized forever, history is
  * never re-decoded.
  *
  * Tables (under one `path`, registered in the session catalog):
  *  - `<name>_mbands` (doc_id, band, chunk) — one row per 16-bit band,
  *    bucketed on `chunk` so the candidate join against a batch's band
  *    rows shuffles only the (band, chunk, doc_id) triples, never
  *    pixels or payloads;
  *  - `<name>_mdocs` (doc_id, h) — the full 64-bit hash per indexed
  *    image, bucketed on `doc_id`, read only by the Hamming verify on
  *    candidate pairs.
  *
  * Write ORDER is the crash-safety invariant (the [[BandIndex]]
  * bands-before-fingerprints argument, one layer smaller): bands
  * first, docs LAST — the `_mdocs` row is the commit point, because
  * the verify is an inner join against `_mdocs`. Crash after bands
  * only: the replayed batch's candidates against the orphan band rows
  * die in verify (no `_mdocs` row), the doc re-classifies as kept,
  * and the retried append rewrites both tables — at worst `_mbands`
  * holds duplicate rows, which the candidate `distinct()` absorbs.
  * Docs-first instead would make the replayed doc a duplicate OF
  * ITSELF with its band rows never backfilled — the index permanently
  * blind to near-dups of that image.
  *
  * Undecodable payloads (corrupt blob, format the JDK lacks a codec
  * for) are flagged `undecodable` and NOT indexed: an unreadable image
  * cannot be perceptually compared, and admitting it to the band
  * tables would be a NULL-keyed skew bomb. The caller's policy decides
  * whether they enter the curated sink.
  *
  * Maintenance (compact/remove/erasure) is not yet wired for the media
  * tables — this index is append+classify; a takedown today means
  * rebuilding from the curated sink. The text index's leased
  * generation-swap machinery applies verbatim when that lands.
  */
object MediaBandIndex {

  /** 16-bit bands over the 64-bit dHash; 4 bands ⇒ any pair within
    * [[ImageDedup.HammingMax]] = 3 bits shares ≥ 1 band (pigeonhole —
    * the q179 losslessness argument).
    */
  val Bands = 4

  def docsTable(name: String): String = name + "_mdocs"
  def bandsTable(name: String): String = name + "_mbands"

  /** (doc_id, h nullable) off a (doc_id, …, payload binary) frame —
    * one decode per payload, fused map-side (no shuffle before the
    * aggregate that consumes it). NULL h = undecodable.
    */
  private[etl] def hashes(media: DataFrame): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, p) => (id, ImageDedup.dhash(p)) }
      .toDF("doc_id", "h")
  }

  /** Band rows (doc_id, band, chunk) for the decodable slice. */
  private[etl] def bandRows(hs: DataFrame): DataFrame =
    hs.filter(col("h").isNotNull)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, ${Bands - 1}), " +
          "b -> struct(b as band, shiftright(h, b * 16) & 65535 as chunk))"))
        .as("bc"))
      .select(col("doc_id"), col("bc.band").as("band"),
        col("bc.chunk").as("chunk"))

  /** Same existing-table path rule as the text index's writer: the
    * explicit location only on first create — post-registration
    * appends follow the catalog.
    */
  private def writeBucketed(df: DataFrame, table: String, dir: String,
                            buckets: Int, bucketCol: String): Unit = {
    val w = df.write
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .format("parquet")
      .mode("append")
    (if (df.sparkSession.catalog.tableExists(table)) w
     else w.option("path", dir)).saveAsTable(table)
  }

  /** Build (or append to) the index from a (doc_id, …, payload) frame.
    * Bands first, docs last — see the class doc's crash walk.
    */
  def create(spark: SparkSession, media: DataFrame, name: String,
             path: String, buckets: Int = 16): Unit = {
    // one decode feeding both tables; ContextCleaner-freed
    val hs = graft.Barrier.cut(hashes(media).filter(col("h").isNotNull))
    writeBucketed(bandRows(hs), bandsTable(name),
      s"$path/${bandsTable(name)}", buckets, "chunk")
    writeBucketed(hs.select("doc_id", "h"), docsTable(name),
      s"$path/${docsTable(name)}", buckets, "doc_id")
  }

  /** Append the kept slice of a batch; refreshes this session's
    * relation cache so the next [[dedupBatch]] sees the new files even
    * when the write ran in a streaming clone session (the
    * [[BandIndex.appendSignatures]] rationale).
    */
  def append(spark: SparkSession, media: DataFrame, name: String,
             path: String, buckets: Int = 16): Unit = {
    create(spark, media, name, path, buckets)
    Seq(docsTable(name), bandsTable(name)).foreach(spark.catalog.refreshTable)
  }

  /** Classify a batch against the index: one flag row per batch doc —
    * `dup` (shares a band with an indexed image AND verifies within
    * Hamming ≤ [[ImageDedup.HammingMax]]), `undecodable`, or `kept`.
    * A replayed already-appended doc matches ITSELF in the index and
    * flags `dup`, so the replay's kept slice is empty and the retried
    * append is a no-op — the idempotence [[graft.streaming
    * .CorpusIngestJob]]'s crash-window walk relies on.
    */
  def dedupBatch(spark: SparkSession, batch: DataFrame,
                 name: String): DataFrame = {
    // one decode pass feeding candidates, verify, and the flag ledger
    val hs = graft.Barrier.cut(hashes(batch))
    val cand = bandRows(hs).as("i")
      .join(spark.table(bandsTable(name)).as("o"),
        col("i.band") === col("o.band") && col("i.chunk") === col("o.chunk"))
      .select(col("i.doc_id").as("doc_id"), col("o.doc_id").as("old_id"))
      .distinct()
    val dup = cand
      .join(hs.select(col("doc_id"), col("h").as("hn")), Seq("doc_id"))
      .join(spark.table(docsTable(name))
        .select(col("doc_id").as("old_id"), col("h").as("ho")), Seq("old_id"))
      .filter(expr(s"bit_count(hn ^ ho) <= ${ImageDedup.HammingMax}"))
      .select("doc_id").distinct()
    hs.join(dup.withColumn("d", lit(1)), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("h").isNull, "undecodable")
          .when(col("d").isNotNull, "dup")
          .otherwise("kept").as("flag"))
  }

  /** One full incremental step: classify, append the kept slice,
    * return the flags. Callers sinking the kept slice elsewhere write
    * that sink BETWEEN [[dedupBatch]] and [[append]] — the
    * [[BandIndex.ingest]] replay contract.
    */
  def ingest(spark: SparkSession, batch: DataFrame, name: String,
             path: String, buckets: Int = 16): DataFrame = {
    // EAGER localCheckpoint, not Barrier.cut: since the round-9 lazy
    // rewrite, cut() defers materialization to the first consumer —
    // but `flags` reads the index tables that append() below mutates,
    // so it must be FROZEN before the append lands or a late consumer
    // would see the batch matching itself (every row `dup`). Same
    // stance as [[BandIndex.ingest]].
    val flags = dedupBatch(spark, batch, name).localCheckpoint()
    append(spark, BandIndex.keptOf(batch, flags), name, path, buckets)
    flags
  }
}
