package graft.etl

import graft.functions.{CosineSimilarity, TopIn, TopKAggregator}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

/** Persisted IVF vector index — the [[BandIndex]] stance applied to
  * the ANN family (reference analog: the repeated similarity queries
  * of `healthcare-api-main.py:236-265`, which re-hit the same
  * precomputed store per request; the extension surface here is the
  * embeddings table). q52/q126/q188/q194 train or derive their
  * centroids PER QUERY — correct, but at 100 TB the corpus-sized
  * assignment pass is the cost center, and it only changes when the
  * corpus does. This index pays it once:
  *
  *   - '''build''': assign every vector to its max-cosine centroid
  *     (one broadcast-scored pass + one narrow shuffle) and persist
  *     TWO stores: `<path>/centroids` (k rows) and `<path>/postings`
  *     parquet PARTITIONED BY the owning cell — the cell is a
  *     directory, so a search's nprobe cells arrive as a
  *     partition-PRUNED scan (the isin literal reaches the scan as a
  *     partition filter; unprobed cells are never listed or read).
  *   - '''search''': rank the probe batch's cells against the k-row
  *     centroid table (broadcast), collect the ≤ |probes|·nprobe
  *     needed cell ids (query batches are small — that is the premise
  *     of serving from an index), scan ONLY those partitions, score
  *     via the codegen'd [[CosineSimilarity]], and take top-k through
  *     the bounded [[TopKAggregator]] — partial buffers carry ≤ k rows
  *     per map partition, so the only Exchange in the plan moves
  *     k·partitions·|probes| rows, never candidates. Zero corpus-side
  *     shuffle, plan-asserted in `VectorIndexSpec`.
  *   - '''append''' (replay-safe): assign the batch against the
  *     PERSISTED centroids (cell ids stay stable — an append must
  *     never move existing vectors), anti-join on vec_id against the
  *     touched cells only, append the survivors. Re-running a
  *     completed batch appends zero rows. Appends are fenced from
  *     maintenance the [[BandIndex.append]] way: one fails fast while
  *     a maintenance lease is on file ([[BandIndex.assertNoMaintenance]])
  *     and holds an append beacon across its write
  *     ([[BandIndex.withAppendBeacon]]), which maintenance waits out.
  *   - '''remove''' (takedown): the [[Erasure]] pattern — a semi-join
  *     finds the affected cells and ONLY those partitions are
  *     rewritten ([[FileCommit.overwritePartitions]]). Idempotent.
  *   - '''retrain''': both stores are regenerated from the index's
  *     content and swapped in through [[FileCommit]].
  *
  * Centroids are caller-supplied `(cid, vector)` pairs:
  * [[graft.similarity.KMeans.train]] is the production trainer
  * (bit-deterministic Lloyd's); the registry query supplies
  * deterministic seed rows so its DuckDB oracle reproduces the
  * assignment bit-for-bit (the q52 convention). Assignment scores
  * round to 6dp with a cid tiebreak, search scores to 4dp with a
  * vec_id tiebreak — the cross-engine rank-stability discipline.
  */
object VectorIndex {

  private def centroidsDir(path: String) = s"$path/centroids"
  private def postingsDir(path: String) = s"$path/postings"

  /** Max-cosine cell per vector against driver-held centroids: one
    * broadcast cross-score + a partially-aggregated argmax (each
    * vector's k scored rows collapse map-side before the shuffle).
    */
  private def assignCells(emb: DataFrame, cents: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    CosineSimilarity.register(s)
    emb.crossJoin(broadcast(cents))
      .withColumn("cscore", round(expr("cosine_sim(embedding, cvec)"), 6))
      .groupBy($"vec_id")
      .agg(first($"label").as("label"),
        first($"embedding").as("embedding"),
        min_by($"cid", struct(-$"cscore", $"cid")).as("cell"))
      .select($"vec_id", $"label", $"embedding", $"cell")
  }

  private def loadCentroids(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(centroidsDir(path))

  /** Build (or fully rebuild) the index at `path` from `emb`
    * (vec_id, label, embedding) with the given centroids.
    */
  def build(spark: SparkSession, emb: DataFrame, path: String,
            cents: Seq[(Int, Array[Float])]): Unit = {
    require(cents.nonEmpty, "vector index needs at least one centroid")
    require(cents.map(_._1).distinct.size == cents.size,
      "duplicate centroid ids")
    val centsDf = spark.createDataFrame(cents).toDF("cid", "cvec")
    // k rows — one file, so every later read is one cheap open
    centsDf.coalesce(1).write.mode("overwrite").parquet(centroidsDir(path))
    assignCells(emb, centsDf)
      .write.mode("overwrite").partitionBy("cell").parquet(postingsDir(path))
  }

  /** [[build]] with centroids trained by the production trainer. */
  def buildTrained(spark: SparkSession, emb: DataFrame, path: String,
                   k: Int, iters: Int): Unit =
    build(spark, emb, path,
      graft.similarity.KMeans.train(emb, k, iters).map(c => (c.cid, c.cvec)))

  /** Serve a probe batch (query_id, qvec) from the persisted index:
    * top-`topK` neighbors per probe among the probe's `nprobe`
    * closest cells, as (query_id, neighbor_id, score, rank). A probe
    * that IS an indexed vector never matches itself.
    */
  def search(spark: SparkSession, path: String, probes: DataFrame,
             nprobe: Int, topK: Int): DataFrame = {
    import spark.implicits._
    CosineSimilarity.register(spark)
    require(nprobe >= 1 && topK >= 1, s"nprobe=$nprobe topK=$topK")
    // probe-batch-sized frame, consumed twice (cell collect + join):
    // localCheckpoint, not cache — no session-lifetime storage entry
    val pc = probes.crossJoin(broadcast(loadCentroids(spark, path)))
      .withColumn("cscore", round(expr("cosine_sim(qvec, cvec)"), 6))
      .withColumn("r", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cscore".desc, $"cid")))
      .filter($"r" <= nprobe)
      .select($"cid".as("cell"), $"query_id", $"qvec")
      .localCheckpoint()
    // ≤ |probes|·nprobe ids — the partition-pruning literal (bounded
    // by the probe batch, never the corpus)
    val needed = pc.select($"cell").distinct().as[Int].collect().toSeq.sorted
    val topk = udaf(new TopKAggregator(topK), Encoders.product[TopIn])
    prunedPostings(spark, path, needed)
      .join(broadcast(pc), Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id",
        round(expr("cosine_sim(embedding, qvec)"), 4).as("score"), $"vec_id")
      .groupBy($"query_id")
      .agg(topk($"score", $"vec_id").as("tk"))
      .select($"query_id", posexplode($"tk.items"))
      .select($"query_id", $"col.key".as("neighbor_id"),
        $"col.value".as("score"), ($"pos" + 1).cast("int").as("rank"))
  }

  /** The partition-pruned postings scan — factored so the spec can
    * assert pruning (only `cells` directories are read) on exactly the
    * frame search consumes.
    */
  private[graft] def prunedPostings(spark: SparkSession, path: String,
                                    cells: Seq[Int]): DataFrame =
    spark.read.parquet(postingsDir(path))
      .filter(col("cell").isin(cells.map(Integer.valueOf): _*))

  /** Append a batch (vec_id, label, embedding) against the persisted
    * centroids; returns rows actually appended. Replay-safe at row
    * granularity: vec_ids already present in their target cell are
    * skipped, so re-running a completed (or half-completed) batch
    * converges instead of duplicating.
    */
  def append(spark: SparkSession, path: String, batch: DataFrame): Long = {
    import spark.implicits._
    // Round-10 fix (found building the tri-store soak): append had NO
    // maintenance guard while retrain's commit deletes every live
    // postings file it listed — an append racing that listing would
    // land a file under the OLD centroids' cells, never retrained.
    // Two-part close, the exact BandIndex.append protocol: fail fast
    // while a lease is on file, and hold an APPEND BEACON across the
    // write — acquireLease waits for in-flight beacons to drain before
    // maintenance reads or lists anything, so a write that slipped
    // past the guard finishes before the retrain starts.
    BandIndex.assertNoMaintenance(spark, path, "append vectors")
    BandIndex.withAppendBeacon(spark, path) {
    val assigned =
      assignCells(batch, loadCentroids(spark, path)).localCheckpoint()
    val cells = assigned.select($"cell").distinct().as[Int].collect().toSeq
    if (cells.isEmpty) return 0L
    // existing ids in the touched cells ONLY — batch-sized cost, the
    // incremental-index premise (never a full-corpus read per batch)
    val existing = prunedPostings(spark, path, cells).select($"vec_id")
    val fresh = assigned.join(existing, Seq("vec_id"), "left_anti")
      .select($"vec_id", $"label", $"embedding", $"cell")
      .localCheckpoint() // frozen: counted AND written below
    val n = fresh.count()
    if (n > 0)
      fresh.write.mode("append").partitionBy("cell").parquet(postingsDir(path))
    n
    }
  }

  /** Retrain the centroids from the index's CURRENT content and swap
    * both stores to the new generation — the aging remedy
    * [[recallAudit]] measures the need for (VERDICT r9 item 6).
    * Append/remove cycles drift the stored distribution away from the
    * build-time centroids; cells go unbalanced and recall@k from the
    * index decays. A retrain must replace BOTH stores in one commit —
    * new centroids over old postings mis-prune every search — so it
    * runs under the [[BandIndex]] maintenance lease: train
    * ([[graft.similarity.KMeans]], bit-deterministic) on the frozen
    * live postings, write `.gen/{centroids,postings}`, verify the row
    * count round-trips, fence-check, and commit through [[FileCommit]]
    * with every live data file of both stores as the superseded list.
    * A crash is rolled forward by the next retrain or by
    * [[resumeRetrain]].
    */
  def retrain(spark: SparkSession, path: String, k: Int, iters: Int,
              leaseTtlMs: Long = BandIndex.DefaultLeaseTtlMs): Unit =
    BandIndex.withLease(spark, path, "vector_retrain", leaseTtlMs) { fence =>
      FileCommit.resume(spark, path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // listed under the lease, append beacons drained: the whole live
      // generation, which the commit supersedes
      val live = Seq(centroidsDir(path), postingsDir(path))
        .flatMap(d => FileCommit.dataFiles(fs, new org.apache.hadoop.fs.Path(d)))
      // freeze the corpus BEFORE any writes: the commit deletes the
      // very files this frame reads
      val emb = spark.read.parquet(postingsDir(path))
        .select(col("vec_id"), col("label"), col("embedding"))
        .localCheckpoint()
      val n = emb.count()
      val cents = graft.similarity.KMeans.train(emb, k, iters)
        .map(c => (c.cid, c.cvec))
      val centsDf = spark.createDataFrame(cents).toDF("cid", "cvec")
      val gen = FileCommit.gen(path)
      centsDf.coalesce(1).write.parquet(s"$gen/centroids")
      assignCells(emb, centsDf)
        .write.partitionBy("cell").parquet(s"$gen/postings")
      val genN = spark.read.parquet(s"$gen/postings").count()
      require(genN == n,
        s"retrain verify failed at $path: $genN generation rows vs $n " +
          "live rows — aborting before the commit point")
      BandIndex.verifyFence(spark, path, fence)
      FileCommit.land(spark, path, live)
      FileCommit.redo(spark, path)
    }

  /** Roll a crashed retrain's commit forward (idempotent, re-crash-
    * safe) without running a new training pass. ADVICE r9: the heal
    * runs UNDER the maintenance lease — a crashed retrain leaves its
    * lease on file, so this acquisition goes through the stale-takeover
    * path (and throws while the original holder is still live: two
    * processes moving the same files would interleave). On success the
    * lease is released, unblocking writer APIs.
    */
  def resumeRetrain(spark: SparkSession, path: String,
                    leaseTtlMs: Long = BandIndex.DefaultLeaseTtlMs): Unit =
    BandIndex.withLease(spark, path, "vector_retrain", leaseTtlMs) { _ =>
      FileCommit.resume(spark, path)
    }

  /** Measured recall@k of [[search]] against an exact brute-force
    * pass over the SAME postings content, per probe — the index-aging
    * observable (run it after append/remove cycles; retrain when it
    * sags). Exact side uses the identical scoring expression,
    * rounding and (score desc, vec_id) tiebreak as the served side,
    * so the only recall loss measurable is the nprobe cell miss —
    * which is the quantity aging inflates. Returns
    * (query_id, hits, recall) with recall = |ANN∩exact| / topK.
    */
  def recallAudit(spark: SparkSession, path: String, probes: DataFrame,
                  nprobe: Int, topK: Int): DataFrame = {
    import spark.implicits._
    CosineSimilarity.register(spark)
    val served = search(spark, path, probes, nprobe, topK)
      .select($"query_id", $"neighbor_id")
    val exact = spark.read.parquet(postingsDir(path))
      .crossJoin(broadcast(probes))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id",
        round(expr("cosine_sim(embedding, qvec)"), 4).as("score"), $"vec_id")
      .withColumn("r", row_number().over(
        Window.partitionBy($"query_id").orderBy($"score".desc, $"vec_id")))
      .filter($"r" <= topK)
      .select($"query_id", $"vec_id".as("neighbor_id"))
    exact.join(served.withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy($"query_id")
      .agg(sum(coalesce($"hit", lit(0))).cast("long").as("hits"))
      .select($"query_id", $"hits",
        ($"hits".cast("double") / topK).as("recall"))
  }

  /** Takedown: erase `vecIds` from the postings, rewriting ONLY the
    * cells that contain them ([[FileCommit.overwritePartitions]]).
    * Returns rows erased; idempotent (a rerun finds nothing).
    */
  def remove(spark: SparkSession, path: String, vecIds: Seq[Long]): Long =
    // generation-rewriting maintenance, so it takes the lease itself
    // (the BandIndex.remove stance, round-10 tri-store-soak close):
    // a concurrent append row landing in a hit cell between the
    // survivor materialization and the dynamic overwrite would be
    // silently dropped; under the lease the appender fail-fasts
    // instead, and acquireLease has already drained in-flight append
    // beacons before this body runs.
    BandIndex.withLease(spark, path, "vector_remove",
        BandIndex.DefaultLeaseTtlMs) { _ =>
      removeUnderLease(spark, path, vecIds)
    }

  private def removeUnderLease(spark: SparkSession, path: String,
                               vecIds: Seq[Long]): Long = {
    import spark.implicits._
    val posts = spark.read.parquet(postingsDir(path))
    val ids = vecIds.map(java.lang.Long.valueOf)
    val hitCells = posts.filter($"vec_id".isin(ids: _*))
      .groupBy($"cell").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (hitCells.isEmpty) return 0L
    // survivors materialized BEFORE the overwrite destroys its input
    val survivors = prunedPostings(spark, path, hitCells.keys.toSeq)
      .filter(!$"vec_id".isin(ids: _*))
      .localCheckpoint()
    FileCommit.overwritePartitions(survivors, postingsDir(path), "cell", hitCells.keys)
    hitCells.values.sum
  }
}
