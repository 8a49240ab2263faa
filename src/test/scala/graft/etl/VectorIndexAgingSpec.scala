package graft.etl

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** VERDICT r9 item 6: index AGING is observable and reversible.
  * [[VectorIndex.recallAudit]] measures recall@k of the served path
  * against a brute-force pass over the same postings; append cycles
  * with a drifted distribution degrade cell balance under the
  * build-time centroids, and [[VectorIndex.retrain]] swaps a fresh
  * generation in through [[FileCommit]] — after which the audit
  * must not be worse, and the index must still serve exactly.
  */
class VectorIndexAgingSpec extends SparkSpec {
  import spark.implicits._

  private def emb: DataFrame = Tables.load(spark, SparkSpec.Sf0001, "embeddings")

  private def seeds: Seq[(Int, Array[Float])] =
    emb.filter($"vec_id" >= 8 && $"vec_id" < 12)
      .select($"vec_id".cast("int"), $"embedding")
      .as[(Int, Array[Float])].collect().toSeq.sortBy(_._1)

  private def probes: DataFrame = emb.filter($"vec_id" < 6)
    .select($"vec_id".as("query_id"), $"embedding".as("qvec"))

  /** Deterministically drifted append batch: ids offset per cycle,
    * every coordinate shifted by +0.08·cycle — a distribution walking
    * away from the build-time centroids, the aging stimulus.
    */
  private def drifted(cycle: Int): DataFrame =
    emb.filter($"vec_id" < 100)
      .select(($"vec_id" + lit(10000L * cycle)).as("vec_id"), $"label",
        expr(s"transform(embedding, x -> cast(x + ${0.08 * cycle} as float))")
          .as("embedding"))

  private def meanRecall(path: String): Double = {
    val r = VectorIndex.recallAudit(spark, path, probes, nprobe = 1, topK = 5)
      .agg(avg($"recall")).head().getDouble(0)
    assert(r >= 0.0 && r <= 1.0)
    r
  }

  /** A retrain that died right after landing its commit: both stores
    * regenerated under `.gen`, every live data file listed as doomed.
    */
  private def stageCrashedRetrain(path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = Seq("centroids", "postings").flatMap(s =>
      FileCommit.dataFiles(fs, new org.apache.hadoop.fs.Path(s"$path/$s")))
    val gen = FileCommit.gen(path)
    spark.read.parquet(s"$path/centroids").coalesce(1)
      .write.parquet(s"$gen/centroids")
    spark.read.parquet(s"$path/postings")
      .write.partitionBy("cell").parquet(s"$gen/postings")
    FileCommit.land(spark, path, live)
  }

  test("recall audit is 1.0 when nprobe covers every cell") {
    val path = java.nio.file.Files
      .createTempDirectory("vaging-full").toString + "/idx"
    VectorIndex.build(spark, emb, path, seeds)
    val full = VectorIndex
      .recallAudit(spark, path, probes, nprobe = seeds.size, topK = 5)
      .collect()
    assert(full.length === 6)
    assert(full.forall(_.getDouble(2) === 1.0),
      "probing all cells must reproduce the exact top-k")
  }

  test("aging cycles degrade measured recall; a retrain generation swap restores it") {
    val path = java.nio.file.Files
      .createTempDirectory("vaging").toString + "/idx"
    VectorIndex.build(spark, emb, path, seeds)
    val fresh = meanRecall(path)

    // three append/remove maintenance cycles with drifted content
    (1 to 3).foreach { c =>
      assert(VectorIndex.append(spark, path, drifted(c)) > 0)
      // a takedown inside each cycle keeps remove in the aging loop
      val removed = VectorIndex.remove(spark, path,
        Seq(10000L * c + 1, 10000L * c + 3))
      assert(removed === 2)
    }
    val aged = meanRecall(path)

    VectorIndex.retrain(spark, path, k = seeds.size, iters = 4)
    val retrained = meanRecall(path)
    info(f"recall@5 nprobe=1: fresh=$fresh%.3f aged=$aged%.3f retrained=$retrained%.3f")

    // the retrained generation must serve at least as well as the aged
    // one (trained ON the aged content, it cannot prune worse), and the
    // protocol must leave no scratch state or lease behind
    assert(retrained >= aged,
      f"retrain worsened recall: aged=$aged%.3f retrained=$retrained%.3f")
    assert(!new java.io.File(s"$path/.gen").exists())
    assert(!new java.io.File(s"$path/.commit").exists())
    assert(BandIndex.readLease(spark, path).isEmpty)

    // content round-trip: the swap must not lose or invent vectors
    val n = spark.read.parquet(s"$path/postings").count()
    assert(n === 500L + 3 * 100L - 3 * 2L)

    // the retrained index still serves EXACTLY: full-probe search
    // equals brute force (the VectorIndexSpec equivalence, post-swap)
    val k = spark.read.parquet(s"$path/centroids").count().toInt
    val full = VectorIndex
      .recallAudit(spark, path, probes, nprobe = k, topK = 5).collect()
    assert(full.forall(_.getDouble(2) === 1.0))
  }

  test("a retrain crash AFTER the commit marker rolls forward via resumeRetrain") {
    val path = java.nio.file.Files
      .createTempDirectory("vaging-crash").toString + "/idx"
    VectorIndex.build(spark, emb, path, seeds)
    // the post-marker crash state: a complete verified generation
    // under .gen plus the landed marker — death at the first
    // instruction of the commit's redo
    stageCrashedRetrain(path)

    VectorIndex.resumeRetrain(spark, path)

    assert(spark.read.parquet(s"$path/postings").count() === 500L)
    assert(spark.read.parquet(s"$path/centroids").count() === seeds.size.toLong)
    assert(!new java.io.File(s"$path/.gen").exists())
    assert(!new java.io.File(s"$path/.commit").exists())
    // resume is idempotent when there is nothing to resume
    VectorIndex.resumeRetrain(spark, path)
    // and the index still serves exactly after the healed swap
    val full = VectorIndex
      .recallAudit(spark, path, probes, nprobe = seeds.size, topK = 5)
      .collect()
    assert(full.forall(_.getDouble(2) === 1.0))
  }

  test("resumeRetrain heals UNDER the lease: takes over a crashed " +
       "holder's stale lease, releases it, refuses a live one") {
    // ADVICE r9: the public heal used to swap dirs without the lease —
    // an operator heal racing a stale-takeover retrain could interleave
    // renames, and the crashed holder's lease stayed on file blocking
    // writers even after the heal. Now the heal IS a lease operation.
    val path = java.nio.file.Files
      .createTempDirectory("vaging-lease").toString + "/idx"
    VectorIndex.build(spark, emb, path, seeds)
    stageCrashedRetrain(path)

    // a LIVE holder's lease blocks the heal (two processes moving the
    // same files would interleave)
    val live = BandIndex.acquireLease(spark, path, "vector_retrain", 60000L)
    intercept[BandIndex.ConcurrentMaintenanceException] {
      VectorIndex.resumeRetrain(spark, path)
    }
    BandIndex.releaseLease(spark, path, live)

    // the crashed holder's STALE lease: heal takes it over and, on
    // success, releases it — writers are unblocked afterwards
    BandIndex.acquireLease(spark, path, "vector_retrain", 1L)
    Thread.sleep(5) // past the 1 ms ttl: the holder is provably dead
    VectorIndex.resumeRetrain(spark, path)
    assert(BandIndex.readLease(spark, path).isEmpty,
      "heal must release the lease it took over")
    assert(!new java.io.File(s"$path/.commit").exists())
    assert(spark.read.parquet(s"$path/postings").count() === 500L)
    // writer APIs are genuinely unblocked: an append goes through
    VectorIndex.append(spark, path,
      emb.limit(3).withColumn("vec_id", col("vec_id") + 10000L))
    assert(spark.read.parquet(s"$path/postings").count() === 503L)
  }
}
