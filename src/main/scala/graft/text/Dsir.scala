package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DSIR-style target-affinity scoring as a reusable transform — the
  * q105 operator's model (hashed-unigram log-likelihood ratio between
  * a target corpus and the raw pool, Xie et al. 2023) over arbitrary
  * frames, so the curation stage can SELECT toward a target domain
  * instead of only ranking on intrinsic quality.
  *
  * Determinism is the q105 contract: 1024-bucket feature hashing off
  * the md5-prefix long, +1 smoothing, and the quantized log2
  * ([[TextQueries.lqSql]]) keep every score an exact long — a
  * selection ranked on `dsir_q` is reproducible bit-for-bit.
  *
  * Scale design: the pool explodes ONCE into per-(doc, bucket) counts
  * (≤`buckets` rows per doc, map-side combinable) behind a barrier
  * with two consumers (raw model + scoring); the model is a fixed
  * `buckets`-row table completed against `range(buckets)`, broadcast
  * to the scoring join at any pool size; the target corpus — a seed
  * set, usually ≪ pool — contributes one aggregation pass. Nothing
  * driver-side, no window, no shuffle wider than the doc-bucket key.
  */
object Dsir {

  /** Appends `dsir_q` (exact long; higher = more target-like) to
    * `docs`. The model: target bucket counts from `target` (a frame
    * with a `text` column), raw bucket counts from `docs` itself —
    * pass a pool that excludes the target slice for the q105 stance
    * (score raw against target), or the full corpus to rank everything
    * on one scale.
    */
  def scoreAffinity(docs: DataFrame, target: DataFrame,
                    buckets: Int = 1024): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val featOf = expr(graft.functions.Md5Prefix.sql("t") + s" % $buckets")
    // pool side: one explode, compressed immediately; barriered for its
    // two consumers (raw bucket model + per-doc scoring)
    val docTok = graft.Barrier(docs
      .select(col("doc_id"),
        explode(split(coalesce(col("text"), lit("")), " ")).as("t"))
      .select($"doc_id", featOf.as("f"))
      .groupBy($"doc_id", $"f").agg(count(lit(1)).as("c")))
    val tgtCnt = target
      .select(explode(split(coalesce(col("text"), lit("")), " ")).as("t"))
      .select(featOf.as("f"))
      .groupBy($"f").agg(count(lit(1)).as("rt"))
    val rawCnt = docTok.groupBy($"f").agg(sum($"c").as("rr"))
    val fCnt = s.range(buckets).select($"id".as("f"))
      .join(tgtCnt, Seq("f"), "left")
      .join(rawCnt, Seq("f"), "left")
      .select($"f",
        (coalesce($"rt", lit(0L)) + 1L).as("ct"),
        (coalesce($"rr", lit(0L)) + 1L).as("cr"))
    val tots = fCnt.agg(sum($"ct").as("n_t"), sum($"cr").as("n_r"))
    val w = fCnt.crossJoin(broadcast(tots))
      .withColumn("wq", expr(
        s"${TextQueries.lqSql("ct")} - ${TextQueries.lqSql("cr")}" +
          s" + ${TextQueries.lqSql("n_r")} - ${TextQueries.lqSql("n_t")}"))
      .select($"f", $"wq")
    val perDoc = docTok.join(broadcast(w), Seq("f"))
      .groupBy($"doc_id").agg(sum($"c" * $"wq").as("dsir_q"))
    // every doc has ≥1 token (split of "" is [""]), so the join always
    // matches; left + coalesce is belt-and-braces for exotic schemas
    docs.join(perDoc, Seq("doc_id"), "left")
      .withColumn("dsir_q", coalesce($"dsir_q", lit(0L)))
  }
}
