package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct-count sketch accuracy audit
  * (Bar-Yossef et al. 2002; Beyer et al. 2007) — the third point on
  * the engine's cardinality ladder: q63's HLL is the fixed-memory
  * workhorse, q124's CMS counts frequencies; KMV is the mergeable
  * ORDER-STATISTICS sketch whose estimate (k−1)·2⁶⁰/h₍ₖ₎ needs only
  * the k-th smallest hash, supports set operations by hash-set
  * intersection, and — unlike HLL — is DETERMINISTIC given the hash,
  * so this audit is hash-exact across engines (the q212 minhash-audit
  * stance applied to cardinality).
  *
  * Determinism: the hash is the engine-shared 60-bit
  * [[graft.functions.Md5Prefix]] key; the k smallest distinct
  * hashes, the exact NDV, the estimate and its signed error are all
  * single-valued functions of the input — no randomness, no ties to
  * break (distinct hashes are unique).
  *
  * Scale shape: the audit's exact side (count_distinct + the distinct
  * TakeOrdered) is the NDV-sized baseline the sketch replaces — the
  * documented audit-scale cost (q212's stance). The PRODUCTION path
  * the estimate models is a bounded min-k aggregate: per-partition
  * k-smallest buffers merged associatively, one k-row final — which
  * is what the (k−1)·2⁶⁰/h₍ₖ₎ algebra certified here serves.
  */
object KmvSketch {

  private val K = 1024

  val q275 = Q(
    "q275_kmv_distinct",
    (s, dir) => {
      import s.implicits._
      val hashed = Tables.load(s, dir, "lineitem")
        .select(expr(graft.functions.Md5Prefix.sql("concat('kmv|', cast(l_partkey as string))")).as("h"))
      val exact = hashed.agg(count_distinct($"h").as("exact_ndv"))
      val kmv = hashed.distinct().orderBy($"h").limit(K)
        .agg(count(lit(1)).as("kk"), max($"h").as("hk"))
      kmv.crossJoin(broadcast(exact))
        .select(lit(K).as("k"), $"exact_ndv",
          expr(s"case when kk < $K then cast(kk as double)"
            + s" else (cast($K as double) - 1D) * 1152921504606846976D / cast(hk as double) end")
            .as("est_ndv"))
        .withColumn("err_pct", expr(
          "100D * (est_ndv - cast(exact_ndv as double)) / cast(exact_ndv as double)"))
    },
    Some(s"""WITH hashed AS (
      |  SELECT CAST(('0x' || substr(md5('kmv|' || CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM lineitem),
      |exact AS (
      |  SELECT CAST(COUNT(DISTINCT h) AS BIGINT) AS exact_ndv FROM hashed),
      |kmv AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS kk, MAX(h) AS hk
      |  FROM (SELECT DISTINCT h FROM hashed ORDER BY h LIMIT $K)),
      |est AS (
      |  SELECT $K AS k, exact_ndv,
      |         CASE WHEN kk < $K THEN CAST(kk AS DOUBLE)
      |              ELSE (CAST($K AS DOUBLE) - 1e0) * 1152921504606846976e0
      |                   / CAST(hk AS DOUBLE) END AS est_ndv
      |  FROM kmv CROSS JOIN exact)
      |SELECT k, exact_ndv, est_ndv,
      |       100e0 * (est_ndv - CAST(exact_ndv AS DOUBLE)) / CAST(exact_ndv AS DOUBLE) AS err_pct
      |FROM est""".stripMargin),
    doc = "sketch: KMV k-minimum-values distinct-count estimate vs exact NDV — 60-bit shared md5 hash, (k-1)*2^60/h_k order-statistics estimator, hash-exact signed error. " +
      "Audit-scale exact side (count_distinct + distinct TakeOrdered(k)) is the NDV-sized baseline the sketch replaces — the q212 stance; the certified estimator algebra serves a bounded associative min-k aggregate in production.")

  val all: Seq[Q] = Seq(q275)
}
