package graft.operators

import graft.{Q, Tables}
import graft.text.Cms
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sketch-based equi-join cardinality estimation: |A ⋈ B on k| =
  * Σ_k a_k·b_k is estimated by the inner product of two count-min
  * sketches sharing one (d × w) geometry — est = min over the d rows
  * of Σ_j A[i][j]·B[i][j] (Cormode & Muthukrishnan 2005 §4.3; the
  * AMS-style join-size application). The estimate is ONE-SIDED:
  * every bucket product only adds cross terms from colliding keys and
  * all counts are non-negative, so est ≥ exact for every row i, hence
  * after the min too.
  *
  * Why it matters at 100 TB: join-size is THE planner input — shuffle
  * vs broadcast vs skew-mitigation — and computing it exactly costs as
  * much as the join. Two fixed-size sketches (d·w cells each,
  * regardless of input volume) built with map-side combine answer it
  * in one narrow pass per side plus a ≤ d·w-row join. Inner products
  * run in decimal(38,0) — exact, associative, and holding to 10³⁸, so
  * there is no long ceiling to guard.
  *
  * The registered query (q140) audits the estimator against the truth
  * on events ⋈ orders (user_id = o_custkey): exact pair count, sketch
  * estimate, and the relative overestimate in ppm — certifying the
  * one-sided bound on real data (the spec forces collisions with tiny
  * w to certify it under stress).
  */
object JoinEstimate {

  /** Inner-product estimate from two (t, cnt) key-count frames under a
    * shared (d × w) CMS geometry: 1 row, column `est` (BIGINT).
    */
  private[operators] def estimate(a: DataFrame, b: DataFrame,
                                  d: Int, w: Int): DataFrame = {
    val s = a.sparkSession
    import s.implicits._
    val ca = Cms.cellsOfVocab(a, d, w).withColumnRenamed("c", "ca")
    val cb = Cms.cellsOfVocab(b, d, w).withColumnRenamed("c", "cb")
    ca.join(cb, Seq("r0", "b"))
      .groupBy($"r0")
      .agg(sum($"ca".cast("decimal(38,0)") * $"cb").as("ip"))
      .agg(min($"ip").cast("bigint").as("est"))
  }

  private val D = 4
  private val W = 256

  val q140 = Q(
    "q140_join_size_estimate",
    (s, dir) => {
      import s.implicits._
      val a = Tables.load(s, dir, "events")
        .groupBy($"user_id".cast("string").as("t"))
        .agg(count(lit(1)).as("cnt"))
      val b = Tables.load(s, dir, "orders")
        .groupBy($"o_custkey".cast("string").as("t"))
        .agg(count(lit(1)).as("cnt"))
      val exact = a.join(b.withColumnRenamed("cnt", "cnt_b"), Seq("t"))
        .agg(sum($"cnt".cast("decimal(38,0)") * $"cnt_b")
          .cast("bigint").as("exact_pairs"))
      exact.crossJoin(estimate(a, b, D, W))
        .select($"exact_pairs", $"est".as("cms_estimate"),
          expr("(est - exact_pairs) * 1000000L div exact_pairs")
            .as("overestimate_ppm"))
    },
    Some(s"""WITH a AS (
      |  SELECT CAST(user_id AS VARCHAR) AS t, COUNT(*) AS cnt
      |  FROM events GROUP BY 1),
      |b AS (
      |  SELECT CAST(o_custkey AS VARCHAR) AS t, COUNT(*) AS cnt
      |  FROM orders GROUP BY 1),
      |ca AS (
      |  SELECT r, CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || t), 1, 15)) AS BIGINT) % $W AS bk,
      |         CAST(SUM(cnt) AS BIGINT) AS ca
      |  FROM a CROSS JOIN (SELECT UNNEST([1, 2, 3, 4]) AS r)
      |  GROUP BY 1, 2),
      |cb AS (
      |  SELECT r, CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || t), 1, 15)) AS BIGINT) % $W AS bk,
      |         CAST(SUM(cnt) AS BIGINT) AS cb
      |  FROM b CROSS JOIN (SELECT UNNEST([1, 2, 3, 4]) AS r)
      |  GROUP BY 1, 2),
      |ip AS (
      |  SELECT ca.r, SUM(CAST(ca.ca AS DECIMAL(38,0)) * cb.cb) AS ip
      |  FROM ca JOIN cb ON ca.r = cb.r AND ca.bk = cb.bk
      |  GROUP BY 1),
      |est AS (SELECT CAST(MIN(ip) AS BIGINT) AS cms_estimate FROM ip),
      |ex AS (
      |  SELECT CAST(SUM(CAST(a.cnt AS DECIMAL(38,0)) * b.cnt) AS BIGINT) AS exact_pairs
      |  FROM a JOIN b USING (t))
      |SELECT exact_pairs, cms_estimate,
      |       (cms_estimate - exact_pairs) * 1000000 // exact_pairs AS overestimate_ppm
      |FROM ex CROSS JOIN est""".stripMargin),
    doc = "sketch: CMS inner-product join-size estimate vs exact (one-sided planner cardinality primitive). " +
      "CMS join-size estimate: each side compresses to per-key counts (map-side combinable) then to <= d*w sketch cells; the inner product joins two <= 4096-row cell grids; exact audit joins the two key-count frames — the sketch path alone never moves more than d*w rows regardless of input volume.")

  val all: Seq[Q] = Seq(q140)
}
