package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HLL set algebra — the property that makes HyperLogLog more than a
  * COUNT(DISTINCT) substitute: registers are MAX-mergeable, so the
  * union of two sets is estimated by taking the register-wise max of
  * their (tiny, fixed-size) sketches WITHOUT touching the raw keys
  * again, and the intersection follows by inclusion–exclusion
  * (|A∩B| ≈ |A|+|B|−|A∪B|, Flajolet et al. 2007). At 100 TB this is
  * the audience-overlap / cross-dataset-contamination estimator: two
  * 512-register arrays answer "how many users appear in both feeds"
  * with no join of the raw key sets.
  *
  * Register math is the q63 discipline verbatim — 60-bit
  * [[graft.functions.Md5Prefix]] keys, integer 2^(52−ρ) occupancy
  * terms, ONE final IEEE division per estimate — so both engines
  * produce bit-identical doubles. The registered query (q151) reports
  * the exact and estimated ledger side by side: the oracle certifies
  * the estimator AND the data certifies the estimator's usefulness
  * (the exact overlap sits next to it).
  *
  * Scale shape: each sketch is one narrow map-side-combinable
  * aggregate to ≤ 512 rows; the union merge is a ≤ 512-row full-outer
  * join; the exact audit's distinct-join is the thing the sketch path
  * exists to avoid, present here only as the truth column.
  */
object HllSetOps {

  private val M = 512

  /** (bucket, mrho) register frame for `key` of `df` — q63's register
    * construction, factored for reuse across sets.
    */
  private[operators] def regs(df: DataFrame, key: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(expr(graft.functions.Md5Prefix.sql(s"cast($key as string)")).as("h"))
      .withColumn("bucket", pmod($"h", lit(M.toLong)))
      .withColumn("v", expr(s"h div $M"))
      .withColumn("rho",
        when($"v" === 0L, lit(52))
          .otherwise(lit(52) - length(expr("conv(cast(v as string), 10, 2)"))))
      .groupBy($"bucket").agg(max($"rho").as("mrho"))
  }

  /** One-row estimate (column `name`) from a register frame. */
  private[operators] def est(regsDf: DataFrame, name: String): DataFrame = {
    val s = regsDf.sparkSession
    import s.implicits._
    regsDf
      .agg(sum(expr("shiftleft(cast(1 as bigint), 52 - mrho)")).as("occ_sum"),
        count(lit(1)).as("occupied"))
      .select((lit(AggQueries.HllC) / expr(
        s"cast(occ_sum + ($M - occupied) * shiftleft(cast(1 as bigint), 52) as double)"))
        .as(name))
  }

  val q151 = Q(
    "q151_hll_set_algebra",
    (s, dir) => {
      import s.implicits._
      val ra = graft.Barrier(regs(Tables.load(s, dir, "orders"), "o_custkey"))
      val rb = graft.Barrier(regs(Tables.load(s, dir, "events"), "user_id"))
      val ru = ra.withColumnRenamed("mrho", "ma")
        .join(rb.withColumnRenamed("mrho", "mb"), Seq("bucket"), "full_outer")
        .select($"bucket",
          greatest(coalesce($"ma", lit(0)), coalesce($"mb", lit(0))).as("mrho"))
      val ea = est(ra, "hll_a")
      val eb = est(rb, "hll_b")
      val eu = est(ru, "hll_union")
      val xa = Tables.load(s, dir, "orders").select($"o_custkey".as("k")).distinct()
      val xb = Tables.load(s, dir, "events").select($"user_id".as("k")).distinct()
      val exact = xa.agg(count(lit(1)).as("exact_a"))
        .crossJoin(xb.agg(count(lit(1)).as("exact_b")))
        .crossJoin(xa.join(xb, Seq("k")).agg(count(lit(1)).as("exact_overlap")))
      exact.crossJoin(ea).crossJoin(eb).crossJoin(eu)
        .withColumn("hll_overlap", $"hll_a" + $"hll_b" - $"hll_union")
    },
    Some(s"""WITH ra AS (
      |  SELECT h % $M AS bucket,
      |         MAX(CASE WHEN h // $M = 0 THEN 52
      |                  ELSE 52 - length(bin(h // $M)) END) AS mrho
      |  FROM (SELECT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |        FROM orders)
      |  GROUP BY 1),
      |rb AS (
      |  SELECT h % $M AS bucket,
      |         MAX(CASE WHEN h // $M = 0 THEN 52
      |                  ELSE 52 - length(bin(h // $M)) END) AS mrho
      |  FROM (SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |        FROM events)
      |  GROUP BY 1),
      |ru AS (
      |  SELECT COALESCE(ra.bucket, rb.bucket) AS bucket,
      |         GREATEST(COALESCE(ra.mrho, 0), COALESCE(rb.mrho, 0)) AS mrho
      |  FROM ra FULL OUTER JOIN rb ON ra.bucket = rb.bucket),
      |ea AS (
      |  SELECT ${AggQueries.HllC} / CAST(SUM(CAST(1 AS BIGINT) << (52 - mrho))
      |           + ($M - COUNT(*)) * (CAST(1 AS BIGINT) << 52) AS DOUBLE) AS hll_a
      |  FROM ra),
      |eb AS (
      |  SELECT ${AggQueries.HllC} / CAST(SUM(CAST(1 AS BIGINT) << (52 - mrho))
      |           + ($M - COUNT(*)) * (CAST(1 AS BIGINT) << 52) AS DOUBLE) AS hll_b
      |  FROM rb),
      |eu AS (
      |  SELECT ${AggQueries.HllC} / CAST(SUM(CAST(1 AS BIGINT) << (52 - mrho))
      |           + ($M - COUNT(*)) * (CAST(1 AS BIGINT) << 52) AS DOUBLE) AS hll_union
      |  FROM ru),
      |xa AS (SELECT DISTINCT o_custkey AS k FROM orders),
      |xb AS (SELECT DISTINCT user_id AS k FROM events)
      |SELECT (SELECT COUNT(*) FROM xa) AS exact_a,
      |       (SELECT COUNT(*) FROM xb) AS exact_b,
      |       (SELECT COUNT(*) FROM xa JOIN xb USING (k)) AS exact_overlap,
      |       ea.hll_a, eb.hll_b, eu.hll_union,
      |       ea.hll_a + eb.hll_b - eu.hll_union AS hll_overlap
      |FROM ea CROSS JOIN eb CROSS JOIN eu""".stripMargin),
    doc = "sketch: HLL set algebra — register-max union + inclusion-exclusion overlap vs exact (fixed-memory audience overlap). " +
      "HLL registers built per side behind Barriers (map-side-combinable max-rho), set algebra via a full-outer join on the 2^p-bounded bucket frame — union/intersection cardinalities without re-scanning either corpus.")

  val all: Seq[Q] = Seq(q151)
}
