package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Zipf tail-exponent estimate of the corpus vocabulary — the Hill
  * estimator (Hill 1975) over the top-k token frequencies: natural
  * corpora follow f_r ∝ r^(−1/s) with s ≈ 1 (Zipf 1949), and a
  * corpus whose fitted tail departs hard from that is synthetic,
  * template-spammed, or truncated — a one-number datasheet stat
  * beside q136's per-source ledgers.
  *
  * Estimator: α̂ = k / Σ_{i≤k} ln(f_i / f_{k+1}) over the k largest
  * frequencies. Carried in the engine-shared quantized log2
  * ([[TextQueries.lqSql]]): the sum is Σ (lq(f_i) − lq(f_{k+1})), an
  * exact long, and the reported `alpha_log2_x1e6` = k·2²⁰·10⁶ div Σ —
  * the BASE-2 Hill statistic (multiply by ln 2 ≈ 0.693 for the
  * natural-log α̂; the constant is engine-independent so it stays
  * outside the verified arithmetic). A Zipf-1 corpus lands near
  * α ≈ 1/ln2 · … ≈ 1.0 after conversion.
  *
  * Scale shape: the corpus collapses to its vocabulary dict in one
  * map-side-combinable aggregate (the q109 stance); the top-(k+1)
  * cut is a TakeOrdered (never a global sort); the Hill fold is a
  * (k+1)-row aggregate against a 1-row broadcast of f_{k+1}.
  */
object ZipfTail {

  private val K = 100

  import TextQueries.{lqSql, lqDuck}

  /** q161 — vocabulary Hill/Zipf tail profile. */
  val q161 = Q(
    "q161_zipf_tail",
    (s, dir) => {
      import s.implicits._
      val freq = Tables.load(s, dir, "documents")
        .select(explode(split(coalesce($"text", lit("")), " ")).as("t"))
        .groupBy($"t").agg(count(lit(1)).as("f"))
      val top = freq.orderBy($"f".desc, $"t").limit(K + 1)
        .withColumn("rk", row_number().over(Window.orderBy($"f".desc, $"t")))
      val fk1 = top.filter($"rk" === K + 1).select($"f".as("f_k1"))
      top.filter($"rk" <= K)
        .crossJoin(broadcast(fk1))
        .agg(count(lit(1)).as("k"), max($"f_k1").as("f_k1"),
          sum(expr(s"${lqSql("f")} - ${lqSql("f_k1")}")).as("sum_log2q"),
          max(when($"rk" === 1, $"f")).as("f_top"))
        .select($"k", $"f_top", $"f_k1", $"sum_log2q",
          expr("(k * 1048576 * 1000000) div sum_log2q").as("alpha_log2_x1e6"))
    },
    Some(s"""WITH freq AS (
      |  SELECT t, COUNT(*) AS f
      |  FROM (SELECT UNNEST(string_split(COALESCE(text, ''), ' ')) AS t
      |        FROM documents)
      |  GROUP BY 1),
      |top AS (
      |  SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, t) AS rk
      |  FROM freq ORDER BY f DESC, t LIMIT ${K + 1}),
      |fk1 AS (SELECT f AS f_k1 FROM top WHERE rk = ${K + 1}),
      |agg AS (
      |  SELECT COUNT(*) AS k, MAX(f_k1) AS f_k1,
      |         CAST(SUM(${lqDuck("f")} - ${lqDuck("f_k1")}) AS BIGINT) AS sum_log2q,
      |         MAX(CASE WHEN rk = 1 THEN f END) AS f_top
      |  FROM top, fk1 WHERE rk <= $K)
      |SELECT k, f_top, f_k1, sum_log2q,
      |       (k * 1048576 * 1000000) // sum_log2q AS alpha_log2_x1e6
      |FROM agg""".stripMargin),
    doc = "text: Hill tail-exponent (Zipf slope) of the vocabulary in quantized log2 — corpus-naturalness datasheet stat. " +
      "Corpus → vocab dict in one aggregate; top-(k+1) via TakeOrdered (no global sort); Hill fold is a (k+1)-row aggregate against a 1-row broadcast.")

  val all: Seq[Q] = Seq(q161)
}
