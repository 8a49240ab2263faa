package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted sampling without replacement by order sampling
  * (Efraimidis & Spirakis 2006): each item draws a uniform u and the
  * k items with the largest u^(1/w) win — one pass, no sequential
  * state, exactly the shape a distributed engine wants (a TakeOrdered
  * over a map-side key), with inclusion probability increasing in the
  * weight w.
  *
  * Determinism (the DetRand/q78 stance): u is the 40-bit md5 of
  * doc_id — reproducible, not a Random stream (40 bits: lq's long
  * exactness ceiling is 2⁴³, so the 60-bit corpus-salt width would
  * overflow its fraction product) — and the selection key
  * is the ES exponent LINEARIZED in fixed point: maximizing u^(1/w) ⟺
  * maximizing ln(u)/w ⟺ minimizing cost = (40·2²⁰ − lq(h))·2²⁰ div w
  * with lq the engine-shared quantized log2 ([[TextQueries.lqSql]]).
  * All quantities are non-negative longs (Spark `div` and DuckDB `//`
  * agree), ties break by doc_id, and both engines rank bit-identically
  * where a libm `pow()` would not. Quantization (~2⁻²⁰ relative) is
  * far below anything a sampling design can feel.
  *
  * The registered query (q149) samples k = 200 docs with weight
  * n_chars and reports the per-source selection ledger — selected
  * counts, rates, and average weight of selected vs all (the length
  * bias the weighting bought). Long ceiling: cost·1 stays < 2⁴⁶;
  * weights up to 2⁴⁶ are safe.
  */
object WeightedSample {

  /** Appends the ES selection cost (`cost_q`, ascending = best) to a
    * frame with `doc_id` and a positive integer `w`.
    */
  private[text] def withCost(df: DataFrame): DataFrame = {
    val h = graft.functions.Md5Prefix.sql("cast(doc_id as string)", 10) + " + 1"
    df.withColumn("cost_q",
      expr(s"(41943040L - ${TextQueries.lqSql(s"($h)")}) * 1048576L div w"))
  }

  private[text] val oCostSql: String = {
    val h = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT) + 1"
    s"(41943040 - ${TextQueries.lqDuck(s"($h)")}) * 1048576 // w"
  }

  private val K = 200

  val q149 = Q(
    "q149_weighted_sample",
    (s, dir) => {
      import s.implicits._
      val d = graft.Barrier(Tables.load(s, dir, "documents")
        .select($"doc_id", $"source", greatest($"n_chars", lit(1L)).as("w")))
      val sel = withCost(d)
        .orderBy($"cost_q", $"doc_id").limit(K)
        .select($"doc_id", lit(1).as("selected"))
      d.join(sel, Seq("doc_id"), "left_outer")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          count($"selected").as("n_selected"),
          sum($"w").as("w_all"),
          sum(when($"selected".isNotNull, $"w").otherwise(0L)).as("w_sel"))
        .select($"source", $"n_docs", $"n_selected",
          expr("n_selected * 1000000L div n_docs").as("sel_rate_ppm"),
          expr("w_all div n_docs").as("avg_w_all"),
          expr("case when n_selected > 0 then w_sel div n_selected else 0L end")
            .as("avg_w_sel"))
        .orderBy($"source")
    },
    Some(s"""WITH d AS (
      |  SELECT doc_id, source, GREATEST(n_chars, 1) AS w FROM documents),
      |costed AS (SELECT doc_id, source, w, $oCostSql AS cost_q FROM d),
      |sel AS (
      |  SELECT doc_id, 1 AS selected FROM costed
      |  ORDER BY cost_q, doc_id LIMIT $K)
      |SELECT d.source, COUNT(*) AS n_docs,
      |       COUNT(sel.selected) AS n_selected,
      |       COUNT(sel.selected) * 1000000 // COUNT(*) AS sel_rate_ppm,
      |       CAST(SUM(d.w) // COUNT(*) AS BIGINT) AS avg_w_all,
      |       CAST(CASE WHEN COUNT(sel.selected) > 0
      |            THEN SUM(CASE WHEN sel.selected IS NOT NULL THEN d.w ELSE 0 END)
      |                 // COUNT(sel.selected)
      |            ELSE 0 END AS BIGINT) AS avg_w_sel
      |FROM d LEFT JOIN sel USING (doc_id)
      |GROUP BY d.source ORDER BY d.source""".stripMargin),
    doc = "sampling: Efraimidis-Spirakis weighted order sample (fixed-point ES key, deterministic hash uniforms). " +
      "Weight-proportional sampling via deterministic cost keys (exponential-race analog in pure id-hash arithmetic) — selection is orderBy+limit on the cost key, reproducible across engines.")

  val all: Seq[Q] = Seq(q149)
}
