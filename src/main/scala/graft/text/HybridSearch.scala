package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval by reciprocal-rank fusion (Cormack, Clarke &
  * Buettcher 2009): fuse the corpus's two lexical rankings — BM25
  * ([[Bm25]], q114's scorer) and quantized TF-IDF (q94's integer
  * idf_q = N·10⁶ div df) — for the same query, by
  *
  *   rrf(d) = Σ_lists 10⁹ div (60 + rank_list(d))
  *
  * over each list's top-K. Integer division end-to-end (the RRF
  * constant 60 is the paper's), so fusion scores are exact longs and
  * both engines rank identically.
  *
  * Scale shape: both scorers share ONE base pass — per-doc tf for a
  * literal term set is `size(filter(...))` inside the row (no explode)
  * and the corpus stats are a single 1-row broadcast aggregate
  * ([[Bm25.scoredBase]], built once behind a [[graft.Barrier]] and
  * read by both rankings). Each ranking is TakeOrdered(K); fusion then
  * runs on ≤ 2K rows (a bounded union + aggregate — nothing
  * corpus-sized shuffles after the scoring map). The rank windows run
  * post-limit on K rows (the q114 pattern). TF-IDF score ceiling:
  * tf · idf_q ≤ tf · N·10⁶ — past ~10⁹ docs with hot terms, lift to
  * decimal(38,0) (the q94/q104 stance); BM25's core is
  * runtime-guarded in [[Bm25.scoredBase]].
  */
object HybridSearch {

  private val Terms = Seq("hash", "join", "dup", "scan")
  private val K = 50 // fused list depth per ranking
  private val RrfScale = 1000000000L

  val q139 = Q(
    "q139_rrf_hybrid",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      // df = 0 (a query term absent from the whole corpus — real on
      // sharded/namespaced corpora, caught by the round-9 sf1 oracle
      // run) must contribute 0, not divide by zero; tf is 0 for every
      // doc then, so COALESCE(tf·idf, 0) is the exact semantics.
      val tfidfScore = Terms.indices
        .map(i => s"coalesce(tf_$i * (n_docs * 1000000L div nullif(df_$i, 0L)), 0L)")
        .mkString(" + ")
      val base = graft.Barrier(Bm25.scoredBase(docs, Terms)
        .withColumn("tfidf_q", expr(tfidfScore)))
      def topList(scoreCol: String, rankName: String) = {
        val top = base
          .select($"doc_id", col(scoreCol).as("s"))
          .orderBy($"s".desc, $"doc_id").limit(K)
        top.withColumn(rankName,
            row_number().over(Window.orderBy($"s".desc, $"doc_id")))
          .select($"doc_id", col(rankName))
      }
      val bm = topList("score_q", "r_bm25")
      val ti = topList("tfidf_q", "r_tfidf")
      val fused = bm.join(ti, Seq("doc_id"), "full_outer")
        .withColumn("rrf_score",
          coalesce(expr(s"$RrfScale div (60 + r_bm25)"), lit(0L)) +
          coalesce(expr(s"$RrfScale div (60 + r_tfidf)"), lit(0L)))
        .orderBy($"rrf_score".desc, $"doc_id").limit(10)
      // absent-from-list ranks surface as 0, not NULL: a NULL int
      // column round-trips as float through pandas and would flip the
      // compare's dtype class
      fused.withColumn("pos",
          row_number().over(Window.orderBy($"rrf_score".desc, $"doc_id")))
        .select($"pos", $"doc_id", $"rrf_score",
          coalesce($"r_bm25", lit(0)).as("r_bm25"),
          coalesce($"r_tfidf", lit(0)).as("r_tfidf"))
        .orderBy($"pos")
    },
    Some {
      val tfDefs = Terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(t, x -> x = '$t')) AS BIGINT) AS tf_$i"
      }.mkString(",\n      |         ")
      val dfDefs = Terms.indices.map { i =>
        s"CAST(COUNT(CASE WHEN tf_$i > 0 THEN 1 END) AS BIGINT) AS df_$i"
      }.mkString(",\n      |         ")
      val tfidf = Terms.indices
        .map(i => s"COALESCE(tf_$i * (n_docs * 1000000 // NULLIF(df_$i, 0)), 0)")
        .mkString(" + ")
      s"""WITH tk AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
      |d AS (
      |  SELECT doc_id, source, CAST(len(t) AS BIGINT) AS dl,
      |         $tfDefs
      |  FROM tk),
      |tot AS (
      |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS t_tok,
      |         $dfDefs
      |  FROM d),
      |bm_scored AS (${Bm25.oracleScoreSql(Terms.size)}),
      |ti_scored AS (
      |  SELECT doc_id, CAST($tfidf AS BIGINT) AS s
      |  FROM d CROSS JOIN tot),
      |bm AS (
      |  SELECT doc_id,
      |         CAST(ROW_NUMBER() OVER (ORDER BY score_q DESC, doc_id) AS INT) AS r_bm25
      |  FROM bm_scored ORDER BY score_q DESC, doc_id LIMIT $K),
      |ti AS (
      |  SELECT doc_id,
      |         CAST(ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS INT) AS r_tfidf
      |  FROM ti_scored ORDER BY s DESC, doc_id LIMIT $K),
      |fused AS (
      |  SELECT COALESCE(bm.doc_id, ti.doc_id) AS doc_id, bm.r_bm25, ti.r_tfidf,
      |         COALESCE($RrfScale // (60 + bm.r_bm25), 0)
      |           + COALESCE($RrfScale // (60 + ti.r_tfidf), 0) AS rrf_score
      |  FROM bm FULL OUTER JOIN ti ON bm.doc_id = ti.doc_id),
      |top AS (SELECT * FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS INT) AS pos,
      |       doc_id, rrf_score,
      |       COALESCE(r_bm25, 0) AS r_bm25, COALESCE(r_tfidf, 0) AS r_tfidf
      |FROM top ORDER BY pos""".stripMargin
    },
    doc = "retrieval: reciprocal-rank fusion of BM25 and TF-IDF top-50 lists (integer-exact hybrid ranking). " +
      "RRF hybrid search: BM25 and TF-IDF share ONE scored base pass (per-doc tf in-row via size(filter(..)), corpus stats a 1-row broadcast) behind a Barrier; each ranking is TakeOrdered(50); fusion is a 100-row full-outer join — nothing corpus-sized shuffles after the scoring map.")

  val all: Seq[Q] = Seq(q139)
}
