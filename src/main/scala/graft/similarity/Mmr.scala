package graft.similarity

import graft.{Q, Tables}
import graft.functions.CosineSimilarity
import org.apache.spark.sql.functions._

/** Maximal-marginal-relevance diversified retrieval (Carbonell &
  * Goldstein 1998): pick k results that balance relevance to the
  * probe against redundancy with what is already picked —
  *
  *   next = argmax_d [ 7·rel(d) − 3·max_{s∈S} sim(d, s) ]
  *
  * (λ = 0.7 with the weights scaled to integers 7/3 — the ordering is
  * identical and neither engine has to parse a decimal literal).
  * The dedup-aware cousin of top-k: a near-duplicate of an already
  * selected result scores its redundancy away — exactly the selection
  * rule a curation pipeline wants for "diverse exemplars per cluster".
  *
  * Scale + determinism design: the corpus-sized work is ONE broadcast
  * cosine-scoring pass (the q47 shape) and a TakeOrdered(12) candidate
  * cut; the pairwise sim matrix is computed ON the engine (the same
  * codegen'd cosine expression, same 6-dp rounding — no third float
  * implementation to disagree with the oracle) over the 12 candidates
  * only. The greedy itself then runs driver-side over those ≤ 12+144
  * collected rows — bounded by construction (the KMeans-seed stance),
  * pure comparisons of engine-produced doubles with vec_id tiebreaks.
  * The oracle unrolls the identical greedy as a generated CTE chain.
  */
object Mmr {

  private val NCand = 12
  private val K = 5

  /** The full pipeline over an in-memory embeddings frame — spec
    * fixtures pin the diversity semantics (a near-duplicate of an
    * already-selected result loses to a diverse lower-relevance one).
    */
  private[similarity] def mmrOf(e: org.apache.spark.sql.DataFrame,
                                nCand: Int = NCand,
                                k: Int = K): org.apache.spark.sql.DataFrame = {
      val s = e.sparkSession
      import s.implicits._
      CosineSimilarity.register(s)
      val probe = e.filter($"vec_id" === 0).select($"embedding".as("qvec"))
      val cands = graft.Barrier(
        e.filter($"vec_id" =!= 0).crossJoin(broadcast(probe))
          .withColumn("rel", round(expr("cosine_sim(qvec, embedding)"), 6))
          .orderBy($"rel".desc, $"vec_id").limit(nCand)
          .select($"vec_id", $"rel", $"embedding"))
      val rels = cands.select($"vec_id", $"rel")
        .as[(Long, Double)].collect().sortBy(r => (-r._2, r._1))
      val sims = cands.as("a")
        .crossJoin(broadcast(cands).as("b"))
        .filter($"a.vec_id" =!= $"b.vec_id")
        .select($"a.vec_id".as("i"), $"b.vec_id".as("j"),
          round(expr("cosine_sim(a.embedding, b.embedding)"), 6).as("sim"))
        .as[(Long, Long, Double)].collect()
        .map { case (i, j, v) => (i, j) -> v }.toMap
      // greedy over the bounded candidate set: engine-produced doubles,
      // vec_id tiebreak — the same comparisons the oracle CTEs unroll
      val relMap = rels.toMap
      val selected = scala.collection.mutable.ArrayBuffer(rels.head._1)
      while (selected.size < k && selected.size < rels.size) {
        val next = rels.map(_._1).filterNot(selected.contains)
          .map { d =>
            val redundancy = selected.map(sv => sims((d, sv))).max
            (d, 7.0 * relMap(d) - 3.0 * redundancy)
          }
          .minBy { case (d, score) => (-score, d) }._1
        selected += next
      }
      selected.zipWithIndex
        .map { case (d, idx) => (idx + 1, d, relMap(d)) }
        .toSeq.toDF("pos", "vec_id", "rel")
  }

  val q144 = Q(
    "q144_mmr_diverse",
    (s, dir) => mmrOf(Tables.load(s, dir, "embeddings")),
    Some {
      def oCos(a: String, b: String): String =
        s"""(SELECT SUM(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))
           |   / (sqrt(SUM(CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)))
           |      * sqrt(SUM(CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))
           | FROM UNNEST(generate_series(1, 64)) AS g(i))""".stripMargin
      val steps = (2 to K).map { k =>
        s"""sel_$k AS (
      |  SELECT * FROM sel_${k - 1}
      |  UNION ALL
      |  SELECT vec_id, $k AS pos FROM (
      |    SELECT vec_id FROM (
      |      SELECT c.vec_id,
      |             7 * c.rel - 3 * (SELECT MAX(s.sim) FROM sims s
      |                              JOIN sel_${k - 1} p ON s.j = p.vec_id
      |                              WHERE s.i = c.vec_id) AS mmr
      |      FROM cands c
      |      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel_${k - 1}))
      |    ORDER BY mmr DESC, vec_id LIMIT 1))"""
      }.mkString(",\n      |")
      s"""WITH probe AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
      |cands AS (
      |  SELECT e.vec_id, ROUND(${oCos("p.qvec", "e.embedding")}, 6) AS rel,
      |         e.embedding
      |  FROM embeddings e CROSS JOIN probe p
      |  WHERE e.vec_id <> 0
      |  ORDER BY rel DESC, vec_id LIMIT $NCand),
      |sims AS (
      |  SELECT a.vec_id AS i, b.vec_id AS j,
      |         ROUND(${oCos("a.embedding", "b.embedding")}, 6) AS sim
      |  FROM cands a JOIN cands b ON a.vec_id <> b.vec_id),
      |sel_1 AS (
      |  SELECT vec_id, 1 AS pos FROM cands ORDER BY rel DESC, vec_id LIMIT 1),
      |$steps
      |SELECT CAST(s.pos AS INT) AS pos, s.vec_id, c.rel
      |FROM sel_$K s JOIN cands c ON s.vec_id = c.vec_id
      |ORDER BY pos""".stripMargin
    },
    doc = "similarity: MMR diversified top-5 (relevance minus redundancy, greedy over a bounded candidate cut). " +
      "MMR's sequential greedy loop runs K=5 bounded rounds; each round scores candidates against the selected set via broadcast (selected set is <=K rows) — corpus side streams map-side.")

  val all: Seq[Q] = Seq(q144)
}
