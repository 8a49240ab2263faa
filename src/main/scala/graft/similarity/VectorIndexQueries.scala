package graft.similarity

import graft.{Q, Tables}
import graft.etl.VectorIndex
import org.apache.spark.sql.functions._

/** q262 — ANN served from the PERSISTED IVF index
  * ([[graft.etl.VectorIndex]]): build the index once (assignment pass
  * + partitioned postings + k-row centroid table), then answer the
  * probe batch from it — the production serving path q52 computes
  * inline. The search plan reads ONLY the probes' nprobe cell
  * partitions (partition-pruned scan) and its single Exchange carries
  * bounded top-k buffers, never candidates ([[graft.functions.TopKAggregator]]).
  *
  * Determinism (the q52 convention): centroids are the deterministic
  * seed vectors vec_id 8..15 (cid = vec_id) so the DuckDB oracle
  * reproduces the assignment bit-for-bit; assignment scores round to
  * 6dp with a cid tiebreak, search scores to 4dp with a vec_id
  * tiebreak. The index is rebuilt per invocation into a
  * dir-deterministic tmp path (overwrite semantics — reruns converge);
  * the incremental append / takedown lifecycle is spec-proven in
  * `VectorIndexSpec` (cross-batch append ≡ one-shot build, replayed
  * batch appends zero, remove rewrites only affected cells).
  *
  * Scale shape: build is one broadcast-scored corpus pass + one
  * narrow shuffle into cell directories — paid once per corpus
  * version, amortized over every query; each search touches
  * nprobe/k of the data with zero corpus-side Exchange.
  */
object VectorIndexQueries {

  private val NProbe = 3
  private val TopK = 4

  /** DuckDB cosine with the same sequential-double math (the
    * VectorQueries.oCos convention).
    */
  private def oCos(a: String, b: String): String =
    s"""(SELECT SUM(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))
       |   / (sqrt(SUM(CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)))
       |      * sqrt(SUM(CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))
       | FROM UNNEST(generate_series(1, 64)) AS g(i))""".stripMargin

  val q262 = Q(
    "q262_vector_index_search",
    (s, dir) => {
      import s.implicits._
      val e = Tables.load(s, dir, "embeddings")
      val cents = e.filter($"vec_id" >= 8 && $"vec_id" < 16)
        .select($"vec_id".cast("int"), $"embedding")
        .as[(Int, Array[Float])].collect().toSeq.sortBy(_._1)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_vindex_" +
        java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
          .take(16)
      VectorIndex.build(s, e, path, cents)
      val probes = e.filter($"vec_id" < 8)
        .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
      VectorIndex.search(s, path, probes, NProbe, TopK)
        .orderBy($"query_id", $"rank")
    },
    Some(s"""WITH cents AS (
      |  SELECT CAST(vec_id AS INT) AS cid, embedding AS cvec
      |  FROM embeddings WHERE vec_id >= 8 AND vec_id < 16),
      |assigned AS (
      |  SELECT e.vec_id, e.embedding, c.cid,
      |         ROUND(${oCos("e.embedding", "c.cvec")}, 6) AS cscore
      |  FROM embeddings e CROSS JOIN cents c),
      |ranked_cells AS (
      |  SELECT vec_id, embedding, cid,
      |         ROW_NUMBER() OVER (PARTITION BY vec_id
      |           ORDER BY cscore DESC, cid) AS r
      |  FROM assigned),
      |cells AS (
      |  SELECT cid, vec_id, embedding FROM ranked_cells WHERE r = 1),
      |probes AS (
      |  SELECT cid, vec_id AS query_id, embedding AS qvec
      |  FROM ranked_cells WHERE vec_id < 8 AND r <= $NProbe),
      |cands AS (
      |  SELECT p.query_id, e.vec_id AS neighbor_id,
      |         ROUND(${oCos("p.qvec", "e.embedding")}, 4) AS score
      |  FROM cells e JOIN probes p ON e.cid = p.cid
      |  WHERE e.vec_id <> p.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, score,
      |         ROW_NUMBER() OVER (PARTITION BY query_id
      |           ORDER BY score DESC, neighbor_id) AS rank
      |  FROM cands)
      |SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
      |FROM ranked WHERE rank <= $TopK
      |ORDER BY query_id, rank""".stripMargin),
    doc = s"similarity: ANN served from the persisted IVF index (partition-pruned nprobe=$NProbe scan, bounded top-$TopK aggregate; build/append/remove lifecycle in etl/VectorIndex). " +
      "Search served from the PERSISTED IVF index: partition-pruned postings scan (plan-asserted zero corpus-side Exchange), broadcast probe batch, single bounded top-k exchange — build cost amortized across queries.")

  val all: Seq[Q] = Seq(q262)
}
