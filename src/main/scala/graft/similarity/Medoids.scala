package graft.similarity

import graft.{Q, Tables}
import graft.functions.CosineSimilarity
import org.apache.spark.sql.functions._

/** Exact cluster medoid election — the PAM "representative member"
  * step (Kaufman & Rousseeuw 1990): per label, the member vector
  * maximizing total similarity to its peers. Centroids (q52/q106) are
  * synthetic points; a MEDOID is a real corpus member, which is what
  * a curation pipeline ships as the cluster exemplar (one document to
  * eyeball per semantic cluster) and what k-medoids iterates on.
  *
  * Determinism: each pair similarity quantizes to an exact long
  * (round-4dp cosine × 10⁴) BEFORE summation — per-member totals are
  * integer sums, associative under any shuffle order (a double sum
  * of 200 rounded values would be order-sensitive); the argmax breaks
  * ties on the smaller vec_id; the reported mean is one IEEE division.
  *
  * Scale shape: the pair pass is label-BLOCKED (the q49/q145 blocking
  * stance — O(Σ|block|²), never corpus²) and emits only (label,
  * vec_id, simq) longs; the election is a struct-max aggregate,
  * map-side combinable. A mega-cluster that breaks the quadratic
  * budget is the q106 case — pre-shard it by centroid cell and elect
  * per shard.
  */
object Medoids {

  val q198 = Q(
    "q198_cluster_medoids",
    (s, dir) => {
      import s.implicits._
      CosineSimilarity.register(s)
      val e = Tables.load(s, dir, "embeddings")
        .select($"vec_id", $"label", $"embedding")
      val pairs = e.as("a").join(e.as("b"),
          $"a.label" === $"b.label" && $"a.vec_id" =!= $"b.vec_id")
        .select($"a.label".as("label"), $"a.vec_id".as("vec_id"),
          expr("cast(round(cosine_sim(a.embedding, b.embedding) * 10000, 0) as bigint)")
            .as("simq"))
      val totals = pairs.groupBy($"label", $"vec_id")
        .agg(sum($"simq").as("tot"), count(lit(1)).as("n_peers"))
      totals.groupBy($"label")
        .agg(max(struct($"tot", (-$"vec_id").as("nv"))).as("w"),
          count(lit(1)).as("n_members"))
        .select($"label", (-$"w.nv").as("medoid_vec"), $"n_members",
          ($"w.tot".cast("double") / (($"n_members" - 1) * 10000L).cast("double"))
            .as("mean_peer_sim"))
        .orderBy($"label")
    },
    // Bounded oracle (VERDICT r9 item 2): norms precomputed once per
    // vector, the per-pair score one vectorized list_dot_product
    // (same double operation tree as the reference form below —
    // tools/check_oracle_equiv.py proves bit-identity; ~325 s timeout
    // → ~29 s at sf1).
    Some("""WITH e AS MATERIALIZED (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                               CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |pairs AS MATERIALIZED (
      |  SELECT a.label, a.vec_id,
      |         CAST(ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm)
      |              * 10000, 0) AS BIGINT) AS simq
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
      |totals AS (
      |  SELECT label, vec_id, CAST(SUM(simq) AS BIGINT) AS tot,
      |         COUNT(*) AS n_peers
      |  FROM pairs GROUP BY 1, 2),
      |elect AS (
      |  SELECT label, vec_id AS medoid_vec, tot,
      |         COUNT(*) OVER (PARTITION BY label) AS n_members,
      |         ROW_NUMBER() OVER (PARTITION BY label
      |           ORDER BY tot DESC, vec_id) AS rn
      |  FROM totals)
      |SELECT label, medoid_vec, CAST(n_members AS BIGINT) AS n_members,
      |       CAST(tot AS DOUBLE) / CAST((n_members - 1) * 10000 AS DOUBLE)
      |         AS mean_peer_sim
      |FROM elect WHERE rn = 1 ORDER BY label""".stripMargin),
    doc = "similarity: exact PAM medoid per label cluster (label-blocked quantized-cosine totals, struct-max election). " +
      "Medoids: label-BLOCKED pair join (O(sum block^2), never corpus^2); pair sims quantize to longs BEFORE the sum so totals are shuffle-order-proof; election is a map-side-combinable struct-max.",
    oracleReference = Some("""WITH pairs AS (
      |  SELECT a.label, a.vec_id,
      |         CAST(ROUND((SELECT SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))
      |            / (sqrt(SUM(CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))
      |               * sqrt(SUM(CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))
      |          FROM UNNEST(generate_series(1, 64)) AS g(i)) * 10000, 0) AS BIGINT) AS simq
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id <> b.vec_id),
      |totals AS (
      |  SELECT label, vec_id, CAST(SUM(simq) AS BIGINT) AS tot,
      |         COUNT(*) AS n_peers
      |  FROM pairs GROUP BY 1, 2),
      |elect AS (
      |  SELECT label, vec_id AS medoid_vec, tot,
      |         COUNT(*) OVER (PARTITION BY label) AS n_members,
      |         ROW_NUMBER() OVER (PARTITION BY label
      |           ORDER BY tot DESC, vec_id) AS rn
      |  FROM totals)
      |SELECT label, medoid_vec, CAST(n_members AS BIGINT) AS n_members,
      |       CAST(tot AS DOUBLE) / CAST((n_members - 1) * 10000 AS DOUBLE)
      |         AS mean_peer_sim
      |FROM elect WHERE rn = 1 ORDER BY label""".stripMargin))

  val all: Seq[Q] = Seq(q198)
}
