package graft.similarity

import graft.{Q, Tables}
import graft.functions.CosineSimilarity
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** kNN label-agreement audit — the embedding-quality eval every
  * trained/ingested embedding table needs before it is trusted for
  * retrieval or dedup: if a vector's 5 nearest neighbors rarely share
  * its label, the space does not encode the label structure and every
  * downstream ANN decision (q48/q52/q188/q194) inherits the noise.
  * Reported per true label: evaluated probes, majority-vote hits, and
  * the accuracy — the per-class confusion a single global number
  * would hide.
  *
  * Determinism: probe set is a hash-free id stride (vec_id % 20 = 0 —
  * deterministic, label-blind); neighbor ranking is (round-4dp cosine
  * DESC, vec_id); majority vote breaks count ties on the SMALLER
  * label; accuracy is one IEEE division of exact counts.
  *
  * Scale shape: the q47 broadcast-probe contract — probes broadcast,
  * the corpus streams once past the codegen'd cosine, per-probe top-5
  * via WindowGroupLimit (per-partition heaps); the vote and the
  * accuracy rollup act on 5·|probes| rows.
  */
object KnnAudit {

  val K = 5
  val ProbeStride = 20

  val q196 = Q(
    "q196_knn_label_audit",
    (s, dir) => {
      import s.implicits._
      CosineSimilarity.register(s)
      val e = Tables.load(s, dir, "embeddings")
      val probes = e.filter($"vec_id" % ProbeStride === 0)
        .select($"vec_id".as("query_id"), $"label".as("true_label"),
          $"embedding".as("qvec"))
      val scored = e.crossJoin(broadcast(probes))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("score", round(expr("cosine_sim(qvec, embedding)"), 4))
      val w = Window.partitionBy($"query_id").orderBy($"score".desc, $"vec_id")
      val topk = scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= K)
        .select($"query_id", $"true_label", $"label".as("nb_label"))
      val votes = topk.groupBy($"query_id", $"true_label", $"nb_label")
        .agg(count(lit(1)).as("v"))
      val pred = votes.groupBy($"query_id", $"true_label")
        .agg(max(struct($"v", (-$"nb_label").as("nl"))).as("wv"))
        .select($"query_id", $"true_label",
          (-$"wv.nl").cast("int").as("pred_label"))
      pred.groupBy($"true_label".as("label"))
        .agg(count(lit(1)).as("n_eval"),
          count_if($"pred_label" === $"true_label").as("n_correct"))
        .withColumn("knn_accuracy",
          $"n_correct".cast("double") / $"n_eval".cast("double"))
        .orderBy($"label")
    },
    // Bounded formulation (the q49/q106/q198 pattern, proven
    // row-identical to the correlated-UNNEST original by
    // tools/check_oracle_equiv.py): norms precompute ONCE per vector
    // and the pair score is one list_dot_product — the original
    // re-evaluated a 64-row UNNEST subquery (with both norms) per
    // (probe × corpus) pair, which DuckDB runs fine at sf0.1 but
    // blows past a 900 s budget at sf1 under load. CTEs MATERIALIZED
    // so the probe/norm frames build once.
    Some(s"""WITH en AS MATERIALIZED (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                               CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |probes AS MATERIALIZED (
      |  SELECT vec_id AS query_id, label AS true_label, v AS qvec,
      |         nrm AS qnrm
      |  FROM en WHERE vec_id % $ProbeStride = 0),
      |scored AS (
      |  SELECT p.query_id, p.true_label, e.vec_id, e.label AS nb_label,
      |         ROUND(list_dot_product(p.qvec, e.v) / (p.qnrm * e.nrm), 4) AS score
      |  FROM en e CROSS JOIN probes p
      |  WHERE e.vec_id <> p.query_id),
      |topk AS (
      |  SELECT query_id, true_label, nb_label FROM (
      |    SELECT query_id, true_label, nb_label,
      |           ROW_NUMBER() OVER (PARTITION BY query_id
      |             ORDER BY score DESC, vec_id) AS rank
      |    FROM scored) WHERE rank <= $K),
      |votes AS (
      |  SELECT query_id, true_label, nb_label, COUNT(*) AS v
      |  FROM topk GROUP BY 1, 2, 3),
      |pred AS (
      |  SELECT query_id, true_label, nb_label AS pred_label FROM (
      |    SELECT query_id, true_label, nb_label,
      |           ROW_NUMBER() OVER (PARTITION BY query_id
      |             ORDER BY v DESC, nb_label) AS rn
      |    FROM votes) WHERE rn = 1)
      |SELECT true_label AS label, COUNT(*) AS n_eval,
      |       CAST(COUNT(CASE WHEN pred_label = true_label THEN 1 END) AS BIGINT) AS n_correct,
      |       CAST(COUNT(CASE WHEN pred_label = true_label THEN 1 END) AS DOUBLE)
      |         / COUNT(*) AS knn_accuracy
      |FROM pred GROUP BY 1 ORDER BY 1""".stripMargin),
    doc = "similarity: kNN majority-vote label audit (per-class accuracy of the embedding space, broadcast-probe scan). " +
      "kNN audit: q47's broadcast-probe contract — probes broadcast, corpus streams once past codegen'd cosine, per-probe top-5 via the rank window's per-partition WindowGroupLimit heaps; vote + accuracy rollup act on 5*|probes| rows.",
    // the pre-bounding correlated-UNNEST formulation, kept for the
    // check_oracle_equiv.py equivalence proof
    oracleReference = Some(s"""WITH probes AS (
      |  SELECT vec_id AS query_id, label AS true_label, embedding AS qvec
      |  FROM embeddings WHERE vec_id % $ProbeStride = 0),
      |scored AS (
      |  SELECT p.query_id, p.true_label, e.vec_id, e.label AS nb_label,
      |         ROUND((SELECT SUM(CAST(p.qvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))
      |            / (sqrt(SUM(CAST(p.qvec[i] AS DOUBLE) * CAST(p.qvec[i] AS DOUBLE)))
      |               * sqrt(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
      |          FROM UNNEST(generate_series(1, 64)) AS g(i)), 4) AS score
      |  FROM embeddings e CROSS JOIN probes p
      |  WHERE e.vec_id <> p.query_id),
      |topk AS (
      |  SELECT query_id, true_label, nb_label FROM (
      |    SELECT query_id, true_label, nb_label,
      |           ROW_NUMBER() OVER (PARTITION BY query_id
      |             ORDER BY score DESC, vec_id) AS rank
      |    FROM scored) WHERE rank <= $K),
      |votes AS (
      |  SELECT query_id, true_label, nb_label, COUNT(*) AS v
      |  FROM topk GROUP BY 1, 2, 3),
      |pred AS (
      |  SELECT query_id, true_label, nb_label AS pred_label FROM (
      |    SELECT query_id, true_label, nb_label,
      |           ROW_NUMBER() OVER (PARTITION BY query_id
      |             ORDER BY v DESC, nb_label) AS rn
      |    FROM votes) WHERE rn = 1)
      |SELECT true_label AS label, COUNT(*) AS n_eval,
      |       CAST(COUNT(CASE WHEN pred_label = true_label THEN 1 END) AS BIGINT) AS n_correct,
      |       CAST(COUNT(CASE WHEN pred_label = true_label THEN 1 END) AS DOUBLE)
      |         / COUNT(*) AS knn_accuracy
      |FROM pred GROUP BY 1 ORDER BY 1""".stripMargin))

  val all: Seq[Q] = Seq(q196)
}
