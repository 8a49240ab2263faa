package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Two training-data planning ledgers over the corpus:
  *
  * q171 — the context-length packing curve: for each candidate
  * context length L, what does the packing DISCIPLINE cost? The
  * concat-stream packing q86 fixes at 4096 is re-derived at
  * L ∈ {512, 1024, 2048, 4096} side by side with document-isolated
  * padding (each doc in its own ⌈nt/L⌉ sequences): `pad_waste_ppm` is
  * the padding bill that makes teams adopt boundary-crossing packing,
  * and `n_straddle` is the attention-contamination bill packing pays
  * back — THE trade a context-length decision weighs (Raffel et al.
  * 2020's packing appendix; the q110/q86 machinery as a curve).
  *
  * q172 — the near-dup cluster-size distribution: the power-law
  * datasheet stat of the dedup family (how much of the corpus sits in
  * how-big clusters — Lee et al. 2021 report exactly this ledger
  * before dedup decisions). Sizes from the oracle-verified q72
  * componentLabels machinery; singleton mass derived from the corpus
  * total, never by enrolling edge-less docs in the propagation.
  *
  * Scale shapes: q171 is ONE DistributedRank prefix-sum pass (the
  * q86 offset) + a 4-way broadcast crossJoin and one aggregate —
  * the curve costs one extra |L| factor on a map stage, nothing
  * else. q172 adds one |clusters|-sized histogram aggregate to q72's
  * plan.
  */
object PackingCurve {

  private val Ls = Seq(512L, 1024L, 2048L, 4096L)

  /** q171 — packing ledger per candidate context length. */
  val q171 = Q(
    "q171_packing_curve",
    (s, dir) => {
      import s.implicits._
      val d = Tables.load(s, dir, "documents").select(
        $"doc_id",
        size(split(coalesce($"text", lit("")), " ")).cast("long").as("nt"),
        expr(graft.functions.Md5Prefix.sql("concat('pack42_', cast(doc_id as string))")).as("key"))
      val c = graft.Barrier(graft.operators.DistributedRank
        .withPrefixSum(d, Seq($"key", $"doc_id"), $"nt", "cum"))
      val ls = Ls.toDF("context_len")
      c.crossJoin(broadcast(ls))
        .withColumn("straddle",
          expr("(cum - nt) div context_len != (cum - 1) div context_len"))
        .withColumn("pad_seqs", expr("(nt + context_len - 1) div context_len"))
        .groupBy($"context_len")
        .agg(count(lit(1)).as("n_docs"), sum($"nt").as("total_tokens"),
          max($"cum").as("mc"),
          count_if($"straddle").as("n_straddle"),
          sum($"pad_seqs").as("pad_sequences"))
        .select($"context_len", $"n_docs", $"total_tokens",
          expr("(mc + context_len - 1) div context_len").as("concat_sequences"),
          $"n_straddle", $"pad_sequences",
          expr("((pad_sequences * context_len - total_tokens) * 1000000)" +
            " div (pad_sequences * context_len)").as("pad_waste_ppm"))
        .orderBy($"context_len")
    },
    Some("""WITH d AS (
      |  SELECT doc_id, len(string_split(COALESCE(text, ''), ' ')) AS nt,
      |         CAST(('0x' || substr(md5('pack42_' || CAST(doc_id AS VARCHAR)), 1, 15))
      |              AS BIGINT) AS key
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, nt,
      |         SUM(nt) OVER (ORDER BY key, doc_id ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM d),
      |ls AS (SELECT UNNEST([512, 1024, 2048, 4096]) AS context_len),
      |p AS (
      |  SELECT context_len, nt, cum,
      |         (cum - nt) // context_len != (cum - 1) // context_len AS straddle,
      |         (nt + context_len - 1) // context_len AS pad_seqs
      |  FROM c, ls),
      |a AS (
      |  SELECT context_len, COUNT(*) AS n_docs,
      |         CAST(SUM(nt) AS BIGINT) AS total_tokens,
      |         CAST(MAX(cum) AS BIGINT) AS mc,
      |         CAST(COUNT(CASE WHEN straddle THEN 1 END) AS BIGINT) AS n_straddle,
      |         CAST(SUM(pad_seqs) AS BIGINT) AS pad_sequences
      |  FROM p GROUP BY 1)
      |SELECT context_len, n_docs, total_tokens,
      |       (mc + context_len - 1) // context_len AS concat_sequences,
      |       n_straddle, pad_sequences,
      |       ((pad_sequences * context_len - total_tokens) * 1000000)
      |         // (pad_sequences * context_len) AS pad_waste_ppm
      |FROM a ORDER BY context_len""".stripMargin),
    doc = "training: packing ledger per candidate context length — padding waste vs straddle contamination")

  /** q172 — near-dup cluster-size distribution + singleton mass. */
  val q172 = Q(
    "q172_cluster_sizes",
    (s, dir) => {
      import s.implicits._
      val edges = graft.Barrier(TextQueries.ngramJaccardPairs(s, dir, t = 0.8)
        .select($"doc_a", $"doc_b"))
      val sizes = TextQueries.componentLabels(edges)
        .groupBy($"lab").agg(count(lit(1)).as("cluster_size"))
      val hist = sizes.groupBy($"cluster_size")
        .agg(count(lit(1)).as("n_clusters"))
      val clustered = sizes.agg(
        coalesce(sum($"cluster_size"), lit(0L)).as("in_clusters"))
      val total = Tables.load(s, dir, "documents")
        .agg(count(lit(1)).as("n_total"))
      val singletons = total.crossJoin(clustered)
        .select(lit(1L).as("cluster_size"),
          ($"n_total" - $"in_clusters").as("n_clusters"))
      hist.unionByName(singletons)
        .withColumn("docs_in_size", $"cluster_size" * $"n_clusters")
        .orderBy($"cluster_size")
    },
    Some(s"""WITH RECURSIVE ${TextQueries.NgramPairsCtes},
      |sym AS (
      |  SELECT doc_a AS a, doc_b AS b FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |closure(node, reach) AS (
      |  SELECT DISTINCT a, a FROM sym
      |  UNION
      |  SELECT c.node, s.b FROM closure c JOIN sym s ON s.a = c.reach),
      |roots AS (
      |  SELECT node, MIN(reach) AS cluster_root FROM closure GROUP BY node),
      |sizes AS (
      |  SELECT cluster_root, COUNT(*) AS cluster_size FROM roots GROUP BY 1),
      |hist AS (
      |  SELECT cluster_size, COUNT(*) AS n_clusters FROM sizes GROUP BY 1),
      |sing AS (
      |  SELECT CAST(1 AS BIGINT) AS cluster_size,
      |         (SELECT COUNT(*) FROM documents)
      |           - COALESCE((SELECT CAST(SUM(cluster_size) AS BIGINT) FROM sizes), 0)
      |           AS n_clusters)
      |SELECT cluster_size, n_clusters, cluster_size * n_clusters AS docs_in_size
      |FROM (SELECT * FROM hist UNION ALL SELECT * FROM sing)
      |ORDER BY cluster_size""".stripMargin),
    doc = "dedup: cluster-size distribution with derived singleton mass — the corpus duplication datasheet")

  val all: Seq[Q] = Seq(q171, q172)
}
