package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-source head/middle/tail quality bucketing — the CCNet stance
  * (Wenzek et al. 2020): each source's documents are ranked by a
  * quality score and split into exact terciles, so downstream mixture
  * policies can oversample heads and drop tails PER SOURCE instead of
  * applying one global threshold that a high-quality source saturates
  * and a low-quality source never reaches.
  *
  * Exactness: the score is an exact integer (n_chars — the oracle
  * reads the identical column), ranking is total-ordered by
  * (score DESC, doc_id) so no tie can drift between engines, and the
  * tercile boundary is integer rank arithmetic — bucket =
  * ((rank−1)·3) div count — not a floating quantile estimate.
  *
  * Scale: one window over (source) — ranks are per-source, so sources
  * sort in parallel; a single pathological mega-source turns into the
  * exact distributed-sort problem [[graft.operators.DistributedRank]]
  * already solves (range-partitioned rank + broadcast per-partition
  * prefix counts) — swap the window for `withRowNumber` keyed by
  * source if one source exceeds a partition's sort budget. The final
  * aggregate is 3·|sources| rows.
  */
object QualityBuckets {

  val q186 = Q(
    "q186_quality_terciles",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select($"doc_id", $"source",
          coalesce($"n_chars", lit(-1L)).as("score"))
      val w = Window.partitionBy($"source")
        .orderBy($"score".desc, $"doc_id")
      val bucketed = docs
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy($"source")))
        .withColumn("bucket", expr("((rn - 1) * 3) div cnt").cast("int"))
      bucketed.groupBy($"source", $"bucket")
        .agg(count(lit(1)).as("n_docs"),
          min($"score").as("min_score"),
          max($"score").as("max_score"),
          sum($"score").as("sum_score"))
        .withColumn("bucket_name",
          element_at(array(lit("head"), lit("middle"), lit("tail")),
            $"bucket" + 1))
        .select($"source", $"bucket", $"bucket_name", $"n_docs",
          $"min_score", $"max_score", $"sum_score")
        .orderBy($"source", $"bucket")
    },
    Some("""WITH scored AS (
      |  SELECT doc_id, source, COALESCE(n_chars, -1) AS score
      |  FROM documents),
      |ranked AS (
      |  SELECT source, score,
      |         ROW_NUMBER() OVER (PARTITION BY source
      |           ORDER BY score DESC, doc_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY source) AS cnt
      |  FROM scored),
      |bucketed AS (
      |  SELECT source, score,
      |         CAST(((rn - 1) * 3) // cnt AS INT) AS bucket
      |  FROM ranked)
      |SELECT source, bucket,
      |       (['head', 'middle', 'tail'])[bucket + 1] AS bucket_name,
      |       COUNT(*) AS n_docs,
      |       CAST(MIN(score) AS BIGINT) AS min_score,
      |       CAST(MAX(score) AS BIGINT) AS max_score,
      |       CAST(SUM(score) AS BIGINT) AS sum_score
      |FROM bucketed GROUP BY source, bucket
      |ORDER BY source, bucket""".stripMargin),
    doc = "text: CCNet-style per-source head/middle/tail quality terciles (exact integer rank buckets). " +
      "Per-source tercile split: ONE source-keyed window (sources sort in parallel; a mega-source is the DistributedRank.withRowNumber case); bucket = integer rank arithmetic, no float quantiles; final aggregate is 3*|sources| rows.")

  val all: Seq[Q] = Seq(q186)
}
