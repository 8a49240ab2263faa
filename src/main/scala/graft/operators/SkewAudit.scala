package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join-key skew audit: the distribution profile that tells a planner
  * (or an operator author) whether a shuffle key needs the q60
  * salted-join treatment BEFORE a straggler task finds out at hour
  * three. Reports the top heavy keys with their corpus share and
  * multiple-of-average, plus the median/p99 per-key cardinality for
  * context. Complements [[JoinEstimate]] (how big is the join) with
  * "and how badly is it concentrated".
  *
  * Exactness: shares and averages are integer ppm cross-products;
  * percentiles follow the q21 convention (exact interpolated, rounded
  * to 4dp in both engines). Scale shape: one map-side-combinable
  * per-key count, one 1-row stats broadcast (the percentile aggregate
  * runs on the per-KEY frame — vocabulary-sized, not row-sized), and a
  * TakeOrdered(5) with post-limit rank numbering.
  */
object SkewAudit {

  val q147 = Q(
    "q147_skew_audit",
    (s, dir) => {
      import s.implicits._
      val c = graft.Barrier(Tables.load(s, dir, "lineitem")
        .groupBy($"l_suppkey").agg(count(lit(1)).as("cnt")))
      val stats = c.agg(
        count(lit(1)).as("n_keys"), sum($"cnt").as("total"),
        round(expr("percentile(cnt, 0.5)"), 4).as("p50_cnt"),
        round(expr("percentile(cnt, 0.99)"), 4).as("p99_cnt"))
      val top = c.orderBy($"cnt".desc, $"l_suppkey").limit(5)
      top.withColumn("rank",
          row_number().over(Window.orderBy($"cnt".desc, $"l_suppkey")))
        .crossJoin(broadcast(stats))
        .select($"rank", $"l_suppkey", $"cnt",
          expr("cnt * 1000000L div total").as("share_ppm"),
          expr("cnt * n_keys * 1000000L div total").as("vs_avg_ppm"),
          $"p50_cnt", $"p99_cnt")
        .orderBy($"rank")
    },
    Some("""WITH c AS (
      |  SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
      |st AS (
      |  SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS total,
      |         ROUND(CAST(quantile_cont(cnt, 0.5) AS DOUBLE), 4) AS p50_cnt,
      |         ROUND(CAST(quantile_cont(cnt, 0.99) AS DOUBLE), 4) AS p99_cnt
      |  FROM c),
      |top AS (SELECT * FROM c ORDER BY cnt DESC, l_suppkey LIMIT 5)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, l_suppkey) AS INT) AS rank,
      |       l_suppkey, cnt,
      |       cnt * 1000000 // total AS share_ppm,
      |       cnt * n_keys * 1000000 // total AS vs_avg_ppm,
      |       p50_cnt, p99_cnt
      |FROM top CROSS JOIN st ORDER BY rank""".stripMargin),
    doc = "diagnostics: join-key skew audit — heavy-key shares, multiple-of-average, per-key cardinality percentiles. " +
      "One map-side-combinable per-key count behind a Barrier; stats ride a 1-row broadcast; the percentile aggregate runs on the per-KEY (vocabulary-sized) frame; top-5 via TakeOrdered.")

  val all: Seq[Q] = Seq(q147)
}
