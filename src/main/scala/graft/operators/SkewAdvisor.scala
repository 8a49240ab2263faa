package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join-skew advisor — the PLANNING step behind q60's salted skew
  * join and q45's hot-bucket triangle decomposition, exposed as a
  * query: before launching a self-join on a key (here the co-purchase
  * join on l_partkey, the q45/q138/q152 workhorse), profile the key
  * histogram, estimate each key's join OUTPUT (cnt², the quantity
  * that actually explodes — a key with 1% of rows produces 0.01% × N²
  * of pairs), and recommend a per-key salt/split factor
  * s = ⌈cnt² / target⌉ against a target of total-pairs/32 per task.
  * This is what AQE's skew handling does at runtime, computed ahead
  * of time from ONE aggregate — the difference between discovering
  * the straggler at hour three and planning around it.
  *
  * Exactness: counts, pair counts, targets, and ceilings are all
  * exact integer arithmetic (⌈a/b⌉ = (a + b − 1) div b); the two
  * skew ratios are IEEE divisions of exact integers.
  *
  * Scale shape: ONE map-side-combinable aggregate to the key
  * histogram; totals are a 1-row broadcast; top-10 via TakeOrdered.
  * The advisor never runs the join it profiles.
  */
object SkewAdvisor {

  val Tasks = 32

  val q247 = Q(
    "q247_join_skew_advisor",
    (s, dir) => {
      import s.implicits._
      val hist = graft.Barrier(Tables.load(s, dir, "lineitem")
        .groupBy($"l_partkey").agg(count(lit(1)).as("cnt")))
      val tot = hist.agg(count(lit(1)).as("n_keys"), sum($"cnt").as("n_rows"),
          sum($"cnt" * $"cnt").as("n_pairs"), max($"cnt").as("max_cnt"))
        .select($"n_keys", $"n_rows", $"n_pairs", $"max_cnt",
          expr(s"(n_pairs + ${Tasks - 1}) div $Tasks").as("target"))
      hist.crossJoin(broadcast(tot))
        .orderBy($"cnt".desc, $"l_partkey").limit(10)
        .withColumn("pos",
          row_number().over(Window.orderBy($"cnt".desc, $"l_partkey")))
        .select($"pos", $"l_partkey", $"cnt",
          ($"cnt" * $"cnt").as("est_pairs"),
          expr("(cnt * cnt + target - 1) div target").as("salt_factor"),
          ((($"cnt" * $"cnt") * Tasks).cast("double")
            / $"n_pairs".cast("double")).as("task_share_x32"),
          ($"max_cnt".cast("double") * $"n_keys".cast("double")
            / $"n_rows".cast("double")).as("key_skew_ratio"),
          $"n_keys", $"n_pairs")
        .orderBy($"pos")
    },
    Some(s"""WITH hist AS MATERIALIZED (
      |  SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
      |tot AS (
      |  SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |         CAST(SUM(cnt * cnt) AS BIGINT) AS n_pairs,
      |         CAST(MAX(cnt) AS BIGINT) AS max_cnt,
      |         CAST((SUM(cnt * cnt) + ${Tasks - 1}) // $Tasks AS BIGINT) AS target
      |  FROM hist)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, l_partkey) AS INT) AS pos,
      |       l_partkey, cnt,
      |       cnt * cnt AS est_pairs,
      |       (cnt * cnt + target - 1) // target AS salt_factor,
      |       CAST(cnt * cnt * $Tasks AS DOUBLE) / CAST(n_pairs AS DOUBLE)
      |         AS task_share_x32,
      |       CAST(max_cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
      |         / CAST(n_rows AS DOUBLE) AS key_skew_ratio,
      |       n_keys, n_pairs
      |FROM hist, tot
      |ORDER BY cnt DESC, l_partkey LIMIT 10""".stripMargin),
    doc = "engine: join-skew advisor for the co-purchase self-join key — exact key histogram, per-key estimated pair output, recommended salt factor vs a 32-task target. " +
      "SkewAdvisor: ONE map-side-combinable aggregate to the partkey histogram behind a Barrier; totals are a 1-row broadcast cross join; top-10 via global sort on the already-tiny frame; the profiled join never runs.")

  val all: Seq[Q] = Seq(q247)
}
