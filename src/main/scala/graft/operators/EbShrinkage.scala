package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Empirical-Bayes shrunk leaderboard (Robbins 1956; the beta-binomial
  * "how to rank by a rate without being fooled by small n" estimator):
  * each part's return rate shrinks toward the corpus rate with weight
  * n/(n+M), M = the mean lines-per-part — so a part with 2 lines and
  * 1 return no longer tops a part with 400 lines and 200 returns.
  * Reports the top-10 by SHRUNK rate with the raw rate and both
  * ranks, so the rank inversions the shrinkage fixed are visible —
  * the difference between a leaderboard and a noise generator.
  *
  * Exactness: rates ride as integer ppm — raw_ppm = a·10⁶ div n,
  * shrunk_ppm = (a·N + M·A)·10⁶ div (N·(n+M)) with a/n per part,
  * A/N global, M = ⌈N div P⌉ (all exact decimal/HUGEINT; positive
  * operands so div ≡ //); both rankings order (ppm DESC, part) — no
  * float compares anywhere.
  *
  * Scale shape: one map-side-combinable per-part aggregate; the
  * global (A, N, P, M) is a 1-row broadcast; both rank windows run
  * on the PART-bounded frame (dimension-sized, not corpus-sized);
  * top-10 via the rank filter. Products reach a·N ~ 10²⁰ at 100 TB —
  * decimal(38,0)/HUGEINT end to end.
  */
object EbShrinkage {

  val q215 = Q(
    "q215_eb_shrunk_rates",
    (s, dir) => {
      import s.implicits._
      val parts = graft.Barrier(Tables.load(s, dir, "lineitem")
        .groupBy($"l_partkey")
        .agg(count(lit(1)).as("n"),
          count_if($"l_returnflag" === "R").as("a")))
      val glob = parts.agg(sum($"n").as("nn"), sum($"a").as("aa"),
          count(lit(1)).as("p"))
        .withColumn("m", expr("(nn + p - 1) div p"))
      val scored = parts.crossJoin(broadcast(glob))
        .select($"l_partkey", $"n", $"a",
          expr("a * 1000000 div n").as("raw_ppm"),
          expr("cast((cast(a as decimal(38,0)) * nn + m * aa) * 1000000" +
            " div (cast(nn as decimal(38,0)) * (n + m)) as bigint)")
            .as("shrunk_ppm"))
      val wRaw = Window.orderBy($"raw_ppm".desc, $"l_partkey")
      val wShr = Window.orderBy($"shrunk_ppm".desc, $"l_partkey")
      scored.withColumn("raw_rank", row_number().over(wRaw))
        .withColumn("shrunk_rank", row_number().over(wShr))
        .filter($"shrunk_rank" <= 10)
        .select($"l_partkey", $"n", $"a", $"raw_ppm", $"shrunk_ppm",
          $"raw_rank", $"shrunk_rank")
        .orderBy($"shrunk_rank")
    },
    Some("""WITH parts AS (
      |  SELECT l_partkey, COUNT(*) AS n,
      |         CAST(COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT) AS a
      |  FROM lineitem GROUP BY 1),
      |gstats AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(a) AS BIGINT) AS aa,
      |         COUNT(*) AS p, (SUM(n) + COUNT(*) - 1) // COUNT(*) AS m
      |  FROM parts),
      |scored AS (
      |  SELECT l_partkey, n, a,
      |         a * 1000000 // n AS raw_ppm,
      |         CAST((CAST(a AS HUGEINT) * nn + m * aa) * 1000000
      |              // (CAST(nn AS HUGEINT) * (n + m)) AS BIGINT) AS shrunk_ppm
      |  FROM parts, gstats),
      |ranked AS (
      |  SELECT *,
      |         ROW_NUMBER() OVER (ORDER BY raw_ppm DESC, l_partkey) AS raw_rank,
      |         ROW_NUMBER() OVER (ORDER BY shrunk_ppm DESC, l_partkey)
      |           AS shrunk_rank
      |  FROM scored)
      |SELECT l_partkey, n, a, raw_ppm, shrunk_ppm,
      |       CAST(raw_rank AS INT) AS raw_rank,
      |       CAST(shrunk_rank AS INT) AS shrunk_rank
      |FROM ranked WHERE shrunk_rank <= 10 ORDER BY shrunk_rank""".stripMargin),
    doc = "stats: empirical-Bayes shrunk return-rate leaderboard (beta-binomial shrinkage toward the corpus rate, integer ppm, rank-inversion report). " +
      "EB shrinkage: one map-side per-part aggregate; global prior is a 1-row broadcast; both rank windows run on the PART-bounded frame; integer-ppm rates (a*N products ride decimal -- N^2 > int64 at scale).")

  val all: Seq[Q] = Seq(q215)
}
