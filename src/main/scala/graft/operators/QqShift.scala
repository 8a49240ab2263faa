package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quantile-treatment-effect table (the QQ-shift view of q201's KS):
  * per decile, WHERE does the urgent-priority ship-delay distribution
  * sit versus low-priority? KS gives one number and one witness; the
  * decile table shows the whole shift profile — the
  * "effect-is-only-in-the-tail" pattern a mean difference (q200)
  * and a single distance both hide.
  *
  * Exactness: deciles are TYPE-1 (smallest value whose group CDF
  * reaches k/10, integer cross-multiplied f·10 ≥ k·n — no
  * interpolation, no division); the per-decile shift is an integer
  * subtraction. Everything lives on the bounded delay-domain frame.
  *
  * Scale shape: the corpus collapses once onto the delay-domain
  * frame (q201's aggregate); per-group CDFs are two bounded-frame
  * windows; decile election is a 9-way constant fanout with a
  * min-aggregate — rows out: 9.
  */
object QqShift {

  val q227 = Q(
    "q227_qq_decile_shift",
    (s, dir) => {
      import s.implicits._
      val delays = Tables.load(s, dir, "orders")
        .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
        .join(Tables.load(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
        .groupBy(datediff($"l_shipdate", $"o_orderdate").cast("long").as("d"))
        .agg(count_if($"o_orderpriority" === "1-URGENT").as("c1"),
          count_if($"o_orderpriority" === "5-LOW").as("c2"))
      val w = Window.orderBy($"d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = delays
        .withColumn("f1", sum($"c1").over(w))
        .withColumn("f2", sum($"c2").over(w))
      val tot = cum.agg(sum($"c1").as("n1"), sum($"c2").as("n2"))
      val ks = {
        import s.implicits._
        s.range(1, 10).select($"id".as("k"))
      }
      cum.crossJoin(broadcast(tot)).crossJoin(broadcast(ks))
        .groupBy($"k")
        .agg(min(when($"f1" * 10 >= $"k" * $"n1", $"d")).as("urgent_delay"),
          min(when($"f2" * 10 >= $"k" * $"n2", $"d")).as("low_delay"))
        .select($"k".as("decile"), $"urgent_delay", $"low_delay",
          ($"urgent_delay" - $"low_delay").as("shift_days"))
        .orderBy($"decile")
    },
    Some("""WITH delays AS (
      |  SELECT CAST(date_diff('day', CAST(o_orderdate AS DATE),
      |                        CAST(l_shipdate AS DATE)) AS BIGINT) AS d,
      |         COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS c1,
      |         COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS c2
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW') GROUP BY 1),
      |cum AS (
      |  SELECT d,
      |         SUM(c1) OVER (ORDER BY d
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
      |         SUM(c2) OVER (ORDER BY d
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
      |  FROM delays),
      |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
      |               CAST(SUM(c2) AS BIGINT) AS n2 FROM delays),
      |ks AS (SELECT CAST(UNNEST(range(1, 10)) AS BIGINT) AS k)
      |SELECT k AS decile,
      |       MIN(CASE WHEN f1 * 10 >= k * n1 THEN d END) AS urgent_delay,
      |       MIN(CASE WHEN f2 * 10 >= k * n2 THEN d END) AS low_delay,
      |       MIN(CASE WHEN f1 * 10 >= k * n1 THEN d END)
      |         - MIN(CASE WHEN f2 * 10 >= k * n2 THEN d END) AS shift_days
      |FROM cum, tot, ks GROUP BY 1 ORDER BY 1""".stripMargin),
    doc = "stats: per-decile QQ shift of ship delays, urgent vs low priority — type-1 integer deciles on the bounded delay domain, 9-row profile. " +
      "QQ shift: q201's delay-domain collapse; per-group CDFs via two bounded-frame windows; decile election is a 9-way constant fanout + min-aggregate — integer cross-multiplied type-1 quantiles, 9 rows out.")

  val all: Seq[Q] = Seq(q227)
}
