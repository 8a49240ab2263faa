package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Two classic merchandising/CRM segmentations, both riding the
  * [[DistributedRank]] machinery (no one-task windows):
  *
  * q174 — ABC / Pareto classification (the 80-15-5 inventory rule):
  * parts ranked by descending revenue, class A while the cumulative
  * share is within 80%, B to 95%, C after — with per-class
  * population and revenue ledgers. The boundary rule is pinned
  * integer arithmetic with SMALL multipliers (cum·5 ≤ tot·4 for A,
  * cum·20 ≤ tot·19 for B) — no division, and the products stay under
  * 2⁶³ to ~4·10¹⁷ cumulative cents where a ppm product would cap out
  * three decades earlier.
  *
  * q175 — RFM segmentation (Hughes 1994): per customer Recency
  * (days since last order at study end), Frequency (order count) and
  * Monetary (total cents) quintiles — three DistributedRank passes —
  * composed into a 3-digit segment; the output is the segment
  * population ledger every CRM tool renders. Quintiles are exact
  * integer cuts of the rank (((rk−1)·5) div n + 1); recency ranks
  * ascending (lower days = better), F/M descending.
  */
object AbcRfm {

  /** q174 — ABC revenue classes over parts. */
  val q174 = Q(
    "q174_abc_classes",
    (s, dir) => {
      import s.implicits._
      val per = Tables.load(s, dir, "lineitem")
        .groupBy($"l_partkey")
        .agg(sum(expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)"))
          .as("cents"))
      val cum = DistributedRank.withPrefixSum(
        per, Seq($"cents".desc, $"l_partkey".asc), $"cents", "cum")
      val tot = cum.agg(sum($"cents").as("tot"))
      cum.crossJoin(broadcast(tot))
        // small-multiplier fractions (4/5, 19/20), not ppm products:
        // cum*1e6 would cross 2^63 near $9.2B of cumulative cents
        .withColumn("abc_class",
          when($"cum" * 5L <= $"tot" * 4L, "A")
            .when($"cum" * 20L <= $"tot" * 19L, "B")
            .otherwise("C"))
        .groupBy($"abc_class")
        .agg(count(lit(1)).as("n_parts"), sum($"cents").as("class_cents"),
          max($"tot").as("tot"))
        .select($"abc_class", $"n_parts",
          // decimal ppm product: class_cents·10⁶ crosses 2⁶³ at ~$92B
          // of class revenue — sf1 already holds ~$230B (caught by the
          // round-9 sf1 oracle run; the class-boundary rule above
          // stays small-multiplier long math)
          expr("(cast(class_cents as decimal(38,0)) * 1000000) div tot")
            .as("revenue_share_ppm"))
        .orderBy($"abc_class")
    },
    Some("""WITH per AS (
      |  SELECT l_partkey,
      |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM lineitem GROUP BY 1),
      |ranked AS (
      |  SELECT cents,
      |         CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
      |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM per),
      |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot FROM ranked),
      |cls AS (
      |  SELECT CASE WHEN cum * 5 <= tot * 4 THEN 'A'
      |              WHEN cum * 20 <= tot * 19 THEN 'B'
      |              ELSE 'C' END AS abc_class,
      |         cents, tot
      |  FROM ranked, t)
      |SELECT abc_class, COUNT(*) AS n_parts,
      |       CAST((CAST(SUM(cents) AS HUGEINT) * 1000000) // MAX(tot) AS BIGINT) AS revenue_share_ppm
      |FROM cls GROUP BY 1 ORDER BY abc_class""".stripMargin),
    doc = "merch: ABC/Pareto revenue classification — division-free class boundaries over a distributed prefix sum. " +
      "Distributed prefix sum over the revenue ordering; class boundaries are small-multiplier integer comparisons (cum*5 vs tot*4) — no division, no per-row broadcast-total ppm products near the long ceiling.")

  /** q175 — RFM quintile segment ledger. */
  val q175 = Q(
    "q175_rfm_segments",
    (s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
        .select($"o_custkey", to_date($"o_orderdate").as("d"),
          expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"))
      val studyEnd = o.agg(max($"d").as("endd"))
      // Barrier: all three quintile passes read this aggregate —
      // uncached, the orders groupBy would run three times
      val per = graft.Barrier(o.groupBy($"o_custkey")
        .agg(max($"d").as("last_d"), count(lit(1)).as("freq"),
          sum($"cents").as("money"))
        .crossJoin(broadcast(studyEnd))
        .select($"o_custkey",
          datediff($"endd", $"last_d").cast("long").as("rec_days"),
          $"freq", $"money"))
      // Customer count as a driver literal off the already-cut frame
      // (one tiny job; the former 1-row broadcast crossJoin per pass
      // serialized three dependent broadcast waves — the q203 stats
      // lesson), and the three quintile passes CHAINED (r13 — guide
      // §2.4, the q170 move): each pass ranks the previous pass's
      // output, so r_q/f_q/m_q ride the same row and the two former
      // customer-keyed sort-merge joins (four catalog-sized exchanges
      // + sorts) disappear. Rank values are unchanged — every pass
      // total-orders the same customer set by its own key.
      val nn = per.count()
      def quintile(df: org.apache.spark.sql.DataFrame,
                   sort: Seq[org.apache.spark.sql.Column], out: String,
                   keep: Seq[String]) =
        DistributedRank.withRowNumber(df, sort, out = "rk")
          .withColumn(out, expr(s"((rk - 1) * 5) div $nn + 1"))
          .select(keep.map(col) :+ col(out): _*)
      val r = quintile(per, Seq($"rec_days".asc, $"o_custkey".asc), "r_q",
        Seq("o_custkey", "freq", "money"))
      val f = quintile(r, Seq($"freq".desc, $"o_custkey".asc), "f_q",
        Seq("o_custkey", "money", "r_q"))
      val m = quintile(f, Seq($"money".desc, $"o_custkey".asc), "m_q",
        Seq("money", "r_q", "f_q"))
      m.groupBy($"r_q", $"f_q", $"m_q")
        .agg(count(lit(1)).as("n_customers"),
          sum($"money").as("segment_cents"))
        .orderBy($"r_q", $"f_q", $"m_q")
    },
    Some("""WITH o AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |se AS (SELECT MAX(d) AS endd FROM o),
      |per AS (
      |  SELECT o_custkey,
      |         CAST(date_diff('day', MAX(d), (SELECT endd FROM se)) AS BIGINT) AS rec_days,
      |         COUNT(*) AS freq,
      |         CAST(SUM(cents) AS BIGINT) AS money
      |  FROM o GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM per),
      |q AS (
      |  SELECT o_custkey, money,
      |         ((ROW_NUMBER() OVER (ORDER BY rec_days, o_custkey) - 1) * 5) // n.n + 1 AS r_q,
      |         ((ROW_NUMBER() OVER (ORDER BY freq DESC, o_custkey) - 1) * 5) // n.n + 1 AS f_q,
      |         ((ROW_NUMBER() OVER (ORDER BY money DESC, o_custkey) - 1) * 5) // n.n + 1 AS m_q
      |  FROM per, n)
      |SELECT r_q, f_q, m_q, COUNT(*) AS n_customers,
      |       CAST(SUM(money) AS BIGINT) AS segment_cents
      |FROM q GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q""".stripMargin),
    doc = "CRM: RFM quintile segmentation — three DistributedRank passes, exact integer quintile cuts. " +
      "Orders aggregate behind a Barrier feeds three CHAINED DistributedRank quintile passes (each ranks the previous pass's output, so r/f/m ride one row — the two customer-keyed sort-merge joins are gone, Exchange 46 -> 4 at sf0.001, r13); quintile cuts are exact integer rank arithmetic against a driver-literal count off the cut frame.")

  val all: Seq[Q] = Seq(q174, q175)
}
