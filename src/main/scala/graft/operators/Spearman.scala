package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Spearman rank agreement between two part rankings — revenue rank
  * vs order-count rank (Spearman 1904): does VOLUME popularity agree
  * with VALUE popularity across the catalog, the rank-space question
  * q25's Pearson (on raw values) cannot answer robustly. Ranks are
  * row numbers under a deterministic tiebreak (metric desc, key asc) —
  * the tie-broken variant, stated rather than the averaged-ties
  * classic, so the statistic is exactly reproducible.
  *
  * Exactness: both rankings run through
  * [[DistributedRank.withRowNumber]] (range sort + offsets, no
  * one-task window), d² sums are exact longs (Σd² < 2⁶³ to n ≈ 10⁶
  * catalog items… and beyond: n·n²), and ρ = 1 − 6Σd²/(n(n²−1)) is
  * ONE IEEE expression over those integers, identical in both
  * engines.
  *
  * Scale shape: the corpus collapses to per-part (revenue, orders) in
  * one aggregate; two range-sort rank passes over the catalog-sized
  * frame; one join on the part key; one final fold.
  */
object Spearman {

  /** q170 — volume-vs-value rank agreement over parts. */
  val q170 = Q(
    "q170_spearman_ranks",
    (s, dir) => {
      import s.implicits._
      // Barrier: BOTH rank passes read this corpus-sized aggregate —
      // uncached, the lineitem groupBy (and its count_distinct expand)
      // would run twice
      val per = graft.Barrier(Tables.load(s, dir, "lineitem")
        .groupBy($"l_partkey")
        .agg(sum(expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)"))
          .as("cents"),
          count_distinct($"l_orderkey").as("orders")))
      // CHAINED rank passes (r13 — guide §2.4): the second pass ranks
      // the FIRST pass's output, so r_rev and r_vol ride the same row
      // and the former byRev⋈byVol sort-merge join (two catalog-sized
      // exchanges + sorts) disappears — the d² fold reads the second
      // pass's frame directly. Rank values are unchanged: each pass
      // total-orders the same catalog rows by its own key.
      val byRev = DistributedRank.withRowNumber(
        per, Seq($"cents".desc, $"l_partkey".asc), out = "r_rev")
        .select($"l_partkey", $"orders", $"r_rev")
      val both = DistributedRank.withRowNumber(
        byRev, Seq($"orders".desc, $"l_partkey".asc), out = "r_vol")
      both
        .select((($"r_rev" - $"r_vol") * ($"r_rev" - $"r_vol")).as("d2"))
        .agg(count(lit(1)).as("n"), sum($"d2").as("sd2"))
        .select($"n", $"sd2",
          (lit(1.0) - lit(6.0) * $"sd2".cast("double") /
            ($"n".cast("double") * ($"n".cast("double") * $"n".cast("double") - lit(1.0))))
            .as("spearman_rho"))
    },
    Some("""WITH per AS (
      |  SELECT l_partkey,
      |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents,
      |         COUNT(DISTINCT l_orderkey) AS orders
      |  FROM lineitem GROUP BY 1),
      |ranked AS (
      |  SELECT l_partkey,
      |         ROW_NUMBER() OVER (ORDER BY cents DESC, l_partkey) AS r_rev,
      |         ROW_NUMBER() OVER (ORDER BY orders DESC, l_partkey) AS r_vol
      |  FROM per),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |         CAST(SUM((r_rev - r_vol) * (r_rev - r_vol)) AS BIGINT) AS sd2
      |  FROM ranked)
      |SELECT n, sd2,
      |       1.0 - 6.0 * CAST(sd2 AS DOUBLE) /
      |         (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0)) AS spearman_rho
      |FROM m""".stripMargin),
    doc = "stats: Spearman volume-vs-value rank agreement — DistributedRank passes, exact integer d2 core. " +
      "Per-part aggregate built ONCE behind a Barrier (the count_distinct expand is the expensive pass), then two CHAINED DistributedRank range-sort passes — the second ranks the first's output so both ranks ride one row and the former part-key sort-merge join (2 exchanges + sorts) is gone (r13); no one-task windows.")

  val all: Seq[Q] = Seq(q170)
}
