package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classical statistical inference at corpus scale — the four tests an
  * analytics engine is asked for the moment it ships means (every one
  * reduces to exact integer/decimal sufficient statistics plus ONE
  * mirrored IEEE epilogue, the engine's cross-engine-determinism
  * stance: no libm transcendentals except correctly-rounded sqrt):
  *
  *   q199 — per-group OLS regression (slope/intercept/R² of revenue
  *          on order date): the trend line behind every "is revenue
  *          growing" question, from the five raw moment sums.
  *   q200 — Mann-Whitney U rank-sum test (two-sample, tie-corrected):
  *          the distribution-free "are these two samples the same"
  *          answer a t-test can't give on skewed money/quantity data.
  *   q201 — two-sample Kolmogorov-Smirnov distance with the witness
  *          point: WHERE two distributions diverge, not just whether.
  *   q202 — one-way ANOVA F statistic: the k-group generalization
  *          gatekeeping every segment-comparison dashboard.
  *
  * Determinism: every sufficient statistic is an exact integer
  * (cents, day indexes, rank doublings — ties carry 2×rank so
  * half-ranks stay integral) summed through decimal on the Spark side
  * and HUGEINT on the oracle side (the q180 DECIMAL(38,0)-is-inexact
  * lesson); the final slope/z/D/F arithmetic is the IDENTICAL
  * double expression in both engines (casts of exact integers are
  * correctly rounded, +,-,*,/ and sqrt are IEEE-exact). Where a sum
  * over GROUPS of double terms is needed (q202's Σ S_g²/n_g), the sum
  * runs as an ORDERED window prefix over the k-row group frame —
  * identical association order in both engines, immune to shuffle.
  *
  * Scale shape: each test is one map-side-combinable aggregate over
  * the fact scan down to a frame bounded by the VALUE DOMAIN (50
  * quantities, ~5k delay days, 5 segments) — the rank/CDF windows
  * never sort the corpus, only that bounded frame. q199/q202 moment
  * sums hold exactness to ~10¹⁰ rows in decimal(38,0)/HUGEINT;
  * past that the documented remedy is widening the decimal headroom,
  * not a silent drift.
  */
object StatTests {

  /** q199 — per-segment OLS of order revenue (cents) on order date
    * (days since 1995-01-01). Five exact moment sums per segment, then
    * the closed-form slope/intercept/R² mirrored as doubles.
    */
  val q199 = Q(
    "q199_ols_trend",
    (s, dir) => {
      import s.implicits._
      val pts = Tables.maybeBroadcast(Tables.load(s, dir, "customer"))
        .join(Tables.load(s, dir, "orders"), $"c_custkey" === $"o_custkey")
        .select($"c_mktsegment",
          datediff($"o_orderdate", lit("1995-01-01").cast("date"))
            .cast("long").as("x"),
          (graft.Q.money($"o_totalprice") * 100).cast("long").as("y"))
      val sums = pts.groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum($"x".cast("decimal(38,0)")).as("sx"),
          sum($"y".cast("decimal(38,0)")).as("sy"),
          sum(($"x" * $"x").cast("decimal(38,0)")).as("sxx"),
          sum(($"x" * $"y").cast("decimal(38,0)")).as("sxy"),
          sum(($"y" * $"y").cast("decimal(38,0)")).as("syy"))
      sums.select($"c_mktsegment", $"n",
          ($"n".cast("double") * $"sxy".cast("double")
            - $"sx".cast("double") * $"sy".cast("double")).as("num"),
          ($"n".cast("double") * $"sxx".cast("double")
            - $"sx".cast("double") * $"sx".cast("double")).as("denx"),
          ($"n".cast("double") * $"syy".cast("double")
            - $"sy".cast("double") * $"sy".cast("double")).as("deny"),
          $"sx".cast("double").as("sxd"), $"sy".cast("double").as("syd"))
        .select($"c_mktsegment", $"n",
          ($"num" / $"denx").as("slope_cents_per_day"),
          (($"syd" - ($"num" / $"denx") * $"sxd") / $"n".cast("double"))
            .as("intercept_cents"),
          ($"num" * $"num" / ($"denx" * $"deny")).as("r2"))
        .orderBy($"c_mktsegment")
    },
    Some("""WITH pts AS (
      |  SELECT c_mktsegment,
      |         CAST(date_diff('day', DATE '1995-01-01',
      |                        CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
      |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |  FROM customer JOIN orders ON c_custkey = o_custkey),
      |sums AS (
      |  SELECT c_mktsegment, COUNT(*) AS n,
      |         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |         SUM(CAST(x * x AS HUGEINT)) AS sxx,
      |         SUM(CAST(x * y AS HUGEINT)) AS sxy,
      |         SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
      |  FROM pts GROUP BY 1),
      |parts AS (
      |  SELECT c_mktsegment, n,
      |         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
      |         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
      |         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny,
      |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM sums)
      |SELECT c_mktsegment, n,
      |       num / denx AS slope_cents_per_day,
      |       (syd - (num / denx) * sxd) / CAST(n AS DOUBLE) AS intercept_cents,
      |       num * num / (denx * deny) AS r2
      |FROM parts ORDER BY c_mktsegment""".stripMargin),
    doc = "stats: per-segment OLS revenue trend (slope/intercept/R² from exact decimal moment sums, mirrored IEEE epilogue). " +
      "OLS trend: one broadcast dim join + ONE map-side-combinable five-moment aggregate (exact decimal sums); slope/intercept/R^2 are a 5-row epilogue. No second pass, no window.")

  /** q200 — Mann-Whitney U on l_quantity between returned ('R') and
    * accepted ('A') line items, tie-corrected normal approximation.
    * Ranks ride as 2×rank integers so tied half-ranks stay exact; the
    * rank window runs over the ≤50-row quantity-domain frame.
    */
  val q200 = Q(
    "q200_mann_whitney_u",
    (s, dir) => {
      import s.implicits._
      val v = Tables.load(s, dir, "lineitem")
        .filter($"l_returnflag".isin("R", "A"))
        .groupBy($"l_quantity".cast("int").as("v"))
        .agg(count_if($"l_returnflag" === "R").as("c1"),
          count_if($"l_returnflag" === "A").as("c2"))
        .withColumn("t", $"c1" + $"c2")
      val w = Window.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = v.withColumn("cumt", coalesce(sum($"t").over(w), lit(0L)))
        .withColumn("rank2", lit(2L) * $"cumt" + $"t" + 1L)
      val agg = ranked.agg(
        sum($"c1").as("n1"), sum($"c2").as("n2"),
        sum($"c1".cast("decimal(38,0)") * $"rank2").as("r1_2"),
        sum($"t".cast("decimal(38,0)") * $"t" * $"t" - $"t").as("ties"),
        count_if($"t" > 1).as("tied_values"))
      agg.select($"n1", $"n2", $"tied_values",
          (($"r1_2".cast("double") - $"n1".cast("double")
            * ($"n1" + 1L).cast("double")) / 2.0).as("u1"),
          $"n1".cast("double").as("n1d"), $"n2".cast("double").as("n2d"),
          ($"n1" + $"n2").cast("double").as("nd"),
          $"ties".cast("double").as("td"))
        .select($"n1", $"n2", $"tied_values", $"u1".as("u_stat"),
          (($"u1" - $"n1d" * $"n2d" / 2.0)
            / sqrt($"n1d" * $"n2d" / 12.0
              * (($"nd" + 1.0) - $"td" / ($"nd" * ($"nd" - 1.0)))))
            .as("z_score"))
    },
    Some("""WITH per_v AS (
      |  SELECT CAST(l_quantity AS INT) AS v,
      |         COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS c1,
      |         COUNT(CASE WHEN l_returnflag = 'A' THEN 1 END) AS c2
      |  FROM lineitem WHERE l_returnflag IN ('R', 'A') GROUP BY 1),
      |ranked AS (
      |  SELECT c1, c2, c1 + c2 AS t,
      |         2 * COALESCE(SUM(c1 + c2) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |           + (c1 + c2) + 1 AS rank2
      |  FROM per_v),
      |agg AS (
      |  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
      |         SUM(CAST(c1 AS HUGEINT) * rank2) AS r1_2,
      |         SUM(CAST(t AS HUGEINT) * t * t - t) AS ties,
      |         CAST(COUNT(CASE WHEN t > 1 THEN 1 END) AS BIGINT) AS tied_values
      |  FROM ranked),
      |mid AS (
      |  SELECT n1, n2, tied_values,
      |         (CAST(r1_2 AS DOUBLE) - CAST(n1 AS DOUBLE)
      |            * CAST(n1 + 1 AS DOUBLE)) / 2.0 AS u1,
      |         CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
      |         CAST(n1 + n2 AS DOUBLE) AS nd, CAST(ties AS DOUBLE) AS td
      |  FROM agg)
      |SELECT n1, n2, tied_values, u1 AS u_stat,
      |       (u1 - n1d * n2d / 2.0)
      |         / sqrt(n1d * n2d / 12.0
      |             * ((nd + 1.0) - td / (nd * (nd - 1.0)))) AS z_score
      |FROM mid""".stripMargin),
    doc = "stats: tie-corrected Mann-Whitney U rank-sum test on quantity between returned vs accepted lines (2x-rank integers, domain-bounded rank window). " +
      "Mann-Whitney: corpus collapses to the <=50-row quantity-domain frame map-side; the rank window runs on that bounded frame (2x-rank integers keep tied half-ranks exact); one 1-row epilogue.")

  /** q201 — two-sample KS distance between ship-delay distributions of
    * urgent vs low-priority orders, with the witness delay (smallest
    * argmax). D rides as the exact integer |F1·N2 − F2·N1| until the
    * final division.
    */
  val q201 = Q(
    "q201_ks_two_sample",
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
      cum.crossJoin(broadcast(tot))
        .select($"n1", $"n2",
          abs($"f1" * $"n2" - $"f2" * $"n1").as("dn"), $"d")
        .groupBy($"n1", $"n2")
        .agg(max(struct($"dn", (-$"d").as("nd"))).as("w"))
        .select($"n1", $"n2", $"w.dn".as("d_numer"),
          ($"w.dn".cast("double")
            / ($"n1".cast("double") * $"n2".cast("double"))).as("ks_d"),
          (-$"w.nd").as("at_delay_days"))
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
      |scored AS (
      |  SELECT n1, n2, CAST(abs(f1 * n2 - f2 * n1) AS BIGINT) AS dn, d
      |  FROM cum, tot),
      |best AS (
      |  SELECT n1, n2, dn AS d_numer, d AS at_delay_days,
      |         ROW_NUMBER() OVER (ORDER BY dn DESC, d) AS rn
      |  FROM scored)
      |SELECT n1, n2, d_numer,
      |       CAST(d_numer AS DOUBLE)
      |         / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS ks_d,
      |       at_delay_days
      |FROM best WHERE rn = 1""".stripMargin),
    doc = "stats: two-sample Kolmogorov-Smirnov distance on ship delays, urgent vs low priority, with the exact-integer witness argmax. " +
      "KS: fact-fact equi-join collapses to the delay-domain frame in the same aggregate; CDFs via one bounded-frame window; the max-gap election is a struct-max on exact integer numerators.")

  /** q202 — one-way ANOVA F across the five market segments on order
    * cents. The only cross-group double sum (Σ S_g²/n_g) runs as an
    * ordered LEFT-FOLD over the collected k-row group frame
    * (`aggregate(sort_array(...))` ↔ `list_reduce(list(... ORDER
    * BY))`) so both engines associate identically — a windowed SUM
    * would not: DuckDB evaluates window aggregates with a segment
    * tree whose association order differs from left-to-right (the
    * q222 lesson).
    */
  val q202 = Q(
    "q202_anova_f",
    (s, dir) => {
      import s.implicits._
      val grp = Tables.maybeBroadcast(Tables.load(s, dir, "customer"))
        .join(Tables.load(s, dir, "orders"), $"c_custkey" === $"o_custkey")
        .select($"c_mktsegment",
          (graft.Q.money($"o_totalprice") * 100).cast("long").as("y"))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("ng"),
          sum($"y".cast("decimal(38,0)")).as("sg"),
          sum(($"y" * $"y").cast("decimal(38,0)")).as("qg"))
      val agg = grp.withColumn("term",
          $"sg".cast("double") * $"sg".cast("double") / $"ng".cast("double"))
        .agg(count(lit(1)).as("k"), sum($"ng").as("n"),
          sum($"sg").as("s"), sum($"qg").as("q"),
          collect_list(struct($"c_mktsegment".as("g"), $"term".as("t")))
            .as("ts"))
        .withColumn("sterms", expr(
          "aggregate(sort_array(ts), cast(0 as double)," +
            " (acc, x) -> acc + x.t)"))
      agg.select($"k", $"n",
          ($"sterms" - $"s".cast("double") * $"s".cast("double")
            / $"n".cast("double")).as("ssb"),
          ($"q".cast("double") - $"sterms").as("ssw"))
        .select($"k", $"n", $"ssb", $"ssw",
          (($"ssb" / ($"k" - 1L).cast("double"))
            / ($"ssw" / ($"n" - $"k").cast("double"))).as("f_stat"))
    },
    Some("""WITH grp AS (
      |  SELECT c_mktsegment, COUNT(*) AS ng,
      |         SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |                       AS BIGINT) AS HUGEINT)) AS sg,
      |         SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |                       AS BIGINT) AS HUGEINT)
      |             * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |                    AS BIGINT)) AS qg
      |  FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY 1),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ng) AS BIGINT) AS n,
      |         SUM(sg) AS s, SUM(qg) AS q,
      |         list_reduce(
      |           list(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
      |                / CAST(ng AS DOUBLE) ORDER BY c_mktsegment),
      |           (a, b) -> a + b) AS sterms
      |  FROM grp)
      |SELECT k, n,
      |       sterms - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
      |         / CAST(n AS DOUBLE) AS ssb,
      |       CAST(q AS DOUBLE) - sterms AS ssw,
      |       ((sterms - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
      |           / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
      |       / ((CAST(q AS DOUBLE) - sterms) / CAST(n - k AS DOUBLE))
      |         AS f_stat
      |FROM agg""".stripMargin),
    doc = "stats: one-way ANOVA F across market segments on order cents (exact group moments, ordered-prefix cross-group epilogue). " +
      "ANOVA: one broadcast dim join + one map-side-combinable group-moment aggregate (5 rows); the only cross-group double sum runs as an ordered LEFT-FOLD over the collected group frame (windowed SUM would inherit DuckDB's segment-tree association).")

  val all: Seq[Q] = Seq(q199, q200, q201, q202)
}
