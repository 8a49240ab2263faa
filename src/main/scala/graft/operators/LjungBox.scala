package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ljung-Box portmanteau whiteness test (Ljung & Box 1978) — are the
  * day-over-day revenue CHANGES white noise, or is there structure
  * left across the first 7 lags jointly? q176 reports individual
  * autocorrelations and q235's Durbin-Watson tests exactly lag 1;
  * this is the joint m-lag test every forecasting residual check runs
  * (Q ≫ χ²₇ says "the naive differencing left signal on the table").
  *
  * Determinism: the differenced series is exact cents; each lag-k
  * autocorrelation is built from N²-CLEARED exact cores — n²Σx·x′ −
  * nS·Σ(x+x′) + (n−k)S² over the lag-k pair set and n²Σx² − nS² for
  * the denominator — decimal(38,0) ↔ HUGEINT throughout, so every
  * ρ_k is ONE IEEE division of two exact integers. The 7-term
  * Σρ²/(n−k) folds in explicit lag order (q202 pattern).
  *
  * Scale shape: the corpus collapses to the |days| frame in ONE
  * map-side-combinable aggregate; diff/lag windows and the 7-lag
  * stack run on that calendar-bounded frame (~2500 rows — the
  * q176/q209 bounded-frame stance), compressed immediately to a
  * 7-row per-lag sufficient-statistic table. Row-based lags assume a
  * contiguous day series; both engines evaluate the same row-based
  * definition either way.
  */
object LjungBox {

  private val MaxLag = 7

  val q274 = Q(
    "q274_ljung_box",
    (s, dir) => {
      import s.implicits._
      val ord = Window.orderBy($"day")
      val x = Tables.load(s, dir, "orders")
        .groupBy(to_date($"o_orderdate").as("day"))
        .agg(sum((graft.Q.money($"o_totalprice") * 100).cast("long")).as("y"))
        .withColumn("x", $"y" - lag($"y", 1).over(ord))
        .filter($"x".isNotNull)
      val lagged = x.select(
        Seq($"day", $"x") ++
          (1 to MaxLag).map(k => lag($"x", k).over(ord).as(s"xl$k")): _*)
      // cast BEFORE the square: x·x as long overflows once daily cent
      // diffs pass ~3·10⁹ (bit at sf1 — the DuckDB side always
      // multiplied in HUGEINT, so this was a silent parity hazard)
      val glob = x.agg(count(lit(1)).as("n"),
        sum($"x".cast("decimal(38,0)")).as("sx"),
        sum($"x".cast("decimal(38,0)") * $"x").as("sxx"))
      val pairs = lagged.select($"x", explode(array(
          (1 to MaxLag).map(k =>
            struct(lit(k).as("k"), col(s"xl$k").as("xl"))): _*)).as("z"))
        .select($"x", $"z.k".as("k"), $"z.xl".as("xl"))
        .filter($"xl".isNotNull)
        .groupBy($"k")
        .agg(count(lit(1)).as("np"),
          sum($"x".cast("decimal(38,0)") * $"xl").as("sxy"),
          sum(($"x" + $"xl").cast("decimal(38,0)")).as("sboth"))
      val rho = pairs.crossJoin(broadcast(glob))
        .withColumn("ck", expr(
          "cast(n as decimal(38,0)) * n * sxy - cast(n as decimal(38,0)) * sx * sboth"
            + " + cast(np as decimal(38,0)) * sx * sx"))
        .withColumn("c0", expr(
          "cast(n as decimal(38,0)) * n * sxx - cast(n as decimal(38,0)) * sx * sx"))
        .withColumn("rho", expr(
          "cast(ck as double) / nullif(cast(c0 as double), 0D)"))
        .withColumn("term", expr(
          "rho * rho / cast(n - k as double)"))
      rho
        .agg(first($"n").as("n"),
          max(when($"k" === 1, $"rho")).as("rho1"),
          max(when($"k" === 2, $"rho")).as("rho2"),
          max(when($"k" === 3, $"rho")).as("rho3"),
          collect_list(struct($"k", $"term")).as("ts"))
        .withColumn("ssum", expr(
          "aggregate(sort_array(ts), cast(0 as double), (acc, x) -> acc + x.term)"))
        .select($"n", $"rho1", $"rho2", $"rho3",
          expr("cast(n as double) * (cast(n as double) + 2D) * ssum").as("lb_q7"))
    },
    Some(s"""WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |diffs AS (
      |  SELECT day, y - LAG(y, 1) OVER (ORDER BY day) AS x FROM daily),
      |x AS (SELECT day, x FROM diffs WHERE x IS NOT NULL),
      |gstats AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |         SUM(CAST(x AS HUGEINT)) AS sx,
      |         SUM(CAST(x AS HUGEINT) * x) AS sxx
      |  FROM x),
      |lagged AS (
      |  SELECT x, ${(1 to MaxLag).map(k => s"LAG(x, $k) OVER (ORDER BY day) AS xl$k").mkString(", ")}
      |  FROM x),
      |pairs AS (
      |  ${(1 to MaxLag).map(k =>
           s"SELECT $k AS k, CAST(COUNT(*) AS BIGINT) AS np, SUM(CAST(x AS HUGEINT) * xl$k) AS sxy, SUM(CAST(x + xl$k AS HUGEINT)) AS sboth FROM lagged WHERE xl$k IS NOT NULL")
           .mkString("\n      |  UNION ALL ")}),
      |rho AS (
      |  SELECT k, n,
      |         CAST(CAST(n AS HUGEINT) * n * sxy - CAST(n AS HUGEINT) * sx * sboth
      |              + CAST(np AS HUGEINT) * sx * sx AS DOUBLE)
      |           / NULLIF(CAST(CAST(n AS HUGEINT) * n * sxx
      |              - CAST(n AS HUGEINT) * sx * sx AS DOUBLE), 0e0) AS rho
      |  FROM pairs CROSS JOIN gstats),
      |folded AS (
      |  SELECT MIN(n) AS n,
      |         MAX(CASE WHEN k = 1 THEN rho END) AS rho1,
      |         MAX(CASE WHEN k = 2 THEN rho END) AS rho2,
      |         MAX(CASE WHEN k = 3 THEN rho END) AS rho3,
      |         list_reduce(list(rho * rho / CAST(n - k AS DOUBLE) ORDER BY k),
      |           (a, b) -> a + b) AS ssum
      |  FROM rho)
      |SELECT n, rho1, rho2, rho3,
      |       CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2e0) * ssum AS lb_q7
      |FROM folded""".stripMargin),
    doc = "timeseries: Ljung-Box Q over 7 lags of day-over-day revenue changes — N2-cleared exact autocorrelation cores, ordered 7-term fold, joint whiteness statistic. " +
      "ONE day aggregate bounds everything after at |days| rows; the 7-lag stack compresses to a 7-row sufficient-statistic table; N2-cleared decimal cores make each rho one IEEE division; ordered 7-term fold.")

  val all: Seq[Q] = Seq(q274)
}
