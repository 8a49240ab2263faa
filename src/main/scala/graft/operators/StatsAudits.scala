package graft.operators

import graft.{Q, Tables}
import graft.text.TextQueries.{lqSql, lqDuck}
import org.apache.spark.sql.functions._

/** Two statistics-at-scale operators over the fact tables:
  *
  * q163 — mutual information between two categorical columns
  * (Shannon 1948; the column-dependency discovery pass a profiler
  * runs after q157's per-column entropies): MI(A;B) =
  * Σ p(a,b)·log2(p(a,b)/(p(a)·p(b))), carried in the engine-shared
  * quantized log2 as exact longs. Because the QUANTIZED sum can dip
  * a few ulps below zero when the columns are independent (true MI
  * ≥ 0, its fixed-point shadow not quite), the integer division
  * rides a +OFFSET shift — Spark `div` truncates toward zero while
  * DuckDB `//` floors, so a possibly-negative numerator would
  * diverge between engines exactly at the interesting boundary (the
  * q142 lesson, designed out the same way).
  *
  * q164 — Poisson bootstrap of the mean (Chamandy et al. 2012, the
  * resampling scheme that works in one pass on a distributed corpus:
  * per-replicate multiplicities are INDEPENDENT per row, so no
  * sampling shuffle exists at all): each row contributes
  * k ~ Poisson(1) copies to each of B replicates, with k drawn by
  * inverting the pinned fixed-point CDF on a 20-bit md5 uniform —
  * deterministic, engine-identical, and the replicate spread is the
  * standard error a single pass cannot otherwise see.
  *
  * Scale shape: q163's cell/marginal frames are |A|·|B|-bounded after
  * one map-side-combinable aggregate. q164 is ONE aggregate over a
  * B-way in-row explode (B = 16 constant); replicate frames are
  * B rows. Neither collects, neither shuffles more than once.
  */
object StatsAudits {

  private val Off = 134217728L // 128·2^20: > any |negative MI shadow|

  /** q163 — MI between order priority and status. */
  val q163 = Q(
    "q163_mutual_information",
    (s, dir) => {
      import s.implicits._
      val cells = Tables.load(s, dir, "orders")
        .groupBy($"o_orderpriority".as("a"), $"o_orderstatus".as("b"))
        .agg(count(lit(1)).as("cab"))
      val ma = cells.groupBy($"a").agg(sum($"cab").as("ca"))
      val mb = cells.groupBy($"b").agg(sum($"cab").as("cb"))
      val n = cells.agg(sum($"cab").as("n"))
      cells.join(broadcast(ma), "a").join(broadcast(mb), "b")
        .crossJoin(broadcast(n))
        .agg(max($"n").as("n"),
          sum(expr(s"cab * (${lqSql("cab")} + ${lqSql("n")} - ${lqSql("ca")} - ${lqSql("cb")})"))
            .as("s"))
        .select($"n", $"s".as("mi_sum_log2q"),
          expr(s"((s + n * $Off) div n) - $Off").as("mi_q"))
    },
    Some(s"""WITH cells AS (
      |  SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*) AS cab
      |  FROM orders GROUP BY 1, 2),
      |ma AS (SELECT a, CAST(SUM(cab) AS BIGINT) AS ca FROM cells GROUP BY 1),
      |mb AS (SELECT b, CAST(SUM(cab) AS BIGINT) AS cb FROM cells GROUP BY 1),
      |n AS (SELECT CAST(SUM(cab) AS BIGINT) AS n FROM cells),
      |agg AS (
      |  SELECT MAX(n.n) AS n,
      |         CAST(SUM(cab * (${lqDuck("cab")} + ${lqDuck("n.n")} - ${lqDuck("ca")} - ${lqDuck("cb")})) AS BIGINT) AS s
      |  FROM cells JOIN ma USING (a) JOIN mb USING (b), n)
      |SELECT n, s AS mi_sum_log2q, ((s + n * $Off) // n) - $Off AS mi_q
      |FROM agg""".stripMargin),
    doc = "profile: quantized-log2 mutual information between two categorical columns (dependency discovery)")

  /** Poisson(1) CDF thresholds ⌊F(k)·2²⁰⌋, k = 0..9 (tail mass past
    * k = 9 is ~10⁻⁷ — the 20-bit uniform can land there; it maps to 9).
    */
  private val PoisCdf =
    Seq(385749L, 771499L, 964373L, 1028665L, 1044738L, 1047952L,
      1048488L, 1048565L, 1048574L)

  private def poisCaseSql(u: String): String =
    PoisCdf.zipWithIndex.map { case (t, k) => s"WHEN $u < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 9 END")

  private val B = 16

  /** q164 — Poisson-bootstrap replicate ledger of mean order value. */
  val q164 = Q(
    "q164_poisson_bootstrap",
    (s, dir) => {
      import s.implicits._
      val drawn = Tables.load(s, dir, "orders")
        .select($"o_orderkey",
          expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)").as("cents"))
        .select($"o_orderkey", $"cents", explode(expr(s"sequence(0, ${B - 1})")).as("b"))
        .withColumn("u", expr(
          graft.functions.Md5Prefix.sql("concat(cast(o_orderkey as string), '#', cast(b as string))", 5)))
        .withColumn("k", expr(poisCaseSql("u")))
      drawn.groupBy($"b")
        .agg(sum($"k").as("n_b"), sum($"k" * $"cents").as("sum_cents"))
        .select($"b", $"n_b", $"sum_cents",
          expr("sum_cents div n_b").as("mean_cents"))
        .orderBy($"b")
    },
    Some(s"""WITH drawn AS (
      |  SELECT b, u, ${poisCaseSql("u")} AS k, cents
      |  FROM (
      |    SELECT o_orderkey, b,
      |           CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '#' || CAST(b AS VARCHAR)), 1, 5)) AS BIGINT) AS u,
      |           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |    FROM orders, (SELECT UNNEST(generate_series(0, ${B - 1})) AS b)))
      |SELECT b, CAST(SUM(k) AS BIGINT) AS n_b,
      |       CAST(SUM(k * cents) AS BIGINT) AS sum_cents,
      |       CAST(SUM(k * cents) AS BIGINT) // CAST(SUM(k) AS BIGINT) AS mean_cents
      |FROM drawn GROUP BY b ORDER BY b""".stripMargin),
    doc = "stats: one-pass Poisson bootstrap — B=16 deterministic replicate means of order value, no sampling shuffle")

  /** q180 — Pearson's χ² independence statistic for the q163 column
    * pair, with per-cell integer-ppm terms: χ²_ppm(cell) =
    * (o·n − ca·cb)²·10⁶ div (n·ca·cb), each an EXACT integer (the
    * squared numerator rides DECIMAL(38,0) — o·n alone is ~2·10¹⁰ at
    * sf0.1 and its square is past 2⁶³), summed exactly — so the
    * statistic is order-insensitive and bit-identical across engines
    * where a sum of per-cell IEEE doubles would depend on aggregation
    * order. Emits the statistic and the degrees of freedom; the
    * critical-value lookup is the caller's table (no incomplete-gamma
    * in either engine's exact surface).
    */
  val q180 = Q(
    "q180_chi_square",
    (s, dir) => {
      import s.implicits._
      val cells = Tables.load(s, dir, "orders")
        .groupBy($"o_orderpriority".as("a"), $"o_orderstatus".as("b"))
        .agg(count(lit(1)).as("cab"))
      val ma = cells.groupBy($"a").agg(sum($"cab").as("ca"))
      val mb = cells.groupBy($"b").agg(sum($"cab").as("cb"))
      val n = cells.agg(sum($"cab").as("n"),
        count_distinct($"a").as("da"), count_distinct($"b").as("db"))
      cells.join(broadcast(ma), "a").join(broadcast(mb), "b")
        .crossJoin(broadcast(n))
        .select($"cab", $"ca", $"cb", $"n", $"da", $"db",
          expr("cast(cab as decimal(38,0)) * n - cast(ca as decimal(38,0)) * cb")
            .as("dev"))
        .agg(max($"n").as("n"),
          max(($"da" - 1) * ($"db" - 1)).as("dof"),
          // div (IntegralDivide), NOT decimal "/": Spark decimal
          // division rounds HALF_UP at the result scale where DuckDB
          // // floors — div truncates, and both operands are
          // non-negative, so trunc ≡ floor
          sum(expr(
            "(dev * dev * 1000000) div (cast(n as decimal(38,0)) * ca * cb)"))
            .cast("long").as("chi2_ppm"))
    },
    Some("""WITH cells AS (
      |  SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*) AS cab
      |  FROM orders GROUP BY 1, 2),
      |ma AS (SELECT a, CAST(SUM(cab) AS BIGINT) AS ca FROM cells GROUP BY 1),
      |mb AS (SELECT b, CAST(SUM(cab) AS BIGINT) AS cb FROM cells GROUP BY 1),
      |nn AS (SELECT CAST(SUM(cab) AS BIGINT) AS n,
      |              COUNT(DISTINCT a) AS da, COUNT(DISTINCT b) AS db
      |       FROM cells),
      |terms AS (
      |  SELECT n, (da - 1) * (db - 1) AS dof,
      |         CAST(cab AS HUGEINT) * n - CAST(ca AS HUGEINT) * cb AS dev,
      |         ca, cb
      |  FROM cells JOIN ma USING (a) JOIN mb USING (b), nn)
      |SELECT MAX(n) AS n, MAX(dof) AS dof,
      |       CAST(SUM((dev * dev * 1000000) // (CAST(n AS HUGEINT) * ca * cb)) AS BIGINT) AS chi2_ppm
      |FROM terms""".stripMargin),
    doc = "stats: Pearson chi-square independence — decimal-exact per-cell ppm terms, order-insensitive sum")

  val all: Seq[Q] = Seq(q163, q164, q180)
}
