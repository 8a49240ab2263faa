package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cook's distance influence diagnostics (Cook 1977) for the
  * daily-revenue OLS trend — the "which days own this slope" question
  * that closes the q199/q235/q238 regression-diagnostics ladder: a
  * residual test says the fit is strained; Cook's D names the exact
  * observations whose deletion would move the fit most, which is what
  * an analyst actually acts on (audit THOSE days before trusting the
  * trend). Reports the top-10 most influential days.
  *
  * Closed forms (simple regression, p = 2): leverage
  * h_t = 1/n + (x_t − x̄)²/Sxx_c with Sxx_c = Σ(x − x̄)², and
  * D_t = e_t²·h_t / (p·s²·(1−h_t)²) with s² = SSE/(n−2).
  *
  * Exactness: the fit and x̄/Sxx_c come from the exact decimal/HUGEINT
  * moments (Sxx_c = (n·Sxx − Sx²)/n as one mirrored IEEE expression);
  * residuals are identical doubles; SSE is a sum of double terms so
  * it runs as an ordered left-fold (the q235 discipline); every D_t
  * is then the identical IEEE expression per day. Top-10 selection
  * compares identical doubles (ties broken by day) — deterministic.
  *
  * Scale shape: corpus → calendar-bounded daily cells map-side; the
  * 1-row fit (with the folded SSE) broadcasts back onto the daily
  * frame; top-10 via TakeOrdered. No corpus-sized sort anywhere.
  */
object CooksDistance {

  val q239 = Q(
    "q239_cooks_distance",
    (s, dir) => {
      import s.implicits._
      val daily = graft.Barrier(Tables.load(s, dir, "orders")
        .groupBy(datediff($"o_orderdate", lit("1995-01-01").cast("date"))
          .cast("long").as("x"))
        .agg(sum(expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)"))
          .as("y")))
      val m = daily.agg(count(lit(1)).as("n"),
        sum($"x".cast("decimal(38,0)")).as("sx"),
        sum($"y".cast("decimal(38,0)")).as("sy"),
        sum(($"x" * $"x").cast("decimal(38,0)")).as("sxx"),
        sum(($"x" * $"y").cast("decimal(38,0)")).as("sxy"))
      val fit = m.select($"n",
          ($"n".cast("double") * $"sxy".cast("double")
            - $"sx".cast("double") * $"sy".cast("double")).as("num"),
          ($"n".cast("double") * $"sxx".cast("double")
            - $"sx".cast("double") * $"sx".cast("double")).as("denx"),
          $"sx".cast("double").as("sxd"), $"sy".cast("double").as("syd"))
        .select($"n", ($"num" / $"denx").as("slope"),
          (($"syd" - ($"num" / $"denx") * $"sxd") / $"n".cast("double"))
            .as("intercept"),
          ($"sxd" / $"n".cast("double")).as("xbar"),
          ($"denx" / $"n".cast("double")).as("sxxc"))
      val r = daily.crossJoin(broadcast(fit))
        .select($"n", $"slope", $"intercept", $"xbar", $"sxxc", $"x",
          ($"y".cast("double") - ($"intercept" + $"slope" * $"x".cast("double")))
            .as("e"))
      val sse = r.groupBy($"n", $"xbar", $"sxxc")
        .agg(expr("aggregate(sort_array(collect_list(named_struct('x', x, 't', cast(e * e as double)))), 0D, (acc, s) -> acc + s.t)")
          .as("sse"))
        .select($"sse", ($"sse" / ($"n" - 2).cast("double")).as("s2"))
      val scored = r.crossJoin(broadcast(sse))
        .withColumn("h", lit(1d) / $"n".cast("double")
          + ($"x".cast("double") - $"xbar") * ($"x".cast("double") - $"xbar")
            / $"sxxc")
        .withColumn("cook_d", $"e" * $"e" * $"h"
          / (lit(2d) * $"s2" * (lit(1d) - $"h") * (lit(1d) - $"h")))
      scored.orderBy($"cook_d".desc, $"x").limit(10)
        .withColumn("pos",
          row_number().over(Window.orderBy($"cook_d".desc, $"x")))
        .select($"pos", $"x".as("day_index"), $"e".as("residual_cents"),
          $"h".as("leverage"), $"cook_d")
        .orderBy($"pos")
    },
    Some("""WITH daily AS MATERIALIZED (
      |  SELECT CAST(date_diff('day', DATE '1995-01-01',
      |                        CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
      |         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS sx,
      |         SUM(CAST(y AS HUGEINT)) AS sy,
      |         SUM(CAST(x * x AS HUGEINT)) AS sxx,
      |         SUM(CAST(x * y AS HUGEINT)) AS sxy
      |  FROM daily),
      |parts AS (
      |  SELECT n,
      |         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
      |         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
      |         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM m),
      |fit AS (
      |  SELECT n, num / denx AS slope,
      |         (syd - (num / denx) * sxd) / CAST(n AS DOUBLE) AS intercept,
      |         sxd / CAST(n AS DOUBLE) AS xbar,
      |         denx / CAST(n AS DOUBLE) AS sxxc
      |  FROM parts),
      |r AS (
      |  SELECT f.n, f.slope, f.intercept, f.xbar, f.sxxc, d.x,
      |         CAST(d.y AS DOUBLE) - (f.intercept + f.slope * CAST(d.x AS DOUBLE)) AS e
      |  FROM daily d, fit f),
      |sse AS (
      |  SELECT list_reduce(list(e * e ORDER BY x), (a, b) -> a + b) AS sse,
      |         list_reduce(list(e * e ORDER BY x), (a, b) -> a + b)
      |           / CAST(MAX(n) - 2 AS DOUBLE) AS s2
      |  FROM r),
      |scored AS (
      |  SELECT r.x, r.e,
      |         1e0 / CAST(r.n AS DOUBLE)
      |           + (CAST(r.x AS DOUBLE) - r.xbar) * (CAST(r.x AS DOUBLE) - r.xbar)
      |             / r.sxxc AS h,
      |         r.e * r.e * (1e0 / CAST(r.n AS DOUBLE)
      |           + (CAST(r.x AS DOUBLE) - r.xbar) * (CAST(r.x AS DOUBLE) - r.xbar)
      |             / r.sxxc)
      |           / (2e0 * sse.s2
      |              * (1e0 - (1e0 / CAST(r.n AS DOUBLE)
      |                 + (CAST(r.x AS DOUBLE) - r.xbar) * (CAST(r.x AS DOUBLE) - r.xbar)
      |                   / r.sxxc))
      |              * (1e0 - (1e0 / CAST(r.n AS DOUBLE)
      |                 + (CAST(r.x AS DOUBLE) - r.xbar) * (CAST(r.x AS DOUBLE) - r.xbar)
      |                   / r.sxxc))) AS cook_d
      |  FROM r, sse)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cook_d DESC, x) AS INT) AS pos,
      |       x AS day_index, e AS residual_cents, h AS leverage, cook_d
      |FROM scored ORDER BY cook_d DESC, x LIMIT 10""".stripMargin),
    doc = "stats: Cook's distance top-10 influential days for the daily-revenue OLS trend — exact-moment leverage, ordered-fold SSE, mirrored IEEE influence scores. " +
      "Cook's D: daily cells behind a Barrier reused by moments, residuals, and the ordered-fold SSE; per-day influence is pure map arithmetic on broadcast 1-row stats; top-10 via TakeOrdered.")

  val all: Seq[Q] = Seq(q239)
}
