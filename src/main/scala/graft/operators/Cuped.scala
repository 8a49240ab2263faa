package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** CUPED — Controlled-experiment Using Pre-Experiment Data (Deng,
  * Xu, Kohavi & Walker, WSDM 2013): the variance-reduction adjustment
  * every A/B platform applies before reading an experiment. The
  * metric (a customer's 1996 order revenue) is adjusted by its own
  * pre-period covariate (the SAME customer's 1995 revenue):
  * Y' = Y − θ(X − X̄) with θ = cov(X,Y)/var(X), which shrinks metric
  * variance by exactly ρ² — the experiment needs 1/(1−ρ²) fewer
  * samples for the same power. The reference's year-over-year
  * utilization panels (healthcare-sql-analytics.sql:214-258) are the
  * same paired-unit design; this is the inference-grade version.
  *
  * Determinism: the unit panel is exact cents (coalesced to 0 for
  * customers absent in a year — the unbiased intention-to-treat
  * frame), the five moment sums ride decimal(38,0) ↔ HUGEINT, and
  * θ / var / ρ² are the q199 closed-form IEEE epilogue. Zero-variance
  * covariates (a segment with no 1995 activity) NULLIF to NULL
  * identically in both engines instead of a NaN/Inf coin flip.
  *
  * Scale shape: orders collapse map-side to per-(customer, year)
  * cents (one groupBy on the natural key), the customer dimension
  * joins on its key (broadcast at dimension scale), and everything
  * after is a 5-row segment frame. No corpus-sized window or sort.
  */
object Cuped {

  val q266 = Q(
    "q266_cuped_adjustment",
    (s, dir) => {
      import s.implicits._
      val rev = Tables.load(s, dir, "orders")
        .select($"o_custkey".as("ck"), year($"o_orderdate").as("yr"),
          (graft.Q.money($"o_totalprice") * 100).cast("long").as("cents"))
        .filter($"yr" === 1995 || $"yr" === 1996)
        .groupBy($"ck")
        .agg(sum(when($"yr" === 1995, $"cents").otherwise(0L)).as("x"),
          sum(when($"yr" === 1996, $"cents").otherwise(0L)).as("y"))
      val units = Tables.maybeBroadcast(
          Tables.load(s, dir, "customer")
            .select($"c_custkey".as("ck"), $"c_mktsegment"))
        .join(rev, Seq("ck"), "left_outer")
        .select($"c_mktsegment",
          coalesce($"x", lit(0L)).as("x"), coalesce($"y", lit(0L)).as("y"))
      // decimal BEFORE the product (both engines): under a power-law
      // customer key a hot unit's yearly cents x reach ~10¹⁰ and the
      // int64 x·x crosses 2⁶³ — the zipf-sf1 full-registry gate caught
      // both the long form here AND the oracle's CAST(x*x AS HUGEINT)
      // (which multiplies in BIGINT first) failing loudly. decimal/
      // HUGEINT products are exact; same integers at every SF.
      units.groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum($"x".cast("decimal(38,0)")).as("sx"),
          sum($"y".cast("decimal(38,0)")).as("sy"),
          sum($"x".cast("decimal(38,0)") * $"x").as("sxx"),
          sum($"x".cast("decimal(38,0)") * $"y").as("sxy"),
          sum($"y".cast("decimal(38,0)") * $"y").as("syy"))
        .withColumn("num", expr(
          "cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double)"))
        .withColumn("denx", expr(
          "cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)"))
        .withColumn("deny", expr(
          "cast(n as double) * cast(syy as double) - cast(sy as double) * cast(sy as double)"))
        .select($"c_mktsegment", $"n",
          expr("num / nullif(denx, 0D)").as("theta"),
          expr("deny / (cast(n as double) * cast(n as double))").as("var_raw"),
          expr("deny / (cast(n as double) * cast(n as double))"
            + " * (1D - num * num / nullif(denx * deny, 0D))").as("var_adj"),
          expr("num * num / nullif(denx * deny, 0D)").as("var_reduction"))
        .orderBy($"c_mktsegment")
    },
    Some("""WITH rev AS (
      |  SELECT o_custkey AS ck,
      |         CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1995
      |             THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |             ELSE 0 END) AS BIGINT) AS x,
      |         CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
      |             THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |             ELSE 0 END) AS BIGINT) AS y
      |  FROM orders
      |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)
      |  GROUP BY 1),
      |units AS (
      |  SELECT c_mktsegment, COALESCE(r.x, 0) AS x, COALESCE(r.y, 0) AS y
      |  FROM customer c LEFT JOIN rev r ON r.ck = c.c_custkey),
      |sums AS (
      |  SELECT c_mktsegment, COUNT(*) AS n,
      |         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |         SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |         SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |         SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
      |  FROM units GROUP BY 1),
      |parts AS (
      |  SELECT c_mktsegment, n,
      |         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
      |         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
      |         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
      |  FROM sums)
      |SELECT c_mktsegment, n,
      |       num / NULLIF(denx, 0e0) AS theta,
      |       deny / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var_raw,
      |       deny / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
      |         * (1e0 - num * num / NULLIF(denx * deny, 0e0)) AS var_adj,
      |       num * num / NULLIF(denx * deny, 0e0) AS var_reduction
      |FROM parts ORDER BY c_mktsegment""".stripMargin),
    doc = "experimentation: CUPED pre-period variance reduction per segment — theta = cov/var from exact decimal moments, variance shrinks by exactly rho^2, NULLIF-guarded degenerate covariates. " +
      "Orders collapse map-side to per-(customer, year) cents on the natural key; customer dim broadcast; five decimal moment sums per segment then a 5-row closed-form epilogue — no corpus window, degenerate covariates NULLIF.")

  val all: Seq[Q] = Seq(q266)
}
