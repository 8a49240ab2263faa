package graft.operators

import graft.{Q, Tables}
import graft.text.TextQueries.{lqSql, lqDuck}
import org.apache.spark.sql.functions._

/** Discount elasticity of demand — the log-log regression economics
  * runs on every price ladder: regress log(mean quantity at discount
  * level d) on log(price retention 100−d); the slope IS the
  * elasticity (dimensionless, scale-free). An elasticity ≈ −E means
  * a 1% price cut lifts demand ≈ E%. q199 fits the linear trend in
  * LEVELS; this fits the power law the pricing question actually
  * assumes.
  *
  * Exactness: both logs ride the engine-shared quantized log2 ladder
  * ([[graft.text.TextQueries.lqSql]] — the q163/q213 stance, no libm
  * ln): y = L(q̄_ppm) with q̄_ppm = Σq·10⁶ div n exact integers, x =
  * L(100−d). The 11-point OLS runs on exact decimal moment sums (the
  * q199 closed form); slope converts to elasticity 1:1 because log2
  * ratios cancel the base. Constant offsets from the ppm scaling
  * shift the intercept only — slopes are shift-invariant.
  *
  * Scale shape: one map-side-combinable aggregate onto the 11-row
  * discount-level frame; the regression epilogue is a 1-row select.
  * Nothing corpus-sized survives the first aggregate.
  */
object Elasticity {

  val q221 = Q(
    "q221_discount_elasticity",
    (s, dir) => {
      import s.implicits._
      val lvl = Tables.load(s, dir, "lineitem")
        .groupBy(round($"l_discount" * 100).cast("int").as("d"))
        .agg(count(lit(1)).as("n"), sum($"l_quantity".cast("long")).as("sq"))
        .select($"d", $"n",
          expr("sq * 1000000 div n").as("qbar_ppm"),
          expr("cast(100 - d as bigint)").as("ret"))
        .select($"d", $"n",
          expr(lqSql("qbar_ppm")).as("y"), expr(lqSql("ret")).as("x"))
      val sums = lvl.agg(count(lit(1)).as("k"),
        sum($"x".cast("decimal(38,0)")).as("sx"),
        sum($"y".cast("decimal(38,0)")).as("sy"),
        sum(($"x" * $"x").cast("decimal(38,0)")).as("sxx"),
        sum(($"x" * $"y").cast("decimal(38,0)")).as("sxy"),
        sum(($"y" * $"y").cast("decimal(38,0)")).as("syy"))
      sums.select($"k",
          ($"k".cast("double") * $"sxy".cast("double")
            - $"sx".cast("double") * $"sy".cast("double")).as("num"),
          ($"k".cast("double") * $"sxx".cast("double")
            - $"sx".cast("double") * $"sx".cast("double")).as("denx"),
          ($"k".cast("double") * $"syy".cast("double")
            - $"sy".cast("double") * $"sy".cast("double")).as("deny"))
        .select($"k", ($"num" / $"denx").as("elasticity"),
          ($"num" * $"num" / ($"denx" * $"deny")).as("r2"))
    },
    Some(s"""WITH lvl AS (
      |  SELECT CAST(round(l_discount * 100) AS INT) AS d, COUNT(*) AS n,
      |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
      |  FROM lineitem GROUP BY 1),
      |logs AS (
      |  SELECT d, n,
      |         ${lqDuck("sq * 1000000 // n")} AS y,
      |         ${lqDuck("CAST(100 - d AS BIGINT)")} AS x
      |  FROM lvl),
      |sums AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |         SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
      |         SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |         SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |         SUM(CAST(y AS HUGEINT) * y) AS syy
      |  FROM logs),
      |parts AS (
      |  SELECT k,
      |         CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
      |         CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx,
      |         CAST(k AS DOUBLE) * CAST(syy AS DOUBLE)
      |           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny
      |  FROM sums)
      |SELECT k, num / denx AS elasticity,
      |       num * num / (denx * deny) AS r2
      |FROM parts""".stripMargin),
    doc = "economics: discount elasticity of demand — log2-log2 OLS of mean quantity on price retention over the 11-level discount ladder (quantized-log2, exact moments). " +
      "Elasticity: one map-side aggregate onto the 11-row discount frame; both logs ride the quantized-log2 ladder; the OLS epilogue is a 1-row select of exact decimal moments.")

  val all: Seq[Q] = Seq(q221)
}
