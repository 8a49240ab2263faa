package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Goodman-Kruskal λ — proportional-reduction-in-error dependency
  * strength between categorical columns (Goodman & Kruskal 1954):
  * λ(A→B) = how much knowing A improves the best guess of B, from 0
  * (useless) to 1 (B is a function of A). q178 mines EXACT functional
  * dependencies (λ = 1); q163's MI is symmetric bits — λ is the
  * DIRECTED, interpretable middle: "knowing priority removes x% of
  * status-prediction errors". Profiled over the directed pairs of
  * (priority, status, order month), the shape a schema profiler
  * emits.
  *
  * Exactness: λ = (Σ_a max_b n_ab − max_b n_b) / (N − max_b n_b) —
  * every piece an exact integer from one contingency aggregate per
  * column pair; the division is one mirrored IEEE op (Spark's Divide
  * and DuckDB's `/` both yield NULL on a zero divisor, so the
  * degenerate one-value-of-B marginal agrees as NULL, not NaN).
  *
  * Scale shape (r13 — ADVICE r12 made the r12 driver-fold eager):
  * ONE map-side-combinable contingency-cube aggregate over the
  * corpus — groupBy(pri, st, mo) — whose result is bounded by the
  * DOMAIN PRODUCT (≤ 5·3·12 cells at any corpus size); the six
  * directed λs are then derived INSIDE the returned plan as
  * domain-bounded re-aggregations of that cube, unioned. The cube
  * subtree is byte-identical across the six branches, so
  * ReuseExchange materializes its shuffle ONCE — the plan pays one
  * corpus exchange plus six trivially-small (≤180-row) pipelines,
  * stays fully lazy (constructing the frame runs no job — the r12
  * driver-fold version collect()ed at construction time, which broke
  * plan inspection and exchange pinning), and keeps the NULL
  * division semantics in-engine.
  */
object GkLambda {

  private val Cols = Seq(
    ("pri", "st"), ("st", "pri"),
    ("mo", "st"), ("st", "mo"),
    ("pri", "mo"), ("mo", "pri"))

  val q226 = Q(
    "q226_gk_lambda",
    (s, dir) => {
      import s.implicits._
      // the one corpus-sized pass; every branch below re-aggregates
      // this SAME subtree (same DataFrame ⇒ same exprIds ⇒ sameResult
      // ⇒ one ReusedExchange), so the scan+partial-agg run once
      val cells = Tables.load(s, dir, "orders")
        .select($"o_orderpriority".as("pri"), $"o_orderstatus".as("st"),
          month($"o_orderdate").as("mo"))
        .groupBy($"pri", $"st", $"mo").agg(count(lit(1)).as("n"))
      def pair(a: String, b: String): DataFrame = {
        // n_ab: cube cells summed over the third column (≤ 60 rows)
        val ab = cells.groupBy(col(a).as("av"), col(b).as("bv"))
          .agg(sum($"n").as("nab"))
        val perA = ab.groupBy($"av")
          .agg(max($"nab").as("mx"), sum($"nab").as("na"))
        val perB = ab.groupBy($"bv").agg(sum($"nab").as("nb"))
        // 1-row × 1-row cross join of global folds — empty corpus
        // gives SUM/MAX over zero rows = NULL, one all-NULL row per
        // pair (the old global-agg behavior, and the oracle's)
        perA.agg(sum($"na").as("n"), sum($"mx").as("sum_max_a"))
          .crossJoin(perB.agg(max($"nb").as("max_b")))
          .select(lit(a).as("from_col"), lit(b).as("to_col"),
            $"n", $"sum_max_a", $"max_b",
            (($"sum_max_a" - $"max_b").cast("double") /
              ($"n" - $"max_b").cast("double")).as("lambda"))
      }
      Cols.map { case (a, b) => pair(a, b) }.reduce(_.unionByName(_))
        .orderBy($"from_col", $"to_col")
    },
    Some {
      def one(a: String, b: String): String =
        s"""SELECT '$a' AS from_col, '$b' AS to_col,
           |  (SELECT CAST(SUM(n) AS BIGINT) FROM cells_${a}_$b) AS n,
           |  (SELECT CAST(SUM(mx) AS BIGINT) FROM
           |     (SELECT MAX(n) AS mx FROM cells_${a}_$b GROUP BY av)) AS sum_max_a,
           |  (SELECT CAST(MAX(nb) AS BIGINT) FROM
           |     (SELECT SUM(n) AS nb FROM cells_${a}_$b GROUP BY bv)) AS max_b,
           |  CAST((SELECT SUM(mx) FROM
           |     (SELECT MAX(n) AS mx FROM cells_${a}_$b GROUP BY av))
           |    - (SELECT MAX(nb) FROM
           |       (SELECT SUM(n) AS nb FROM cells_${a}_$b GROUP BY bv)) AS DOUBLE)
           |  / CAST((SELECT SUM(n) FROM cells_${a}_$b)
           |    - (SELECT MAX(nb) FROM
           |       (SELECT SUM(n) AS nb FROM cells_${a}_$b GROUP BY bv)) AS DOUBLE)
           |    AS lambda""".stripMargin
      val cellCtes = Cols.map { case (a, b) =>
        s"""cells_${a}_$b AS MATERIALIZED (
           |  SELECT $a AS av, $b AS bv, COUNT(*) AS n FROM base GROUP BY 1, 2)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH base AS MATERIALIZED (
         |  SELECT o_orderpriority AS pri, o_orderstatus AS st,
         |         CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo
         |  FROM orders),
         |$cellCtes
         |${Cols.map { case (a, b) => one(a, b) }.mkString("\nUNION ALL\n")}
         |ORDER BY from_col, to_col""".stripMargin
    },
    doc = "profile: Goodman-Kruskal lambda dependency strength over six directed column pairs (priority/status/month) — exact contingency integers, one IEEE division each. " +
      "GK lambda (r12 fusion — the sweep's 36-exchange outlier): ONE map-side-combined 3-column contingency aggregate (domain-product-bounded, <=180 cells at any corpus size); all six directed lambdas are exact integer folds of that bounded frame on the driver (the q137-nv driver-literal discipline); one IEEE division per direction.")

  val all: Seq[Q] = Seq(q226)
}
