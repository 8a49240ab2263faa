package graft.operators

import graft.{Q, Tables}
import graft.text.TextQueries.{lqSql, lqDuck}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Column-level information profile — Shannon entropy, cardinality and
  * mode concentration for every categorical column in the warehouse
  * (the datasheet q136 writes for corpus SOURCES, generalized to the
  * schema itself): low-entropy columns are candidates for dictionary
  * encoding and partition keys; near-zero-entropy columns are
  * constants masquerading as data; high top-value shares flag skewed
  * join keys before q60/q147 must salt them.
  *
  * Exactness: H = log2 N − (Σ cᵢ·log2 cᵢ)/N is computed entirely in
  * the engine-shared quantized log2 ([[graft.text.TextQueries.lqSql]]):
  * entropy_q = lq(N) − (Σ cᵢ·lq(cᵢ)) div N — exact longs in both
  * engines, no libm (the q99/q116 determinism stance). Long ceiling:
  * Σ cᵢ·lq(cᵢ) < N·lq(N) ≈ N·43·2²⁰ — safe past 10¹¹ rows per column.
  *
  * Scale shape: per column, ONE map-side-combinable value-count
  * aggregate collapses the corpus to its value dictionary
  * (enum-bounded here; at worst |distinct|), then one more aggregate
  * folds the dictionary to a single profile row. Columns are
  * independent arms of a UNION over frames of ≤ |dict| rows — at
  * 1000 executors each arm is its own embarrassing parallelism.
  */
object ColumnEntropy {

  /** The profiled columns: (table, column). */
  private val Cols = Seq(
    "customer" -> "c_mktsegment",
    "documents" -> "lang",
    "documents" -> "source",
    "events" -> "event_type",
    "lineitem" -> "l_returnflag",
    "orders" -> "o_orderpriority",
    "orders" -> "o_orderstatus",
    "part" -> "p_brand")

  /** One profile row for `table`.`col`. */
  private def profile(s: SparkSession, dir: String,
                      table: String, col: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, table)
      .groupBy(org.apache.spark.sql.functions.col(col).as("v"))
      .agg(count(lit(1)).as("c"))
      .agg(sum($"c").as("n_rows"), count(lit(1)).as("n_distinct"),
        max($"c").as("topc"),
        sum(expr(s"c * ${lqSql("c")}")).as("clq"))
      .select(lit(s"$table.$col").as("col"), $"n_rows", $"n_distinct",
        expr("(topc * 1000000) div n_rows").as("top_share_ppm"),
        expr(s"${lqSql("n_rows")} - (clq div n_rows)").as("entropy_q"))
  }

  /** q157 — the schema's categorical information profile. */
  val q157 = Q(
    "q157_column_entropy",
    (s, dir) => {
      import s.implicits._
      Cols.map { case (t, c) => profile(s, dir, t, c) }
        .reduce(_.unionAll(_))
        .orderBy($"col")
    },
    Some(Cols.map { case (t, c) =>
      s"""SELECT '$t.$c' AS col, n_rows, n_distinct,
         |       (topc * 1000000) // n_rows AS top_share_ppm,
         |       ${lqDuck("n_rows")} - (clq // n_rows) AS entropy_q
         |FROM (SELECT CAST(SUM(c) AS BIGINT) AS n_rows, COUNT(*) AS n_distinct,
         |             CAST(MAX(c) AS BIGINT) AS topc,
         |             CAST(SUM(c * ${lqDuck("c")}) AS BIGINT) AS clq
         |      FROM (SELECT $c AS v, COUNT(*) AS c FROM $t GROUP BY 1))""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col")),
    doc = "profile: per-column Shannon entropy / cardinality / mode share, quantized-log2 exact. " +
      "Per-column profiles are independent narrow groupBys on low-cardinality columns, unioned — each entropy sum runs on its |values|-sized frame. Exchange count (18, the r11 sweep's #2) is justified, not a defect: the 8 arms scan EIGHT different table/column pairs, so there is no shared pass to fuse into (unlike q226); every exchange carries a dictionary, never corpus rows, and the arms are embarrassingly parallel across executors.")

  val all: Seq[Q] = Seq(q157)
}
