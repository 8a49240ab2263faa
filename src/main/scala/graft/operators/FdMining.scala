package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Functional-dependency discovery (the TANE/profiling question,
  * Huhtala et al. 1999, reduced to its distributed core): for
  * candidate column pairs A → B, does every A-value determine one
  * B-value? Reported as exact violation ledgers — determinant values
  * with >1 dependent value, and the row mass in violation — so a
  * near-FD (an almost-key with three dirty rows) is visible, not just
  * a boolean. The schema-dependency complement to q157's per-column
  * entropies and q163's MI.
  *
  * Exactness: everything is COUNT arithmetic; `fd_holds` ⟺ zero
  * violating determinants.
  *
  * Scale shape: per candidate, ONE (A, B) value-pair count aggregate
  * (map-side combinable, |distinct pairs|-bounded) folded to an
  * |A|-bounded frame and then one row — the corpus is touched once
  * per candidate, dictionaries shuffle, rows never do.
  */
object FdMining {

  /** The audited candidates: (table, determinant, dependent). Mixed
    * true FDs (custkey → mktsegment through the customer row) and
    * expected violations (status does NOT determine priority).
    */
  private val Cands = Seq(
    ("customer", "c_custkey", "c_mktsegment"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderstatus", "o_orderpriority"),
    ("part", "p_name", "p_brand"),
    ("lineitem", "l_partkey", "l_returnflag"))

  private def audit(s: SparkSession, dir: String,
                    table: String, a: String, b: String): DataFrame = {
    import s.implicits._
    val pairs = Tables.load(s, dir, table)
      .groupBy(col(a).as("av"), col(b).as("bv"))
      .agg(count(lit(1)).as("n"))
    pairs.groupBy($"av")
      .agg(count(lit(1)).as("n_bv"), sum($"n").as("rows_a"),
        max($"n").as("top_n"))
      .agg(count(lit(1)).as("n_det"),
        count_if($"n_bv" > 1).as("violating_dets"),
        sum(when($"n_bv" > 1, $"rows_a" - $"top_n").otherwise(0L))
          .as("violating_rows"))
      .select(lit(s"$table: $a -> $b").as("candidate"),
        $"n_det", $"violating_dets", $"violating_rows",
        ($"violating_dets" === 0L).as("fd_holds"))
  }

  /** q178 — FD audit over the candidate set. */
  val q178 = Q(
    "q178_fd_mining",
    (s, dir) => {
      import s.implicits._
      Cands.map { case (t, a, b) => audit(s, dir, t, a, b) }
        .reduce(_.unionByName(_))
        .orderBy($"candidate")
    },
    Some(Cands.map { case (t, a, b) =>
      s"""SELECT '$t: $a -> $b' AS candidate, n_det, violating_dets,
         |       violating_rows, violating_dets = 0 AS fd_holds
         |FROM (
         |  SELECT COUNT(*) AS n_det,
         |         CAST(COUNT(CASE WHEN n_bv > 1 THEN 1 END) AS BIGINT) AS violating_dets,
         |         CAST(SUM(CASE WHEN n_bv > 1 THEN rows_a - top_n ELSE 0 END) AS BIGINT) AS violating_rows
         |  FROM (
         |    SELECT av, COUNT(*) AS n_bv, CAST(SUM(n) AS BIGINT) AS rows_a,
         |           CAST(MAX(n) AS BIGINT) AS top_n
         |    FROM (SELECT $a AS av, $b AS bv, COUNT(*) AS n FROM $t GROUP BY 1, 2)
         |    GROUP BY av))""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY candidate")),
    doc = "profile: functional-dependency audit — exact violation ledgers per candidate, dictionary-bounded aggregates. " +
      "Each FD candidate audits via one (a -> count distinct b) groupBy on its own column pair; violation ledgers union to a |candidates|-row report. Exchange count (15, flagged by the r11 sweep) is the candidate count times a 3-stage dictionary cascade — each exchange carries a value dictionary (|pairs| then |A|), never corpus rows; candidates span 4 different tables, so only the two orders arms could even share a scan.")

  val all: Seq[Q] = Seq(q178)
}
