package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A verified query: a Spark DataFrame builder plus (optionally) the
  * equivalent ANSI SQL the driver runs under DuckDB as the correctness
  * oracle. Column names MUST match between the two (the driver's compare
  * sorts columns by name before hashing).
  *
  * `doc` is the query's one note, and it has no default: first what the
  * query covers (its SURVEY §2 ids or family), then how it scales (the
  * plan mechanism that keeps it bounded). `graft.Probe plans` prints it
  * above each plan in PLANS.md, and `QueryNotesSpec` keeps the two equal.
  */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String,
    // The semantically-identical REFERENCE formulation a bounded
    // oracle was derived from (VERDICT r9 item 2): where `oracle` had
    // to be rewritten for tractability at large SF (vectorized dot
    // products, materialized CTEs, trimmed-suffix edit distance), the
    // original quadratic/all-pairs SQL is kept here and
    // tools/check_oracle_equiv.py proves both produce identical
    // result sets at the SFs where the reference still runs.
    oracleReference: Option[String] = None)

object Q {

  /** Deterministic-aggregation conventions shared by every verified query
    * (SURVEY.md §7.3): double sums are order-sensitive under shuffle, so
    * verified sums go through DECIMAL(18,2) (exact, associative) and come
    * back as DOUBLE; averages divide an exact decimal sum by a count;
    * genuinely floating aggregates (stddev, corr, percentile) are rounded.
    */
  def money(c: Column): Column = c.cast("decimal(18,2)")

  /** Exact sum of a money-like double column, returned as double. */
  def sumMoney(c: Column): Column = sum(money(c)).cast("double")

  /** Order-insensitive mean of a money-like double column. Deliberately
    * NOT rounded: the numerator is an exact decimal and IEEE division is
    * bit-deterministic, so both engines produce the identical double —
    * whereas rounding would systematically land on .xx5 half-cent
    * boundaries (exact cents / small counts) where Spark (HALF_UP on the
    * shortest string repr) and DuckDB (round on the exact binary value)
    * disagree.
    */
  def avgMoney(c: Column): Column =
    sum(money(c)).cast("double") / count(c)

  /** Execution-time exactness-ceiling guard: `value` passes through
    * unchanged while `stat <= bound`; past the bound the TASK fails
    * with a named `GRAFT_CEILING` error carrying the remedy. This
    * turns the documented integer/decimal ceilings (q99/q104/q114
    * scaladoc) into loud failures instead of Spark's non-ANSI silent
    * NULL-on-overflow — one comparison on an already-computed 1-row
    * corpus stat, zero extra jobs (the guard rides the stat frame that
    * broadcasts anyway, and stays load-bearing so column pruning
    * cannot drop it).
    */
  def ceilingGuardOn(value: Column, stat: Column, bound: Long,
                     query: String, what: String, remedy: String): Column =
    when(stat <= lit(bound), value).otherwise(raise_error(concat(
      lit(s"GRAFT_CEILING: $query: $what = "), stat.cast("string"),
      lit(s" exceeds the documented exactness ceiling $bound; remedy: $remedy"))))

  /** [[ceilingGuardOn]] where the guarded value is the stat itself. */
  def ceilingGuard(c: Column, bound: Long, query: String, what: String,
                   remedy: String): Column =
    ceilingGuardOn(c, c, bound, query, what, remedy)

  /** Pin every CTE in a DuckDB oracle to MATERIALIZED. DuckDB inlines
    * CTEs by default, so a multiply-referenced expensive CTE (a graph
    * edge list feeding degrees, orientation and wedges; a band-join
    * feeding three verification stages) gets its PLAN duplicated per
    * reference — at sf1 that turned linear-sized oracles into 40 GiB
    * spills/timeouts while every stage, run once, takes seconds. The
    * rewrite is purely mechanical (` AS (` → ` AS MATERIALIZED (` hits
    * exactly the CTE heads in these oracles — alias positions like
    * `AS g(i)`/`AS v` never precede `(`), semantics are identical by
    * definition, and tools/check_oracle_equiv.py re-verifies the
    * equality empirically anyway.
    */
  def materializeCtes(sql: String): String =
    sql.replace(" AS (", " AS MATERIALIZED (")

  /** Oracle-side equivalents (DuckDB SQL fragments). */
  def oSum(col: String): String =
    s"CAST(SUM(CAST($col AS DECIMAL(18,2))) AS DOUBLE)"
  def oAvg(col: String): String =
    s"CAST(SUM(CAST($col AS DECIMAL(18,2))) AS DOUBLE) / COUNT($col)"
}
