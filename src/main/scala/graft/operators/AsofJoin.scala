package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic AS-OF JOIN: for each left row, carry the designated columns
  * of the latest right row with the same key at-or-before the left
  * row's time (inclusive). Left rows with no prior right row keep NULL
  * carries (left-outer semantics).
  *
  * Reference shape: the correlated "most recent result" subquery family
  * (`ORDER BY t.full_date DESC LIMIT 1`,
  * healthcare-sql-analytics.sql:592-598) generalized to two inputs —
  * e.g. latest lab value before each encounter.
  *
  * Scale design: Spark has no native as-of join, and the common
  * encoding — equi-join on key + `r.t <= l.t` range filter + rank —
  * materializes every (left × earlier-right) pair before ranking,
  * quadratic per key at 100 TB. This implementation UNIONs both sides
  * and sorts once by (key, t, side); a running `last(_, ignoreNulls)`
  * window carries the latest right values into each left row. ONE
  * shuffle, O(n log n) per key, zero pair explosion. Skewed keys cost
  * what their row count costs — no quadratic amplification to salt
  * away. Equivalence to the naive encoding is property-tested in
  * `PropertySpec` ("asof join equals naive join+rank").
  */
object AsofJoin {

  /** All `carry` columns travel inside ONE struct through a single
    * running `last(ignoreNulls)`, so the latest right row wins
    * atomically: if that row has a NULL in a carry column, the NULL is
    * carried (exactly what the naive join+rank returns) instead of an
    * older row's non-null value leaking through per-column.
    *
    * Precondition: right-side (key, rightTime) pairs should be unique —
    * ties between right rows at the same timestamp resolve
    * nondeterministically (the same is true of the naive encoding
    * without a tiebreak). Add a tiebreak column to `rightTime` upstream
    * if the source has same-instant rows.
    *
    * @param key      equi-join key column (same name on both sides)
    * @param leftTime  left timestamp/ordering column name
    * @param rightTime right timestamp/ordering column name
    * @param carry    right columns to carry onto left rows; names must
    *                 not collide with left columns (rename beforehand)
    */
  def latestBefore(left: DataFrame, right: DataFrame, key: String,
                   leftTime: String, rightTime: String,
                   carry: Seq[String]): DataFrame = {
    require(carry.nonEmpty, "carry must name at least one right column")
    val collisions = carry.toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty, s"carry collides with left columns: $collisions")

    val carryType = org.apache.spark.sql.types.StructType(
      carry.map(c => right.schema(c).copy(name = c)))
    // Right rows sort BEFORE left rows at equal time (side 0 < 1) so
    // "at-or-before" is inclusive.
    val sideR = right.select(
      col(key), col(rightTime).cast("timestamp").as("_t"),
      lit(0).as("_side"), struct(carry.map(col): _*).as("_carry"))
    val sideL = left.select(
      col(key) +: col(leftTime).cast("timestamp").as("_t") +:
      lit(1).as("_side") +: lit(null).cast(carryType).as("_carry") +:
      left.columns.filterNot(_ == key).map(col): _*)

    val w = Window.partitionBy(col(key)).orderBy(col("_t"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = sideR.unionByName(sideL, allowMissingColumns = true)
      .withColumn("_carry", last(col("_carry"), ignoreNulls = true).over(w))
    carried.filter(col("_side") === 1)
      .select(left.columns.map(col) ++
        carry.map(c => col("_carry").getField(c).as(c)): _*)
  }

  /** [[latestBefore]] with a STALENESS BOUND (pandas `merge_asof
    * tolerance`): carries are kept only when the matched right row is
    * within `toleranceUs` microseconds at-or-before the left time;
    * older matches surface as NULL (no-match), exactly like the naive
    * "latest right in [t−Δ, t]" encoding — if the latest-at-or-before
    * row is older than Δ, nothing is in the window, so nulling the
    * carry IS the bounded semantics (no second pass needed). Same
    * single-shuffle plan as [[latestBefore]]; the right event time
    * rides the carry struct and the bound is one map-side comparison.
    */
  def latestWithin(left: DataFrame, right: DataFrame, key: String,
                   leftTime: String, rightTime: String,
                   carry: Seq[String], toleranceUs: Long): DataFrame = {
    require(!left.columns.contains("_rt") && !carry.contains("_rt"),
      "_rt is reserved for the carried right time")
    val right2 = right.withColumn("_rt", col(rightTime))
    val joined = latestBefore(left, right2, key, leftTime, rightTime,
      carry :+ "_rt")
    val fresh = expr(s"unix_micros(cast($leftTime as timestamp))") -
      expr("unix_micros(cast(_rt as timestamp))") <= lit(toleranceUs)
    carry.foldLeft(joined) { (df, c) =>
        df.withColumn(c, when(fresh, col(c)))
      }
      .drop("_rt")
  }

  /** q150 — tolerance-bounded as-of attribution: q56's last-touch
    * click-before-purchase, but a click counts only within 30 minutes
    * (stale attribution is worse than none). Reports the match ledger:
    * purchases, bounded matches, match rate (ppm), and the exact total
    * click-to-purchase gap over matches — gap-based, so the result is
    * insensitive to right-side same-instant tie resolution. The oracle
    * is DuckDB's native ASOF LEFT JOIN with the staleness bound applied
    * post-match — the same "latest then null-if-stale" semantics
    * [[latestWithin]] documents.
    */
  val q150 = graft.Q(
    "q150_asof_tolerance",
    (s, dir) => {
      import s.implicits._
      val TolUs = 1800000000L // 30 minutes
      val ev = graft.Tables.load(s, dir, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"ts".as("click_ts"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts".as("purchase_ts"),
          $"event_id".as("purchase_id"))
      latestWithin(purchases, clicks, key = "user_id",
          leftTime = "purchase_ts", rightTime = "click_ts",
          carry = Seq("click_ts"), toleranceUs = TolUs)
        .select(
          (unix_micros($"purchase_ts") - unix_micros($"click_ts"))
            .as("gap_us"))
        .agg(count(lit(1)).as("n_purchases"),
          count($"gap_us").as("n_matched"),
          expr("count(gap_us) * 1000000L div count(*)").as("match_rate_ppm"),
          coalesce(sum($"gap_us"), lit(0L)).as("matched_gap_sum_us"))
    },
    Some("""WITH clicks AS (
      |  SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'),
      |purchases AS (
      |  SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
      |  FROM events WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT CASE WHEN epoch_us(p.purchase_ts) - epoch_us(c.click_ts)
      |                   <= 1800000000
      |              THEN epoch_us(p.purchase_ts) - epoch_us(c.click_ts)
      |         END AS gap_us
      |  FROM purchases p ASOF LEFT JOIN clicks c
      |    ON p.user_id = c.user_id AND p.purchase_ts >= c.click_ts)
      |SELECT COUNT(*) AS n_purchases,
      |       COUNT(gap_us) AS n_matched,
      |       COUNT(gap_us) * 1000000 // COUNT(*) AS match_rate_ppm,
      |       CAST(COALESCE(SUM(gap_us), 0) AS BIGINT) AS matched_gap_sum_us
      |FROM m""".stripMargin),
    doc = "as-of join with staleness tolerance (merge_asof tolerance semantics; gap ledger). " +
      "As-of with staleness bound: union + running-last per-user window (linear, no range cross product); 'latest then null-if-stale' applied post-match; gap-sum insensitive to same-instant ties.")

  val all: Seq[graft.Q] = Seq(q150)
}
