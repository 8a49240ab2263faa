package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cumulative gains / lift table — the model-ops acceptance artifact
  * for ANY propensity score: rank the population by the score, cut it
  * into deciles, and report how much of the positive outcome each
  * cumulative decile captures vs random targeting. Here the score is
  * the past-frequency heuristic (orders in 1995–96) and the outcome
  * is ordering again in 1997 — the table says whether "target the
  * historically active decile" beats mailing everyone, before anyone
  * trains a model to beat THAT.
  *
  * Exactness: score and outcome are exact integers; decile assignment
  * is NTILE(10) over the fully-deterministic (score DESC, custkey)
  * order (both engines split remainders the ANSI way: the first
  * n mod 10 tiles get the extra row); per-decile and cumulative
  * counts are exact-integer window sums (safe under any association);
  * capture/lift are IEEE ratios of exact integers.
  *
  * Scale shape: orders collapse map-side to per-customer (score,
  * outcome) — dimension-sized; the global decile sort runs on that
  * frame only (at 100 TB, swap the single window for the exact
  * `DistributedRank` two-pass ranking q62 ships). 10 rows out.
  */
object GainsLift {

  val q253 = Q(
    "q253_gains_lift",
    (s, dir) => {
      import s.implicits._
      val perCust = Tables.load(s, dir, "orders")
        .select($"o_custkey".as("ck"), year(to_date($"o_orderdate")).as("y"))
        .groupBy($"ck")
        .agg(sum(when($"y" === 1995 || $"y" === 1996, 1L).otherwise(0L)).as("score"),
          max(when($"y" === 1997, 1L).otherwise(0L)).as("pos"))
      val scored = Tables.load(s, dir, "customer").select($"c_custkey".as("ck"))
        .join(perCust, Seq("ck"), "left_outer")
        .select($"ck", coalesce($"score", lit(0L)).as("score"),
          coalesce($"pos", lit(0L)).as("pos"))
      val deciled = scored
        .withColumn("decile", ntile(10).over(Window.orderBy($"score".desc, $"ck")))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_cust"), sum($"pos").as("n_pos"),
          min($"score").as("min_score"), max($"score").as("max_score"))
      val w = Window.orderBy($"decile").rowsBetween(Window.unboundedPreceding, 0)
      deciled
        .withColumn("cum_cust", sum($"n_cust").over(w))
        .withColumn("cum_pos", sum($"n_pos").over(w))
        .crossJoin(broadcast(deciled.agg(sum($"n_cust").as("tot_cust"),
          sum($"n_pos").as("tot_pos"))))
        .select($"decile", $"n_cust", $"n_pos", $"min_score", $"max_score",
          $"cum_pos",
          ($"cum_pos".cast("double") / $"tot_pos".cast("double")).as("capture"),
          (($"n_pos".cast("double") / $"n_cust".cast("double"))
            / ($"tot_pos".cast("double") / $"tot_cust".cast("double"))).as("lift"),
          (($"cum_pos".cast("double") / $"tot_pos".cast("double"))
            / ($"cum_cust".cast("double") / $"tot_cust".cast("double")))
            .as("cum_lift"))
        .orderBy($"decile")
    },
    Some("""WITH per_cust AS (
      |  SELECT o_custkey AS ck,
      |         CAST(SUM(CASE WHEN year(CAST(o_orderdate AS DATE)) IN (1995, 1996)
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS score,
      |         CAST(MAX(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1997
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS pos
      |  FROM orders GROUP BY 1),
      |scored AS (
      |  SELECT c.c_custkey AS ck, COALESCE(p.score, 0) AS score,
      |         COALESCE(p.pos, 0) AS pos
      |  FROM customer c LEFT JOIN per_cust p ON p.ck = c.c_custkey),
      |deciled AS MATERIALIZED (
      |  SELECT CAST(NTILE(10) OVER (ORDER BY score DESC, ck) AS INT) AS decile,
      |         score, pos
      |  FROM scored),
      |agg AS (
      |  SELECT decile, COUNT(*) AS n_cust, CAST(SUM(pos) AS BIGINT) AS n_pos,
      |         CAST(MIN(score) AS BIGINT) AS min_score,
      |         CAST(MAX(score) AS BIGINT) AS max_score
      |  FROM deciled GROUP BY 1),
      |cum AS (
      |  SELECT *,
      |         CAST(SUM(n_cust) OVER (ORDER BY decile) AS BIGINT) AS cum_cust,
      |         CAST(SUM(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
      |         CAST(SUM(n_cust) OVER () AS BIGINT) AS tot_cust,
      |         CAST(SUM(n_pos) OVER () AS BIGINT) AS tot_pos
      |  FROM agg)
      |SELECT decile, n_cust, n_pos, min_score, max_score, cum_pos,
      |       CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE) AS capture,
      |       (CAST(n_pos AS DOUBLE) / CAST(n_cust AS DOUBLE))
      |         / (CAST(tot_pos AS DOUBLE) / CAST(tot_cust AS DOUBLE)) AS lift,
      |       (CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE))
      |         / (CAST(cum_cust AS DOUBLE) / CAST(tot_cust AS DOUBLE)) AS cum_lift
      |FROM cum ORDER BY decile""".stripMargin),
    doc = "mlops: cumulative gains/lift table — customers deciled by 1995-96 order frequency against the 1997-reorder outcome; exact decile counts, IEEE capture/lift ratios. " +
      "GainsLift: orders collapse map-side to per-customer (score, outcome); the NTILE sort runs on that dimension-sized frame only (DistributedRank is the 100 TB swap); decile/cumulative arithmetic on 10 rows.")

  val all: Seq[Q] = Seq(q253)
}
