package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** CUBE multi-dimensional aggregate — the all-margins completion of
  * the OLAP set-op family (q58 ROLLUP gives the hierarchy prefix
  * margins; CUBE gives every subset): revenue and volume by
  * (returnflag, linestatus) with all four grouping levels in one
  * pass, labeled by an explicit grouping id.
  *
  * Exactness: sums ride the decimal money convention; the grouping id
  * is computed the same way on both engines (Spark `grouping_id()` ==
  * bit i set ⟺ column i aggregated; DuckDB `GROUPING(a, b)` matches),
  * and NULL group labels are coalesced to 'ALL' so label sorting
  * cannot differ across engines' NULL orderings.
  *
  * Scale shape: Spark expands CUBE in ONE Expand+aggregate pass
  * (each input row feeds all 4 grouping sets map-side) — no
  * per-margin rescans; the result is |A|·|B| + |A| + |B| + 1 rows.
  */
object CubeAgg {

  /** q165 — full CUBE of lineitem revenue/volume. */
  val q165 = Q(
    "q165_cube_margins",
    (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "lineitem")
        .cube($"l_returnflag", $"l_linestatus")
        .agg(grouping_id().cast("int").as("gid"),
          count(lit(1)).as("n"),
          graft.Q.sumMoney($"l_extendedprice").as("revenue"))
        .select(coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
          coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
          $"gid", $"n", $"revenue")
        .orderBy($"gid", $"returnflag", $"linestatus")
    },
    Some(s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
      |       COUNT(*) AS n,
      |       ${graft.Q.oSum("l_extendedprice")} AS revenue
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY gid, returnflag, linestatus""".stripMargin),
    doc = "OLAP: CUBE all-margins aggregate with engine-matched grouping ids (completes ROLLUP/PIVOT/UNPIVOT). " +
      "CUBE plans one Expand + aggregate — all 2^k margins in a single pass; grouping_id disambiguates sentinel rows across engines.")

  /** q187 — explicit GROUPING SETS: the general form CUBE/ROLLUP are
    * shorthands of, for when the report wants a HAND-PICKED margin
    * list (here: segment×priority detail, each single-axis margin,
    * and the grand total — exactly CUBE's sets for 2 columns, but
    * declared explicitly through the grouping-sets API so the operator
    * under test is the arbitrary-set expansion, on a JOIN input
    * rather than a bare scan). Same Expand-operator scale shape as
    * CUBE: one pass, each row feeding only its declared sets.
    */
  val q187 = Q(
    "q187_grouping_sets",
    (s, dir) => {
      import s.implicits._
      val oc = Tables.maybeBroadcast(Tables.load(s, dir, "customer"))
        .join(Tables.load(s, dir, "orders"), $"c_custkey" === $"o_custkey")
      oc.groupingSets(
          Seq(Seq($"c_mktsegment", $"o_orderpriority"),
            Seq($"c_mktsegment"), Seq($"o_orderpriority"), Seq()),
          $"c_mktsegment", $"o_orderpriority")
        .agg(grouping_id().cast("int").as("gid"),
          count(lit(1)).as("n"),
          graft.Q.sumMoney($"o_totalprice").as("revenue"))
        .select(coalesce($"c_mktsegment", lit("ALL")).as("segment"),
          coalesce($"o_orderpriority", lit("ALL")).as("priority"),
          $"gid", $"n", $"revenue")
        .orderBy($"gid", $"segment", $"priority")
    },
    Some(s"""SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
      |       COALESCE(o_orderpriority, 'ALL') AS priority,
      |       CAST(GROUPING(c_mktsegment, o_orderpriority) AS INT) AS gid,
      |       COUNT(*) AS n,
      |       ${graft.Q.oSum("o_totalprice")} AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority),
      |                        (c_mktsegment), (o_orderpriority), ())
      |ORDER BY gid, segment, priority""".stripMargin),
    doc = "OLAP: explicit GROUPING SETS margins over a star join (the general form behind CUBE/ROLLUP). " +
      "Explicit GROUPING SETS: customer dim broadcasts; Spark's Expand feeds all four declared sets from ONE pass over the join output — no per-margin rescans; output is |sets' domains| rows.")

  val all: Seq[Q] = Seq(q165, q187)
}
