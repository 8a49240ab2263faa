package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Zone-map (min/max) pruning audit across physical layouts — the
  * data-layout decision q141's z-order profile stops short of
  * scoring: every columnar engine skips row groups whose [min, max]
  * range misses the predicate (parquet row-group stats, ORC stripe
  * indexes), and how much gets skipped is a property of the LAYOUT,
  * not the engine. This operator simulates two layouts of lineitem —
  * insertion order (orderkey-range files) vs ship-month partitioning
  * — probes both with the twelve 1996 month-range predicates, and
  * reports the fraction of file probes skipped and rows actually
  * scanned. The number a table-layout review signs off on: "sorting
  * by ship date turns a 100% scan into a 1/84th scan".
  *
  * Exactness: min/max are DATE comparisons, counts exact longs; the
  * two percentages are IEEE divisions of exact integers.
  *
  * Scale shape: both layouts collapse map-side to file-granularity
  * (fid, n_rows, min, max) stats — the frame any engine's metadata
  * store already holds; the 12-predicate probe is a constant-size
  * cross join on that metadata frame, never touching rows. At 100 TB
  * this is a metadata-only query after one stats pass.
  */
object ZoneMap {

  val RowsPerFile = 4096

  val q242 = Q(
    "q242_zonemap_audit",
    (s, dir) => {
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey", to_date($"l_shipdate").as("sd"))
      val byKey = li.select(lit("orderkey_range").as("layout"),
        expr(s"l_orderkey div $RowsPerFile").as("fid"), $"sd")
      val byMonth = li.select(lit("ship_month").as("layout"),
        (year($"sd") * 12 + month($"sd")).cast("long").as("fid"), $"sd")
      val files = graft.Barrier(byKey.unionAll(byMonth)
        .groupBy($"layout", $"fid")
        .agg(count(lit(1)).as("n_rows"), min($"sd").as("mn"), max($"sd").as("mx")))
      val preds = s.range(1, 13).select($"id".cast("int").as("m"))
        .select($"m", make_date(lit(1996), $"m", lit(1)).as("lo"),
          date_sub(make_date(
            when($"m" === 12, 1997).otherwise(1996),
            when($"m" === 12, 1).otherwise($"m" + 1), lit(1)), 1).as("hi"))
      val probes = files.crossJoin(broadcast(preds))
        .select($"layout", $"n_rows",
          ($"mx" < $"lo" || $"mn" > $"hi").as("skipped"))
        .groupBy($"layout")
        .agg(count(lit(1)).as("probes"),
          count_if($"skipped").as("skipped_probes"),
          sum(when(!$"skipped", $"n_rows").otherwise(0L)).as("rows_scanned"))
      val totals = files.groupBy($"layout")
        .agg(count(lit(1)).as("n_files"), sum($"n_rows").as("n_rows"))
      totals.join(probes, "layout")
        .select($"layout", $"n_files", $"n_rows", $"probes", $"skipped_probes",
          (lit(100d) * $"skipped_probes".cast("double")
            / $"probes".cast("double")).as("skip_pct"),
          $"rows_scanned",
          (lit(100d) * $"rows_scanned".cast("double")
            / ($"n_rows" * 12).cast("double")).as("scan_pct"))
        .orderBy($"layout")
    },
    Some(s"""WITH li AS (
      |  SELECT l_orderkey, CAST(l_shipdate AS DATE) AS sd FROM lineitem),
      |files AS MATERIALIZED (
      |  SELECT layout, fid, COUNT(*) AS n_rows, MIN(sd) AS mn, MAX(sd) AS mx
      |  FROM (
      |    SELECT 'orderkey_range' AS layout, l_orderkey // $RowsPerFile AS fid, sd
      |    FROM li
      |    UNION ALL
      |    SELECT 'ship_month' AS layout,
      |           CAST(EXTRACT(year FROM sd) * 12 + EXTRACT(month FROM sd) AS BIGINT) AS fid,
      |           sd
      |    FROM li)
      |  GROUP BY 1, 2),
      |preds AS (
      |  SELECT m, make_date(1996, m, 1) AS lo,
      |         make_date(CASE WHEN m = 12 THEN 1997 ELSE 1996 END,
      |                   CASE WHEN m = 12 THEN 1 ELSE m + 1 END, 1)
      |           - 1 AS hi
      |  FROM (SELECT CAST(UNNEST(range(1, 13)) AS INT) AS m)),
      |probes AS (
      |  SELECT layout, COUNT(*) AS probes,
      |         CAST(COUNT(CASE WHEN mx < lo OR mn > hi THEN 1 END) AS BIGINT)
      |           AS skipped_probes,
      |         CAST(SUM(CASE WHEN mx < lo OR mn > hi THEN 0 ELSE n_rows END)
      |              AS BIGINT) AS rows_scanned
      |  FROM files, preds GROUP BY 1),
      |totals AS (
      |  SELECT layout, COUNT(*) AS n_files, CAST(SUM(n_rows) AS BIGINT) AS n_rows
      |  FROM files GROUP BY 1)
      |SELECT t.layout, t.n_files, t.n_rows, p.probes, p.skipped_probes,
      |       100e0 * CAST(p.skipped_probes AS DOUBLE) / CAST(p.probes AS DOUBLE)
      |         AS skip_pct,
      |       p.rows_scanned,
      |       100e0 * CAST(p.rows_scanned AS DOUBLE) / CAST(t.n_rows * 12 AS DOUBLE)
      |         AS scan_pct
      |FROM totals t JOIN probes p USING (layout)
      |ORDER BY t.layout""".stripMargin),
    doc = "layout: zone-map (min/max) pruning audit — insertion-order vs ship-month layouts probed with twelve month-range predicates; skip and scan fractions from exact file stats. " +
      "Zone-map: both layouts collapse map-side to file-granularity (fid, n, min, max) stats; the 12-predicate probe is a broadcast cross join on that metadata frame — at 100 TB a metadata-only query after one stats pass.")

  val all: Seq[Q] = Seq(q242)
}
