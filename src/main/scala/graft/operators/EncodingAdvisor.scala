package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Column-encoding advisor — the storage-layer sibling of q242's
  * zone maps and q248's compaction plan: for each candidate column,
  * measure what the two workhorse parquet encodings would actually
  * buy at the CURRENT layout — RLE (how many runs does the column
  * have inside each file-sized chunk, in insertion order?) and
  * dictionary (how many distinct values, hence bits per value?).
  * `runs ≈ ndv` after a sort, so `n_runs` vs `ndv` is exactly the
  * "would sorting by this column pay" signal a table-layout service
  * acts on.
  *
  * Exactness: runs are counted INSIDE orderkey-range chunks (the
  * q248 file ledger) in the deterministic (orderkey, linenumber)
  * order — chunk-local like real row groups, so the count is stable
  * under any task parallelism; ndv, rows, and dict bits
  * (Σ_k [ndv > 2^k], k < 40 — branch-free exact ceil-log2) are exact
  * integers; ratios are IEEE.
  *
  * Scale shape: ONE pass stacks the four columns via explode, and the
  * run windows partition by (column, chunk) — thousands of
  * independent, bounded partitions, never a global sort; everything
  * after is a 4-row frame.
  */
object EncodingAdvisor {

  /** Rows per layout chunk (q248's orderkey-range file granularity). */
  val ChunkKeys = 4096L

  val q260 = Q(
    "q260_encoding_advisor",
    (s, dir) => {
      import s.implicits._
      val stacked = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber",
          expr(s"l_orderkey div $ChunkKeys").as("fid"),
          explode(array(
            struct(lit("l_returnflag").as("col"), $"l_returnflag".cast("string").as("v")),
            struct(lit("l_linestatus").as("col"), $"l_linestatus".cast("string").as("v")),
            struct(lit("l_discount").as("col"),
              expr("cast(cast(l_discount as decimal(4,2)) as string)").as("v")),
            struct(lit("l_quantity").as("col"),
              expr("cast(cast(l_quantity as decimal(18,2)) as string)").as("v"))))
            .as("e"))
        .select($"l_orderkey", $"l_linenumber", $"fid",
          $"e.col".as("col"), $"e.v".as("v"))
      // (orderkey, linenumber) is NOT unique in the testdata; v breaks the
      // tie — remaining ties have equal v, so the run count is well-defined.
      val w = Window.partitionBy($"col", $"fid")
        .orderBy($"l_orderkey", $"l_linenumber", $"v")
      val runs = stacked
        .withColumn("chg",
          when(lag($"v", 1).over(w).isNull || lag($"v", 1).over(w) =!= $"v", 1L)
            .otherwise(0L))
        .groupBy($"col")
        .agg(count(lit(1)).as("n_rows"), sum($"chg").as("n_runs"),
          countDistinct($"v").as("ndv"))
      runs
        .select($"col".as("column_name"), $"n_rows", $"ndv", $"n_runs",
          expr("aggregate(sequence(0, 39), 0L, " +
            "(a, k) -> a + IF(ndv > shiftleft(1L, k), 1L, 0L))").as("dict_bits"),
          ($"n_rows".cast("double") / $"n_runs".cast("double")).as("avg_run_len"),
          ($"n_runs".cast("double") / $"n_rows".cast("double")).as("run_ratio"),
          ($"n_runs".cast("double") / $"ndv".cast("double")).as("sort_gain_x"))
        .orderBy($"column_name")
    },
    Some(s"""WITH stacked AS (
      |  SELECT l_orderkey, l_linenumber, l_orderkey // $ChunkKeys AS fid,
      |         col, v
      |  FROM lineitem,
      |       (VALUES (1), (2), (3), (4)) AS c(k),
      |       LATERAL (SELECT CASE c.k WHEN 1 THEN 'l_returnflag'
      |                                WHEN 2 THEN 'l_linestatus'
      |                                WHEN 3 THEN 'l_discount'
      |                                ELSE 'l_quantity' END AS col,
      |                       CASE c.k WHEN 1 THEN CAST(l_returnflag AS VARCHAR)
      |                                WHEN 2 THEN CAST(l_linestatus AS VARCHAR)
      |                                WHEN 3 THEN CAST(CAST(l_discount AS DECIMAL(4,2)) AS VARCHAR)
      |                                ELSE CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR) END AS v) x),
      |marked AS (
      |  SELECT col, v,
      |         CASE WHEN LAG(v) OVER (PARTITION BY col, fid
      |                ORDER BY l_orderkey, l_linenumber, v) IS DISTINCT FROM v
      |              THEN 1 ELSE 0 END AS chg
      |  FROM stacked),
      |runs AS (
      |  SELECT col, COUNT(*) AS n_rows, CAST(SUM(chg) AS BIGINT) AS n_runs,
      |         CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv
      |  FROM marked GROUP BY 1)
      |SELECT col AS column_name, n_rows, ndv, n_runs,
      |       CAST(list_reduce(list_transform(range(0, 40),
      |              k -> CASE WHEN ndv > (CAST(1 AS BIGINT) << k) THEN 1 ELSE 0 END),
      |            (a, b) -> a + b) AS BIGINT) AS dict_bits,
      |       CAST(n_rows AS DOUBLE) / CAST(n_runs AS DOUBLE) AS avg_run_len,
      |       CAST(n_runs AS DOUBLE) / CAST(n_rows AS DOUBLE) AS run_ratio,
      |       CAST(n_runs AS DOUBLE) / CAST(ndv AS DOUBLE) AS sort_gain_x
      |FROM runs ORDER BY column_name""".stripMargin),
    doc = "engine: RLE + dictionary encoding advisor for four lineitem columns — chunk-local exact run counts at the current layout, exact NDV/dict bits, sort-gain signal. " +
      "Both candidate layouts collapse map-side to chunk-granularity (fid, runs, distinct) stats; RLE/dict advice is epilogue on the metadata-sized frame — at 100 TB a stats-pass-then-metadata query.")

  val all: Seq[Q] = Seq(q260)
}
