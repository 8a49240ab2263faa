package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Small-file compaction planning — the maintenance twin of q242's
  * zone-map audit: q242 scores how a layout PRUNES; this operator
  * plans how to FIX the small-file problem that layout accumulated,
  * by bin-packing the orderkey-range file ledger into
  * target-capacity compaction groups with the next-fit-decreasing
  * (NFD) heuristic — the one-pass packing rule a table-maintenance
  * service can run over a million-file ledger without holding open
  * bins (next-fit keeps exactly ONE open bin; first-fit-decreasing
  * packs ~5% tighter but needs every bin resident, which is what a
  * 100 TB ledger can't afford).
  *
  * Exactness: NFD is a genuinely serial fold, but over exact
  * INTEGERS (bin count, open-bin load), so the only cross-engine
  * hazard is the v1.0 `list_reduce` accumulator aliasing (the q232
  * discovery — two-field fold state is silently wrong in DuckDB);
  * the oracle therefore runs the identical recursion as a RECURSIVE
  * CTE over the size-desc-ordered ledger while Spark folds with
  * `aggregate` + `named_struct`. Fill/saving percentages are IEEE
  * divisions of exact integers.
  *
  * Scale shape: the corpus collapses map-side to the file ledger
  * (fid, n_rows) — metadata-sized; the fold runs once over that
  * ledger (at real scale: per partition/table shard, ledgers are
  * thousands of files); 1 row out.
  */
object CompactionPlan {

  /** Target rows per compacted file (the "128 MB" knob in row units). */
  val CapRows = 16384L

  val q248 = Q(
    "q248_compaction_plan",
    (s, dir) => {
      import s.implicits._
      val files = Tables.load(s, dir, "lineitem")
        .groupBy(expr("l_orderkey div 4096").as("fid"))
        .agg(count(lit(1)).as("sz"))
      files
        .agg(count(lit(1)).as("n_files"), sum($"sz").as("total_rows"),
          max($"sz").as("max_file_rows"),
          sort_array(collect_list(struct((-$"sz").as("negsz"), $"fid"))).as("ord"))
        .withColumn("f", expr(
          s"""aggregate(
             |  slice(ord, 2, size(ord) - 1),
             |  named_struct('bins', 1L, 'load', -ord[0].negsz),
             |  (acc, x) -> IF(acc.load - x.negsz <= ${CapRows}L,
             |    named_struct('bins', acc.bins, 'load', acc.load - x.negsz),
             |    named_struct('bins', acc.bins + 1L, 'load', -x.negsz)))""".stripMargin))
        .select($"n_files", $"total_rows", $"max_file_rows",
          lit(CapRows).as("cap_rows"), $"f.bins".as("n_bins"),
          (lit(100d) * $"total_rows".cast("double")
            / ($"f.bins" * CapRows).cast("double")).as("fill_pct"),
          (lit(100d) * ($"n_files" - $"f.bins").cast("double")
            / $"n_files".cast("double")).as("files_saved_pct"))
    },
    Some(s"""WITH RECURSIVE files AS MATERIALIZED (
      |  SELECT l_orderkey // 4096 AS fid, COUNT(*) AS sz
      |  FROM lineitem GROUP BY 1),
      |ord AS MATERIALIZED (
      |  SELECT fid, sz, ROW_NUMBER() OVER (ORDER BY sz DESC, fid) AS rn
      |  FROM files),
      |rec AS (
      |  SELECT rn, CAST(1 AS BIGINT) AS bins, sz AS load FROM ord WHERE rn = 1
      |  UNION ALL
      |  SELECT o.rn,
      |         CASE WHEN r.load + o.sz <= $CapRows THEN r.bins
      |              ELSE r.bins + 1 END,
      |         CASE WHEN r.load + o.sz <= $CapRows THEN r.load + o.sz
      |              ELSE o.sz END
      |  FROM rec r JOIN ord o ON o.rn = r.rn + 1),
      |tot AS (
      |  SELECT COUNT(*) AS n_files, CAST(SUM(sz) AS BIGINT) AS total_rows,
      |         CAST(MAX(sz) AS BIGINT) AS max_file_rows
      |  FROM files),
      |fin AS (
      |  SELECT bins FROM rec, tot WHERE rec.rn = tot.n_files)
      |SELECT t.n_files, t.total_rows, t.max_file_rows,
      |       CAST($CapRows AS BIGINT) AS cap_rows,
      |       f.bins AS n_bins,
      |       100e0 * CAST(t.total_rows AS DOUBLE)
      |         / CAST(f.bins * $CapRows AS DOUBLE) AS fill_pct,
      |       100e0 * CAST(t.n_files - f.bins AS DOUBLE)
      |         / CAST(t.n_files AS DOUBLE) AS files_saved_pct
      |FROM tot t, fin f""".stripMargin),
    doc = "engine: next-fit-decreasing compaction plan over the orderkey-range file ledger — exact integer fold (recursive-CTE oracle), bins/fill/savings report. " +
      "Compaction: corpus collapses map-side to the (fid, sz) file ledger; the NFD fold is one ordered `aggregate` over that metadata-sized array (exact integer bin state); 1 row out.")

  val all: Seq[Q] = Seq(q248)
}
