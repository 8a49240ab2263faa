"""Output checks of a benchmark run, made untimed after the harness exits.

Every check reads what the program wrote and compares it with an
independent computation in DuckDB:

* queries: each query's result against its DuckDB oracle SQL over the
  same staged inputs, with the compare rules of tools/check_oracle.py
  (columns by name, value classes, rows sorted, values at 17
  significant digits);
* E1 load and upsert: report.json counts equal the written tables' row
  counts and the expected key counts, keys are unique, and the
  readmission table equals a DuckDB computation over the written
  fact_encounters;
* curation: the kept sink and the manifest agree with the report, kept
  plus ingest-dropped equals crawled, no text is kept in two
  micro-batches, and the selected tokens stay within the budget;
* compaction: the index tables' row counts are unchanged.

Each function returns {operation key: error message} for what failed.
"""
import glob
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _connect(work):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    tmp = os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET threads=4")
    return con


def _files(path):
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _canon_dtype(dt):
    k = dt.kind
    if k in "iu":
        return "int"
    return {"f": "float", "b": "bool", "M": "datetime", "m": "timedelta",
            "O": "object"}.get(k, str(dt))


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.17g}"
    if v is None:
        return "NULL"
    return str(v)


def check_queries(c, ops, work):
    """Oracle compare of every output a query operation wrote; keys are
    (pass, query name)."""
    con = _connect(work)
    for t in TABLES:
        src = _files(os.path.join(c["data"], f"{t}.parquet"))
        if t == "events":
            # events.ts is staged as raw INT64 microseconds
            con.execute(f"CREATE VIEW {t} AS SELECT * REPLACE "
                        f"(make_timestamp(ts) AS ts) FROM read_parquet({src!r})")
        else:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({src!r})")
    failed, oracle = {}, {}
    for op in ops:
        if op["error"]:
            continue
        name, key = op["name"], (op["pass"], op["name"])
        sql = c["oracle_sql"].get(name)
        if sql is None:
            failed[key] = "no oracle SQL registered"
            continue
        try:
            if name not in oracle:
                want = con.execute(sql).fetchdf()
                cols = sorted(want.columns)
                oracle[name] = (cols, [_canon_dtype(want[x].dtype) for x in cols],
                                sorted(tuple(_norm(v) for v in r)
                                       for r in want[cols].itertuples(index=False)))
            files = _files(os.path.join(c["results"], name, f"p{op['pass']}"))
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        except Exception as e:  # a broken result or oracle is a failed check
            failed[key] = f"compare error: {str(e)[:300]}"
            continue
        wcols, wtypes, w = oracle[name]
        gcols = sorted(got.columns)
        if gcols != wcols:
            failed[key] = f"columns {gcols} vs {wcols}"
            continue
        gtypes = [_canon_dtype(got[x].dtype) for x in gcols]
        if gtypes != wtypes:
            failed[key] = f"value classes {gtypes} vs {wtypes}"
            continue
        g = sorted(tuple(_norm(v) for v in r) for r in got[gcols].itertuples(index=False))
        if g != w:
            diffs = [(a, b) for a, b in zip(g, w) if a != b][:2]
            failed[key] = f"rows {len(g)} vs {len(w)}, first diffs {str(diffs)[:300]}"
    return failed


READMISSIONS = """
WITH e AS (
  SELECT encounter_type, encounter_date, discharge_date,
         lead(encounter_date) OVER (PARTITION BY patient_id
                                    ORDER BY encounter_date, encounter_id) AS next_dt,
         count(*) OVER (PARTITION BY patient_id, encounter_date) AS same_day_n
  FROM read_parquet({files!r}))
SELECT encounter_type, count(*) AS n,
       sum(CASE WHEN same_day_n > 1
                  OR (next_dt IS NOT NULL AND next_dt <= discharge_date + INTERVAL 30 DAY)
                THEN 1 ELSE 0 END) AS readmissions
FROM e GROUP BY encounter_type HAVING count(*) >= 10
"""


def _check_e1(con, d, patients):
    report = json.load(open(os.path.join(d, "report.json")))
    expect = {"dim_patient": ("patient_id", patients, "patients"),
              "fact_encounters": ("encounter_id", 5 * patients, "encounters"),
              "fact_lab_results": ("lab_id", 10 * patients, "labs")}
    for table, (key, n, field) in expect.items():
        files = _files(os.path.join(d, table))
        rows, keys = con.execute(f"SELECT count(*), count(DISTINCT {key}) "
                                 f"FROM read_parquet({files!r})").fetchone()
        if not rows == keys == n == report[field]:
            return (f"{table}: {rows} rows, {keys} keys, expected {n}, "
                    f"report says {report[field]}")
    files = _files(os.path.join(d, "fact_encounters"))
    want = {t: (n, r, r * 100.0 / n)
            for t, n, r in con.execute(READMISSIONS.format(files=files)).fetchall()}
    got = {x["encounter_type"]: (x["encounters"], x["readmissions"], x["readmission_rate"])
           for x in report["readmission_analysis"]}
    if got != want:
        return f"readmission table {got} differs from the recomputation {want}"
    return None


def _check_curation(con, it, crawl):
    cur = it["curation"]
    if cur is None:
        return "no curation report"
    crawl_files = _files(crawl)
    sink = _files(cur["corpus"])
    manifest = _files(cur["manifest"])
    crawled = con.execute(f"SELECT count(*) FROM read_parquet({crawl_files!r})").fetchone()[0]
    # the ingest dedups each micro-batch against earlier batches only
    # (intra-batch duplicates are upstream's job), so an exact text may
    # repeat within one batch but never across two
    kept, kept_ids, cross_batch = con.execute(
        f"SELECT count(*), count(DISTINCT doc_id), "
        f"(SELECT count(*) FROM (SELECT text FROM read_parquet({sink!r}, hive_partitioning=true) "
        f"GROUP BY text HAVING count(DISTINCT ingest_batch) > 1)) "
        f"FROM read_parquet({sink!r})").fetchone() if sink else (0, 0, 0)
    dropped = con.execute(
        f"SELECT count(*) FROM read_parquet({crawl_files!r}) c WHERE c.doc_id NOT IN "
        f"(SELECT doc_id FROM read_parquet({sink!r}))").fetchone()[0] if sink else crawled
    sel, sel_ids, tokens, outside = con.execute(
        f"SELECT count(*), count(DISTINCT doc_id), coalesce(sum(n_tokens), 0), "
        f"count(*) FILTER (WHERE doc_id NOT IN (SELECT doc_id FROM read_parquet({sink!r}))) "
        f"FROM read_parquet({manifest!r})").fetchone() if manifest else (0, 0, 0, 0)
    problems = []
    if not kept == kept_ids == cur["kept"]:
        problems.append(f"sink {kept} rows / {kept_ids} ids, report kept {cur['kept']}")
    if cross_batch:
        problems.append(f"{cross_batch} texts kept in more than one micro-batch")
    if kept + dropped != crawled:
        problems.append(f"kept {kept} + dropped {dropped} != crawled {crawled}")
    if not sel == sel_ids == cur["selected"] or outside:
        problems.append(f"manifest {sel} rows / {sel_ids} ids / {outside} outside the sink, "
                        f"report selected {cur['selected']}")
    if not tokens == cur["selected_tokens"] <= cur["token_budget"]:
        problems.append(f"selected tokens {tokens} (report {cur['selected_tokens']}) "
                        f"vs budget {cur['token_budget']}")
    return "; ".join(problems) or None


def check_etl(c, work):
    """Keys are (pass, step name); one pass is one iteration."""
    con = _connect(work)
    failed = {}
    for i, it in enumerate(c["iterations"]):
        for step, d, n in (("etl.pipeline", "e1_load", it["patients"]),
                           ("etl.pipeline_upsert", "e1", it["upsert_patients"])):
            try:
                err = _check_e1(con, os.path.join(it["dir"], d), n)
            except Exception as e:
                err = f"check error: {str(e)[:300]}"
            if err:
                failed[(i, step)] = err
        try:
            err = _check_curation(con, it, c["crawl"])
        except Exception as e:
            err = f"check error: {str(e)[:300]}"
        if err:
            failed[(i, "curation")] = err
        before, after = it["index_rows_before_compact"], it["index_rows_after_compact"]
        if not before or before != after or min(before) <= 0:
            failed[(i, "bandindex.compact")] = \
                f"index rows {before} before compaction, {after} after"
    return failed
