#!/usr/bin/env python3
"""Benchmark entry point; run from the root of a checkout.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 8 --trace 0

Builds the program and the harness (perfbench/build.py, cached), runs
the workload in one JVM (perfbench.Harness), checks the outputs
(perfbench/checks.py) and prints, as the last line of standard output,
one JSON object with `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. See perfbench/README.md for what each metric means.
"""
import argparse
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.dont_write_bytecode = True  # keep the benchmark's own directory read-only
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import checks  # noqa: E402

# A run must end within 180 s; the harness gets what is left of that
# after the build (a first run in a checkout builds, and may take longer).
RUN_LIMIT_S = 170
JVM_HEAP = "3g"

# CPU seconds rather than wall seconds: on a shared VM the wall clock of
# the same run drifted by 30-40% between two sets of ten, CPU time by 14%
END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "op_cpu_geomean_s": "s",
}

FAMILIES = ["operators", "streaming", "functions", "security", "multimodal",
            "etl", "text", "similarity", "graph"]
SPAN_LAYERS = ["op", "registry.build", "materialize", "etl.pipeline",
               "etl.pipeline_upsert", "curation", "bandindex.compact"]
PER_LAYER = {
    "registry.build_s": "s", "registry.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_wall_s": "s", "exec.scheduler_delay_s": "s",
    "exec.executor_cpu_s": "s", "exec.executor_run_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    **{f"{f}.wall_s": "s" for f in FAMILIES},
    "etl.pipeline.wall_s": "s", "etl.pipeline_upsert.wall_s": "s",
    "etl.e1_rows_per_s": "rows/s", "etl.e1_upsert_rows_per_s": "rows/s",
    "etl.bytes_written_per_row": "bytes",
    "curation.wall_s": "s", "curation.docs_per_s": "docs/s",
    "curation.post_ingest_s": "s",
    "streaming.ingest_s": "s", "streaming.batches": "count",
    "streaming.ingest_batch_p50_s": "s", "streaming.ingest_batch_p90_s": "s",
    "streaming.addBatch_ms": "ms", "streaming.queryPlanning_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "bandindex.compact_s": "s",
    "bandindex.data_files_before_compact": "count",
    "bandindex.data_files_after_compact": "count",
    "bandindex.compact_bytes_rewritten": "bytes",
    "jvm.heap_peak_mb": "MB",
    "trace.op_wall_s": "s", "trace.gap_s": "s", "trace.overhead_frac": "ratio",
    **{f"self.{l}_s": "s" for l in SPAN_LAYERS},
}

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_harness(args, workload, work, classes, jars, trace, budget_s):
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    cmd = ["java", f"-Xmx{JVM_HEAP}", *JAVA_OPENS, "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Harness",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace),
           "--work", str(work), "--out", str(out)]
    if workload["queries"]:
        cmd += ["--queries", ",".join(workload["queries"])]
    log = work / "harness.log"
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=budget_s,
                               cwd=work)
        except subprocess.TimeoutExpired:
            sys.exit(f"harness did not finish within {budget_s:.0f} s; log: {log}")
    if r.returncode != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-3000:])
        sys.exit(f"harness failed with exit code {r.returncode}")
    return json.loads(out.read_text())


def measure(args, workload, work, classes, jars, trace, deadline):
    """One harness JVM, then the checks of everything it wrote. Returns
    the harness result and the operations split into ok and failed; a
    failed check fails the operation whose output it covers.
    """
    res = run_harness(args, workload, work, classes, jars, trace,
                      deadline - time.monotonic())
    ops = res["ops"]
    if args.workload == "etl_write":
        bad = checks.check_etl(res["checks"], str(work))
    else:
        bad = checks.check_queries(res["checks"], ops, str(work))
    for (p, name), e in sorted(bad.items()):
        print(f"check failed: {name} (pass {p}): {e}", file=sys.stderr)
    for op in ops:
        if op["error"]:
            print(f"operation failed: {op['name']} (pass {op['pass']}): {op['error']}",
                  file=sys.stderr)
    is_bad = lambda op: op["error"] or (op["pass"], op["name"]) in bad  # noqa: E731
    return res, [op for op in ops if not is_bad(op)], [op for op in ops if is_bad(op)]


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    workloads = json.loads((HERE / "workloads.json").read_text())
    if args.workload not in workloads:
        sys.exit(f"unknown workload {args.workload}; one of {sorted(workloads)}")
    workload = workloads[args.workload]

    try:
        classes, jars, build_s = build.build()
    except build.BuildError as e:
        sys.exit(f"build: {e}")
    deadline = t_start + build_s + RUN_LIMIT_S
    work = build.BUILD / "work" / args.workload

    res, ok, failed = measure(args, workload, work / "untraced", classes, jars, 0, deadline)
    attempted = len(ok) + len(failed)
    if args.trace == 0:
        cpu = [op["cpu_s"] for op in ok]
        values = {
            "setup_s": statistics.median(res["setup_cpu_s"]),
            "op_cpu_s": statistics.mean(cpu) if cpu else 0.0,
            "op_cpu_geomean_s": statistics.geometric_mean(cpu) if cpu else 0.0,
        }
        units = END_TO_END
    else:
        # a separate traced run of the same seed: its layers are the
        # per-layer metrics, and its slowdown against the untraced run
        # is the tracing overhead
        untraced = {(op["pass"], op["name"]): op["latency_s"] for op in ok}
        res, ok_t, failed_t = measure(args, workload, work / "traced", classes, jars, 1,
                                      deadline)
        attempted += len(ok_t) + len(failed_t)
        failed += failed_t
        pairs = [(op["latency_s"], untraced[(op["pass"], op["name"])]) for op in ok_t
                 if (op["pass"], op["name"]) in untraced]
        values = {k: 0.0 for k in PER_LAYER}
        values.update({k: v for k, v in (res["layers"] or {}).items() if k in PER_LAYER})
        if pairs:
            values["trace.overhead_frac"] = sum(t for t, _ in pairs) / sum(u for _, u in pairs) - 1
        units = PER_LAYER

    # wall-clock figures of the (last) run, for the record
    lat = [op["latency_s"] for op in res["ops"]]
    print(json.dumps({"workload": args.workload, "seed": args.seed, "passes": res["passes"],
                      "samples": len(ok), "setup_wall_s": res["setup_s"],
                      "setup_cpu_s": res["setup_cpu_s"], "ops_wall_s": round(sum(lat), 2),
                      "ops_per_s": round(len(lat) / sum(lat), 4),
                      "op_wall_geomean_s": round(statistics.geometric_mean(lat), 4),
                      "timed_s": round(res["timed_s"], 1), "build_s": round(build_s, 1),
                      "wall_s": round(time.monotonic() - t_start, 1), "stamp": res["stamp"]}))
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
