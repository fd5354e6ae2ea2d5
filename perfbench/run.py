#!/usr/bin/env python3
"""Run one workload of the graft benchmark with one seed.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the repo and the benchmark with sbt on first use (or when a source
is newer than the last build), generates the workload's inputs from the
seed, runs the workload in one JVM (perfbench.Main), checks the outputs,
and prints one JSON object as the last line of standard output. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# Scale factor of the generated tables per query workload (etl generates
# its own landing data inside the JVM).
WORKLOAD_SF = {"etl_backfill": None, "analytics_mix": 0.01, "warehouse_sql": 0.01,
               "graph_iter": 0.01, "llm_corpus": 0.01}
# Gated metrics. The raw walls (pass_wall_s, op_p50_s, rows_per_s) are in the
# detail line; the gated times are divided by a plain-Spark reference job
# timed in the same run, because whole runs drift with the host's speed.
END_TO_END = ["setup_s", "pass_wall_rel", "op_p50_rel", "rss_peak_mb"]
UNITS = {"setup_s": "s", "pass_wall_rel": "ratio", "op_p50_rel": "ratio", "rss_peak_mb": "MiB"}
# A fixed, pre-touched heap makes peak RSS independent of how far the heap
# happened to grow, so rss_peak_mb moves with off-heap memory (metaspace,
# code cache, threads, buffers) rather than with GC timing.
JVM_HEAP = "3g"
# A run must end within 180 s, and the first one (which builds) within 900 s.
RUN_LIMIT_S = 165
BUILD_LIMIT_S = 700


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the repo and the benchmark unless the last build is current."""
    needed = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        die(f"repository sources not found ({', '.join(os.path.relpath(p, ROOT) for p in missing)}); "
            "run from a full checkout of the repository")
    stamp = os.path.join(HERE, "target", "classpath.txt")
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
               os.path.join(ROOT, "project", "build.properties"),
               os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")]
    if os.path.isfile(stamp) and os.path.getmtime(stamp) >= newest_mtime(sources):
        return
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    log_path = os.path.join(HERE, ".out", "build.log")
    with open(log_path, "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
    if rc != 0 or not os.path.isfile(stamp):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"build failed (exit {rc}); log in {os.path.relpath(log_path, ROOT)}")


def jvm_command(args, data, work, out):
    with open(os.path.join(HERE, "target", "classpath.txt")) as f:
        cp = f.read().strip()
    with open(os.path.join(HERE, "target", "jvm-options.txt")) as f:
        opts = [o for o in f.read().split("\n") if o and not o.startswith("-Xmx")]
    return (["java"] + opts +
            [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
             "-cp", cp, "perfbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--data", data, "--work", work, "--out", out])


def oracle_check(report, data):
    """Compare each query op's checked result with its oracle SQL under DuckDB.

    Uses the canonicalisation of tools/check_correctness.py. Returns
    {op: problem} for every op whose output is wrong.
    """
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_correctness import table_rows
    con = duckdb.connect()
    for t in os.listdir(data):
        if t.endswith(".parquet"):
            con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{data}/{t}'")
    results = os.path.join(report["_work"], "results")
    problems = {}
    for op in [o["name"] for o in report["ops"]]:
        path = os.path.join(results, op)
        if not os.path.isdir(path):
            problems[op] = "no result written"
            continue
        spark_sql = f"SELECT * FROM '{path}/*.parquet'"
        sql = report["oracle_sql"].get(op)
        try:
            if sql is None:
                if con.sql(spark_sql).fetchone() is None:
                    problems[op] = "empty result and no oracle"
                continue
            got, want = table_rows(con, spark_sql), table_rows(con, sql)
        except Exception as e:  # an oracle or read error is a failed check
            problems[op] = f"{type(e).__name__}: {e}"[:300]
            continue
        if got != want:
            if got[0] != want[0] or got[1] != want[1]:
                problems[op] = f"columns/types {got[:2]} vs oracle {want[:2]}"
            else:
                bad = sum(1 for a, b in zip(got[2], want[2]) if a != b)
                problems[op] = f"{len(got[2])} rows vs oracle {len(want[2])}, {bad} differ"
    return problems


def op_rows(report, table_rows_by_name):
    """Input rows of each op: the landing rows of a pipeline run, or the rows
    of the tables a query's oracle SQL reads (fixed per op, not what the
    engine chooses to scan)."""
    if report["etl_rows"]:
        return report["etl_rows"]
    rows = {}
    for op in [o["name"] for o in report["ops"]]:
        sql = report["oracle_sql"].get(op, "").lower()
        rows[op] = sum(n for t, n in table_rows_by_name.items()
                       if re.search(rf"\b{t}\b", sql))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    build()
    t_setup = time.time()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "data")
    out = os.path.join(work, "report.json")
    try:
        sf = WORKLOAD_SF[args.workload]
        counts = {}
        if sf is not None:
            import gen_data
            counts = gen_data.generate(data, args.seed, sf)
        log_path = os.path.join(work, "jvm.log")
        limit = RUN_LIMIT_S - (time.time() - t_setup)
        with open(log_path, "w") as log:
            try:
                rc = subprocess.run(jvm_command(args, data, work, out), cwd=ROOT,
                                    stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=limit).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.isfile(out):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            die(f"benchmark JVM failed ({rc})", 1)
        with open(out) as f:
            report = json.load(f)
        report["_work"] = work
        finish(args, report, counts, data, t_setup)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def finish(args, report, counts, data, t_setup):
    wrong = oracle_check(report, data) if not report["etl_rows"] else {}
    passes = report["passes"]
    samples = [s for p in passes for s in p["samples"]]
    failed = sum(1 for s in samples if not s["ok"] or s["op"] in wrong)
    rows = op_rows(report, counts)
    summary = report["summary"]
    e2e = {
        "setup_s": report["timeline"]["setup_end_ms"] / 1000.0 - t_setup,
        "pass_wall_s": summary["pass_wall_s"],
        "op_p50_s": summary["op_p50_s"],
        "op_tail_s": summary["op_tail_s"],
        "rows_per_s": statistics.median(sum(rows[s["op"]] for s in p["samples"]) / p["wall_s"]
                                        for p in passes),
        "rss_peak_mb": summary["rss_peak_mb"],
        "pass_wall_rel": summary["pass_wall_rel"],
        "op_p50_rel": summary["op_p50_rel"],
        "reference_s": summary["reference_s"],
    }
    # Errors in the warm-up or traced passes make the run incorrect too.
    correct = failed == 0 and not wrong and not report["errors"]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "error_rate": failed / max(1, len(samples)),
        "raw_zone_bytes_ratio": (report["raw_bytes"] / report["landing_bytes"]
                                 if report["landing_bytes"] else None),
        "op_tail": {k: summary[k] for k in ("op_tail_percentile", "op_tail_samples",
                                            "op_tail_beyond", "op_tail_rule_met")},
        "passes": [round(p["wall_s"], 4) for p in passes],
        "op_median_s": {op: round(statistics.median(s["latency_s"] for s in samples
                                                   if s["op"] == op), 4)
                        for op in sorted({s["op"] for s in samples})},
        "warmup_wall_s": report["warmup"]["wall_s"],
        "warmup_op_s": {s["op"]: round(s["latency_s"], 4) for s in report["warmup"]["samples"]},
        "wrong_outputs": wrong, "errors": report["errors"][:20],
        "host": report["host"], "timeline": report["timeline"],
        "end_to_end": e2e,
    }
    if args.trace:
        detail["trace"] = {k: v for k, v in report["trace"].items() if k != "metrics"}
        spans = os.path.join(HERE, ".out", f"spans-{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        shutil.copyfile(report["trace"]["span_file"], spans)
        detail["trace"]["span_file"] = os.path.relpath(spans, ROOT)
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(report["trace"]["metrics"].items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    print(json.dumps(detail))
    print(json.dumps({"correct": correct, "attempted": len(samples), "failed": failed,
                      "metrics": metrics}))


def layer_unit(name):
    if name.endswith("_ms") or name.endswith("_ms_per_run"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name in ("spark.task_util", "trace_overhead", "trace.attributed_share"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
