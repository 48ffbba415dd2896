#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 12 --trace 0

Builds the engine from source when needed (`build.py`), generates the
workload's input from `--seed`, runs the JVM harness (one cold, timed
pass; the workloads are sized so that it lasts about `--seconds` on a
4-core host), checks every output, and prints one JSON object as the
last line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
they are the per-layer ones, taken from the traced pass. A failed or
wrong operation makes the run exit 1 and names the operation on stderr.
Everything the run writes stays under `.bench_runs/` in the checkout,
apart from the engine's own layout scratch directory, which the harness
cleans of everything the run created there.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

sys.dont_write_bytecode = True  # leave no caches beside the sources
import build
import gen
import stats

PROCESS_START = time.time()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUNS = ROOT / ".bench_runs"
# a run must end within 180 s of its start (a first run may also build):
# the harness is stopped 150 s after it starts, with time left for its
# clean-up and for the checks
DEADLINE_S = 150

# one query per operator family: relational aggregate, window, analytics
# (q52's exact percentile), graph, streaming, TxLog DML (q253's merge and
# q336's delete), the paper's gold transform in its gate form
OPERATOR_MIX = [
    "q01_pricing_summary", "q09_window_rank", "q52_approx_distinct",
    "q242_adamic_adar", "q42_session_window", "q253_txlog_merge",
    "q336_txlog_delete", "p28_gold_quarterly",
]

# near-duplicate prefix-filter join, containment join, CDC chunking, ANN
CURATION = [
    "d181_prefix_filter_join", "d225_containment_join", "t158_cdc_chunks",
    "s38_ann_brute",
]

WORKLOADS = {
    "medallion": {"banks": 150, "cus": 150, "quarters": 4, "states": 12, "pruned_reads": 32},
    "operator_mix": {"sf": 0.001, "docs": 300, "vecs": 300, "queries": OPERATOR_MIX},
    "curation": {"sf": 0.0005, "docs": 300, "vecs": 300, "replicas": 2, "queries": CURATION},
}

# metric names and units, in the order the result line lists them
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = [(m["name"], m["unit"]) for m in BENCH["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in BENCH["per_layer"]]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def dir_bytes(d):
    return sum(f.stat().st_size for f in Path(d).rglob("*") if f.is_file())


def quarter_of(d):
    return (d.month - 1) // 3 + 1


def med(xs):
    """Median of the values that are not None; None when there are none."""
    xs = [x for x in xs if x is not None]
    return stats.median(xs) if xs else None


# ------------------------------------------------------------------- plans

def medallion_plan(cfg, seed, silver):
    """Seeded consumer-phase parameters, chosen from the closed form so
    every read hits data and every restatement changes rows."""
    rng = np.random.default_rng(seed + 1)
    states = sorted({r[4] for r in silver})
    years = sorted({r[3].year for r in silver})
    reads = []
    for i in range(cfg["pruned_reads"]):
        if i % 3 == 2:  # one quarter across all states
            q = silver[int(rng.integers(0, len(silver)))][3]
            reads.append({"year": str(q.year), "quarter": str(quarter_of(q))})
        else:           # one state for one year
            reads.append({"state": states[int(rng.integers(0, len(states)))],
                          "year": str(years[int(rng.integers(0, len(years)))])})
    pick = silver[int(rng.integers(0, len(silver)))]
    update = {"state": pick[4], "year": pick[3].year, "quarter": quarter_of(pick[3]),
              "delta": 1000}
    merge_state = states[int(rng.integers(0, len(states)))]
    directory = sorted({(r[2], r[0], r[8], r[1], r[4], r[5]) for r in silver
                        if r[4] == merge_state})
    merge_rows = [[n, c, t, city, s, f"https://restated.example/{c}"]
                  for n, c, t, city, s, _ in directory]
    charters = sorted({r[0] for r in silver})
    closed = sorted(int(c) for c in rng.choice(charters, 3, replace=False))
    return {"reads": reads, "update": update, "merge": {"rows": merge_rows},
            "delete": {"charters": [str(c) for c in closed]}}


def rows_changed(silver, wplan):
    """Rows the three restatements change: merged, updated and deleted."""
    u = wplan["update"]
    updated = sum(1 for r in silver
                  if (r[4], r[3].year, quarter_of(r[3])) == (u["state"], u["year"], u["quarter"]))
    deleted = sum(1 for r in silver if str(r[0]) in wplan["delete"]["charters"])
    return len(wplan["merge"]["rows"]) + updated + deleted


# ----------------------------------------------------------------- metrics

def pass_figures(workload, p, input_bytes):
    ops = {o["name"]: o["s"] for o in p["ops"]}
    if workload == "medallion":
        return {"pass_s": ops.get("refresh"),
                "ops_ms": [o["s"] * 1e3 for o in p["ops"] if o["kind"] == "read"],
                "write_amp": p["extra"].get("lake_bytes", 0) / input_bytes}
    qs = [o["s"] for o in p["ops"]]
    return {"pass_s": sum(qs), "ops_ms": [q * 1e3 for q in qs],
            "write_amp": p["extra"].get("layout_bytes", 0) / input_bytes}


def end_to_end(workload, result, input_bytes):
    p = result["pass"]
    f = pass_figures(workload, p, input_bytes)
    ops_ms = f["ops_ms"] or None
    out = {
        "pass_s": f["pass_s"],
        "op_ms_p50": ops_ms and stats.percentile(ops_ms, 50),
        "op_ms_p75": ops_ms and stats.percentile(ops_ms, 75),
        "write_amp": f["write_amp"],
        "setup_s": med(result.get("setups", [])),
        "peak_rss_mb": result["peak_rss_kb"] / 1024.0 if "peak_rss_kb" in result else None,
    }
    # the same figures under the names the workload's readers use
    if workload == "medallion":
        detail = {"refresh_s": out["pass_s"], "gold_read_ms_p50": out["op_ms_p50"],
                  "gold_read_ms_p75": out["op_ms_p75"],
                  "restatement_s": med([o["s"] for o in p["ops"] if o["kind"] == "restatement"]),
                  "gold_scan_s": next((o["s"] for o in p["ops"] if o["name"] == "scan_assets"),
                                      None)}
    elif workload == "operator_mix":
        detail = {"mix_s": out["pass_s"],
                  "query_s_p50": out["op_ms_p50"] and out["op_ms_p50"] / 1e3,
                  "query_s_p75": out["op_ms_p75"] and out["op_ms_p75"] / 1e3}
    else:
        detail = {"curation_s": out["pass_s"]}
    detail["first_setup_s"] = result.get("first_setup_s")
    return out, detail


def per_layer(workload, result, spans, gen_info):
    p = result["pass"]
    selfs = stats.self_times(spans)

    def span_s(name):
        return sum(s["end_ns"] - s["start_ns"] for s in spans if s["name"] == name) / 1e9

    def extra(key, f=lambda v: v):
        return f(p["extra"][key]) if key in p["extra"] else None

    m = {}
    for key, name in (("pipeline.bronze_s", "pipeline.bronze"),
                      ("pipeline.silver_s", "pipeline.silver"),
                      ("txlog.publish_s", "txlog.publish"), ("txlog.merge_s", "txlog.merge"),
                      ("txlog.update_s", "txlog.update"), ("txlog.delete_s", "txlog.delete"),
                      ("deltabridge.export_s", "deltabridge.export")):
        m[key] = span_s(name)
    m["deltabridge.replay_ms"] = med([(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans
                                      if s["name"] == "deltabridge.replay"])
    # a full-table aggregate's own time: its span minus the log replay
    m["deltabridge.scan_ms"] = med([selfs[s["id"]] / 1e6 for s in spans
                                    if s["name"] == "op.scan_assets"])
    if workload == "medallion":
        rows = extra("silver_rows")
        m["pipeline.silver_rows"] = rows
        m["pipeline.quarantined_frac"] = rows is not None and 1 - rows / gen_info["staged_rows"]
        m["txlog.files_added"] = extra("publishes", lambda ps: sum(c["files_added"] for c in ps))
        m["txlog.bytes_added"] = extra("publishes", lambda ps: sum(c["bytes_added"] for c in ps))
        m["txlog.files_rewritten"] = extra("dml", lambda ds: sum(d["files_removed"] for d in ds))
        m["txlog.bytes_rewritten"] = extra("dml", lambda ds: sum(d["bytes_removed"] for d in ds))
        m["txlog.rows_changed_per_row_rewritten"] = extra(
            "dml", lambda ds: gen_info["rows_changed"] / max(1, sum(d["rows_removed"] for d in ds)))
        m["deltabridge.log_bytes"] = extra("log_bytes")
        m["deltabridge.files_read_frac"] = med(
            [r["files_read"] / r["live_files"] for r in p["extra"].get("reads", [])
             if r.get("live_files")])
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "task_skew"):
        m[f"spark.{k}"] = extra("spark", lambda s: s[k])
    m.update({f"spark.{k}": v for k, v in result.get("floors", {}).items()})
    m["layout.build_s"] = extra("layout_build_s")
    m["layout.bytes"] = extra("layout_bytes")
    m["layout.count"] = extra("layout_count")
    for k, v in result.get("kernels", {}).items():
        m[f"catalyst.{k}.rows_per_s"] = v["rows_per_s"]
    for q in OPERATOR_MIX + CURATION:
        m[f"op.{q}.s"] = next((o["s"] for o in p["ops"] if o["name"] == q), None)
    # the traced pass, to set against pass_s of untraced runs (steady.py
    # does), and the in-run overhead of tracing a fixed probe
    m["trace.pass_s"] = pass_figures(workload, p, 1)["pass_s"]
    m["trace.overhead_frac"] = result.get("trace_overhead_frac")
    # a layer the workload never calls into did no work in it
    return {n: float(m.get(n) or 0.0) for n, _ in PER_LAYER}


# -------------------------------------------------------------------- main

def start_harness(run_dir, workload, cpus):
    """Start the harness JVM; it boots Spark while the input is generated
    and waits for the plan."""
    # -XX:-UsePerfData: no hsperfdata file outside the run directory
    jvm = ["java", "-Xss8m", "-Xmx3g", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        jvm += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    jvm += ["-cp", build.classpath(), "graft.perfbench.Harness", str(run_dir), workload, str(cpus)]
    with open(run_dir / "jvm.log", "w") as jlog:
        return subprocess.Popen(jvm, stdout=jlog, stderr=subprocess.STDOUT, cwd=run_dir,
                                start_new_session=True)


def stop_harness(proc, started, deadline_s):
    """Wait for the harness until `deadline_s` after it `started`, then
    stop it (SIGTERM lets its shutdown hook clean up; SIGKILL 10 s later);
    returns its exit code."""
    try:
        proc.wait(timeout=max(1, deadline_s - (time.time() - started)))
    except subprocess.TimeoutExpired:
        log("perfbench: the harness passed its deadline and is stopped")
        os.killpg(proc.pid, signal.SIGTERM)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cfg = WORKLOADS[args.workload]

    build.build()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(PROCESS_START)}-{os.getpid()}"
    run_dir = RUNS / run_id
    master = run_dir / "master"
    master.mkdir(parents=True)
    (run_dir / "tmp").mkdir()
    cpus = len(os.sched_getaffinity(0))
    started = time.time()
    proc = start_harness(run_dir, args.workload, cpus)
    try:
        gen_info, wplan = {}, None
        if args.workload == "medallion":
            src = gen.gen_medallion(str(master), args.seed, cfg["banks"], cfg["cus"],
                                    cfg["quarters"], cfg["states"])
            wplan = medallion_plan(cfg, args.seed, src["silver"])
            gen_info = {"staged_rows": src["staged_rows"],
                        "rows_changed": rows_changed(src["silver"], wplan)}
        else:
            gen.gen_tables(str(master), args.seed, cfg["sf"], cfg["docs"], cfg["vecs"])
            if cfg.get("replicas", 1) > 1:
                gen.replicate_corpus(str(master), cfg["replicas"])
        input_bytes = dir_bytes(master)
        tmp = run_dir / "plan.json.tmp"
        tmp.write_text(json.dumps({
            "run_id": run_id, "seed": args.seed,
            "trace": bool(args.trace), "input_dir": str(master),
            "process_start_ms": int(PROCESS_START * 1000),
            "queries": cfg.get("queries", []), "medallion": wplan}))
        tmp.rename(run_dir / "plan.json")
    finally:
        code = stop_harness(proc, started,
                            DEADLINE_S if (run_dir / "plan.json").exists() else 0)
    import check  # DuckDB and pandas load after the timed work
    rfile = run_dir / "result.json"
    if not rfile.is_file():
        log(f"perfbench: the harness wrote no result (exit {code}); see {run_dir}/jvm.log")
        return 1
    result = json.loads(rfile.read_text())
    spans = [json.loads(l) for l in (run_dir / "spans.jsonl").read_text().splitlines() if l]

    # ---- checks, outside every timed call
    p = result["pass"]
    failures = [(f["name"], f["error"]) for f in p["failures"]]
    if result.get("status") != "ok":
        failures.append(("harness", result.get("error", "unknown error")))
    if args.workload == "medallion":
        wrong = check.check_medallion_pass(run_dir / "pass", p,
                                           check.medallion_truth(src["silver"], wplan))
    else:
        wrong = check.check_queries(str(run_dir / "pass" / "input"), str(run_dir / "results"),
                                    [o["name"] for o in p["ops"]])
    attempted = max(1, len(p["ops"]) + len(p["failures"]))
    failed = len(failures) + len(wrong)
    for name, err in failures + wrong:
        log(f"perfbench: FAILED {name}: {err}")

    provenance = {"git_sha": git_sha(), "source_stamp": build.current_stamp(),
                  "cpus": cpus, "seed": args.seed,
                  "spark_version": result.get("spark_version"), "workload": args.workload,
                  "seconds": args.seconds, "trace": args.trace}
    e2e, detail = end_to_end(args.workload, result, input_bytes)
    detail["failed_frac"] = failed / attempted
    if args.trace:
        layer = per_layer(args.workload, result, spans, gen_info)
        metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    (run_dir / "metrics.json").write_text(json.dumps(
        {"provenance": provenance, "metrics": metrics, "detail": detail,
         "failures": failures + wrong}, indent=1, default=str))
    log(f"perfbench: {json.dumps(provenance)}")
    log(f"perfbench: {json.dumps(detail)}")
    for child in run_dir.iterdir():
        if child.is_dir():
            shutil.rmtree(child, ignore_errors=True)

    metrics = {k: v for k, v in metrics.items() if v["value"] is not None}
    ok = failed == 0 and len(metrics) == len(PER_LAYER if args.trace else END_TO_END)
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed if ok else max(failed, 1),
                      "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
