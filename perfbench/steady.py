#!/usr/bin/env python3
"""Steadiness check: run each workload N times, twice, and compare.

    python3 perfbench/steady.py --runs 10

Each set runs every workload `--runs` times with a different `--seed`
each time (set 1 uses seeds 1..N, set 2 seeds 101..100+N). For each
end-to-end metric it prints the median and quartiles per set, the spread
(interquartile range over median) and whether

  * each set's spread stays within the metric's bound in BENCHMARK.json
    (`setup_s` is printed but not held to it: it is a median of set-ups
    of under 0.1 s each, all taken within about two seconds, so a short
    burst of load on the host moves it; the benchmark's acceptance rule
    exempts it too), and
  * the two sets' medians differ by no more than the bound, in either
    direction: both sets run the same code. This holds for `setup_s`
    too.

With `--trace` it also makes one traced run per seed of set 1 and reports
the tracing overhead (the traced pass over the untraced pass) and where
the traced pass goes: the job-launch floor times the job count, layout
builds, task time and shuffle. Exits 1 when
a check fails or a run fails.
"""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

import stats

ROOT = Path(__file__).resolve().parent.parent


def run_once(bench, workload, seed, trace):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1]) if lines else {}
    if p.returncode != 0 or not out.get("correct"):
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"steady: {workload} seed {seed} failed (exit {p.returncode})")
    return {k: v["value"] for k, v in out["metrics"].items()}, wall


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--trace", action="store_true", help="also make traced runs")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    ok = True
    walls = []
    for w in names:
        sets = []
        for s in range(2):
            runs = []
            for i in range(args.runs):
                m, wall = run_once(bench, w, 100 * s + i + 1, 0)
                runs.append(m)
                walls.append(wall)
                print(f"{w} set{s + 1} seed{100 * s + i + 1}: {wall:.1f}s "
                      + " ".join(f"{k}={v:.4g}" for k, v in m.items()), flush=True)
            sets.append(runs)
        for metric in bench["end_to_end"]:
            n, bound = metric["name"], metric["bound"]
            line = [f"{w:13s} {n:12s}"]
            meds = []
            for s, runs in enumerate(sets):
                vals = [r[n] for r in runs]
                q1, q2, q3 = stats.quartiles(vals)
                sp = stats.spread(vals)
                meds.append(q2)
                flag = "" if sp <= bound or n == "setup_s" else " SPREAD>BOUND"
                ok &= not flag
                line.append(f"set{s + 1} med={q2:.4g} q1={q1:.4g} q3={q3:.4g} "
                            f"spread={sp:.3f}{flag}")
            drift = (meds[1] - meds[0]) / meds[0]
            agree = abs(drift) <= bound
            ok &= agree
            line.append(f"drift={drift:+.3f} {'agree' if agree else 'DISAGREE'} "
                        f"(bound {bound})")
            print("  ".join(line), flush=True)
        if args.trace:
            traced = [run_once(bench, w, i + 1, 1)[0] for i in range(args.runs)]
            tp = stats.median([t["trace.pass_s"] for t in traced])
            base = stats.median([r["pass_s"] for r in sets[0]])
            print(f"{w:13s} tracing overhead: traced pass {tp:.4g} s "
                  f"vs untraced {base:.4g} s ({tp / base - 1:+.3f})")
            # where the traced pass goes: the job-launch floor, layout builds,
            # task time (summed over cores) and shuffle, medians over the runs
            def m(f):
                return stats.median([f(t) for t in traced])
            print(f"{w:13s} traced pass {tp:.4g} s: "
                  f"jobs x floor {m(lambda t: t['spark.jobs'] * t['spark.floor_ms_per_job'] / 1e3):.3g} s, "
                  f"layout builds {m(lambda t: t['layout.build_s']):.3g} s, "
                  f"task run {m(lambda t: t['spark.executor_run_s']):.3g} s "
                  f"(cpu {m(lambda t: t['spark.executor_cpu_s']):.3g} s), "
                  f"shuffle written {m(lambda t: t['spark.shuffle_write_bytes']) / 1e6:.3g} MB")
    print(f"runs: {len(walls)}, wall per run: median {stats.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
