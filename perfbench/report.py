"""Steadiness and tracing-overhead report.

    python3 perfbench/report.py

Runs every workload of BENCHMARK.json ten times per set, in two sets,
untraced, alternating the workload order between rounds and giving each
round its own seed (the same seeds in both sets). For every end-to-end
metric it prints each set's median, quartiles and spread
(Q3 - Q1) / median against the metric's bound, and how far the second set's
median moved from the first's. Then it makes two traced runs per workload
and reports the tracing overhead: the traced minus the untraced median op
time. The full report is written to ``perfbench/out/report-<time>.json``.
Exits 1 when a spread or a drift exceeds its bound.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "out")
RUNS, SETS, TRACED, SEED0 = 10, 2, 2, 1000


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One benchmark run; returns its trace record (result included)."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL, text=True)
    out, _ = proc.communicate()
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}")
    path = os.path.join(OUT, "traces", f"{workload}-seed{seed}-trace{trace}-{proc.pid}.json")
    with open(path) as f:
        record = json.load(f)
    if json.loads(out.strip().splitlines()[-1]) != record["result"]:
        raise RuntimeError(f"{path} does not hold the printed result")
    record["run_wall_s"] = wall
    return record


def spread(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values)}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    sets = []
    for s in range(SETS):
        runs = {w: [] for w in workloads}
        for r in range(RUNS):
            order = workloads if r % 2 == 0 else workloads[::-1]
            for w in order:
                rec = run_once(w, SEED0 + r, seconds, 0)
                runs[w].append(rec)
                print(json.dumps({"set": s, "run": r, "workload": w, "wall_s": rec["run_wall_s"],
                                  "correct": rec["result"]["correct"],
                                  **{k: v["value"] for k, v in rec["result"]["metrics"].items()}}),
                      flush=True)
        sets.append(runs)

    report = {"env": None, "workloads": {}}
    ok = True
    for w in workloads:
        rows = {}
        for name, m in metrics.items():
            per_set = [spread([r["result"]["metrics"][name]["value"] for r in runs[w]])
                       for runs in sets]
            row = {"unit": m["unit"], "bound": m["bound"], "better": m["better"], "sets": per_set}
            row["spread_within_bound"] = all(x["spread"] <= m["bound"] for x in per_set)
            a, b = per_set[0]["median"], per_set[-1]["median"]
            row["second_median_moved_by"] = (b - a) / a
            row["drift_within_bound"] = abs(b - a) / a <= m["bound"]
            ok &= row["spread_within_bound"] and row["drift_within_bound"]
            rows[name] = row
        untraced = [statistics.median(r["op_s"]) for runs in sets for r in runs[w]]
        traced_runs = [run_once(w, SEED0 + t, seconds, 1) for t in range(TRACED)]
        traced = [statistics.median(r["op_s"]) for r in traced_runs]
        overhead = {
            "untraced_op_s": statistics.median(untraced),
            "traced_op_s": statistics.median(traced),
            "overhead_s": statistics.median(traced) - statistics.median(untraced),
            # the part of it spent reading the status stores, timed directly
            "store_read_s_per_op": statistics.median(
                r["status_store_read_s"] / len(r["op_s"]) for r in traced_runs),
        }
        overhead["overhead_frac"] = overhead["overhead_s"] / overhead["untraced_op_s"]
        report["workloads"][w] = {
            "metrics": rows,
            "tracing": overhead,
            "run_wall_s": statistics.median(r["run_wall_s"] for runs in sets for r in runs[w]),
            "failed_runs": sum(not r["result"]["correct"] for runs in sets for r in runs[w]),
            "traced_failures": {r["seed"]: r["failures"] for r in traced_runs if r["failures"]},
        }
        report["env"] = sets[0][w][0]["env"]

    print(f"{'workload':<20} {'metric':<13} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6}")
    for w, wr in report["workloads"].items():
        for name, row in wr["metrics"].items():
            for x in row["sets"]:
                print(f"{w:<20} {name:<13} {x['median']:>12.4f} {x['q1']:>12.4f} "
                      f"{x['q3']:>12.4f} {x['spread']:>7.3f} {row['bound']:>6.2f}")
            print(f"{'':<20} {'':<13} second median moved by "
                  f"{row['second_median_moved_by']:+.3f}")
        t = wr["tracing"]
        print(f"{w:<20} tracing overhead {t['overhead_s']:+.3f} s per op "
              f"({t['overhead_frac']:+.1%} of {t['untraced_op_s']:.3f} s); "
              f"status-store reads {t['store_read_s_per_op']:.3f} s per op")
        print(f"{w:<20} median run wall {wr['run_wall_s']:.1f} s, "
              f"failed runs {wr['failed_runs']}, traced-run failures {wr['traced_failures']}")
    # the benchmark's acceptance makes 4 + 22 x (workloads) runs
    walls = [r["run_wall_s"] for runs in sets for w in workloads for r in runs[w]]
    report["projected_acceptance_s"] = (
        22 * sum(wr["run_wall_s"] for wr in report["workloads"].values()) + 4 * max(walls))
    print(f"4 + 22 x {len(workloads)} runs at these medians: "
          f"{report['projected_acceptance_s']:.0f} s")
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"report-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"report: {path}; {'steady' if ok else 'NOT steady'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
