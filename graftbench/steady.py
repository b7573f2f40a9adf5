#!/usr/bin/env python3
"""Steadiness and A/A evidence for BENCHMARK.json's bounds.

Run each workload several times with different seeds and print, for every
end-to-end metric, the median, the quartiles and the spread (interquartile
range over median, as `statistics.quantiles(values, n=4)` gives them):

    python3 graftbench/steady.py --runs 10 --save set_a.json
    python3 graftbench/steady.py --runs 10 --save set_b.json

Compare two saved sets of the same commit (an A/A check): each metric's
two medians may differ, either way, by at most the metric's bound.

    python3 graftbench/steady.py --compare set_a.json set_b.json

Runs are untraced and last BENCHMARK.json's `run_seconds`, the conditions
the bounds are set for. Run from the root of a graft checkout; a run that is
not correct stops it. The exit code is 1 when a spread, or a change of a
median, is over its metric's bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())
BOUNDS = {m["name"]: m for m in BENCH["end_to_end"]}


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def cpu_times():
    """Whole-machine CPU time (busy + idle) and steal time, in ticks."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return sum(f[:8]), f[7]


def run_set(workloads, runs, seed0):
    out = {}
    for w in workloads:
        rows = []
        for i in range(runs):
            seed = seed0 + i
            t0, (cpu0, steal0) = time.time(), cpu_times()
            proc = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(BENCH["run_seconds"]), "--trace", "0"],
                cwd=HERE.parent, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else None
            if proc.returncode != 0 or not res or not res["correct"]:
                sys.stderr.write(proc.stderr[-3000:])
                sys.exit(f"{w} seed {seed}: run failed (exit {proc.returncode})")
            vals = {k: v["value"] for k, v in res["metrics"].items()}
            vals["wall_s"] = time.time() - t0
            # CPU taken by other tenants of the host while the run ran
            cpu1, steal1 = cpu_times()
            vals["steal_pct"] = 100.0 * (steal1 - steal0) / max(1, cpu1 - cpu0)
            rows.append(vals)
            print(f"{w} seed {seed}: " + ", ".join(f"{k}={v:.4g}" for k, v in vals.items()),
                  flush=True)
        out[w] = rows
    return out


def report(sets):
    """Print each metric's spread; False if a bounded one is over its bound."""
    ok = True
    for w, rows in sets.items():
        print(f"\n{w} ({len(rows)} runs)")
        print(f"  {'metric':<14} {'median':>11} {'q1':>11} {'q3':>11} {'spread':>7} {'bound':>6}")
        for name in rows[0]:
            vals = [r[name] for r in rows]
            if len(vals) < 2:
                continue
            q1, med, q3, sp = spread(vals)
            bound = BOUNDS.get(name, {}).get("bound")
            flag = "" if bound is None else ("  ok" if sp <= bound / 3 else
                                            "  WITHIN BOUND" if sp <= bound else "  OVER BOUND")
            print(f"  {name:<14} {med:>11.4g} {q1:>11.4g} {q3:>11.4g} {sp:>7.3f} "
                  f"{'' if bound is None else bound:>6}{flag}")
            ok &= bound is None or sp <= bound
    return ok


def compare(a, b):
    ok = True
    print(f"\n{'workload':<10} {'metric':<14} {'median A':>11} {'median B':>11} {'change':>8} {'bound':>6}")
    for w in a:
        for name, m in BOUNDS.items():
            ma = statistics.median(r[name] for r in a[w])
            mb = statistics.median(r[name] for r in b[w])
            change = (mb - ma) / ma
            agree = abs(change) <= m["bound"]
            ok &= agree
            print(f"{w:<10} {name:<14} {ma:>11.4g} {mb:>11.4g} {change:>+8.3f} {m['bound']:>6} "
                  f"{'ok' if agree else 'OUTSIDE BOUND'}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in BENCH["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first seed; run i uses seed + i")
    ap.add_argument("--save", help="write the runs' metrics to this JSON file")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"), help="A/A check of two saved sets")
    a = ap.parse_args()
    if a.compare:
        sa, sb = (json.loads(Path(p).read_text()) for p in a.compare)
        steady = report(sa) & report(sb)
        return 0 if compare(sa, sb) and steady else 1
    sets = run_set(a.workloads.split(","), a.runs, a.seed)
    if a.save:
        Path(a.save).write_text(json.dumps(sets, indent=1) + "\n")
    return 0 if report(sets) else 1


if __name__ == "__main__":
    sys.exit(main())
