#!/usr/bin/env python3
"""Compare two sets of benchmark runs, e.g. a parent commit and a change.

Run both sides, alternating which goes first in each pair, then report:

    python3 perfbench/compare.py run --a <checkout> --b <checkout> \\
        --pairs 10 [--workloads w1,w2] [--traced 1] --out runs.jsonl
    python3 perfbench/compare.py report runs.jsonl

`run` calls `python3 perfbench/run.py` in each checkout with the same seed
for both sides of a pair (seeds 1000, 1001, ...) and appends one JSON line
per run to --out. With --traced k it also makes a traced run per side
after each of the first k pairs, from which the report gives the tracing
overhead.

`report` prints, for each workload and end-to-end metric of --spec (the
BENCHMARK.json in the current directory by default): each side's median
and quartiles, the share of pairs B won, and a verdict:
  improved    at least 10 pairs, B won at least 9 in 10 of them, and the
              medians differ by more than A's own quartile spread
  worse       B's median is worse than A's by more than the metric's bound
  unresolved  A's quartile spread is wider than the bound, and not every
              B run beats every A run
  unchanged   otherwise
Runs that were not correct are listed and left out of the statistics.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"correct": False, "error": f"exit {p.returncode}"}
    return json.loads(lines[-1])


def cmd_run(a):
    spec = json.load(open(os.path.join(a.a, "BENCHMARK.json")))
    seconds = spec["run_seconds"]
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    with open(a.out, "a") as out:
        def record(side, checkout, w, seed, trace, pair):
            r = run_once(checkout, w, seed, seconds, trace)
            out.write(json.dumps({"side": side, "workload": w, "seed": seed, "trace": trace,
                                  "pair": pair, "result": r}) + "\n")
            out.flush()
            print(f"{side} {w} seed {seed} trace {trace}: "
                  f"{'ok' if r.get('correct') else 'NOT CORRECT'}", file=sys.stderr)
        for w in workloads:
            for i in range(a.pairs):
                order = [("A", a.a), ("B", a.b)] if i % 2 == 0 else [("B", a.b), ("A", a.a)]
                for side, checkout in order:
                    record(side, checkout, w, 1000 + i, 0, i)
                # traced runs sit between the pairs, so drift hits both kinds
                if i < a.traced:
                    for side, checkout in order:
                        record(side, checkout, w, 2000 + i, 1, None)


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a_vals, b_vals, pairs, lower, bound):
    q1a, ma, q3a = quartiles(a_vals)
    _, mb, _ = quartiles(b_vals)
    better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
    wins = sum(1 for pa, pb in pairs if better(pb, pa))
    win_frac = wins / len(pairs) if pairs else 0.0
    worse_by = ((mb - ma) if lower else (ma - mb)) / ma
    if len(pairs) >= 10 and win_frac >= 0.9 and abs(mb - ma) > q3a - q1a:
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif (q3a - q1a) / ma > bound and not all(better(b, x) for b in b_vals for x in a_vals):
        v = "unresolved"
    else:
        v = "unchanged"
    return win_frac, v


def cmd_report(a):
    rows = [json.loads(line) for line in open(a.runs)]
    bad = [r for r in rows if not r["result"].get("correct")]
    for r in bad:
        print(f"not correct: side {r['side']} {r['workload']} seed {r['seed']} "
              f"trace {r['trace']}: {r['result'].get('error', '')}")
    ok = [r for r in rows if r["result"].get("correct")]
    spec = json.load(open(a.spec))
    print(f"{'workload':16s} {'metric':16s} {'A median [q1, q3]':>30s} "
          f"{'B median [q1, q3]':>30s} {'B wins':>7s}  verdict")
    for w in sorted({r["workload"] for r in ok}):
        runs = [r for r in ok if r["workload"] == w and r["trace"] == 0]
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            val = {}
            for r in runs:
                val[(r["side"], r["pair"])] = r["result"]["metrics"][name]["value"]
            av = [v for (s, _), v in val.items() if s == "A"]
            bv = [v for (s, _), v in val.items() if s == "B"]
            if not av or not bv:
                continue
            pairs = [(val[("A", p)], val[("B", p)]) for (s, p) in val
                     if s == "A" and ("B", p) in val]
            win, v = verdict(av, bv, pairs, lower, m["bound"])
            qa, qb = quartiles(av), quartiles(bv)
            print(f"{w:16s} {name:16s} {qa[1]:12.4g} [{qa[0]:.4g}, {qa[2]:.4g}] "
                  f"{qb[1]:12.4g} [{qb[0]:.4g}, {qb[2]:.4g}] {win:7.2f}  {v}")
        traced = [r for r in ok if r["workload"] == w and r["trace"] == 1]
        for side in ("A", "B"):
            t = [r["result"]["metrics"]["trace.wall_s"]["value"] for r in traced
                 if r["side"] == side]
            u = [r["result"]["metrics"]["wall_s"]["value"] for r in runs if r["side"] == side]
            if t and u:
                over = statistics.median(t) / statistics.median(u) - 1
                print(f"{w:16s} tracing overhead on wall_s, side {side}: {100 * over:+.1f} % "
                      f"({len(t)} traced, {len(u)} untraced runs)")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--a", required=True)
    r.add_argument("--b", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--traced", type=int, default=0)
    r.add_argument("--workloads", default="")
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("runs")
    p.add_argument("--spec", default="BENCHMARK.json",
                   help="BENCHMARK.json whose metrics and bounds to use")
    a = ap.parse_args()
    {"run": cmd_run, "report": cmd_report}[a.cmd](a)


if __name__ == "__main__":
    main()
