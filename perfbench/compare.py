#!/usr/bin/env python3
"""Collects sets of benchmark runs and compares two of them.

    python3 perfbench/compare.py run --workload W --seeds 1-10 [--trace 0|1] --out A.jsonl
    python3 perfbench/compare.py report A.jsonl [B.jsonl]

`run` calls perfbench/run.py once per seed, for BENCHMARK.json's run_seconds,
and appends one JSON line per run. `report` prints, for every workload, each
side's failed operations and, for every end-to-end metric, each side's median
and quartiles and their spread (quartile distance over median), over the runs
whose outputs were all correct. Given a second set B (the change) against A
(the parent), it adds the share of same-seed pairs B wins and a verdict:
  failed      B has a larger share of failed operations than A, whatever the
              timings say;
  improved    B wins at least 9 in 10 pairs and the medians differ by more
              than A's quartile distance;
  worse       B's median is worse than A's by more than the metric's bound;
  unresolved  either side spreads wider than the bound, unless every B run
              beats every A run;
  unchanged   otherwise.
Traced runs in a set give the tracing overhead: traced minus untraced wall_s.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(a):
    with open(a.out, "a") as f:
        for seed in seeds_of(a.seeds):
            p = subprocess.run(
                [sys.executable, str(BENCH / "run.py"), "--workload", a.workload, "--seed",
                 str(seed), "--seconds", str(SPEC["run_seconds"]),
                 "--trace", str(a.trace)], capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.stderr.write(p.stderr[-3000:])
                sys.exit(f"run failed: workload {a.workload} seed {seed} exit {p.returncode}")
            rec = {"workload": a.workload, "seed": seed, "trace": a.trace,
                   "result": json.loads(lines[-1])}
            for line in lines:
                if line.startswith("traced wall_s "):
                    rec["traced_wall_s"] = float(line.split()[2])
            f.write(json.dumps(rec) + "\n")
            f.flush()
            print(f"{a.workload} seed {seed}: correct={rec['result']['correct']}", file=sys.stderr)


def load(path):
    return [json.loads(line) for line in Path(path).read_text().splitlines() if line.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def values(runs, workload, metric):
    """Untraced runs with every output correct: {seed: value}."""
    return {r["seed"]: r["result"]["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and not r["trace"] and r["result"]["correct"]
            and metric in r["result"]["metrics"]}


def failures(runs, workload):
    """(failed, attempted) operations over every run of the workload, traced too."""
    rs = [r["result"] for r in runs if r["workload"] == workload]
    return sum(r["failed"] for r in rs), sum(r["attempted"] for r in rs)


def verdict(a, b, better, bound):
    seeds = sorted(set(a) & set(b))
    sign = 1 if better == "higher" else -1
    wins = sum(1 for s in seeds if sign * (b[s] - a[s]) > 0)
    qa1, ma, qa3 = quartiles(list(a.values()))
    qb1, mb, qb3 = quartiles(list(b.values()))
    spread = max((qa3 - qa1) / ma, (qb3 - qb1) / mb)
    every = all(sign * (y - x) > 0 for x in a.values() for y in b.values())
    share = wins / len(seeds) if seeds else 0.0
    if seeds and share >= 0.9 and sign * (mb - ma) > (qa3 - qa1):
        v = "improved"
    elif -sign * (mb - ma) > bound * ma:
        v = "worse"
    elif spread > bound and not every:
        v = "unresolved"
    else:
        v = "unchanged"
    return share, v


def report(a):
    sides = [load(p) for p in a.sets]
    workloads = [w["name"] for w in SPEC["workloads"]]
    for w in workloads:
        print(f"== {w}")
        fails = [failures(runs, w) for runs in sides]
        print("  failed operations " + " | ".join(
            f"set {'AB'[i]} {f} of {n}" for i, (f, n) in enumerate(fails)))
        # a share, so sets of different sizes compare
        more_failed = (len(sides) == 2 and
                       fails[1][0] * max(fails[0][1], 1) > fails[0][0] * max(fails[1][1], 1))
        for m in SPEC["end_to_end"]:
            cols = []
            vals = [values(runs, w, m["name"]) for runs in sides]
            if not vals[0]:
                continue
            for v in vals:
                if not v:
                    cols.append("no runs")
                    continue
                q1, med, q3 = quartiles(list(v.values()))
                cols.append(f"median {med:.4g} [{q1:.4g}, {q3:.4g}] spread {(q3 - q1) / med:.3f}"
                            f" n={len(v)}")
            line = f"  {m['name']:12s} bound {m['bound']:<5} " + " | ".join(cols)
            if len(sides) == 2 and more_failed:
                line += " -> failed"
            elif len(sides) == 2 and vals[1]:
                share, v = verdict(vals[0], vals[1], m["better"], m["bound"])
                line += f" | B wins {share:.0%} -> {v}"
            print(line)
        for i, runs in enumerate(sides):
            traced = [r["traced_wall_s"] for r in runs if r["workload"] == w and r["trace"]
                      and "traced_wall_s" in r]
            plain = list(values(runs, w, "wall_s").values())
            if traced and plain:
                t, u = statistics.median(traced), statistics.median(plain)
                print(f"  set {'AB'[i]} tracing overhead: traced wall_s {t:.4g} - untraced "
                      f"{u:.4g} = {t - u:+.4g} s ({(t - u) / u:+.1%})")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,7")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("sets", nargs="+", help="A.jsonl [B.jsonl]")
    a = ap.parse_args()
    if a.cmd == "run":
        run(a)
    else:
        if len(a.sets) > 2:
            sys.exit("report takes one or two sets")
        report(a)


if __name__ == "__main__":
    main()
