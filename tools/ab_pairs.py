#!/usr/bin/env python3
"""Same-window A/B of two checkouts on the repo benchmark.

    python3 tools/ab_pairs.py --parent /tmp/parent --change . \\
        --workload ingest_burst --workload catalog_mix --pairs 10 --seed-base 3001

Runs `python3 perfbench/run.py --workload W --seed S --seconds T --trace 0`
in both checkouts, one pair per seed, alternating which side runs first
(the first pair starts with the change). Each checkout builds and runs its own
sources; this script reads nothing but the result line each run prints
last ({"correct", "attempted", "failed", "metrics"}). Every run is
appended to --out as one JSON line; --from re-reports saved runs without
running anything.

Per workload and end-to-end metric of BENCHMARK.json it prints each
side's median and quartiles, the change's win share over pairs (ties
count for neither side) and two verdicts:

  gain      the change wins at least 9/10 of the pairs and the medians
            differ, in the metric's better direction, by more than the
            parent's interquartile range;
  no-regr   the change's median is no worse than the parent's by more
            than the metric's bound (relative to the parent's median).
            When either side's spread, (Q3 - Q1) / median, is wider than
            the bound the verdict is "unresolved", unless every change
            run beats every parent run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_one(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(p.stderr[-4000:])
        res = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}, "error": "no result line"}
    res["exit"] = p.returncode
    res["wall_s"] = round(time.time() - t0, 1)
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def report(rows, metrics):
    for workload in sorted({r["workload"] for r in rows}):
        pairs = {}
        for r in rows:
            if r["workload"] == workload:
                pairs.setdefault(r["seed"], {})[r["side"]] = r["result"]
        pairs = {s: p for s, p in sorted(pairs.items()) if "parent" in p and "change" in p}
        n = len(pairs)
        print("== %s: %d pairs, seeds %s" % (workload, n, ",".join(str(s) for s in pairs)))
        for side in ("parent", "change"):
            res = [p[side] for p in pairs.values()]
            print("  %-6s correct %d/%d  failed ops %d/%d" % (
                side, sum(bool(r["correct"]) for r in res), n,
                sum(r["failed"] for r in res), sum(r["attempted"] for r in res)))
        if n == 0:
            continue
        print("  %-12s %5s %-30s %-30s %5s  %-6s %s" % (
            "metric", "unit", "parent median [Q1, Q3]", "change median [Q1, Q3]", "wins", "gain", "no-regr"))
        for m in metrics:
            name, higher, bound = m["name"], m["better"] == "higher", m["bound"]
            vals = [(p["parent"]["metrics"].get(name, {}).get("value"),
                     p["change"]["metrics"].get(name, {}).get("value")) for p in pairs.values()]
            vals = [(a, b) for a, b in vals if a is not None and b is not None]
            if not vals:
                continue
            par, chg = [a for a, _ in vals], [b for _, b in vals]
            pq1, pmed, pq3 = quartiles(par)
            cq1, cmed, cq3 = quartiles(chg)
            better = (lambda c, p: c > p) if higher else (lambda c, p: c < p)
            wins = sum(better(c, p) for p, c in vals)
            gain = wins >= 0.9 * len(vals) and better(cmed, pmed) and abs(cmed - pmed) > pq3 - pq1
            worse_by = (pmed - cmed if higher else cmed - pmed) / abs(pmed) if pmed else 0.0
            spread = max((pq3 - pq1) / abs(pmed) if pmed else 0.0, (cq3 - cq1) / abs(cmed) if cmed else 0.0)
            if spread > bound and not all(better(c, p) for c in chg for p in par):
                verdict = "unresolved (spread %.3f > bound %.2f)" % (spread, bound)
            else:
                verdict = "%s (worse by %+.3f, bound %.2f)" % (
                    "ok" if worse_by <= bound else "REGRESSED", worse_by, bound)
            print("  %-12s %5s %9.4g [%9.4g, %9.4g]  %9.4g [%9.4g, %9.4g]  %2d/%-2d  %-6s %s" % (
                name, m["unit"], pmed, pq1, pq3, cmed, cq1, cq3, wins, len(vals),
                "yes" if gain else "no", verdict))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", default=ROOT, help="checkout of the change (default: this repo)")
    ap.add_argument("--workload", action="append", help="repeatable; default: every BENCHMARK.json workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=3001, help="pair i runs seed seed-base + i on both sides")
    ap.add_argument("--seconds", type=float, help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_out", "ab_pairs.jsonl"),
                    help="JSON lines, one per run (appended)")
    ap.add_argument("--from", dest="from_", help="report saved runs from this file; run nothing")
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if a.from_:
        with open(a.from_) as fh:
            rows = [json.loads(line) for line in fh if line.strip()]
        report(rows, bench["end_to_end"])
        return
    if not a.parent:
        ap.error("--parent is required unless --from is given")
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    seconds = a.seconds or bench["run_seconds"]
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    rows = []
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "a") as out:
        for workload in workloads:
            for i in range(a.pairs):
                seed = a.seed_base + i
                order = ("change", "parent") if i % 2 == 0 else ("parent", "change")
                for side in order:
                    res = run_one(sides[side], workload, seed, seconds)
                    row = {"workload": workload, "seed": seed, "pair": i, "side": side, "result": res}
                    rows.append(row)
                    out.write(json.dumps(row) + "\n")
                    out.flush()
                    print("%s pair %d seed %d %-6s correct=%s exit=%s %.0fs" % (
                        workload, i, seed, side, res["correct"], res["exit"], res["wall_s"]), flush=True)
    report(rows, bench["end_to_end"])


if __name__ == "__main__":
    main()
