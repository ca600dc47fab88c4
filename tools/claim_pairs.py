#!/usr/bin/env python3
"""Alternating parent/change pairs of the repository benchmark.

    python3 tools/claim_pairs.py <parent checkout> <change checkout> \
        --workload etl_incremental --seeds 9101 9102 ... [--log pairs.jsonl]

Each seed is one pair: ``python3 perfbench/run.py --workload <w> --seed <s>
--seconds 15 --trace 0`` runs once in each checkout, the parent first on
even pair numbers and the change first on odd ones, so that a host that
drifts over time does not favour one side. The run length is the
benchmark's own (BENCHMARK.json ``run_seconds``), the same on both sides.
Each run's contract line (the last line of its standard output) is printed
and, with ``--log``, appended to a JSON-lines file with its pair.

The summary gives, per metric, each side's median and quartiles, the
change's wins (pairs where it is better, in the direction the parent's
BENCHMARK.json names), the median gap, and whether the claim rule holds:
the change wins at least 9 pairs in 10 and the median gap exceeds the
parent's interquartile range. A pair where either run failed an operation
or printed no contract line counts as a loss. The tool runs the benchmark
only; it changes no file under either checkout but what the benchmark
itself writes (``.bench_build/``).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")
SECONDS = 15


def order(pair):
    """The sides of pair number `pair`, in the order they run."""
    return SIDES if pair % 2 == 0 else SIDES[::-1]


def contract_line(stdout):
    """The benchmark's contract object: the last stdout line that parses as
    a JSON object with a ``metrics`` key, or None."""
    for line in reversed(stdout.strip().splitlines()):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "metrics" in obj:
            return obj
    return None


def directions(checkout):
    """metric name -> "lower"/"higher" from a checkout's BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"]
            for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def quartiles(xs):
    """(q1, median, q3) of `xs`, inclusive method (one value: itself)."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def ok(line):
    return line is not None and line.get("failed", 1) == 0


def summarize(records, better):
    """Per-metric summary of `records`, each a dict with ``seed`` and the
    ``parent``/``change`` contract lines (None for a run that printed
    none). Returns {metric: {...}}."""
    names = sorted({k for r in records for s in SIDES if r[s]
                    for k in r[s]["metrics"]})
    out = {}
    for name in names:
        lower = better.get(name, "lower") == "lower"
        vals = {s: [r[s]["metrics"][name]["value"] for r in records
                    if ok(r[s]) and name in r[s]["metrics"]] for s in SIDES}
        if not vals["parent"] or not vals["change"]:
            continue
        wins = 0
        for r in records:
            if ok(r["parent"]) and ok(r["change"]):
                p = r["parent"]["metrics"][name]["value"]
                c = r["change"]["metrics"][name]["value"]
                wins += (c < p) if lower else (c > p)
        pq = quartiles(vals["parent"])
        cq = quartiles(vals["change"])
        gap = cq[1] - pq[1]
        iqr = pq[2] - pq[0]
        out[name] = {
            "better": "lower" if lower else "higher",
            "parent": pq, "change": cq, "gap": gap,
            "gap_pct": 100.0 * gap / pq[1] if pq[1] else float("nan"),
            "parent_iqr": iqr, "wins": wins, "pairs": len(records),
            "claim": (wins * 10 >= 9 * len(records) and len(records) > 0
                      and abs(gap) > iqr and ((gap < 0) == lower)),
        }
    return out


def report(summary, out=sys.stdout):
    print("%-16s %7s %25s %25s %9s %8s %5s %s" % (
        "metric", "better", "parent q1/med/q3", "change q1/med/q3", "gap%",
        "p.IQR", "wins", "claim"), file=out)
    for name, s in summary.items():
        print("%-16s %7s %25s %25s %+8.1f%% %8.3f %2d/%-2d %s" % (
            name, s["better"], "%.3f/%.3f/%.3f" % s["parent"],
            "%.3f/%.3f/%.3f" % s["change"], s["gap_pct"], s["parent_iqr"],
            s["wins"], s["pairs"], "holds" if s["claim"] else "no"),
            file=out)


def run(checkout, workload, seed):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        stdin=subprocess.DEVNULL, text=True)
    return contract_line(proc.stdout)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--log")
    a = ap.parse_args(argv)
    checkouts = {"parent": os.path.abspath(a.parent),
                 "change": os.path.abspath(a.change)}
    records = []
    for i, seed in enumerate(a.seeds):
        rec = {"pair": i, "seed": seed, "workload": a.workload}
        for side in order(i):
            rec[side] = run(checkouts[side], a.workload, seed)
            print("pair %d seed %d %s: %s" % (i, seed, side,
                  json.dumps(rec[side])), flush=True)
        records.append(rec)
        if a.log:
            with open(a.log, "a") as f:
                f.write(json.dumps(rec) + "\n")
    report(summarize(records, directions(checkouts["parent"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
