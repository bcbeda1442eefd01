#!/usr/bin/env python3
"""Alternated parent/change benchmark pairs and their verdict.

Runs the repository benchmark (`perfbench/run.py`, untraced) in two
checkouts, one seed after another, alternating which side runs first, and
prints for every end-to-end metric of `BENCHMARK.json` each side's median
and quartiles, the pairs the change wins, and two verdicts:

  gain   the change wins at least nine tenths of the pairs (ties count for
         neither side) and the medians differ, in the metric's better
         direction, by more than the parent's interquartile range
  bound  the change's median is no worse than the parent's by more than
         the metric's bound (a fraction of the parent's median)

    python3 tools/ab_pairs.py --parent ../parent --change . \\
        --workload assembly_refresh --seeds 31-40 --out pairs.jsonl
    python3 tools/ab_pairs.py --parent ../parent --change . --replay pairs.jsonl

Each run's result line is appended to `--out` as it finishes, so a cut
session keeps the pairs it completed; `--replay` prints the verdicts of a
saved file without running anything. The metric list and the bounds come
from the parent checkout's `BENCHMARK.json`. Quartiles are linear
interpolations between order statistics (`statistics.quantiles`,
method "inclusive").
"""
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import argparse
import json
import statistics
import subprocess
from pathlib import Path


def quartiles(values):
    """(Q1, median, Q3) of at least one value."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def verdict(parent, change, better, bound):
    """Compare paired runs of one metric; `parent[i]` and `change[i]` share
    a seed. `better` is "lower" or "higher"; `bound` a fraction."""
    assert len(parent) == len(change) and parent
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    gap = sign * (pmed - cmed)  # positive when the change is better
    return {
        "pairs": len(parent), "wins": wins, "losses": losses,
        "ties": len(parent) - wins - losses,
        "parent": [pmed, pq1, pq3], "change": [cmed, cq1, cq3],
        "ratio": cmed / pmed if pmed else None,
        "gain": wins >= 0.9 * len(parent) and gap > pq3 - pq1,
        "within_bound": -gap <= bound * abs(pmed),
    }


def seed_range(text):
    """"31-40" or "31,33,35" as a list of ints."""
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(checkout, workload, seed, seconds):
    """The result object of one untraced benchmark run in `checkout`."""
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"{checkout} seed {seed}: no result "
                           f"(exit {r.returncode})\n{r.stderr[-2000:]}")
    return json.loads(lines[-1])


def report(records, metrics):
    """Verdict rows per workload and metric from saved run records."""
    rows = []
    for workload in sorted({r["workload"] for r in records}):
        runs = {}
        for r in records:
            if r["workload"] == workload:
                runs.setdefault(r["seed"], {})[r["side"]] = r["result"]
        seeds = sorted(s for s, sides in runs.items() if len(sides) == 2)
        if not seeds:
            continue
        failed = {side: sum(runs[s][side]["failed"] for s in seeds)
                  for side in ("parent", "change")}
        for m in metrics:
            p = [runs[s]["parent"]["metrics"][m["name"]]["value"] for s in seeds]
            c = [runs[s]["change"]["metrics"][m["name"]]["value"] for s in seeds]
            v = verdict(p, c, m["better"], m["bound"])
            rows.append(dict(workload=workload, metric=m["name"], unit=m["unit"],
                             seeds=seeds, failed=failed, **v))
    return rows


def fmt(row):
    p, c = row["parent"], row["change"]
    ratio = "" if row["ratio"] is None else f" ({(row['ratio'] - 1) * 100:+.1f} %)"
    return (f"{row['workload']:17} {row['metric']:18} "
            f"parent {p[0]:.4g} [{p[1]:.4g}, {p[2]:.4g}]  "
            f"change {c[0]:.4g} [{c[1]:.4g}, {c[2]:.4g}]{ratio}  "
            f"wins {row['wins']}/{row['pairs']}  "
            f"gain={'yes' if row['gain'] else 'no'}  "
            f"bound={'ok' if row['within_bound'] else 'EXCEEDED'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--seeds", default="31-40")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out", type=Path)
    ap.add_argument("--replay", type=Path)
    a = ap.parse_args()
    bench = json.loads((a.parent / "BENCHMARK.json").read_text())
    seconds = a.seconds or bench.get("run_seconds", 20)
    if a.replay:
        records = [json.loads(l) for l in a.replay.read_text().splitlines() if l.strip()]
    else:
        records = []
        for workload in a.workload or [w["name"] for w in bench["workloads"]]:
            for i, seed in enumerate(seed_range(a.seeds)):
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    checkout = a.parent if side == "parent" else a.change
                    rec = dict(workload=workload, seed=seed, side=side,
                               result=run_once(checkout, workload, seed, seconds))
                    records.append(rec)
                    if a.out:
                        with open(a.out, "a") as f:
                            f.write(json.dumps(rec) + "\n")
                    print(f"{workload} seed {seed} {side}: "
                          f"wall_s {rec['result']['metrics']['wall_s']['value']:.3f}",
                          file=sys.stderr, flush=True)
    rows = report(records, bench["end_to_end"])
    for row in rows:
        print(fmt(row))
    for workload, failed in sorted({r["workload"]: r["failed"] for r in rows}.items()):
        print(f"{workload:17} failed operations: parent {failed['parent']}, "
              f"change {failed['change']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
