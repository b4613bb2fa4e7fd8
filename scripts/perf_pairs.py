#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts: parent against change.

    python3 scripts/perf_pairs.py --parent ../parent --change . \\
        --workloads kg_relink kg_batch --seeds 801-810 [--seconds 3] \\
        [--trace 0] [--raw pairs.jsonl]

For every workload and seed it runs ``perfbench/run.py`` once in each
checkout, one after the other, alternating which goes first (the first
pair runs the parent first), so a slow spell of a shared host lands on
both sides.  Each run is a fresh process in its own checkout; nothing
is run in parallel.

Per workload and metric it prints the parent and change medians with
their quartiles (over each side's good runs: correct, no failed rep,
metric reported), the median change in percent, and the wins: pairs in
which the change was better in the metric's direction, as the
change's ``BENCHMARK.json`` gives it for end-to-end and per-layer
(``--trace 1``) metrics alike.  Wins count against every pair run: a
pair whose change run is not good is a loss, one whose parent run
alone is not good is a win.  A metric passes the paired rule when it
wins at least nine tenths of the pairs, its median gap exceeds the
parent's interquartile range, and the change has no more incorrect
runs and no more failed reps than the parent.  Correctness per side is
the number of runs that reported ``correct`` and the failed reps they
counted.  ``--raw`` appends one JSON line per run (workload, seed,
side, order, result).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

SIDES = ("parent", "change")


def seed_range(text: str) -> list[int]:
    """``"801-810"`` or ``"801,805,809"`` → the list of seeds."""
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(checkout: str, workload: str, seed: int, seconds: float,
             trace: int) -> dict:
    """One ``perfbench/run.py`` run; its result, or an error record."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        result["metrics"]
    except (IndexError, KeyError, TypeError, json.JSONDecodeError):
        result = {"correct": False, "attempted": 0, "failed": 0,
                  "metrics": {}, "error": proc.stderr[-2000:]}
    result["run_s"] = round(time.perf_counter() - t0, 1)
    return result


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def spread(q: tuple[float, float, float]) -> str:
    return f"{q[1]:.4g} ({q[0]:.4g}-{q[2]:.4g})"


def directions(checkout: str) -> dict[str, str]:
    """metric name → "lower" or "higher" from a ``BENCHMARK.json``."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"]
            for m in bench["end_to_end"] + bench.get("per_layer", [])}


def value(run: dict, name: str) -> float | None:
    """The metric of a good run (correct, no failed rep), else None."""
    if not run.get("correct") or int(run.get("failed", 0)):
        return None
    m = run.get("metrics", {}).get(name)
    return None if m is None else m["value"]


def report(workload: str, pairs: list[dict[str, dict]],
           better: dict[str, str]) -> None:
    n = len(pairs)
    print(f"\n== {workload}: {n} pairs ==")
    bad = {}
    for side in SIDES:
        runs = [p[side] for p in pairs]
        ok = sum(bool(r.get("correct")) for r in runs)
        failed = sum(int(r.get("failed", 0)) for r in runs)
        attempted = sum(int(r.get("attempted", 0)) for r in runs)
        bad[side] = (n - ok, failed)
        print(f"{side:>7} correct runs {ok}/{n}, failed reps "
              f"{failed}/{attempted}")
    worse = any(c > p for c, p in zip(bad["change"], bad["parent"]))
    names = sorted({k for p in pairs for s in SIDES
                    for k in p[s].get("metrics", {})})
    print(f"{'metric':<32}{'parent med (q1-q3)':>32} "
          f"{'change med (q1-q3)':>32}{'delta':>9}{'wins':>7}  rule")
    for name in names:
        vals = [(value(p["parent"], name), value(p["change"], name))
                for p in pairs]
        par = [a for a, _ in vals if a is not None]
        chg = [b for _, b in vals if b is not None]
        if not par or not chg:
            print(f"{name:<32}  no good run on "
                  f"{'the parent' if not par else 'the change'}")
            continue
        pq, cq = quartiles(par), quartiles(chg)
        sense = better.get(name)
        won = rule = ""
        if sense in ("lower", "higher"):
            wins = sum(
                b is not None and (a is None or (
                    b < a if sense == "lower" else b > a))
                for a, b in vals)
            gap = (pq[1] - cq[1]) if sense == "lower" else (cq[1] - pq[1])
            rule = "pass" if (wins >= 0.9 * n and gap > pq[2] - pq[0]
                              and not worse) else "-"
            won = f"{wins}/{n}"
        delta = (cq[1] / pq[1] - 1) * 100 if pq[1] else float("nan")
        print(f"{name:<32}{spread(pq):>32} {spread(cq):>32}"
              f"{delta:>+8.1f}%{won:>7}  {rule}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="changed checkout")
    ap.add_argument("--workloads", nargs="+", required=True,
                    choices=["kg_batch", "kg_relink", "kg_stream"])
    ap.add_argument("--seeds", type=seed_range, required=True,
                    help="seed range, e.g. 801-810 or 801,803")
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--raw", help="append one JSON line per run here")
    args = ap.parse_args()
    checkouts = {"parent": os.path.abspath(args.parent),
                 "change": os.path.abspath(args.change)}
    better = directions(checkouts["change"])
    for workload in args.workloads:
        pairs = []
        for i, seed in enumerate(args.seeds):
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            pair = {}
            for side in order:
                res = run_once(checkouts[side], workload, seed,
                               args.seconds, args.trace)
                pair[side] = res
                wall = res["metrics"].get("wall_s", {}).get("value")
                print(f"[{workload} seed {seed}] {side}: "
                      f"correct={res.get('correct')} wall_s={wall} "
                      f"({res['run_s']} s)", file=sys.stderr, flush=True)
                if args.raw:
                    with open(args.raw, "a") as f:
                        f.write(json.dumps({
                            "workload": workload, "seed": seed,
                            "side": side, "first": order[0],
                            "result": res}) + "\n")
            pairs.append(pair)
        report(workload, pairs, better)
    return 0


if __name__ == "__main__":
    sys.exit(main())
