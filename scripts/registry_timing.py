"""Time the Spark side of EVERY declared registry query at a given
sf — the completeness sweep behind the optimization round's "every
operator" checklist.  `bench.py` (frozen) times the 45 driver-window
headliners; this sweep covers the other ~185 registry faces that ride
the same operator cores, so a non-bench face with a pathological plan
cannot hide behind the bench window.

One shared JVM, one `.count()` per query (the driver's correctness
gate shape), wall-clock per query printed as JSON lines plus a sorted
summary.  Purely additive tooling: does not touch bench.py or the
oracle SQL.

Usage: python scripts/registry_timing.py [sf_dir] [--json OUT]
(runs from any cwd; local[$SPARK_GRAFT_CPUS] cores, see session.py)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from coies_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    out_path = None
    if "--json" in sys.argv:
        out_path = sys.argv[sys.argv.index("--json") + 1]

    spark = get_spark("registry-timing")
    table = entrymod.queries()
    results: dict[str, dict] = {}
    for name, fn in table.items():
        spark.sparkContext.setJobDescription(f"registry:{name}")
        t0 = time.perf_counter()
        err = None
        n = -1
        try:
            n = fn(spark, sf_dir).count()
        except Exception as e:  # noqa: BLE001 — sweep must finish
            err = f"{type(e).__name__}: {e}"
        dt = round(time.perf_counter() - t0, 3)
        results[name] = {"sec": dt, "rows": n, "err": err}
        print(json.dumps({"query": name, **results[name]}), flush=True)
        spark.sparkContext.setJobDescription(None)
    spark.stop()

    ranked = sorted(results.items(), key=lambda kv: -kv[1]["sec"])
    print("\n=== slowest 25 ===")
    for name, r in ranked[:25]:
        rows = "ERROR" if r["err"] else r["rows"]
        print(f"{r['sec']:8.2f}s  rows={rows:>9}  {name}")
    ok = [r for r in results.values() if not r["err"]]
    errs = [n for n, r in results.items() if r["err"]]
    total = round(sum(r["sec"] for r in ok), 1)
    print(f"total {total}s over {len(ok)} ok queries "
          f"(errored queries excluded); errors: {errs}")
    if out_path:
        with open(out_path, "w") as f:
            json.dump(results, f, indent=0)
        print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
