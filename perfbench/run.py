#!/usr/bin/env python3
"""KG-construction benchmark for coies_spark.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 3 --trace 0

Runs one workload (kg_batch, kg_relink or kg_stream; see
perfbench/README.md) on ``local[nproc]`` from this single driver
process: set-up (session, seeded inputs, artifacts, one warm-up rep),
then back-to-back reps until ``--seconds`` have passed, each rep's
output checked outside its timed region.  The last stdout line is one
JSON object: ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer metrics of a traced run (reps alternate traced and
untraced so the tracing overhead is measured too).

All scratch data (Spark local dirs, warehouse, inputs, work dirs) goes
to ``.perfbench_work/`` under the checkout and is removed on exit; the
span trace of a traced run is written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

sys.dont_write_bytecode = True  # keep the checkout free of build output
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "turns_per_s": "1/s",
    "mentions_per_s": "1/s", "epoch_p50_s": "s", "epoch_tail_s": "s",
    "upsert_p50_s": "s", "triple_precision": "frac",
    "triple_recall": "frac", "ok_frac": "frac",
}
PER_LAYER = {
    "session.start_s": "s",
    "data.synth.generate_s": "s",
    "core.oneshot.artifacts_s": "s",
    "core.oneshot.kernel_ms_per_doc": "ms",
    "core.oneshot.emissions_per_doc": "count",
    "pipeline.extract.assemble_s": "s",
    "pipeline.extract.detect_s": "s",
    "pipeline.extract.udf_overhead_frac": "frac",
    "pipeline.linking.link_s": "s",
    "pipeline.linking.hit_frac": "frac",
    "pipeline.canonicalize.canon_s": "s",
    "pipeline.canonicalize.alias_edges": "count",
    "pipeline.canonicalize.components": "count",
    "pipeline.triples.materialize_s": "s",
    "pipeline.triples.rows": "count",
    "pipeline.triples.upsert_s": "s",
    "pipeline.checkpoint.overhead_s": "s",
    "pipeline.checkpoint.bytes_written": "bytes",
    "pipeline.checkpoint.resume_s": "s",
    "pipeline.checkpoint.resume_skip_frac": "frac",
    "streaming.ingest.epochs": "count",
    "streaming.ingest.rows_per_epoch": "count",
    "streaming.ingest.first_epoch_s": "s",
    "trace.overhead_frac": "frac",
}


def environment(tmp: str) -> dict[str, str]:
    """Make the checkout importable by Spark's Python workers and keep
    every scratch file of Spark and Python under ``tmp``."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    sys.path[:0] = [ROOT, HERE]
    return {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} "
            f"-Dderby.system.home={os.path.join(tmp, 'tmp')}",
    }


def run(args, tmp: str) -> dict:
    conf = environment(tmp)
    import workloads
    from coies_spark.session import get_spark
    from tracing import Tracer, median, summary

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(args.trace == 1)
    t_setup = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark("coies-perfbench", cores=cores, extra_conf=conf)
    session_s = time.perf_counter() - t_setup
    spark.sparkContext.setLogLevel("ERROR")
    try:
        w = workloads.WORKLOADS[args.workload](spark, args.seed, tmp, tracer)
        w.cores = cores
        # the seeded generation is the cheap, repeatable part of set-up:
        # run it several times and charge set-up its median
        gens, arts = [], []
        for _ in range(3):
            with tracer.span("data.synth.generate"):
                t = time.perf_counter()
                w.generate()
                gens.append(time.perf_counter() - t)
                arts.append(w.artifacts_s)
        t = time.perf_counter()
        w.prepare()
        prepare_s = time.perf_counter() - t
        # the warm-up's output is checked like any rep's and, where it
        # ran the timed input, sets the digest every rep must repeat
        warm = w.warm(os.path.join(tmp, "warm"))
        warm_s = time.perf_counter() - t - prepare_s
        setup_s = time.perf_counter() - t_setup - sum(gens) + median(gens)
        attempted = failed = 0
        ref = None
        if warm is not None:
            attempted, failed = 1, int(not warm[0])
            ref = warm[1] if warm[0] else None

        # a traced run needs an untraced and a traced rep at least
        min_reps = max(w.min_reps, 2 * args.trace)
        reps: list[dict] = []
        elapsed = 0.0
        while (elapsed < args.seconds or len(reps) < min_reps
               or not w.enough(reps)):
            traced = args.trace == 1 and len(reps) % 2 == 1
            tracer.enabled = traced
            work = os.path.join(tmp, f"rep{attempted}")
            builds: list = []
            t0 = time.perf_counter()
            attempted += 1
            try:
                with workloads.traced_stages(tracer, builds):
                    with tracer.span("rep", rep=attempted):
                        out = w.rep(work)
                ok, dig = w.check(work, out)
                ref = ref or (dig if ok else None)
                ok = ok and dig == ref
                if traced:
                    w.trace_layers(work, builds, out)
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                failed += 1
                print(f"perfbench: rep {attempted} failed", file=sys.stderr)
            else:
                out["traced"] = traced
                reps.append(out)
            shutil.rmtree(work, ignore_errors=True)
            elapsed += time.perf_counter() - t0
            if failed > attempted // 2:
                break  # a broken program: stop early, report the failures
        tracer.enabled = args.trace == 1
    finally:
        spark.stop()

    if not reps:
        raise RuntimeError(f"no rep of {args.workload} passed its checks")
    plain = [r for r in reps if not r["traced"]] or reps
    walls = [r["wall"] for r in plain]
    epochs = [e for r in plain for e in r.get("epochs", [r["wall"]])]
    writes = [x for r in plain for x in r["store_writes"]]
    timings = {"wall_s": summary(walls), "epoch_s": summary(epochs),
               "upsert_s": summary(writes),
               "rep_walls": [r["wall"] for r in reps],
               "rep_epoch_p50": [median(r.get("epochs", [])) for r in reps],
               "setup_phases": {"session": session_s,
                                "generate": median(gens),
                                "prepare": prepare_s, "warm": warm_s}}
    if args.trace == 0:
        values = {
            "setup_s": setup_s,
            "wall_s": median(walls),
            "turns_per_s": w.turns / median(
                [r.get("stream_wall", r["wall"]) for r in plain]),
            "mentions_per_s": median([r["mentions"] for r in plain])
            / median(walls),
            "epoch_p50_s": timings["epoch_s"]["p50"],
            "epoch_tail_s": timings["epoch_s"]["tail"],
            "upsert_p50_s": timings["upsert_s"]["p50"],
            "triple_precision": plain[0]["precision"],
            "triple_recall": plain[0]["recall"],
            "ok_frac": (attempted - failed) / attempted,
        }
        units = END_TO_END
    else:
        traced = [r["wall"] for r in reps if r["traced"]]
        w.note("session.start_s", session_s)
        w.note("data.synth.generate_s", median(gens))
        w.note("core.oneshot.artifacts_s", median(arts))
        w.note("core.oneshot.kernel_ms_per_doc", w.kernel_ms)
        w.note("core.oneshot.emissions_per_doc", w.emissions_per_doc)
        if traced and len(traced) < len(reps):
            w.note("trace.overhead_frac", median(traced) / median(walls) - 1)
        values = {k: median(w.layer.get(k, [])) for k in PER_LAYER}
        units = PER_LAYER
        timings["layer_samples"] = {k: len(v) for k, v in w.layer.items()}
        timings["self_s"] = tracer.self_times()
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(
            out_dir, f"trace-{args.workload}-s{args.seed}.json"))
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "reps": attempted, "timings": timings}))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                    for k in units},
    }


def proc_stat(pid: int) -> list[str]:
    """Fields of ``/proc/<pid>/stat`` after the command name (state,
    ppid, ...), or [] once the process has gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return []


def descendants(root: int) -> dict[int, str]:
    """Every process below ``root`` in the process tree, as pid → start
    time (which tells a process from a later one given the same pid)."""
    stats = {int(e): proc_stat(int(e))
             for e in os.listdir("/proc") if e.isdigit()}
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        if st:
            children.setdefault(int(st[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out[c] = stats[c][19]
            todo.append(c)
    return out


def running(pid: int, start: str) -> bool:
    """Whether the process ``pid`` that started at ``start`` is still
    running (a zombie has ended)."""
    st = proc_stat(pid)
    return bool(st) and st[19] == start and st[0] != "Z"


def stop_processes(grace_s: float = 30.0) -> None:
    """Stop the Spark JVM this process launched and every process below
    it (Python workers), and wait until each has ended.

    ``SparkSession.stop`` leaves the JVM running until it notices that
    its stdin is closed, which happens only after this process exits;
    here the JVM gets that end of input now and is waited for, and any
    process left after it is terminated, then killed.
    """
    tree = descendants(os.getpid())
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        SparkContext._gateway = SparkContext._jvm = None
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass  # the JVM is stopped below either way
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()  # the JVM exits at end of input
                    proc.wait(timeout=grace_s)
                except (OSError, subprocess.TimeoutExpired):
                    proc.kill()
                    proc.wait()
    tree.update(descendants(os.getpid()))

    def alive() -> list[int]:
        return [p for p, start in tree.items() if running(p, start)]

    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in alive():
            try:
                os.kill(pid, sig)
            except OSError:
                pass  # ended in the meantime
        deadline = time.monotonic() + grace_s
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)
        if not alive():
            return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["kg_batch", "kg_relink", "kg_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "coies_spark")):
        print(f"perfbench: no coies_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench_work",
                       f"{args.workload}-{os.getpid()}")
    # a terminated run still stops its JVM and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args, tmp)
    finally:
        stop_processes()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
