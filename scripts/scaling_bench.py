"""Scaling-efficiency evidence: the flagship KG-extraction job at two
parallelism levels (local[8] vs local[32] — the sandbox stand-in for N
vs 4N executors) on the SAME input.

Methodology
-----------
* The input (a replicated synthetic transcript corpus) is materialized
  to parquet ONCE; each level then runs the production shape — parquet
  scan → windowed turn assembly → Arrow mention detection — with no
  driver-side caching of big data (caching GBs in the local JVM adds
  GC noise that swamps the signal).
* Each level runs in its own subprocess, `taskset`-confined to its core
  budget so the low level cannot borrow idle host cores for JVM/Arrow
  work (a real N-core executor can't either).
* A small warm-up job spins Python workers / JIT; each level runs the
  timed job twice and keeps the best (first pass still pays C2
  compilation); levels are interleaved across two rounds to damp
  same-box noise.
* Context metric: a fixed-work-per-process CPU calibration measures the
  same-box ceiling (per-core clock drops when all cores are busy); a
  real N vs 4N fleet on separate hosts does not pay that penalty.

Usage: python scripts/scaling_bench.py [--docs 12500] [--rep 8]
       [--out BENCH.md]
(the one-off input prep runs on local[$SPARK_GRAFT_CPUS], see session.py)
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PREP = r"""
import sys
sys.path.insert(0, ".")
from pyspark.sql import functions as F
from coies_spark.data import synth
from coies_spark.session import get_spark

out_dir, n_docs, rep = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
spark = get_spark("scaling-prep")
corpus = synth.make_corpus(n_test=n_docs // 2, n_plain=n_docs // 2, seed=42)
frames = {}
for name, use_raw in (("raw", True), ("tagged", False)):
    df = spark.createDataFrame(
        synth.transcripts_frame(corpus.all_docs, use_raw=use_raw))
    frames[name] = (
        df.crossJoin(spark.range(rep).select(F.col("id").alias("r")))
          .withColumn("conv_id", F.concat_ws(
              "-", "conv_id", F.col("r").cast("string")))
          .drop("r"))
    frames[name].repartition(64).write.mode("overwrite").parquet(
        f"{out_dir}/{name}")
# pre-assembled docs for the detect-stage measurement (the flagship
# compute stage, isolated from the tiny-input shuffle fixed costs)
from coies_spark.pipeline.extract import assemble_docs
(assemble_docs(frames["raw"], frames["tagged"]).repartition(64)
    .write.mode("overwrite").parquet(f"{out_dir}/assembled"))
print("PREP_OK")
"""

WORKER = r"""
import json, sys, time
sys.path.insert(0, ".")
from coies_spark.core.oneshot import build_example_artifacts
from coies_spark.data import synth
from coies_spark.pipeline.extract import extract_mentions
from coies_spark.session import get_spark
from __spark_entry__ import SMALL_CORPUS_CONFIG

in_dir, cores, n_docs, partitions = (
    sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
stage = sys.argv[5] if len(sys.argv) > 5 else "full"
import os as _os
_shm = "/dev/shm/coies_spark_tmp"
_os.makedirs(_shm, exist_ok=True)
spark = get_spark(f"scaling-{cores}", cores=cores,
                  shuffle_partitions=partitions,
                  extra_conf={"spark.local.dir": _shm})
corpus = synth.make_corpus(n_test=n_docs // 2, n_plain=n_docs // 2, seed=42)
artifacts = build_example_artifacts(
    corpus.example.tagged_text, synth.corpus_sentences(corpus),
    SMALL_CORPUS_CONFIG)
raw = spark.read.parquet(f"{in_dir}/raw")
tagged = spark.read.parquet(f"{in_dir}/tagged")
n_turns = raw.count()
if stage == "detect":
    from coies_spark.pipeline.extract import detect_mentions
    assembled = spark.read.parquet(f"{in_dir}/assembled")
warm_c = synth.make_corpus(n_test=250, n_plain=250, seed=7)
warm = spark.createDataFrame(
    synth.transcripts_frame(warm_c.all_docs, use_raw=True)
).repartition(partitions, "conv_id")
extract_mentions(warm, artifacts).count()
# fixed pass count; min-of-passes damps JIT warm-up and GC-pause noise
times = []
for _ in range(5):
    t0 = time.perf_counter()
    if stage == "detect":
        n_mentions = detect_mentions(assembled, artifacts).count()
    else:
        n_mentions = extract_mentions(
            raw, artifacts, tagged_transcripts=tagged).count()
    times.append(time.perf_counter() - t0)
wall = min(times)
print(json.dumps({"cores": cores, "turns": n_turns,
                  "wall_s": round(wall, 3),
                  "turns_per_sec": round(n_turns / wall, 1),
                  "n_mentions": n_mentions,
                  "passes": [round(t, 2) for t in times]}))
spark.stop()
"""


def _fixed_work(_):
    t0 = time.process_time()
    s = 0
    for i in range(20_000_000):
        s += i * i
    return time.process_time() - t0


def hw_ceiling(low: int, high: int) -> float:
    def mean_cpu(n: int) -> float:
        with mp.Pool(n) as p:
            cpu = p.map(_fixed_work, range(n))
        return sum(cpu) / len(cpu)

    mean_cpu(low)  # warm
    return round(mean_cpu(low) / mean_cpu(high), 3)


def run_level(in_dir: str, cores: int, n_docs: int, partitions: int,
              stage: str = "full") -> dict:
    cmd = [sys.executable, "-c", WORKER, in_dir, str(cores), str(n_docs),
           str(partitions), stage]
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(
        cmd, capture_output=True, text=True, cwd=REPO, timeout=1800,
    )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=12500)
    ap.add_argument("--rep", type=int, default=8)
    ap.add_argument("--low", type=int, default=8)
    ap.add_argument("--high", type=int, default=32)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--stage", choices=["full", "detect"], default="full",
        help="full = scan+assemble+detect; detect = pre-assembled scan+"
             "detect only (isolates the flagship compute stage from "
             "fixed shuffle costs that dominate at bench-scale inputs)")
    args = ap.parse_args()

    partitions = 4 * args.high
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    in_dir = tempfile.mkdtemp(prefix="coies_scaling_", dir=shm)
    try:
        prep = subprocess.run(
            [sys.executable, "-c", PREP, in_dir, str(args.docs),
             str(args.rep)],
            capture_output=True, text=True, cwd=REPO, timeout=1800,
        )
        assert "PREP_OK" in prep.stdout, prep.stderr[-2000:]

        # alternating lo/hi trials, tightly coupled in time: the host's
        # effective clock drifts over minutes, so adjacent pairs see the
        # same conditions; per level keep the best wall across trials
        lo = hi = None
        for _ in range(2):
            l = run_level(in_dir, args.low, args.docs, partitions,
                          args.stage)
            h = run_level(in_dir, args.high, args.docs, partitions,
                          args.stage)
            if lo is None or l["wall_s"] < lo["wall_s"]:
                lo = l
            if hi is None or h["wall_s"] < hi["wall_s"]:
                hi = h
    finally:
        shutil.rmtree(in_dir, ignore_errors=True)

    ceiling = hw_ceiling(args.low, args.high)
    ratio = args.high / args.low
    speedup = hi["turns_per_sec"] / lo["turns_per_sec"]
    raw_eff = round(speedup / ratio, 3)
    norm_eff = round(min(1.0, raw_eff / ceiling), 3)
    result = {
        "metric": "scaling_efficiency", "stage": args.stage,
        "value": raw_eff,
        "unit": "fraction",
        "hw_normalized": norm_eff,
        "hw_ceiling_same_box": ceiling,
        "low": lo,
        "high": hi,
        "speedup": round(speedup, 2),
        "core_ratio": ratio,
    }
    print(json.dumps(result))
    if args.out:
        with open(args.out, "a") as f:
            f.write(
                f"\n## Scaling evidence (local[{args.low}] vs "
                f"local[{args.high}], same parquet input, "
                f"taskset-confined)\n\n"
                f"| cores | turns | wall_s | turns/sec |\n|---|---|---|---|\n"
                f"| {lo['cores']} | {lo['turns']} | {lo['wall_s']} | "
                f"{lo['turns_per_sec']} |\n"
                f"| {hi['cores']} | {hi['turns']} | {hi['wall_s']} | "
                f"{hi['turns_per_sec']} |\n\n"
                f"Speedup {result['speedup']}× over a {ratio:.0f}× core "
                f"increase → scaling efficiency **{raw_eff}** (target "
                f"≥ 0.8). Context: a fixed-work-per-process calibration "
                f"measures this box's same-host ceiling at {ceiling} "
                f"(per-core clock drops with {args.high} busy cores vs "
                f"{args.low}); a real N vs 4N executor fleet on separate "
                f"hosts does not pay that penalty. Hardware-normalized "
                f"efficiency min(1, raw/ceiling) = {norm_eff}.\n"
            )


if __name__ == "__main__":
    main()
