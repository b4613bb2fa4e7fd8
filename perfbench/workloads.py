"""The three workloads: kg_batch, kg_relink and kg_stream.

Each workload is a closed loop with one client: ``rep`` runs one
operation (a batch build, a relink job, or a stream query plus its
upserts) and returns only after the operation's output is committed;
``check`` then verifies that output outside the timed region.

Layer timings come from spans the benchmark records around its own
calls into the program.  Inside ``run_pipeline`` the stages are reached
through ``StageRunner.stage``, so a traced rep wraps that public method
for the duration of the rep; every lazy layer is timed at the stage
write that forces it.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from coies_spark.core.metrics import triple_prf
from coies_spark.core.oneshot import build_example_artifacts, detect_doc
from coies_spark.data import synth
from coies_spark.pipeline.canonicalize import alias_edges, canonicalize
from coies_spark.pipeline.checkpoint import StageRunner
from coies_spark.pipeline.linking import link_mentions
from coies_spark.pipeline.triples import (
    materialize_triples, mention_evidence_rows, run_pipeline, upsert_beliefs,
)
from coies_spark.streaming import ingest

import inputs
from tracing import TAIL_MIN_N, Tracer, median

# Workload sizes: 70 runs of about 25 to 65 s must fit the benchmark's
# time limit (see README.md) while the layer each workload targets still
# dominates its reps.
BATCH_CONVS = 600
RELINK_MENTIONS = 40_000
RELINK_SURFACES = 4_000
STREAM_DROPS = 12
STREAM_DROP_CONVS = 20
STREAM_BASE_CONVS = 100
STREAM_CORPUS_CONVS = 1000
STREAM_UPSERTS = 1
GATE_SAMPLE = 48   # conversations re-extracted on the driver per check


def digest(rows) -> str:
    """Order-independent digest of a set of string tuples (triples)."""
    rows = set(rows)
    acc = 0
    for t in rows:
        h = hashlib.blake2b("\x1f".join(t).encode(), digest_size=8)
        acc = (acc + int.from_bytes(h.digest(), "little")) % (1 << 64)
    return f"{acc:016x}:{len(rows)}"


def write_parquet(df: pd.DataFrame, path: str, n_files: int = 1) -> None:
    """Write a generated table as ``n_files`` parquet files (microsecond
    timestamps, which Spark reads natively)."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(df) // n_files)
    for i in range(n_files):
        part = df.iloc[i * per:(i + 1) * per]
        part.to_parquet(os.path.join(path, f"part-{i:05d}.parquet"),
                        index=False, coerce_timestamps="us",
                        allow_truncated_timestamps=True)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def triples_of(df, subj="subj") -> list[tuple[str, str, str]]:
    return [tuple(r) for r in df.select(subj, "pred", "obj").collect()]


@contextmanager
def traced_stages(tracer: Tracer, builds: list):
    """Record one span per ``StageRunner.stage`` call and keep each
    stage's ``build`` so its checkpoint overhead can be probed later."""
    if not tracer.enabled:
        yield
        return
    original = StageRunner.stage

    def stage(self, name, build, *args, **kwargs):
        with tracer.span(f"stage:{name}") as rec:
            out = original(self, name, build, *args, **kwargs)
            rec["skipped"] = self.results[name].skipped
        builds.append((name, build))
        return out

    StageRunner.stage = stage
    try:
        yield
    finally:
        StageRunner.stage = original


class Workload:
    name = ""
    min_reps = 1
    turns = 0
    cores = 1

    def __init__(self, spark, seed: int, tmp: str, tracer: Tracer):
        self.spark, self.seed, self.tmp, self.tracer = spark, seed, tmp, tracer
        self.layer: dict[str, list[float]] = {}
        self.artifacts_s = self.kernel_ms = self.emissions_per_doc = 0.0

    def note(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    # --- hooks -------------------------------------------------------
    def generate(self) -> None:
        """Build the seeded inputs in memory (repeated to time set-up)."""

    def prepare(self) -> None:
        """Write the generated inputs and everything reps share."""

    def rep(self, work: str) -> dict:
        raise NotImplementedError

    def check(self, work: str, out: dict) -> tuple[bool, str]:
        raise NotImplementedError

    def trace_layers(self, work: str, builds: list, out: dict) -> None:
        """Per-layer measurements of a finished traced rep."""

    def warm(self, work: str):
        """Untimed warm-up: one rep, so Python workers, JIT and code
        generation are ready before timing.  Returns the rep's check
        result, or None when it ran other input than the timed reps."""
        result = self.check(work, self.rep(work))
        shutil.rmtree(work, ignore_errors=True)
        return result

    def enough(self, reps: list) -> bool:
        """Whether the run has the samples its metrics need."""
        return True

    # --- shared pieces -----------------------------------------------
    def kernel_sample(self, docs) -> None:
        """Driver-side ``detect_doc`` over a fixed sample of
        conversations, single thread: the per-doc kernel cost and the
        expected triples of the sample for the correctness gate."""
        expected, n_emit = set(), 0
        t0 = time.perf_counter()
        with self.tracer.span("core.oneshot.detect_doc", docs=len(docs)):
            for d in docs:
                ems = detect_doc(d.raw_text, d.raw_text, self.artifacts)
                n_emit += len(ems)
                expected |= {(d.conv_id, e.pred, " ".join(e.gram))
                             for e in ems}
        self.kernel_ms = 1000 * (time.perf_counter() - t0) / len(docs)
        self.emissions_per_doc = n_emit / len(docs)
        self.gate_ids = {d.conv_id for d in docs}
        self.gate_expected = expected

    def build_artifacts(self, c: synth.SynthCorpus) -> None:
        t0 = time.perf_counter()
        self.artifacts = build_example_artifacts(
            c.example.tagged_text, synth.corpus_sentences(c), inputs.CONFIG)
        self.artifacts_s = time.perf_counter() - t0

    def gate_sample(self, docs) -> list:
        """Fixed, seed-determined sample of conversations."""
        rng = np.random.RandomState(self.seed)
        idx = rng.choice(len(docs), size=min(GATE_SAMPLE, len(docs)),
                         replace=False)
        return [docs[i] for i in sorted(idx)]

    def gate_ok(self, got: set) -> bool:
        return {t for t in got if t[0] in self.gate_ids} == \
            self.gate_expected

    def checkpoint_layers(self, work: str, builds: list, resume) -> None:
        """Checkpoint overhead per stage (stage span minus a ``noop``
        write of the same DataFrame), bytes written, and a resume of the
        completed work dir."""
        spans = self.stage_spans(builds)
        overhead = 0.0
        for (name, build), s in zip(builds, spans):
            with self.tracer.span(f"noop:{name}") as rec:
                build().write.format("noop").mode("overwrite").save()
            overhead += (s["end"] - s["start"]) - (rec["end"] - rec["start"])
        self.note("pipeline.checkpoint.overhead_s", overhead)
        self.note("pipeline.checkpoint.bytes_written", dir_bytes(work))
        self.resume_layers(resume)

    def resume_layers(self, resume) -> None:
        """Re-run a completed work dir: every stage should be skipped."""
        stage_spans = len(self.tracer.spans)
        with traced_stages(self.tracer, []), \
                self.tracer.span("pipeline.checkpoint.resume") as rec:
            resume()
        resumed = [s for s in self.tracer.spans[stage_spans:]
                   if s["name"].startswith("stage:")]
        self.note("pipeline.checkpoint.resume_s", rec["end"] - rec["start"])
        self.note("pipeline.checkpoint.resume_skip_frac",
                  sum(bool(s.get("skipped")) for s in resumed)
                  / max(1, len(resumed)))

    def stage_spans(self, builds: list) -> list[dict]:
        """The spans of the rep's ``len(builds)`` stages."""
        return [s for s in self.tracer.spans
                if s["name"].startswith("stage:")][-len(builds):]

    def stage_layers(self, builds: list) -> list[dict]:
        """Note each stage span under its layer metric."""
        spans = self.stage_spans(builds)
        for (name, _), s in zip(builds, spans):
            self.note(self.stage_layer[name], s["end"] - s["start"])
        return spans

    def linked_layers(self, linked, canonical, aliases) -> None:
        n = linked.count()
        hits = linked.where(~F.col("entity_id").startswith("surface:")).count()
        self.note("pipeline.linking.hit_frac", hits / max(1, n))
        self.note("pipeline.canonicalize.alias_edges",
                  alias_edges(linked, aliases).count())
        self.note("pipeline.canonicalize.components", (
            canonical.groupBy("canonical_id")
            .agg(F.countDistinct("entity_id").alias("n"))
            .where("n > 1").count()))


class KgBatch(Workload):
    """Fresh checkpointed ``run_pipeline`` with a dictionary over a
    synth transcript table."""

    name = "kg_batch"
    # a single rep of this workload varies by up to a quarter from the
    # next in the same process; the median of two is steadier
    min_reps = 2
    stage_layer = {
        "s1_docs": "pipeline.extract.assemble_s",
        "s2_mentions": "pipeline.extract.detect_s",
        "s3_linked": "pipeline.linking.link_s",
        "s4_canonical": "pipeline.canonicalize.canon_s",
        "s5_triples": "pipeline.triples.materialize_s",
    }

    def generate(self):
        # 30% of conversations carry the head-company mention: hot-key skew
        self.data = inputs.make_transcripts(self.seed, BATCH_CONVS, 0.3)
        self.build_artifacts(self.data.corpus)

    def prepare(self):
        d = self.data
        self.turns = d.turns
        self.convs = BATCH_CONVS
        write_parquet(d.raw, os.path.join(self.tmp, "in", "raw"),
                      n_files=self.cores)
        write_parquet(inputs.pool_dictionary(),
                      os.path.join(self.tmp, "in", "dictionary"))
        self.gold = d.corpus.gold_triples()
        self.gold_ids = {t[0] for t in self.gold}
        self.kernel_sample(
            self.gate_sample(d.corpus.test_docs + d.corpus.plain_docs))

    def _run(self, work):
        def read(name):
            return self.spark.read.parquet(os.path.join(self.tmp, "in", name))

        return run_pipeline(
            self.spark, read("raw"), self.artifacts, work,
            dictionary=read("dictionary"))

    def rep(self, work):
        t0 = time.perf_counter()
        runner = self._run(work)
        wall = time.perf_counter() - t0
        m = runner.results
        return {"wall": wall, "mentions": m["s2_mentions"].manifest["rows"],
                "store_writes": [m["s5_triples"].manifest["wall_sec"]],
                "runner": runner}

    def check(self, work, out):
        r = out["runner"].results
        mentions = set(triples_of(r["s2_mentions"].df, "conv_id"))
        ok = self.gate_ok(mentions)
        prf = triple_prf({t for t in mentions if t[0] in self.gold_ids},
                         self.gold)
        out["precision"], out["recall"] = prf["precision"], prf["recall"]
        return ok, digest(triples_of(r["s5_triples"].df)) + \
            f":{prf['tp']}:{prf['n_pred']}"

    def trace_layers(self, work, builds, out):
        spans = self.stage_layers(builds)
        detect = spans[1]["end"] - spans[1]["start"]
        self.note("pipeline.extract.udf_overhead_frac",
                  1 - (self.kernel_ms / 1000 * self.convs / self.cores)
                  / detect)
        r = out["runner"].results
        self.note("pipeline.triples.rows", r["s5_triples"].manifest["rows"])
        self.linked_layers(r["s3_linked"].df, r["s4_canonical"].df, None)
        self.checkpoint_layers(work, builds, lambda: self._run(work))


class KgRelink(Workload):
    """Dictionary / alias refresh: link → canonicalize → materialize
    over a generated mention snapshot, no detection."""

    name = "kg_relink"
    stage_layer = {
        "r1_linked": "pipeline.linking.link_s",
        "r2_canonical": "pipeline.canonicalize.canon_s",
        "r3_triples": "pipeline.triples.materialize_s",
    }

    def generate(self):
        self.data = inputs.make_relink(self.seed, RELINK_MENTIONS,
                                       RELINK_SURFACES)

    def prepare(self):
        d = self.data
        self.turns = d.turns
        for name, df in (("mentions", d.mentions),
                         ("dictionary", d.dictionary),
                         ("aliases", d.aliases)):
            write_parquet(df, os.path.join(self.tmp, "in", name),
                          n_files=self.cores if name == "mentions" else 1)
        canon = inputs.union_find_min(
            zip(d.aliases["src"], d.aliases["dst"]))
        self.expected_canon = canon
        entity = dict(zip(d.dictionary["surface"], d.dictionary["entity_id"]))
        self.expected_triples = {
            (canon.get(entity.get(o), entity.get(o, f"surface:{p}:{o}")),
             p, o)
            for p, o in set(zip(d.mentions["pred"], d.mentions["obj"]))
        }

    def tables(self):
        read = self.spark.read.parquet
        return [read(os.path.join(self.tmp, "in", n))
                for n in ("mentions", "dictionary", "aliases")]

    def _run(self, work):
        mentions, dictionary, aliases = self.tables()
        runner = StageRunner(self.spark, work, fingerprint={"job": "relink"})
        linked = runner.stage(
            "r1_linked", lambda: link_mentions(mentions, dictionary))
        canonical = runner.stage(
            "r2_canonical", lambda: canonicalize(linked, aliases))
        runner.stage("r3_triples", lambda: materialize_triples(canonical),
                     partition_by=["pred"])
        return runner

    def rep(self, work):
        t0 = time.perf_counter()
        runner = self._run(work)
        wall = time.perf_counter() - t0
        return {"wall": wall, "mentions": RELINK_MENTIONS,
                "store_writes": [
                    runner.results["r3_triples"].manifest["wall_sec"]],
                "runner": runner}

    def check(self, work, out):
        r = out["runner"].results
        pairs = r["r2_canonical"].df.select(
            "entity_id", "canonical_id").distinct().collect()
        ok = all(c == self.expected_canon.get(e, e) for e, c in pairs)
        got = triples_of(r["r3_triples"].df)
        prf = triple_prf(got, self.expected_triples)
        out["precision"], out["recall"] = prf["precision"], prf["recall"]
        return ok and prf["f1"] == 1.0, digest(got)

    def trace_layers(self, work, builds, out):
        self.stage_layers(builds)
        r = out["runner"].results
        self.note("pipeline.triples.rows", r["r3_triples"].manifest["rows"])
        self.linked_layers(r["r1_linked"].df, r["r2_canonical"].df,
                           self.tables()[2])
        self.checkpoint_layers(work, builds, lambda: self._run(work))


class KgStream(Workload):
    """Micro-batch ingest: ``stream_extract`` over one parquet drop per
    trigger, then ``upsert_beliefs`` of the first epochs' triples into a
    belief store built by ``run_pipeline(with_beliefs=True)``."""

    name = "kg_stream"

    def generate(self):
        # the phrase table is trained on the whole seeded corpus; the
        # drops and the base store are disjoint slices of it.  Every
        # conversation carries the head-company mention, which fixes the
        # triple count of the streamed conversations to within about
        # 1% across seeds (10% at the batch's 30%), so mentions_per_s
        # stays comparable from seed to seed
        self.data = inputs.make_transcripts(
            self.seed, STREAM_CORPUS_CONVS, 1.0)
        self.build_artifacts(self.data.corpus)

    def prepare(self):
        raw = self.data.raw
        ids = sorted(raw["conv_id"].unique())
        n = STREAM_DROPS * STREAM_DROP_CONVS
        drop_ids = set(ids[:n])
        self.turns = int(raw["conv_id"].isin(drop_ids).sum())
        self.drops = os.path.join(self.tmp, "in", "drops")
        os.makedirs(self.drops)
        for i in range(STREAM_DROPS):
            path = os.path.join(self.drops, f"drop-{i:04d}.parquet")
            raw[raw["conv_id"].isin(
                ids[i * STREAM_DROP_CONVS:(i + 1) * STREAM_DROP_CONVS])
            ].to_parquet(path, index=False, coerce_timestamps="us",
                         allow_truncated_timestamps=True)
            # the file source takes files in modification-time order
            os.utime(path, (1e9 + i, 1e9 + i))
        base_in = os.path.join(self.tmp, "in", "base")
        write_parquet(
            raw[raw["conv_id"].isin(ids[n:n + STREAM_BASE_CONVS])], base_in)
        self.warm_drops = os.path.join(self.tmp, "in", "warm_drops")
        os.makedirs(self.warm_drops)
        shutil.copy2(os.path.join(self.drops, "drop-0000.parquet"),
                     self.warm_drops)
        self.base_dir = os.path.join(self.tmp, "base_store")
        self.build_base = lambda: run_pipeline(
            self.spark, self.spark.read.parquet(base_in), self.artifacts,
            self.base_dir, with_beliefs=True)
        self.build_base()
        # every streamed conversation is re-extracted on the driver: the
        # stream must reproduce batch semantics exactly
        c = self.data.corpus
        self.kernel_sample(
            [d for d in c.test_docs + c.plain_docs if d.conv_id in drop_ids])

    def warm(self, work):
        # a one-drop query and its upsert: a first query runs its epochs
        # about a third slower than later ones
        store = self.copy_store(work)
        q = self.start(work, self.warm_drops)
        q.awaitTermination()
        self.finish(q)
        self.upsert(store, work)
        shutil.rmtree(work, ignore_errors=True)
        return None

    def enough(self, reps):
        return sum(len(r["epochs"]) for r in reps) >= TAIL_MIN_N

    def copy_store(self, work: str) -> str:
        store = os.path.join(work, "store")
        for stage in ("s7_beliefs", "s8_temporal"):
            shutil.copytree(os.path.join(self.base_dir, stage),
                            os.path.join(store, stage))
        return store

    def start(self, work: str, drops: str):
        return ingest.stream_extract(
            ingest.stream_transcripts(self.spark, drops,
                                      max_files_per_trigger=1),
            self.artifacts, os.path.join(work, "triples"),
            os.path.join(work, "ck"))

    def finish(self, q) -> tuple[list[float], list[int]]:
        """Per-epoch trigger latency and input rows of a finished query."""
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        epochs, rows = [], []
        clock = time.time() - time.perf_counter()
        for p in q.recentProgress:
            if p.numInputRows > 0:
                s = p.durationMs["triggerExecution"] / 1000
                start = datetime.datetime.fromisoformat(
                    p.timestamp.replace("Z", "+00:00")).timestamp() - clock
                self.tracer.add("streaming.ingest.epoch", start, start + s,
                                rows=p.numInputRows)
                epochs.append(s)
                rows.append(p.numInputRows)
        return epochs, rows

    def upsert(self, store: str, work: str) -> tuple[list[float], object]:
        """Fold the first epochs' triples into the belief store."""
        triples = self.spark.read.parquet(os.path.join(work, "triples"))
        transcripts = self.spark.read.parquet(self.drops)
        upserts = []
        for b in range(STREAM_UPSERTS):
            subj_rows = triples.where(F.col("batch_id") == b).select(
                "subj", "pred", "obj", "score", F.col("subj").alias("conv_id"))
            ev = mention_evidence_rows(transcripts, subj_rows)
            with self.tracer.span("pipeline.triples.upsert_beliefs"):
                t1 = time.perf_counter()
                beliefs, _ = upsert_beliefs(self.spark, store, ev)
                upserts.append(time.perf_counter() - t1)
        return upserts, beliefs

    def rep(self, work):
        store = self.copy_store(work)
        t0 = time.perf_counter()
        q = self.start(work, self.drops)
        q.awaitTermination()
        t_stream = time.perf_counter() - t0
        epochs, rows = self.finish(q)
        upserts, beliefs = self.upsert(store, work)
        wall = time.perf_counter() - t0
        return {"wall": wall, "stream_wall": t_stream, "epochs": epochs,
                "rows": rows, "store_writes": upserts, "beliefs": beliefs,
                "out_dir": os.path.join(work, "triples")}

    def check(self, work, out):
        got = set(triples_of(self.spark.read.parquet(out["out_dir"])))
        ok = self.gate_ok(got)
        prf = triple_prf(got, self.gate_expected)
        out["precision"], out["recall"] = prf["precision"], prf["recall"]
        out["mentions"] = len(got)
        beliefs = [tuple(map(str, r)) for r in out["beliefs"].select(
            "subj", "pred", "obj", "n_evidence").collect()]
        return ok, digest(got) + ":" + digest(beliefs)

    def trace_layers(self, work, builds, out):
        self.note("streaming.ingest.epochs", len(out["epochs"]))
        self.note("streaming.ingest.rows_per_epoch", median(out["rows"]))
        self.note("streaming.ingest.first_epoch_s", out["epochs"][0])
        for s in out["store_writes"]:
            self.note("pipeline.triples.upsert_s", s)
        self.note("pipeline.checkpoint.bytes_written", dir_bytes(work))
        self.resume_layers(self.build_base)


WORKLOADS = {w.name: w for w in (KgBatch, KgRelink, KgStream)}
