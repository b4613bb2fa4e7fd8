"""Resumable stage orchestration with snapshot manifests + lineage.

Each pipeline stage materializes to ``<base>/<stage>/data`` (parquet)
with a ``_MANIFEST.json`` recording: stage name, the run fingerprint
(the caller's config plus the *names* of the stages run before it), the
written schema, row count, per-partition-column row counts, wall time,
and the upstream stages it consumed.  The fingerprint covers neither
the upstream snapshots' identity nor the input tables, so a resume
over changed inputs serves the old snapshots (ROADMAP item 1).  On
re-run, a stage whose manifest matches the current fingerprint is
*skipped* and its snapshot is read back — so a killed pipeline resumes
mid-run (north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

A fresh stage is ONE Spark job, its write: the row count comes from an
``Observation`` on that write, and the snapshot is read back with the
recorded schema (partition columns last, every field nullable), so
neither a footer schema-inference job nor a ``count()`` follows it.
The recorded schema also keeps partition-column types: a string
``partition_by`` column whose values look numeric reads back as a
string, not an inferred int.  Partitioned stages add their lineage
``groupBy(...).count()``; a resumed stage runs no job at all.  A
manifest written before the schema was recorded does not match, so
such a stage is rebuilt once.  The manifest is written to a temp file
in the stage dir and renamed over the old one, so a crash leaves the
old manifest or the new one; a manifest that does not parse counts as
absent and its stage is rebuilt.

On an Iceberg deployment this maps 1:1 to
``df.writeTo(table).createOrReplace()`` + snapshot ids in place of
directory manifests; the orchestration logic is storage-agnostic, and
parquet + JSON keeps the sandbox dependency-free (no Iceberg runtime
jar is shipped with this container).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_MANIFEST.json"


def _fingerprint_str(obj) -> str:
    return json.dumps(obj, sort_keys=True, default=str)


def _partitions_last(df: DataFrame, partition_by: Sequence[str]) -> StructType:
    """``df``'s schema in the column order of its parquet read-back."""
    fields = [f for f in df.schema.fields if f.name not in partition_by]
    return StructType(fields + [df.schema[c] for c in partition_by])


def _read_manifest(path: str) -> Optional[dict]:
    """The manifest at ``path``; None when it is missing or does not
    parse (a torn write from an older writer), so the stage rebuilds."""
    try:
        with open(path) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return None


@dataclass
class StageResult:
    name: str
    df: DataFrame
    skipped: bool
    manifest: dict


@dataclass
class StageRunner:
    spark: SparkSession
    base_dir: str
    fingerprint: dict
    results: dict[str, StageResult] = field(default_factory=dict)

    def _paths(self, name: str) -> tuple[str, str, str]:
        stage_dir = os.path.join(self.base_dir, name)
        return stage_dir, os.path.join(stage_dir, "data"), os.path.join(
            stage_dir, MANIFEST
        )

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        partition_by: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """Run or resume one stage; returns the materialized DataFrame."""
        stage_dir, data_path, manifest_path = self._paths(name)
        fp = _fingerprint_str(
            {"stage": name, "run": self.fingerprint,
             "upstream": sorted(self.results)}
        )
        manifest = _read_manifest(manifest_path)
        if manifest and manifest.get("fingerprint") == fp \
                and "schema" in manifest:
            df = self.spark.read.schema(
                StructType.fromJson(manifest["schema"])
            ).parquet(data_path)
            self.results[name] = StageResult(name, df, True, manifest)
            return df

        t0 = time.time()
        df = build()
        schema = _partitions_last(df, partition_by or [])
        observed = Observation()
        writer = df.observe(observed, F.count(F.lit(1)).alias("rows")) \
            .write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_path)

        out = self.spark.read.schema(schema).parquet(data_path)
        lineage: dict[str, int] = {}
        if partition_by:
            for r in (
                out.groupBy(*partition_by).count().collect()
            ):
                key = "/".join(str(r[c]) for c in partition_by)
                lineage[key] = r["count"]
        manifest = {
            "stage": name,
            "fingerprint": fp,
            # the read-back makes every field nullable, as inference does
            "schema": out.schema.jsonValue(),
            "rows": observed.get["rows"],
            "partition_rows": lineage,
            "wall_sec": round(time.time() - t0, 3),
            "upstream": sorted(self.results),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        os.makedirs(stage_dir, exist_ok=True)
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, manifest_path)
        self.results[name] = StageResult(name, out, False, manifest)
        return out

    def metrics(self) -> DataFrame:
        """One row per executed stage (the ``metrics`` table)."""
        rows = [
            (
                r.name,
                r.manifest["rows"],
                r.skipped,
                float(r.manifest.get("wall_sec", 0.0)),
                json.dumps(r.manifest.get("partition_rows", {})),
            )
            for r in self.results.values()
        ]
        return self.spark.createDataFrame(
            rows,
            "stage string, rows long, resumed boolean, wall_sec double, "
            "partition_rows string",
        )
