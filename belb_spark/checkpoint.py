"""CheckpointStore — per-stage Parquet checkpoints with manifest + resume.

Re-expresses belb's content-addressed skip-if-exists caching
(belb/utils/__init__.py:322-334, belb/kbs/kb.py:226-233: artifacts live under
an md5(config) directory and finished work is skipped) as stage checkpoint
tables: a stage is (re)built only if no manifest exists for its
(name, config-signature); otherwise the committed Parquet is read back.

The manifest records per-partition lineage (file → row-group rows) and the
stage's rows-processed metrics — the north rule's "per-partition lineage +
rows-processed/pairs-scored metrics ... resumes from its last committed
partition". On a real cluster this layer is an Iceberg catalog (snapshot id
in place of the manifest); the interface is identical, Parquet+manifest is
the sandbox fallback (SURVEY.md §7.2 step 1).

Writes are atomic at stage granularity: data lands under the stage dir first,
the manifest is written only after a successful write, so a killed run leaves
no manifest and the stage re-runs cleanly.
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

_DESCRIPTION = "spark.job.description"


def config_signature(obj: Any) -> str:
    """Stable md5 of any jsonable config (dataclasses included)."""
    import dataclasses

    def default(o: Any):
        if dataclasses.is_dataclass(o):
            return dataclasses.asdict(o)
        return str(o)

    return hashlib.md5(
        json.dumps(obj, sort_keys=True, default=default).encode()
    ).hexdigest()


def input_fingerprint(df: DataFrame) -> str:
    """Cheap input identity for resume signatures (ADVICE r1: a signature
    over config alone silently reuses stale stage parquet when the input
    changed under the same checkpoint_dir): the sorted source-file list with
    sizes, straight from the plan — no Spark job. DataFrames with no input
    files (in-memory) fingerprint as ``inmem``; callers pairing those with a
    persistent checkpoint_dir own invalidation themselves."""
    import os

    files = sorted(df.inputFiles())
    if not files:
        return "inmem"
    parts = []
    for f in files:
        path = f[len("file:") :] if f.startswith("file:") else f
        try:
            # size AND mtime: a same-length in-place edit (fixed-width data,
            # equal-length text swap) keeps the size — mtime catches it
            # (ADVICE r2)
            st = os.stat(path)
            parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            parts.append(f)
    return hashlib.md5("\n".join(parts).encode()).hexdigest()


@dataclass
class StageResult:
    df: DataFrame
    rows: int
    resumed: bool
    wall_sec: float
    # the stage's committed metrics (see CheckpointStore.run's ``metrics``):
    # the same values whether the stage was built or resumed
    metrics: dict[str, Any] = field(default_factory=dict)


class CheckpointStore:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = pathlib.Path(base_dir)
        self.base.mkdir(parents=True, exist_ok=True)
        self.log: list[dict[str, Any]] = []

    def _paths(self, name: str) -> tuple[pathlib.Path, pathlib.Path]:
        return self.base / name, self.base / f"{name}.manifest.json"

    def run(
        self,
        name: str,
        signature: str,
        build: Callable[[], DataFrame],
        metrics: Callable[[], dict[str, Any]] | None = None,
    ) -> StageResult:
        """Build, write and commit stage ``name`` — or read it back if a
        manifest with this ``signature`` exists. ``metrics`` is called after
        the Parquet write and before the manifest is written, so values that
        exist only once the write action ran (e.g. a Spark Observation on
        the build) commit atomically with the data; if it raises, no manifest
        is written and the next run rebuilds the stage."""
        data_dir, manifest_path = self._paths(name)
        t0 = time.time()
        if manifest_path.exists():
            manifest = json.loads(manifest_path.read_text())
            if manifest.get("signature") == signature:
                df = self.spark.read.parquet(str(data_dir))
                res = StageResult(
                    df,
                    manifest["rows"],
                    True,
                    time.time() - t0,
                    manifest.get("metrics") or {},
                )
                self.log.append({"stage": name, "resumed": True, **manifest})
                return res
            # stale signature: rebuild from scratch
            manifest_path.unlink()
            shutil.rmtree(data_dir, ignore_errors=True)

        # the stage's jobs carry its name in the event log. Only the
        # description: the job group belongs to whoever calls the pipeline
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(_DESCRIPTION)
        sc.setJobDescription(name)
        try:
            df = build()
            shutil.rmtree(data_dir, ignore_errors=True)
            df.write.mode("overwrite").parquet(str(data_dir))
            out = self.spark.read.parquet(str(data_dir))
        finally:
            sc.setLocalProperty(_DESCRIPTION, prev)
        # row counts + per-partition lineage straight from parquet footers —
        # no extra Spark job per stage
        import pyarrow.parquet as pq

        lineage = []
        rows = 0
        for p in sorted(data_dir.glob("*.parquet")):
            n = pq.ParquetFile(p).metadata.num_rows
            rows += n
            lineage.append({"file": p.name, "bytes": p.stat().st_size, "rows": n})
        stage_metrics = metrics() if metrics else {}
        manifest = {
            "signature": signature,
            "rows": rows,
            "partitions": lineage,
            "metrics": stage_metrics,
            "committed_at": time.time(),
            "wall_sec": time.time() - t0,
        }
        manifest_path.write_text(json.dumps(manifest, indent=2))
        self.log.append({"stage": name, "resumed": False, **manifest})
        return StageResult(out, rows, False, time.time() - t0, stage_metrics)

    def invalidate(self, name: str) -> None:
        data_dir, manifest_path = self._paths(name)
        manifest_path.unlink(missing_ok=True)
        shutil.rmtree(data_dir, ignore_errors=True)

    def metrics_table(self) -> list[dict[str, Any]]:
        return [
            {
                "stage": e["stage"],
                "rows": e.get("rows"),
                "resumed": e.get("resumed"),
                "wall_sec": e.get("wall_sec"),
                **(e.get("metrics") or {}),
            }
            for e in self.log
        ]

