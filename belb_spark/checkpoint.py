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
    # per-partition-directory row counts (e.g. {"src=exact": 629}) when the
    # stage was written with partition_by — row-count metrics per slice come
    # from parquet footers, never from an extra count() job
    partition_rows: dict[str, int] = field(default_factory=dict)
    # async mode only: True while the parquet write is still in flight on a
    # background thread (df is the persisted build, not the read-back)
    pending: bool = False


class CheckpointStore:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = pathlib.Path(base_dir)
        self.base.mkdir(parents=True, exist_ok=True)
        self.log: list[dict[str, Any]] = []
        self._pending: list[tuple] = []

    def _paths(self, name: str) -> tuple[pathlib.Path, pathlib.Path]:
        return self.base / name, self.base / f"{name}.manifest.json"

    def run(
        self,
        name: str,
        signature: str,
        build: Callable[[], DataFrame],
        extra_metrics: dict[str, Any] | None = None,
        partition_by: list[str] | None = None,
    ) -> StageResult:
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
                    manifest.get("partition_rows", {}),
                )
                self.log.append({"stage": name, "resumed": True, **manifest})
                return res
            # stale signature: rebuild from scratch
            manifest_path.unlink()
            shutil.rmtree(data_dir, ignore_errors=True)

        df = build()
        shutil.rmtree(data_dir, ignore_errors=True)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(data_dir))
        out = self.spark.read.parquet(str(data_dir))
        # row counts + per-partition lineage straight from parquet footers —
        # no extra Spark job per stage
        import pyarrow.parquet as pq

        lineage = []
        rows = 0
        partition_rows: dict[str, int] = {}
        for p in sorted(data_dir.rglob("*.parquet")):
            n = pq.ParquetFile(p).metadata.num_rows
            rows += n
            rel = p.relative_to(data_dir)
            lineage.append({"file": str(rel), "bytes": p.stat().st_size, "rows": n})
            if len(rel.parts) > 1:  # partitioned layout: key=value dirs
                key = "/".join(rel.parts[:-1])
                partition_rows[key] = partition_rows.get(key, 0) + n
        manifest = {
            "signature": signature,
            "rows": rows,
            "partitions": lineage,
            "partition_rows": partition_rows,
            "metrics": extra_metrics or {},
            "committed_at": time.time(),
            "wall_sec": time.time() - t0,
        }
        manifest_path.write_text(json.dumps(manifest, indent=2))
        self.log.append({"stage": name, "resumed": False, **manifest})
        return StageResult(out, rows, False, time.time() - t0, partition_rows)

    def run_async(
        self,
        name: str,
        signature: str,
        build: Callable[[], DataFrame],
        extra_metrics: dict[str, Any] | None = None,
        partition_by: list[str] | None = None,
    ) -> StageResult:
        """Like :meth:`run`, but the parquet write happens on a background
        thread while the caller proceeds with downstream compute off the
        PERSISTED build DataFrame (one materializing count job, then the
        write scans the cache). Atomicity is unchanged: the manifest is
        written only after the parquet commit, so a crash mid-write leaves a
        resumable (rebuild-from-scratch) stage. Call :meth:`finish` before
        relying on durability or per-partition lineage — it joins every
        in-flight write, appends the manifests to the log, and releases the
        persisted builds.

        Resume fast-path is identical to :meth:`run` (read-back df, nothing
        persisted, nothing pending)."""
        data_dir, manifest_path = self._paths(name)
        t0 = time.time()
        if manifest_path.exists():
            manifest = json.loads(manifest_path.read_text())
            if manifest.get("signature") == signature:
                df = self.spark.read.parquet(str(data_dir))
                self.log.append({"stage": name, "resumed": True, **manifest})
                return StageResult(
                    df,
                    manifest["rows"],
                    True,
                    time.time() - t0,
                    manifest.get("partition_rows", {}),
                )
            manifest_path.unlink()
            shutil.rmtree(data_dir, ignore_errors=True)

        df = build().persist()
        rows = df.count()  # materialize the cache; downstream + write share it

        def _write() -> dict[str, Any]:
            shutil.rmtree(data_dir, ignore_errors=True)
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(str(data_dir))
            import pyarrow.parquet as pq

            lineage = []
            partition_rows: dict[str, int] = {}
            wrote = 0
            for p in sorted(data_dir.rglob("*.parquet")):
                n = pq.ParquetFile(p).metadata.num_rows
                wrote += n
                rel = p.relative_to(data_dir)
                lineage.append(
                    {"file": str(rel), "bytes": p.stat().st_size, "rows": n}
                )
                if len(rel.parts) > 1:
                    key = "/".join(rel.parts[:-1])
                    partition_rows[key] = partition_rows.get(key, 0) + n
            manifest = {
                "signature": signature,
                "rows": wrote,
                "partitions": lineage,
                "partition_rows": partition_rows,
                "metrics": extra_metrics or {},
                "committed_at": time.time(),
                "wall_sec": time.time() - t0,
            }
            manifest_path.write_text(json.dumps(manifest, indent=2))
            return manifest

        from concurrent.futures import ThreadPoolExecutor

        if not hasattr(self, "_pool"):
            self._pool = ThreadPoolExecutor(max_workers=2)
        fut = self._pool.submit(_write)
        self._pending.append((name, df, fut))
        return StageResult(df, rows, False, time.time() - t0, {}, pending=True)

    def drain(self) -> float:
        """Wait for all in-flight async writes WITHOUT releasing the
        persisted builds (downstream still reads them); returns seconds
        blocked. Placed before a stage whose wall is itself a reported
        metric (pairs-scored/sec = scored pairs / scoring-stage wall): a
        background parquet write competing for cores would silently inflate
        that stage's measured wall."""
        t0 = time.time()
        for _name, _df, fut in self._pending:
            fut.result()
        return time.time() - t0

    def annotate(self, name: str, extra: dict[str, Any]) -> None:
        """Merge metrics discovered AFTER a stage's action (e.g. Spark
        Observation results that only exist once the job ran) into the
        stage's committed manifest, so a later resume can read them instead
        of recomputing. If the stage's async write is still in flight, the
        merge is deferred to its completion callback."""
        for n, _df, fut in self._pending:
            if n == name:
                fut.add_done_callback(
                    lambda _f, e=dict(extra): self._merge_manifest(name, e)
                )
                return
        self._merge_manifest(name, dict(extra))

    def _merge_manifest(self, name: str, extra: dict[str, Any]) -> None:
        _, manifest_path = self._paths(name)
        if manifest_path.exists():
            m = json.loads(manifest_path.read_text())
            m.setdefault("metrics", {}).update(extra)
            manifest_path.write_text(json.dumps(m, indent=2))

    def finish(self) -> dict[str, dict[str, Any]]:
        """Join all in-flight async writes, log their manifests, release the
        persisted builds. Returns {stage: manifest}."""
        out: dict[str, dict[str, Any]] = {}
        for name, df, fut in self._pending:
            manifest = fut.result()
            self.log.append({"stage": name, "resumed": False, **manifest})
            df.unpersist()
            out[name] = manifest
        self._pending = []
        return out

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


class EphemeralStore:
    """Checkpoint-free stage runner with the CheckpointStore interface:
    stages materialize into executor cache (persist + one count job) instead
    of parquet — no disk writes, no resume. Exists for (a) ephemeral
    one-shot pipelines and (b) the scaling decomposition experiment: the
    wall-clock delta vs the parquet-backed store measures exactly the
    checkpoint I/O that is per-node on a real cluster but serial on one box
    (BENCH/BASELINE.md)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.log: list[dict[str, Any]] = []
        self._persisted: list[DataFrame] = []

    def run(
        self,
        name: str,
        signature: str,
        build: Callable[[], DataFrame],
        extra_metrics: dict[str, Any] | None = None,
        partition_by: list[str] | None = None,
    ) -> StageResult:
        t0 = time.time()
        df = build().persist()
        rows = df.count()
        wall = time.time() - t0
        self._persisted.append(df)
        self.log.append(
            {
                "stage": name,
                "resumed": False,
                "rows": rows,
                "wall_sec": wall,
                "metrics": extra_metrics or {},
            }
        )
        return StageResult(df, rows, False, wall)

    run_async = run  # no write to overlap; persist+count IS the stage

    def drain(self) -> float:
        return 0.0

    def annotate(self, name: str, extra: dict[str, Any]) -> None:
        pass

    def finish(self) -> dict[str, dict[str, Any]]:
        for df in self._persisted:
            df.unpersist()
        self._persisted = []
        return {}

    def invalidate(self, name: str) -> None:
        pass

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
