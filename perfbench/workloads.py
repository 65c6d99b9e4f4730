"""The benchmark's two workloads.

``er_tiny``: one ``run_pipeline`` call per iteration on ``datagen.TINY``
(1,013 rows at seed 42), each into a fresh checkpoint directory. Five
checkpointed stages and ~58 Spark jobs for 1k rows: fixed per-stage cost
(scheduling, checkpoint commits, Python workers) dominates, per-pair kernels
barely show.

``queries``: one pass over ``QUERIES`` (``__spark_entry__.queries()``
entries), each forced through the noop sink (the first pass of a run writes
Parquet instead, for the checks). The pair half exercises ``dedup`` and
``similarity``; the scan half runs scans,
aggregates, windows and joins (``relational``, ``temporal``) and the
document ops (``spans``, ``text``) with no pair building, so a change tuned
for the self-join that costs the scans shows here.
"""

from __future__ import annotations

import dataclasses
import hashlib
import math
import pathlib
import shutil
import time

import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.tracing import Tracer

# queries() entry -> the belb_spark.operators module doing its work
QUERY_MODULE = {
    "dedup_minhash_lsh_pairs": "dedup",
    "ann_ivf_topk": "similarity",
    "tpch_q1_agg": "relational",
    "window_running_total": "relational",
    "events_asof_prev": "temporal",
    "spans_sentences": "spans",
    "text_fingerprint": "text",
}
QUERIES = list(QUERY_MODULE)
F1_GATE = 0.99


@dataclasses.dataclass
class Iteration:
    wall_s: float
    failures: list[str]
    attempted: int


class ERWorkload:
    scale = "tiny"
    warm_iterations = 1  # ~15 s each; a second would add a quarter to a ~60 s run

    def __init__(self) -> None:
        self.counts: dict[str, int | float] | None = None
        self.last_metrics: dict | None = None
        self.checkpoint_bytes = 0

    def prepare(self, seed: int, out_dir: pathlib.Path) -> None:
        self.inputs = inputs.er_tables(seed, self.scale, out_dir)

    def load(self, spark) -> None:
        d = self.inputs.data_dir
        self.tables = [
            spark.read.parquet(f"{d}/{t}.parquet")
            for t in ("repos", "synonym_dict", "labeled_pairs")
        ]

    def iterate(self, spark, work: pathlib.Path, tracer: Tracer | None = None) -> Iteration:
        """One ``run_pipeline`` call; its output is checked here (F1 gate,
        counts stable across iterations)."""
        from belb_spark.pipeline import run_pipeline

        ckpt = work / f"ckpt-{time.monotonic_ns()}"
        t0 = time.perf_counter()
        if tracer is None:
            res = run_pipeline(spark, *self.tables, checkpoint_dir=str(ckpt))
        else:
            with tracer.pipeline_patched():
                res = run_pipeline(spark, *self.tables, checkpoint_dir=str(ckpt))
        wall = time.perf_counter() - t0
        self.checkpoint_bytes = sum(p.stat().st_size for p in ckpt.rglob("*.parquet"))
        shutil.rmtree(ckpt, ignore_errors=True)
        m = self.last_metrics = res.metrics
        counts = {
            "rows": m["rows_in"],
            "pairs_scored": m["pairs_scored"],
            "exact_dup_edges": m["exact_dup_edges"],
            "f1": m["eval"]["test"]["f1"],
        }
        failures = []
        if counts["f1"] < F1_GATE:
            failures.append(f"test F1 {counts['f1']:.4f} < {F1_GATE}")
        if self.counts is None:
            self.counts = counts
        elif counts != self.counts:
            failures.append(f"counts changed between iterations: {self.counts} -> {counts}")
        return Iteration(wall, failures, 1)

    def check(self, work: pathlib.Path) -> list[str]:
        # run_pipeline asserts the sha256 and row-conservation invariants
        # itself; F1 and count stability are checked per iteration
        return []

    def f1(self) -> float:
        return float(self.counts["f1"])

    def details(self) -> dict:
        return {"fingerprint": self.inputs.fingerprint, **(self.counts or {})}


class QueryWorkload:
    sf = 0.02
    warm_iterations = 2  # ~7 s passes; the median of two damps one noisy pass

    def __init__(self, sf: float | None = None) -> None:
        self.sf = sf or self.sf
        self.names = QUERIES
        self.out_dir: pathlib.Path | None = None
        self.times: dict[str, list[float]] = {}
        self.check_detail: dict[str, str] = {}
        self.f1_value = math.nan

    def prepare(self, seed: int, out_dir: pathlib.Path) -> None:
        self.inputs = inputs.query_tables(seed, self.sf, out_dir)

    def load(self, spark) -> None:
        import __spark_entry__

        self.fns = __spark_entry__.queries()

    def iterate(self, spark, work: pathlib.Path, tracer: Tracer | None = None) -> Iteration:
        """One pass. The first pass of a run writes each result as Parquet
        under ``work`` (for ``check``); later passes use the noop sink."""
        keep_output = self.out_dir is None
        if keep_output:
            self.out_dir = work / "query_output"
        total = 0.0
        failures: list[str] = []
        for name in self.names:
            module = QUERY_MODULE[name]
            t0 = time.perf_counter()
            try:
                with _maybe_span(tracer, module, "call", name):
                    df = self.fns[name](spark, self.inputs.data_dir)
                with _maybe_span(tracer, module, "action", name):
                    if keep_output:
                        df.write.mode("overwrite").parquet(str(self.out_dir / name))
                    else:
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - one failed query fails the check, not the run
                failures.append(f"{name}: {type(e).__name__}: {e}"[:500])
            dt = time.perf_counter() - t0
            total += dt
            self.times.setdefault(name, []).append(round(dt, 4))
            spark.catalog.clearCache()  # drop the ops' persisted intermediates
        return Iteration(total, failures, len(self.names))

    def check(self, work: pathlib.Path) -> list[str]:
        """Compare each kept result with its DuckDB oracle by row count and an
        order-independent digest; score ``dedup_minhash_lsh_pairs`` against
        the planted near-duplicate groups."""
        import duckdb

        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        failures = []
        with duckdb.connect() as con:
            for t in pathlib.Path(self.inputs.data_dir).glob("*.parquet"):
                con.sql(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
            for name in self.names:
                path = self.out_dir / name
                if not path.exists():
                    self.check_detail[name] = "no output"
                    failures.append(f"{name}: no output")
                    continue
                got = pq.read_table(path).to_pandas()
                want = con.sql(oracles[name]).df()
                a, b = _digest(got), _digest(want)
                if name == "dedup_minhash_lsh_pairs":
                    self.f1_value = pair_f1(got, self.inputs.dup_groups)
                if (len(got), a) != (len(want), b):
                    self.check_detail[name] = f"rows {len(got)} vs oracle {len(want)}"
                    failures.append(f"{name}: differs from oracle ({len(got)} vs {len(want)} rows)")
                else:
                    self.check_detail[name] = f"ok rows={len(got)} sha256={a[:12]}"
        if not self.f1_value >= F1_GATE:
            failures.append(f"dedup_minhash_lsh_pairs F1 {self.f1_value:.4f} < {F1_GATE}")
        return failures

    def f1(self) -> float:
        return self.f1_value

    def details(self) -> dict:
        return {
            "fingerprint": self.inputs.fingerprint,
            "sf": self.sf,
            "order": self.names,
            "query_s": self.times,
            "checks": self.check_detail,
            "f1": self.f1_value,
        }


def _maybe_span(tracer: Tracer | None, module: str, kind: str, name: str):
    import contextlib

    return tracer.span(module, kind, name) if tracer else contextlib.nullcontext()


def _digest(df) -> str:
    """sha256 of a frame with columns sorted by name and rows sorted: equal
    for equal row multisets, whatever engine or order produced them."""
    import numpy as np

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint")):
            df[c] = df[c].astype(np.int64)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype(np.float64)
    df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def pair_f1(pairs, dup_groups: dict[int, list[int]]) -> float:
    """F1 of found (id_a, id_b) pairs against the planted ones: every pair
    within a group of a document and its copies."""
    gold = set()
    for base, copies in dup_groups.items():
        members = sorted([base, *copies])
        gold.update((a, b) for i, a in enumerate(members) for b in members[i + 1:])
    found = {(min(a, b), max(a, b)) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    tp = len(gold & found)
    if tp == 0:
        return 0.0
    p, r = tp / len(found), tp / len(gold)
    return 2 * p * r / (p + r)


WORKLOADS = {"er_tiny": ERWorkload, "queries": QueryWorkload}
