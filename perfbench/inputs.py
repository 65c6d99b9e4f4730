"""Seeded benchmark inputs.

The engine only ever sees the generated tables: the ER workload feeds it
``belb_spark.datagen`` output written as Parquet, and the query workload
feeds ``__spark_entry__.queries()`` a table directory in the shape of the
engine's TPC-H-like testdata, generated here so that the benchmark carries
its own inputs. Only the tables the workload's queries read are written:
documents, embeddings, events, orders and lineitem.

Same seed, same bytes; each generator also returns a fingerprint of what it
wrote and the planted ground truth the correctness checks need.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import hashlib
import pathlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
]
DUP_MARK = "dup"  # appended to a copied document: a planted near-duplicate
DUP_SHARE = 0.05
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EMB_DIM = 64


@dataclasses.dataclass(frozen=True)
class QueryInputs:
    data_dir: str
    fingerprint: str
    # planted near-duplicate document groups: base doc_id -> copies
    dup_groups: dict[int, list[int]]


@dataclasses.dataclass(frozen=True)
class ERInputs:
    data_dir: str
    fingerprint: str
    rows: int


def _digest(h: "hashlib._Hash", table: pa.Table) -> None:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    h.update(sink.getvalue().to_pybytes())


def _us(days: np.ndarray, base: dt.date) -> pa.Array:
    """Midnight timestamps ``base + days`` as timestamp[us]."""
    epoch = (base - dt.date(1970, 1, 1)).days
    return pa.array((epoch + days) * 86_400_000_000, pa.timestamp("us"))


def query_tables(seed: int, sf: float, out_dir: pathlib.Path) -> QueryInputs:
    """Write the query tables at scale factor ``sf`` (0.1 = the size of the
    engine's sf0.1 testdata: 600k lineitem, 150k orders, 100k events, 5k
    documents, 2k embeddings); key ranges follow its 15k customers, 20k
    parts and 1k suppliers at that scale."""
    rng = np.random.default_rng(seed)
    n = {
        "customer": max(int(150_000 * sf), 50),
        "supplier": max(int(10_000 * sf), 10),
        "part": max(int(200_000 * sf), 50),
        "orders": max(int(1_500_000 * sf), 200),
        "lineitem": max(int(6_000_000 * sf), 800),
        "events": max(int(1_000_000 * sf), 1_000),
        "users": max(int(15_000 * sf), 20),
        "documents": max(int(50_000 * sf), 100),
        "embeddings": max(int(20_000 * sf), 60),
    }
    t: dict[str, pa.Table] = {}
    nc, ns, npart = n["customer"], n["supplier"], n["part"]
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(["F", "O", "P"]).take(rng.integers(0, 3, no)),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
        "o_orderdate": _us(rng.integers(0, 2404, no), dt.date(1995, 1, 1)),
        "o_orderpriority": pa.array(PRIORITIES).take(rng.integers(0, 5, no)),
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": pa.array(["A", "N", "R"]).take(rng.integers(0, 3, nl)),
        "l_linestatus": pa.array(["F", "O"]).take(rng.integers(0, 2, nl)),
        "l_shipdate": _us(rng.integers(0, 2498, nl), dt.date(1995, 1, 2)),
    })
    ne = n["events"]
    jan1 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 10**6
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(
            jan1 + rng.integers(0, 30 * 86_400 * 10**6, ne), pa.timestamp("us")
        ),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": pa.array(EVENT_TYPES).take(rng.integers(0, 5, ne)),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = [
        " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k))
        for k in rng.integers(10, 101, nd)
    ]
    copies = rng.choice(nd, int(round(DUP_SHARE * nd)), replace=False)
    originals = np.setdiff1d(np.arange(nd), copies)
    dup_groups: dict[int, list[int]] = {}
    for c in sorted(copies.tolist()):
        base = int(originals[rng.integers(0, len(originals))])
        texts[c] = f"{texts[base]} {DUP_MARK}"
        dup_groups.setdefault(base, []).append(c)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": pa.array(LANGS).take(rng.choice(5, nd, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, EMB_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), EMB_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })

    out_dir.mkdir(parents=True, exist_ok=True)
    h = hashlib.sha256()
    for name in sorted(t):
        _digest(h, t[name])
        pq.write_table(t[name], out_dir / f"{name}.parquet")
    return QueryInputs(str(out_dir), h.hexdigest(), dup_groups)


def er_tables(seed: int, scale: str, out_dir: pathlib.Path) -> ERInputs:
    """Write ``datagen.SCALES[scale]`` at ``seed`` (repos, synonym_dict,
    labeled_pairs — the three tables ``run_pipeline`` takes)."""
    from belb_spark import datagen

    cfg = dataclasses.replace(datagen.SCALES[scale], seed=seed)
    tables = datagen.generate(cfg)
    keep = {k: tables[k] for k in ("repos", "synonym_dict", "labeled_pairs")}
    datagen.save(keep, str(out_dir))
    h = hashlib.sha256()
    for name in sorted(keep):
        _digest(h, pa.Table.from_pandas(keep[name], preserve_index=False))
    return ERInputs(str(out_dir), h.hexdigest(), len(tables["repos"]))
