"""SRP multi-table recall (VERDICT r2 #7).

Deterministic near-dup vector set (no RNG): base vectors from an integer
formula, each with two slightly perturbed copies (true cosine > 0.99), plus
spread-out singles. Ground truth = brute-force numpy cosine. Unioning a
second SRP plane set must strictly improve (or equal) recall on the near-dup
band, and the two-table recall must clear a floor that one 8-bit table
typically cannot.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from belb_spark.operators.similarity import embedding_cosine_pairs, srp_weights

DIM = 64
MIN_COS = 0.95


def _vectors() -> pd.DataFrame:
    rows = []
    vid = 0
    for b in range(40):
        base = np.array(
            [((b * 37 + i * 11 + 3) % 17) - 8 for i in range(DIM)], dtype=float
        )
        base /= np.linalg.norm(base)
        for k in range(3):  # base + two near-dups
            v = base.copy()
            if k:
                bump = np.array(
                    [0.02 * (((b + k + i) % 3) - 1) for i in range(DIM)]
                )
                v = v + bump
            rows.append((vid, b, [float(x) for x in v]))
            vid += 1
    return pd.DataFrame(rows, columns=["vec_id", "family", "embedding"])


def _truth(pdf: pd.DataFrame) -> set[tuple[int, int]]:
    m = np.array(pdf["embedding"].tolist())
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = m @ m.T
    ids = pdf["vec_id"].to_numpy()
    out = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if cos[i, j] >= MIN_COS:
                out.add((int(ids[i]), int(ids[j])))
    return out


def test_two_plane_sets_are_independent():
    w0, w1 = srp_weights(8, DIM, 0), srp_weights(8, DIM, 1)
    assert w0 != w1
    # and every plane within a set is distinct
    assert len({tuple(p) for p in w0 + w1}) == 16


@pytest.mark.parametrize("floor_two_tables", [0.8])
def test_multi_table_union_raises_recall(spark, floor_two_tables):
    pdf = _vectors()
    truth = _truth(pdf)
    assert len(truth) >= 40  # every family contributes its 3 near-dup pairs
    emb = spark.createDataFrame(pdf[["vec_id", "embedding"]])

    def recall(n_tables: int) -> float:
        found = {
            (r["id_a"], r["id_b"])
            for r in embedding_cosine_pairs(
                emb, min_cosine=MIN_COS, n_planes=8, dim=DIM, n_tables=n_tables
            ).collect()
        }
        assert found <= truth  # exact verify: no false positives, ever
        return len(found & truth) / len(truth)

    r1, r2 = recall(1), recall(2)
    assert r2 >= r1
    assert r2 >= floor_two_tables, (r1, r2)


def test_table_id_rides_high_bits_no_cross_table_buckets(spark):
    """A table-0 bucket can never equi-join a table-1 bucket: the block key
    offsets table t by t << n_planes and buckets are < 2^n_planes."""
    pdf = _vectors().head(30)
    emb = spark.createDataFrame(pdf[["vec_id", "embedding"]])
    from belb_spark.operators.similarity import srp_lsh_buckets

    for t in range(2):
        b = srp_lsh_buckets(emb, 8, DIM, table=t)
        mx = b.agg(F.max("bucket")).collect()[0][0]
        mn = b.agg(F.min("bucket")).collect()[0][0]
        assert 0 <= mn and mx < (1 << 8)


def test_ivf_topk_finds_near_dups(spark):
    """IVF-flat sanity on the deterministic near-dup families: a vector's
    true nearest neighbor is its perturbed twin (cosine > 0.99), whose cell
    assignment is the same under any coarse quantizer that separates the
    spread-out families — so IVF top-1 must equal brute-force top-1 for
    every query, and ranks must be 1..k without gaps."""
    from belb_spark.operators.similarity import cosine_topk, ivf_topk

    pdf = _vectors()
    df = spark.createDataFrame(pdf[["vec_id", "embedding"]])
    corpus = df.filter(F.col("vec_id") >= 12)
    queries = df.filter(F.col("vec_id") < 12)

    ivf = ivf_topk(corpus, queries, k=3, n_cells=8, n_probe=2).toPandas()
    brute = cosine_topk(corpus, queries, k=3).toPandas()

    for qid, grp in ivf.groupby("query_id"):
        ranks = sorted(grp["rank"].tolist())
        assert ranks == list(range(1, len(ranks) + 1))
    ivf1 = ivf[ivf["rank"] == 1].set_index("query_id")["vec_id"]
    brute1 = brute[brute["rank"] == 1].set_index("query_id")["vec_id"]
    # top-1 recall: every query's true nearest neighbor survives the probe
    hits = sum(int(ivf1.get(q, -1) == v) for q, v in brute1.items())
    assert hits / len(brute1) >= 0.9
