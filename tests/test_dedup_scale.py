"""Scale-hardening tests for the standalone dedup operators (VERDICT r1 #1).

A hot bucket (a boilerplate shingle shared by many docs, an LSH band key of
a mass-vendored blob) must be anchor-capped + salted — bounded pair output —
instead of O(n²) on one reducer, while buckets at or under full_join_max
keep the exhaustive all-pairs semantics the DuckDB oracles verify. Also pins
the cache-hygiene contract: dedup calls leave NO persisted RDDs behind.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import functions as F

from belb_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    synset_clusters,
    tokens_col,
)
from belb_spark.operators.blocking import shingles_col
from belb_spark.operators.pairs import PairsConfig, pair_stats

N_HOT = 120  # docs sharing one boilerplate 5-gram (a hot shingle bucket)


def _hot_corpus(spark):
    """120 docs all starting with the same 5 tokens (one hot 5-gram bucket),
    each with a unique tail — plus 6 true near-dup docs."""
    rows = [
        {"doc_id": i, "text": f"alpha beta gamma delta eps tail{i} u{i} v{i}"}
        for i in range(N_HOT)
    ]
    rows += [
        {"doc_id": 1000 + i, "text": "one two three four five six seven"}
        for i in range(6)
    ]
    return spark.createDataFrame(pd.DataFrame(rows))


def test_hot_shingle_bucket_is_capped(spark):
    docs = _hot_corpus(spark)
    cfg = PairsConfig(full_join_max=16, anchor_rank=4)
    out = ngram_jaccard_pairs(docs, "doc_id", "text", 5, 0.0, pairs_cfg=cfg)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    hot_pairs = [(a, b) for a, b in pairs if a < 1000 and b < 1000]
    # bounded: ≤ anchor_rank·n from the hot bucket, NOT n(n-1)/2 = 7140
    assert len(hot_pairs) <= cfg.anchor_rank * N_HOT
    # connectivity through anchors is preserved: every hot doc still appears
    touched = {x for p in hot_pairs for x in p}
    assert touched == set(range(N_HOT))
    # the small (≤ full_join_max) identical-doc bucket keeps ALL pairs
    small = [(a, b) for a, b in pairs if a >= 1000 and b >= 1000]
    assert len(small) == 6 * 5 // 2


def test_capped_pairs_subset_of_exhaustive(spark):
    docs = _hot_corpus(spark)
    capped = ngram_jaccard_pairs(
        docs, "doc_id", "text", 5, 0.0,
        pairs_cfg=PairsConfig(full_join_max=16, anchor_rank=4),
    )
    full = ngram_jaccard_pairs(
        docs, "doc_id", "text", 5, 0.0,
        pairs_cfg=PairsConfig(full_join_max=10**6),
    )
    c = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    f = {(r["id_a"], r["id_b"]) for r in full.collect()}
    assert c <= f
    assert len(f) == N_HOT * (N_HOT - 1) // 2 + 15  # exhaustive is quadratic


def test_bucket_pair_stats_reports_drops(spark):
    docs = _hot_corpus(spark)
    blocks = docs.select(
        F.col("doc_id").alias("uid"),
        F.explode(shingles_col(tokens_col("text"), 5)).alias("block_key"),
    )
    cfg = PairsConfig(full_join_max=16, anchor_rank=4)
    stats = pair_stats(blocks, cfg).filter(F.col("block_size") > 16).collect()
    assert len(stats) == 1  # exactly the hot boilerplate shingle
    row = stats[0]
    assert row["block_size"] == N_HOT
    assert row["pairs_theoretical"] == N_HOT * (N_HOT - 1) // 2
    assert row["pairs_emitted"] < row["pairs_theoretical"]  # drops observable


def test_dedup_ops_leave_no_persisted_rdds(spark):
    """The shingle base is a localCheckpoint (r6): its blocks are reclaimed
    by the context cleaner once the query's RDDs are unreferenced — no
    storage outlives the queries' lifetime. GC is forced on both sides so
    the cleaner actually sees the dropped references within the test
    window (the cleaner is GC-triggered, not time-triggered)."""
    import gc

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    docs = _hot_corpus(spark)
    minhash_lsh_pairs(docs, "doc_id", "text").collect()
    ngram_jaccard_pairs(docs, "doc_id", "text").collect()
    for _ in range(40):  # cleanup is async; nudge both GCs and wait
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if spark.sparkContext._jsc.getPersistentRDDs().size() <= before:
            break
        time.sleep(0.25)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= before


def test_dense_ids_avoids_global_window(spark):
    """dense_ids ranks the DISTINCT key table and broadcast-joins back —
    no single-partition sort of the full table (VERDICT r1 'what's wrong' #1)."""
    from belb_spark.operators.relational import dense_ids
    from belb_spark.plans import plan_string
    from plan_checks import uses_broadcast_join

    df = dense_ids(spark, "/root/testdata/sf0.001")
    assert uses_broadcast_join(df)
    # the Window sorts the distinct-brand table, fed by an aggregate — the
    # full part table never flows into a single-partition Exchange
    s = plan_string(df)
    assert "Window" in s and "HashAggregate" in s
    pdf = df.toPandas()
    expected = (
        pdf[["p_brand"]].drop_duplicates().sort_values("p_brand").reset_index(drop=True)
    )
    expected["want"] = range(1, len(expected) + 1)
    merged = pdf.merge(expected, on="p_brand")
    assert (merged["brand_id"] == merged["want"]).all()


def test_synset_clusters_keeps_split_token_sets_apart(spark):
    """Equal distinct-token sets share the min id; token sets whose
    concatenations coincide ('ab c' vs 'a bc') stay apart."""
    df = spark.createDataFrame(
        [(1, "ab c"), (2, "a bc"), (3, "c ab ab"), (4, "bc a")],
        "doc_id long, text string",
    )
    got = {r["id"]: r["cluster"] for r in synset_clusters(df, "doc_id", "text").collect()}
    assert got == {1: 1, 2: 2, 3: 1, 4: 2}
