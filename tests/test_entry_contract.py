"""Driver-contract tests: entry() smoke + queries()/oracle_sql() parity on
sf0.001 (the full sweep lives in scripts/check_oracles.py; run here on a
representative subset so the suite stays fast)."""

import duckdb
import numpy as np
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"

SUBSET = [
    "dedup_minhash_lsh_pairs",
    "er_cc_clusters",
    "ann_cosine_topk",
    "tpch_q1_agg",
    "window_running_total",
    "history_fixpoint",
    "events_hourly_window",
    "uid_dense_scalable",
    "name_homonyms",
    "dedup_exact",
    "dedup_synset_clusters",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"cluster", "size", "rep"}


def test_every_query_has_oracle_or_documented_skip():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    missing = set(qs) - set(oracles)
    # only genuinely non-SQL ops may skip the oracle
    assert missing == set(), f"queries without oracle: {missing}"


def _normalize(df):
    from scripts.check_oracles import normalize

    return normalize(df)


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    qs = entrymod.queries()
    sdf = _normalize(qs[name](spark, SF).toPandas())
    odf = _normalize(duck.sql(entrymod.oracle_sql()[name]).df())
    assert list(sdf.columns) == list(odf.columns)
    assert len(sdf) == len(odf)
    for c in sdf.columns:
        if sdf[c].dtype == np.float64:
            assert np.allclose(sdf[c], odf[c], rtol=0, atol=0, equal_nan=True), c
        else:
            assert sdf[c].equals(odf[c]), c


def test_stream_queries_remove_scratch_dirs(spark, tmp_path, monkeypatch):
    """Both streaming queries remove their ingest and checkpoint dirs once
    the drain returns. Only the dedup output dir stays: the returned
    DataFrame reads it lazily."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    qs = entrymod.queries()
    for name in ("stream_dedup_exact", "stream_hourly_window"):
        assert qs[name](spark, SF).collect(), name
    left = [p.name for p in tmp_path.iterdir()]
    scratch = ("belb_stream_in_", "belb_stream_ck_", "belb_stream_ev_")
    assert not [n for n in left if n.startswith(scratch)], left
    assert [n for n in left if n.startswith("belb_stream_out_")], left
