"""End-to-end gate: pairwise F1 ≥ 0.99 on the test split (BASELINE.json),
row conservation, sha invariant, deterministic re-run, resume semantics."""

import json
import pathlib
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from belb_spark.pipeline import ERConfig, run_pipeline


@pytest.fixture(scope="module")
def ckpt_dir():
    d = tempfile.mkdtemp(prefix="belb_e2e_ckpt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def tables_before(spark):
    """Catalog contents before the module's pipeline run."""
    return sorted(t.name for t in spark.catalog.listTables())


@pytest.fixture(scope="module")
def result(spark, tiny_spark, ckpt_dir, tables_before):
    return run_pipeline(
        spark,
        tiny_spark["repos"],
        tiny_spark["synonym_dict"],
        tiny_spark["labeled_pairs"],
        checkpoint_dir=ckpt_dir,
    )


@pytest.fixture(scope="module")
def result_rows(result):
    """Materialized assignment — stays valid after checkpoint invalidation."""
    return sorted((r["uid"], r["cluster"]) for r in result.assignment.collect())


def test_warm_rerun_compiles_nothing(spark, tiny_spark, result_rows):
    """A second run in the same session, into a fresh checkpoint dir,
    rebuilds every stage from classes the first run compiled (the codegen
    cache holds the pipeline's working set) and reproduces its clusters."""
    d = tempfile.mkdtemp(prefix="belb_e2e_warm_")
    try:
        res = run_pipeline(
            spark,
            tiny_spark["repos"],
            tiny_spark["synonym_dict"],
            tiny_spark["labeled_pairs"],
            checkpoint_dir=d,
        )
        got = sorted((r["uid"], r["cluster"]) for r in res.assignment.collect())
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert not any(s["resumed"] for s in res.stages), res.stages
    assert res.metrics["codegen_compiles"] == 0
    assert got == result_rows


def test_f1_target(result):
    ev = result.metrics["eval"]
    assert ev["test"]["f1"] >= 0.99, ev
    assert ev["dev"]["f1"] >= 0.99, ev
    assert ev["all"]["f1"] >= 0.99, ev


def test_stage_checkpoints_are_plain_parquet(spark, result, ckpt_dir, tables_before):
    """Stage checkpoints are parquet files plus a manifest: the run leaves
    the catalog as it found it and records no bucket spec."""
    assert sorted(t.name for t in spark.catalog.listTables()) == tables_before
    manifests = sorted(pathlib.Path(ckpt_dir).glob("*.manifest.json"))
    assert [m.name.split(".")[0] for m in manifests] == [
        "01_normalize", "02_blocks", "03_candidates", "04_scores", "05_clusters"
    ]
    for m in manifests:
        assert "bucket" not in json.loads(m.read_text()), m.name


def test_row_conservation(result, tiny_spark):
    n_in = tiny_spark["repos"].count()
    assert result.assignment.count() == n_in
    assert result.assignment.select("uid").distinct().count() == n_in


def test_cluster_id_is_min_uid(result):
    bad = (
        result.assignment.groupBy("cluster")
        .agg(F.min("uid").alias("mn"))
        .filter(F.col("cluster") != F.col("mn"))
    )
    assert bad.count() == 0


def test_matches_gold_exactly(result, tiny_spark):
    """Beyond pairwise F1: the full partition equals the gold partition."""
    pred = result.assignment
    gold = tiny_spark["gold"]
    joined = pred.join(gold, "uid")
    # same-partition check: predicted cluster ids map 1:1 to gold cluster ids
    pairs = joined.select("cluster", "gold_cluster").distinct()
    assert pairs.count() == pairs.select("cluster").distinct().count()
    assert pairs.count() == pairs.select("gold_cluster").distinct().count()


def test_resume_skips_committed_stages(spark, tiny_spark, ckpt_dir, result):
    res2 = run_pipeline(
        spark,
        tiny_spark["repos"],
        tiny_spark["synonym_dict"],
        labeled_pairs=None,
        checkpoint_dir=ckpt_dir,
    )
    assert all(s["resumed"] for s in res2.stages), res2.stages
    diff = res2.assignment.exceptAll(result.assignment).count()
    assert diff == 0
    # the pair stats committed with 03_candidates are read back, not lost
    # or recomputed
    for key in ("pairs_theoretical", "pairs_capped_estimate", "max_block_size"):
        assert res2.metrics[key] == result.metrics[key], key
    assert result.metrics["pairs_theoretical"] > 0



def test_pair_ledgers_agree(spark, result, ckpt_dir):
    """The pipeline's Observation ledger (committed with 03_candidates) and
    the per-block pairs.pair_stats table price the cap identically over
    the same committed blocks — at the default config, and at a tighter
    one where the cap binds on TINY."""
    from pyspark.sql import Observation

    from belb_spark.operators.pairs import PairsConfig, candidate_pairs, pair_stats

    blocks = spark.read.parquet(f"{ckpt_dir}/02_blocks")

    def ledger(cfg):
        agg = pair_stats(blocks, cfg).agg(
            F.sum("pairs_theoretical").alias("theoretical"),
            F.sum("pairs_emitted").alias("emitted"),
            F.max("block_size").alias("max_block"),
        ).first()
        return agg["theoretical"], agg["emitted"], agg["max_block"]

    assert (
        result.metrics["pairs_theoretical"],
        result.metrics["pairs_capped_estimate"],
        result.metrics["max_block_size"],
    ) == ledger(PairsConfig())

    tight = PairsConfig(full_join_max=16, anchor_rank=4)
    obs = Observation("tight_pair_stats")
    candidate_pairs(blocks, tight, observe=obs).count()
    seen = obs.get
    assert (seen["theoretical"], seen["emitted"], seen["max_block"]) == ledger(tight)
    assert seen["emitted"] < seen["theoretical"]  # the cap binds


def test_blocks_hold_only_anchors(spark, result, ckpt_dir):
    """Exact duplicates are contracted at normalize: the committed anchor
    is the min uid of each token sequence, and exactly the anchors (one
    row per token sequence) are blocked."""
    norm = spark.read.parquet(f"{ckpt_dir}/01_normalize").collect()
    expected: dict[tuple, int] = {}
    for r in norm:
        key = tuple(r["norm_tokens"])
        expected[key] = min(expected.get(key, r["uid"]), r["uid"])
    assert all(r["anchor"] == expected[tuple(r["norm_tokens"])] for r in norm)
    blocks = spark.read.parquet(f"{ckpt_dir}/02_blocks")
    blocked = {r["uid"] for r in blocks.select("uid").distinct().collect()}
    assert blocked == set(expected.values())
    assert 0 < result.metrics["exact_dup_edges"] == len(norm) - len(expected)


def test_partial_resume_after_invalidation(spark, tiny_spark, ckpt_dir, result_rows):
    """Kill-after-stage-N simulation: only the invalidated stage rebuilds;
    earlier committed stages are read back; output is identical."""
    from belb_spark.checkpoint import CheckpointStore

    store = CheckpointStore(spark, ckpt_dir)
    store.invalidate("05_clusters")
    res = run_pipeline(
        spark,
        tiny_spark["repos"],
        tiny_spark["synonym_dict"],
        labeled_pairs=None,
        checkpoint_dir=ckpt_dir,
    )
    by_stage = {s["stage"]: s["resumed"] for s in res.stages}
    assert by_stage["05_clusters"] is False
    assert by_stage["01_normalize"] is True
    assert by_stage["04_scores"] is True
    got = sorted((r["uid"], r["cluster"]) for r in res.assignment.collect())
    assert got == result_rows


def test_resume_after_kill_before_manifest(spark, tiny_spark, ckpt_dir, result_rows):
    """A run killed between the 03 Parquet write and its manifest leaves
    data but no manifest: the rerun resumes 01/02, rebuilds 03 over the
    leftover files and produces the same clusters."""
    ckpt = pathlib.Path(ckpt_dir)
    (ckpt / "03_candidates.manifest.json").unlink()
    stray = ckpt / "03_candidates" / "part-99999-killed.snappy.parquet"
    stray.write_bytes(b"torn write")
    res = run_pipeline(
        spark,
        tiny_spark["repos"],
        tiny_spark["synonym_dict"],
        labeled_pairs=None,
        checkpoint_dir=ckpt_dir,
    )
    by_stage = {s["stage"]: s["resumed"] for s in res.stages}
    assert by_stage["01_normalize"] is True
    assert by_stage["02_blocks"] is True
    assert by_stage["03_candidates"] is False
    assert not stray.exists()
    assert (ckpt / "03_candidates.manifest.json").exists()
    got = sorted((r["uid"], r["cluster"]) for r in res.assignment.collect())
    assert got == result_rows


def test_resume_rebuilds_on_config_change(spark, tiny_spark, ckpt_dir):
    cfg = ERConfig(cc_max_iter=29)  # different signature
    res3 = run_pipeline(
        spark,
        tiny_spark["repos"],
        tiny_spark["synonym_dict"],
        labeled_pairs=None,
        checkpoint_dir=ckpt_dir,
        cfg=cfg,
    )
    assert not any(s["resumed"] for s in res3.stages)
