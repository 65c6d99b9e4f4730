"""CheckpointStore commit semantics: a stage's metrics commit atomically
with its Parquet data."""

import pathlib

import pytest


def test_failed_metrics_leave_no_manifest_and_rebuild(spark, tmp_path):
    from belb_spark.checkpoint import CheckpointStore

    store = CheckpointStore(spark, str(tmp_path))
    data_dir = pathlib.Path(tmp_path, "s")
    manifest = pathlib.Path(tmp_path, "s.manifest.json")
    builds = []

    def build():
        builds.append(1)
        return spark.range(10)

    seen = []

    def lost_metrics():
        # called once the Parquet write has landed, before the manifest
        seen.append((data_dir.exists(), manifest.exists()))
        raise RuntimeError("stats lost")

    with pytest.raises(RuntimeError, match="stats lost"):
        store.run("s", "sig", build, metrics=lost_metrics)
    assert seen == [(True, False)]
    assert not manifest.exists()

    res = store.run("s", "sig", build, metrics=lambda: {"n": 10})
    assert not res.resumed and len(builds) == 2
    assert res.rows == 10 and res.metrics == {"n": 10}

    again = CheckpointStore(spark, str(tmp_path)).run(
        "s", "sig", build, metrics=lambda: {"n": -1}
    )
    assert again.resumed and len(builds) == 2
    assert again.metrics == {"n": 10}


@pytest.mark.parametrize("outer", [None, "caller's description"])
def test_stage_jobs_carry_the_stage_name(spark, tmp_path, outer):
    """A stage's build and write run under the stage name as the Spark job
    description; the caller's description comes back afterwards, and the
    job group is left alone."""
    from belb_spark.checkpoint import CheckpointStore

    sc = spark.sparkContext
    sc.setLocalProperty("spark.job.description", outer)

    def build():
        assert sc.getLocalProperty("spark.job.description") == "02_blocks"
        return spark.range(10)

    try:
        CheckpointStore(spark, str(tmp_path)).run("02_blocks", "sig", build)
        assert sc.getLocalProperty("spark.job.description") == outer
        assert sc.getLocalProperty("spark.jobGroup.id") is None
    finally:
        sc.setLocalProperty("spark.job.description", None)
