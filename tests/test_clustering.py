"""Connected components on hand-built graphs (SURVEY.md §5 strategy 3):
chains, stars, cycles, multiple components, singletons."""

import pytest

from belb_spark.operators.clustering import connected_components, reliable_checkpoints


def _cc(spark, edges, nodes=None):
    e = spark.createDataFrame(edges, "uid_a long, uid_b long")
    n = spark.createDataFrame([(x,) for x in nodes], "uid long") if nodes else None
    rows = connected_components(e, n).collect()
    return {r["uid"]: r["cluster"] for r in rows}


def test_chain(spark):
    # 1-2-3-4-5 chain: min-label must propagate end to end (belb only did one
    # hop of history resolution; the fixpoint fixes that, SURVEY.md §2.4 J2)
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_star_and_cycle(spark):
    got = _cc(spark, [(10, 2), (10, 3), (10, 4), (5, 6), (6, 7), (7, 5)])
    assert got == {10: 2, 2: 2, 3: 2, 4: 2, 5: 5, 6: 5, 7: 5}


def test_two_components_and_singletons(spark):
    got = _cc(spark, [(1, 2), (3, 4)], nodes=[1, 2, 3, 4, 99])
    assert got == {1: 1, 2: 1, 3: 3, 4: 3, 99: 99}


def test_long_chain_log_rounds(spark):
    n = 64
    edges = [(i, i + 1) for i in range(1, n)]
    got = _cc(spark, edges)
    assert set(got.values()) == {1}
    assert len(got) == n


def test_duplicate_and_reversed_edges(spark):
    got = _cc(spark, [(2, 1), (1, 2), (2, 3), (3, 3)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_star_input_jobs_budget(spark):
    """Pin the driver-job budget for the common case: a star-like edge set
    that converges after ONE large+small round-pair (VERDICT r4 #1 — the
    er_cc_clusters wall at toy scale is pure fixed job latency, so a drift
    in jobs-per-run is a perf regression even when answers stay right).

    Budget: input checkpoint + one round-pair checkpoint + one structural
    probe. Under AQE each shuffle query-stage surfaces as its own driver
    job, so the pair + probe land well under 14 jobs total; the r3/r4
    4-star-fused shape measured 18+ and the pre-r3 fingerprint shape more.
    A failure here means someone added rounds, probes, or shuffles."""
    tracker = spark.sparkContext.statusTracker()
    edges = spark.createDataFrame(
        [(10, 2), (10, 3), (10, 4), (20, 21), (20, 22)], "uid_a long, uid_b long"
    ).localCheckpoint(eager=True)  # isolate CC's own jobs from input build
    j0 = len(tracker.getJobIdsForGroup(None) or [])
    out = connected_components(edges)  # lazy label expr; loop runs eagerly
    jobs_loop = len(tracker.getJobIdsForGroup(None) or []) - j0
    got = {r["uid"]: r["cluster"] for r in out.collect()}
    assert got == {10: 2, 2: 2, 3: 2, 4: 2, 20: 20, 21: 20, 22: 20}
    assert jobs_loop <= 14, f"CC loop launched {jobs_loop} driver jobs (>14)"


def test_exhausted_round_budget_raises(spark):
    """A chain too long for the round budget must fail loudly rather than
    return labels from a non-converged edge set."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 200)], "uid_a long, uid_b long"
    )
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(edges, max_iter=1)


@pytest.mark.parametrize(
    "master, reliable",
    [
        ("local", False),
        ("local[4]", False),
        ("local[*]", False),
        ("local-cluster[2,1,1024]", True),
        ("spark://h:7077", True),
        ("yarn", True),
    ],
)
def test_checkpoint_durability_from_master(master, reliable):
    """CC rounds take local checkpoints under a local master and reliable
    ones under any cluster master."""
    assert reliable_checkpoints(master) is reliable
