"""Connected components on hand-built graphs (SURVEY.md §5 strategy 3):
chains, stars, cycles, multiple components, singletons.

Small edge sets are labelled on the driver; a test that must reach the
large-star/small-star rounds patches ``DRIVER_EDGE_BOUND`` to 0."""

import concurrent.futures
import random

import pytest

from belb_spark.operators import clustering
from belb_spark.operators.clustering import connected_components, reliable_checkpoints


@pytest.fixture
def star_path(monkeypatch):
    """Force the star rounds: no edge set fits under a bound of 0."""
    monkeypatch.setattr(clustering, "DRIVER_EDGE_BOUND", 0)


def _cc(spark, edges, nodes=None):
    e = spark.createDataFrame(edges, "uid_a long, uid_b long")
    n = spark.createDataFrame([(x,) for x in nodes], "uid long") if nodes else None
    rows = connected_components(e, n).collect()
    return {r["uid"]: r["cluster"] for r in rows}


@pytest.mark.usefixtures("star_path")
def test_chain(spark):
    # 1-2-3-4-5 chain: min-label must propagate end to end (belb only did one
    # hop of history resolution; the fixpoint fixes that, SURVEY.md §2.4 J2)
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


@pytest.mark.usefixtures("star_path")
def test_star_and_cycle(spark):
    got = _cc(spark, [(10, 2), (10, 3), (10, 4), (5, 6), (6, 7), (7, 5)])
    assert got == {10: 2, 2: 2, 3: 2, 4: 2, 5: 5, 6: 5, 7: 5}


def test_two_components_and_singletons(spark):
    got = _cc(spark, [(1, 2), (3, 4)], nodes=[1, 2, 3, 4, 99])
    assert got == {1: 1, 2: 1, 3: 3, 4: 3, 99: 99}


@pytest.mark.usefixtures("star_path")
def test_long_chain_log_rounds(spark):
    n = 64
    edges = [(i, i + 1) for i in range(1, n)]
    got = _cc(spark, edges)
    assert set(got.values()) == {1}
    assert len(got) == n


def test_duplicate_and_reversed_edges(spark):
    got = _cc(spark, [(2, 1), (1, 2), (2, 3), (3, 3)])
    assert got == {1: 1, 2: 1, 3: 1}


@pytest.mark.usefixtures("star_path")
def test_star_input_jobs_budget(spark):
    """Pin the driver-job budget for the common case: a star-like edge set
    that converges after ONE large+small round-pair (VERDICT r4 #1 — the
    er_cc_clusters wall at toy scale is pure fixed job latency, so a drift
    in jobs-per-run is a perf regression even when answers stay right).

    Budget: input checkpoint + one round-pair checkpoint + one structural
    probe. Under AQE each shuffle query-stage surfaces as its own driver
    job, so the pair + probe land well under 14 jobs total; the r3/r4
    4-star-fused shape measured 18+ and the pre-r3 fingerprint shape more.
    The forced star path adds the size collect's job: 11 jobs measured.
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


@pytest.mark.usefixtures("star_path")
def test_exhausted_round_budget_raises(spark):
    """A chain too long for the round budget must fail loudly rather than
    return labels from a non-converged edge set."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 200)], "uid_a long, uid_b long"
    )
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(edges, max_iter=1)


def _random_graph():
    rnd = random.Random(7)
    return [(rnd.randrange(300), rnd.randrange(300)) for _ in range(250)]


@pytest.mark.parametrize(
    "edges, nodes, uid_type",
    [
        ([(1, 2), (2, 3), (3, 4), (4, 5)], None, "long"),
        ([(10, 2), (10, 3), (10, 4), (5, 6), (6, 7), (7, 5)], None, "long"),
        ([(i, i + 1) for i in range(1, 200)], None, "long"),
        (_random_graph(), list(range(320)), "long"),
        ([(1, 2), (2, 3), (10, 2), (5, 6), (8, 8)], [1, 2, 3, 5, 6, 8, 10, 11], "int"),
    ],
    ids=["chain", "star_cycle", "long_chain", "random_singletons", "int_uid"],
)
def test_driver_and_star_paths_agree(spark, monkeypatch, edges, nodes, uid_type):
    """The driver union-find and the star rounds give identical labels in an
    identical schema (names, types, nullability), with and without nodes."""
    e = spark.createDataFrame(edges, f"uid_a {uid_type}, uid_b {uid_type}")
    n = (
        spark.createDataFrame([(x,) for x in nodes], f"uid {uid_type}")
        if nodes
        else None
    )

    def run():
        out = connected_components(e, n)
        return out.schema, sorted(map(tuple, out.collect()))

    driver = run()
    monkeypatch.setattr(clustering, "DRIVER_EDGE_BOUND", 0)
    star = run()
    assert driver == star
    assert len(driver[1]) == len({uid for uid, _ in driver[1]})


@pytest.mark.usefixtures("star_path")
def test_lost_checkpoint_block_fails_loudly(spark, monkeypatch):
    """A local-checkpoint block lost mid-run (the executor holding it died)
    fails the call with Spark's named error: no hang, no labels."""
    sc = spark.sparkContext
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "uid_a long, uid_b long")
    local_checkpoint = type(edges).localCheckpoint

    def lose_blocks(self, eager=True):
        before = set(sc._jsc.getPersistentRDDs().keys())
        out = local_checkpoint(self, eager)
        for rdd_id, rdd in sc._jsc.getPersistentRDDs().items():
            if rdd_id not in before:
                rdd.unpersist(True)
        return out

    monkeypatch.setattr(type(edges), "localCheckpoint", lose_blocks)
    with concurrent.futures.ThreadPoolExecutor(1) as pool:
        fut = pool.submit(lambda: connected_components(edges).collect())
        try:
            err = fut.exception(timeout=120)
        except concurrent.futures.TimeoutError:
            sc.cancelAllJobs()
            pytest.fail("connected_components hung on a lost checkpoint block")
    assert err is not None, f"returned labels: {fut.result()}"
    assert "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in str(err)


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
