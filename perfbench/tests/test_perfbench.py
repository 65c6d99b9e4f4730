"""Tests of the benchmark itself.

The first group is pure Python (event-log rollup, seeded inputs, the metric
catalog). The second runs ``run.py`` end to end, ``er_tiny`` as it is and
``queries`` at scale factor 0.001, once per workload and mode, so it takes a
few minutes:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

import pytest

from perfbench import eventlog, inputs, run
from perfbench.eventlog import Job, Span, Task
from perfbench.workloads import QUERY_MODULE, WORKLOADS, pair_f1

ROOT = pathlib.Path(__file__).resolve().parents[2]
SF = 0.001  # scale factor of the queries workload's tables in these tests


# ------------------------------------------------------------ event log


def _job(jid, ms, group=None, root=None, name="x", done=None):
    return Job(jid, ms, group, root, [jid], name, done if done is not None else ms + 5)


def test_attribution_rules():
    spans = [
        Span(0, "normalize", "action", "01_normalize", 10.0, 20.0),
        Span(1, "normalize", "call", "normalize", 11.0, 12.0, parent=0),
        Span(2, "blocking", "action", "02_blocks", 20.0, 30.0),
    ]
    g = eventlog.GROUP_PREFIX
    jobs = [
        _job(0, 11_500, f"{g}1", root="7"),  # rule 1: own group, inside
        _job(1, 15_000, root="7"),  # rule 2: same root execution as job 0
        _job(2, 25_000, f"{g}1"),  # stale inherited group -> rule 3 by time
        _job(3, 13_000),  # rule 3: innermost open span is 0
        _job(4, 40_000),  # outside every span
    ]
    assert eventlog.attribute(jobs, spans) == 1
    assert [j.span for j in jobs] == [1, 1, 2, 0, None]
    assert [j.by_group for j in jobs] == [True, False, False, False, False]


def test_rollup_self_time_and_task_metrics():
    spans = [
        Span(0, "clustering", "action", "05_clusters", 0.0, 10.0),
        Span(1, "clustering", "call", "connected_components", 1.0, 5.0, parent=0),
        Span(2, "scoring", "call", "edges_from_scores", 5.0, 6.0, parent=0),
    ]
    jobs = [_job(0, 2_000, name="localCheckpoint at x"), _job(1, 3_000, name="localCheckpoint at x"),
            _job(2, 4_000, name="localCheckpoint at x"), _job(3, 7_000)]
    for j, s in zip(jobs, (1, 1, 1, 0)):
        j.span = s
    tasks = [
        Task(0, 100, 10, 2_000_000, 0, 0, 0),
        Task(0, 300, 0, 0, 1_000_000, 0, 0),
        Task(3, 50, 0, 0, 0, 40, 5),
    ]
    out = eventlog.rollup(jobs, tasks, spans)
    c = out["clustering"]
    assert c["call_s"] == pytest.approx(4.0)
    assert c["action_s"] == pytest.approx(5.0)  # 10 s minus the 4 s + 1 s calls
    assert out["scoring"]["call_s"] == pytest.approx(1.0)
    assert c["jobs"] == 4 and c["tasks"] == 3
    assert c["task_s"] == pytest.approx(0.45)
    assert c["shuffle_write_mb"] == pytest.approx(2.0)
    assert c["spill_mb"] == pytest.approx(1.0)
    assert c["task_skew"] == pytest.approx(1.5)  # 300 / median(100, 300)
    assert c["python_s"] == pytest.approx(0.04)
    assert eventlog.checkpoint_rounds(jobs, spans) == 2


def test_commit_seconds_uses_own_jobs_only():
    spans = [Span(0, "pairs", "action", "03_candidates", 0.0, 10.0)]
    own = _job(0, 1_000, done=8_000)
    own.span, own.by_group = 0, True
    side = _job(1, 2_000, done=9_500)
    side.span = 0
    assert eventlog.commit_seconds([own, side], spans) == pytest.approx(2.0)


def test_read_parses_spark_event_lines(tmp_path):
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 5,
         "Stage IDs": [0], "Stage Infos": [{"Stage ID": 0, "Stage Name": "localCheckpoint at a"}],
         "Properties": {"spark.jobGroup.id": "g", "spark.sql.execution.root.id": "3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [{"Name": eventlog.PYTHON_RUN, "Update": "12"}]},
         "Task Metrics": {"Executor Run Time": 7, "JVM GC Time": 1,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 9},
                          "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 9},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(x) for x in lines) + "\n")
    jobs, tasks = eventlog.read(tmp_path)
    assert jobs == [Job(0, 5, "g", "3", [0], "localCheckpoint at a", 9)]
    assert tasks == [Task(0, 7, 1, 9, 2, 12, 0)]


# ------------------------------------------------------------ inputs


def test_query_tables_follow_the_seed(tmp_path):
    a = inputs.query_tables(7, 0.001, tmp_path / "a")
    b = inputs.query_tables(7, 0.001, tmp_path / "b")
    c = inputs.query_tables(8, 0.001, tmp_path / "c")
    assert a.fingerprint == b.fingerprint and a.dup_groups == b.dup_groups
    assert c.fingerprint != a.fingerprint
    assert sorted(p.name for p in (tmp_path / "a").iterdir()) == [
        f"{t}.parquet" for t in ("documents", "embeddings", "events", "lineitem", "orders")
    ]


def test_er_tables_follow_the_seed(tmp_path):
    a = inputs.er_tables(42, "tiny", tmp_path / "a")
    b = inputs.er_tables(42, "tiny", tmp_path / "b")
    c = inputs.er_tables(43, "tiny", tmp_path / "c")
    assert (a.fingerprint, a.rows) == (b.fingerprint, b.rows)
    assert a.rows == 1013
    assert c.fingerprint != a.fingerprint


def test_pair_f1():
    import pandas as pd

    groups = {1: [2, 3]}
    perfect = pd.DataFrame({"id_a": [1, 1, 3], "id_b": [2, 3, 2]})
    assert pair_f1(perfect, groups) == 1.0
    partial = pd.DataFrame({"id_a": [1, 3], "id_b": [2, 4]})
    assert pair_f1(partial, groups) == pytest.approx(0.4)  # p=1/2, r=1/3


# ------------------------------------------------------------ catalog


def test_benchmark_json_matches_the_runner():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert {"dedup", "similarity", "relational", "temporal", "spans",
            "text"} <= set(QUERY_MODULE.values())


# ------------------------------------------------------------ end to end


def _run(workload: str, trace: int, seed: int = 42) -> tuple[dict, dict, int]:
    extra = ["--sf", str(SF)] if workload == "queries" else []
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "0", "--trace", str(trace), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    assert len(lines) >= 2, p.stderr[-3000:]
    return json.loads(lines[-2]), json.loads(lines[-1]), p.returncode


@pytest.fixture(scope="module")
def runs():
    return {(w, t): _run(w, t) for w in WORKLOADS for t in (0, 1)}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_every_declared_metric_is_emitted(runs, workload, trace):
    _, result, code = runs[(workload, trace)]
    assert code == 0 and result["correct"] and result["failed"] == 0
    want = run.per_layer_units() if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        assert result["metrics"]["trace.unattributed_jobs"]["value"] == 0


def test_same_seed_same_er_counts(runs):
    (a, _, _), (b, _, _) = runs[("er_tiny", 0)], runs[("er_tiny", 1)]
    keys = ("fingerprint", "rows", "pairs_scored", "exact_dup_edges", "f1")
    assert [a[k] for k in keys] == [b[k] for k in keys]


def test_shuffle_bytes_wherever_the_plan_exchanges(runs, tmp_path, monkeypatch):
    """Each query module whose plans hold an Exchange reports shuffle bytes."""
    import tempfile

    import __spark_entry__
    from belb_spark.session import get_spark

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))  # CC's checkpoint dir
    data = inputs.query_tables(42, SF, tmp_path / "tables")
    spark = get_spark("perfbench-test", master="local[2]")
    try:
        exchanges = {}
        for name, module in QUERY_MODULE.items():
            df = __spark_entry__.queries()[name](spark, data.data_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            exchanges[module] = exchanges.get(module, False) or "Exchange" in plan
    finally:
        spark.stop()
    layers = runs[("queries", 1)][1]["metrics"]
    assert any(exchanges.values())
    for module, has_exchange in exchanges.items():
        if has_exchange:
            assert layers[f"{module}.shuffle_write_mb"]["value"] > 0, module
