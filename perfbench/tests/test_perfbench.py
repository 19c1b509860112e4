"""Tests for the benchmark's own code: generators, event-log ledger and
the numpy reference. Run with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import filecmp
import json
import os

import pytest

from perfbench import eventlog, gen, reference, workloads

DATA = os.path.join(os.path.dirname(__file__), "data")


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names
    )


@pytest.mark.parametrize(
    "write",
    [
        lambda d, seed: gen.write_wiki_dump(d, seed, pages=300),
        lambda d, seed: gen.write_link_graph(d, seed, vertices=200, edges=1500),
    ],
    ids=["wiki_dump", "link_graph"],
)
def test_generators_are_byte_identical_per_seed(tmp_path, write):
    write(str(tmp_path / "a"), 7)
    write(str(tmp_path / "b"), 7)
    write(str(tmp_path / "c"), 8)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_cache_rebuilds_entry_without_sentinel(tmp_path):
    calls = []

    def build(entry):
        calls.append(entry)
        with open(os.path.join(entry, "x"), "w") as f:
            f.write("data")
        return {"n": len(calls)}

    partial = tmp_path / "k"
    partial.mkdir()
    (partial / "stale").write_text("half-written")
    entry, meta = gen.cached(str(tmp_path), "k", build)
    assert meta == {"n": 1} and not (partial / "stale").exists()
    assert gen.cached(str(tmp_path), "k", build)[1] == {"n": 1}
    assert len(calls) == 1


def test_eventlog_ledger_on_captured_log():
    led = eventlog.parse(os.path.join(DATA, "tiny_eventlog.json"))
    assert set(led) == {"g1", "g2", None}
    g1, g2, none = led["g1"], led["g2"], led[None]
    assert (g1.jobs, g1.tasks, g2.jobs, g2.tasks, none.jobs, none.tasks) == (2, 3, 2, 3, 1, 2)
    assert g1.task_s == pytest.approx(1.080)
    assert g2.task_s == pytest.approx(0.136)
    assert g1.shuffle_mb * eventlog.MIB == pytest.approx(563)
    assert g2.shuffle_mb * eventlog.MIB == pytest.approx(118)
    assert g1.spill_mb == 0.0


def test_eventlog_stage_belongs_to_first_job(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "b"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor Run Time": 500, "Disk Bytes Spilled": 1 << 20}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor Run Time": 250}},
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    led = eventlog.parse(str(path))
    assert (led["a"].tasks, led["a"].task_s, led["a"].spill_mb) == (1, 0.5, 1.0)
    assert (led["b"].jobs, led["b"].tasks, led["b"].task_s) == (1, 1, 0.25)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from pagerank_hadoop_spark.session import get_spark

    return get_spark("perfbench-tests")


@pytest.mark.parametrize("parity", [True, False], ids=["parity", "corrected"])
def test_replay_equals_pagerank_with_n(spark, tmp_path, parity):
    from pagerank_hadoop_spark.operators.pagerank import pagerank_with_n

    src, dst = gen.write_link_graph(str(tmp_path), 3, vertices=300, edges=2000)
    ranks, n = pagerank_with_n(spark.read.parquet(str(tmp_path)), n_iter=8, parity=parity)
    got = {r["id"]: r["rank"] for r in ranks.collect()}
    nodes, want = reference.pagerank_replay(src, dst, n_iter=8, parity=parity)
    assert n == len(nodes) == len(got)
    for node, r in zip(nodes, want):
        assert got[str(node)] == pytest.approx(r, rel=1e-12)


def test_wiki_pipeline_matches_intended_edges(spark, tmp_path):
    """The engine's parse of the generated dump ranks exactly what the
    generator meant to link, and the check rejects a wrong rank."""
    src, dst, ids = gen.write_wiki_dump(str(tmp_path), 5, pages=400)
    nodes, rank = reference.pagerank_replay(src, dst, parity=True)
    answer = reference.threshold_answer(ids, nodes, rank, workloads.THRESHOLD_K)
    n, rows = workloads.execute("wiki_dump", spark, str(tmp_path))
    assert rows and workloads.check("wiki_dump", n, rows, answer) is None
    bad = [{"id": rows[0]["id"], "rank": rows[0]["rank"] * (1 + 1e-6)}] + rows[1:]
    assert workloads.check("wiki_dump", n, bad, answer) is not None
    assert workloads.check("wiki_dump", n, rows[1:], answer) is not None
