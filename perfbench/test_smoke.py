"""Tiny-size smoke test of the benchmark's own code.

    python3 -m pytest perfbench/test_smoke.py -q

The pure helpers are checked directly; each workload then runs its
set-up, one checked rep and the traced probes at a few conversations,
on one shared local[2] session.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import probe, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pair_scores():
    truth = {"a": 0, "b": 0, "c": 0, "d": 1}
    # a-b merged, c alone, d wrongly joined to a's component
    recall, precision = workloads.pair_scores(truth, {"b": "a", "d": "a"})
    assert recall == pytest.approx(1 / 3)
    assert precision == pytest.approx(1 / 3)
    assert workloads.pair_scores({"x": 0, "y": 1}, {}) == (1.0, 1.0)


def test_status_store_parsers():
    text = "total (min, med, max (stageId: taskId))\n457.0 KiB (92.6 KiB, 117.7 KiB)"
    assert probe.parse_size(text) == 457.0 * 1024
    assert probe.parse_count("157,339") == 157339
    assert probe.parse_size("") == 0.0


def test_self_times_add_up_to_root():
    t = probe.Tracer()
    root = t.add("op", "op", 0.0, 10.0)
    a = t.add("write", "sink", 2.0, 6.0, parent=root)
    t.add("scan", "sources", 2.0, 3.0, parent=a)
    t.add("lineage", "pipeline", 6.5, 9.0, parent=root)
    selfs = t.self_times(root)
    assert selfs == {"sink": 3.0, "sources": 1.0, "pipeline": 2.5, "unattributed": 3.5}
    assert sum(selfs.values()) == pytest.approx(10.0)


def test_probes_read_this_host():
    assert probe.tree_rss_bytes(os.getpid()) > 0
    steal, total = probe.cpu_steal_total()
    assert 0 <= steal <= total


def test_alias_inputs_are_seeded():
    a1, truth, rows = workloads.alias_inputs(3, 20)
    a2, _, _ = workloads.alias_inputs(3, 20)
    assert a1 == a2 and a1 != workloads.alias_inputs(4, 20)[0]
    assert set(truth) == {iri for iri, _ in a1}
    # some literal rows spell an alias IRI: the relabel must skip them
    assert any(not r[5] and r[4] in truth for r in rows)


def test_exits_nonzero_without_the_pipeline(tmp_path):
    """In a directory holding only the benchmark, the command fails
    without printing a result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from json_ld_spark.plans.session import build_session

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    s = build_session(app_name="perfbench-smoke", cpus=2, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(workloads, "KG_CONVS", 12)
    monkeypatch.setattr(workloads, "ALIAS_ENTITIES", 40)
    monkeypatch.setattr(workloads, "SAMPLE_CONVS", 2)
    monkeypatch.setattr(workloads, "LADDER_REPS", 1)
    monkeypatch.setattr(workloads, "CORE_SAMPLE_TURNS", 20)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_workload_rep_and_trace(spark, tiny, tmp_path, name):
    wl = workloads.WORKLOADS[name](spark, str(tmp_path), seed=5, passes=1)
    wl.setup()
    wl.prepare()
    m = wl.op()
    wl.check(m)
    assert wl.rows_out(m) > 0
    files, size, _ = wl.sink_stats(m)
    assert files > 0 and size > 0
    recall, precision = wl.merge_scores(m)
    assert 0 < recall <= 1 and 0 < precision <= 1

    tracer = probe.Tracer()
    ladder = wl.ladder(tracer)
    layer = {**ladder, **wl.core_replay(tracer), **wl.canon_phases(tracer)}
    traced, root = wl.traced_op(tracer, ladder)
    wl.check(traced["_m"])
    selfs = tracer.self_times(root)
    wall = tracer.spans[root]["end"] - tracer.spans[root]["start"]
    assert sum(selfs.values()) == pytest.approx(wall, abs=1e-6)
    assert all(v >= 0 for v in selfs.values())
    assert layer["canonicalize.cc_rounds"] >= 1
    if name != "alias_canon":
        assert layer["jsonld_ops.triples_out"] == traced["_m"]["triples"]
        assert 0 < traced["pipeline.sink_write_s"] <= wall


def test_resume_check_catches_a_wrong_sink(spark, tiny, tmp_path):
    """The kg_resume check compares the final sink with a clean build:
    a sink that lost a file of a recomputed bucket must fail it."""
    wl = workloads.KgResume(spark, str(tmp_path), seed=5, passes=1)
    wl.setup()
    wl.prepare()
    m = wl.op()
    files = [p for b in wl.redo for p in sorted(glob.glob(
        os.path.join(wl.out, "graph_triples", f"conv_bucket={b}", "*.parquet")))]
    os.remove(files[0])
    with pytest.raises(workloads.CheckFailed):
        wl.check(m)
