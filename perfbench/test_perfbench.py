"""Tests of the benchmark's own parts.

    python3 -m pytest perfbench/ -q

The generator tests need only NumPy and pandas. The recorder tests start a
small local Spark session and check the status-store reader against jobs
of known shape.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen, layers, trace  # noqa: E402


# -- generators ------------------------------------------------------------
def _vec_bytes(seed):
    c, q, lab = gen.clustered_vectors(seed, 500, 20)
    return c.tobytes() + q.tobytes() + lab.tobytes()


def _doc_bytes(seed):
    d = gen.documents(seed, 400, 20)
    return d.table.to_json().encode() + json.dumps(
        [d.planted, d.exact, d.low_quality]
    ).encode()


@pytest.mark.parametrize("make", [_vec_bytes, _doc_bytes])
def test_same_seed_same_bytes_other_seed_differs(make):
    assert make(7) == make(7)
    assert make(7) != make(8)


def _shingles(t):
    w = t.split()
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_planted_and_verbatim_pairs_are_the_only_near_duplicates(seed):
    # the curation checks expect exactly these pairs from every
    # near-duplicate join, at the workload's size
    d = gen.documents(seed, 1500, 650)
    sh = {i: _shingles(t) for i, t in zip(d.table["doc_id"], d.table["text"])}
    posting: dict = {}
    for i, ss in sh.items():
        for x in ss:
            posting.setdefault(x, []).append(i)
    sharing = {(a, b) for ids in posting.values() for a in ids for b in ids if a < b}
    close = {(a, b) for a, b in sharing
             if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.1}
    assert close == set(d.planted) | set(d.exact)
    for a, b in d.planted:
        assert len(sh[a] & sh[b]) / len(sh[a] | sh[b]) > 0.5
    text = dict(zip(d.table["doc_id"], d.table["text"]))
    assert all(text[a] == text[b] for a, b in d.exact)
    assert d.table["text"].duplicated().sum() == len(d.exact) == gen.N_EXACT
    assert len(d.low_quality) == gen.N_LOW_QUALITY


def test_oracle_breaks_ties_by_row():
    corpus = np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 0.0], [5.0, 5.0]], np.float32)
    assert gen.topk_l2(corpus, np.zeros((1, 2), np.float32), 3) == [[0, 1, 2]]


# -- span arithmetic -------------------------------------------------------
def test_union_len_merges_overlaps():
    assert trace.union_len([(0, 2), (1, 3), (5, 6)]) == 4
    assert trace.union_len([]) == 0


def test_self_time_subtracts_children_union():
    t = trace.Tracer(sc=None, enabled=True)
    with t.span("root") as root:
        with t.span("a"):
            time.sleep(0.05)
        with t.span("b"):
            time.sleep(0.05)
    kids = [s for s in t.spans if s.parent == root.sid]
    assert {s.name for s in kids} == {"a", "b"}
    assert all(s.req == root.req for s in t.spans)
    st = trace.self_time(t.spans, root)
    assert 0 <= st < (root.end - root.start) - 0.09


def test_instrument_wraps_every_binding_and_restores(monkeypatch):
    import types

    mod = types.ModuleType("pbfake.ops")
    user = types.ModuleType("pbfake.user")

    def f(x):
        return x + 1

    mod.f = f
    user.f = f  # as after ``from .ops import f``
    monkeypatch.setitem(sys.modules, "pbfake.ops", mod)
    monkeypatch.setitem(sys.modules, "pbfake.user", user)
    t = trace.Tracer(sc=None, enabled=True)
    undo = trace.instrument(t, [("pbfake.ops", "f", "ops.f", None)], "pbfake")
    assert mod.f(1) == 2 and user.f(1) == 2
    assert [s.name for s in t.spans] == ["ops.f", "ops.f"]
    undo()
    assert mod.f is f and user.f is f


# -- failures are counted, and still give one result line -----------------
class _Failing:
    """A workload whose first cycle records some queries, then raises."""

    RECALL_KEYS = ("m",)

    def __init__(self, tmp, record):
        self.tmp, self.record = tmp, record
        self.lat, self.recall_hits, self.check_failures = [], {}, []
        self.rates, self.attempted, self.failed = [], 0, 0
        self.cycles, self.input_bytes, self.measuring = 0, 1, False

    def cycle(self):
        for _ in range(self.record):
            self.attempted += 1
            self.lat.append(("exact", 0.5))
        raise RuntimeError("operation failed")

    def finish(self):
        raise RuntimeError("check failed to run")

    def recall(self, key):
        return 0.0

    def stored_root(self):
        return str(self.tmp)


@pytest.mark.parametrize("record", [0, 3])
def test_a_raising_cycle_makes_the_run_incorrect(tmp_path, record):
    from perfbench import run

    wl = _Failing(tmp_path, record)
    run.measure(wl, seconds=0.5)
    run.finish(wl)
    res = run.verdict(wl)
    assert res == {"correct": False, "attempted": max(1, record), "failed": 2}
    metrics = layers.e2e_metrics(wl, setup_s=1.0)
    assert {m["name"] for m in layers.END_TO_END} == set(metrics)
    assert metrics["query_p50_geomean_s"]["value"] == (0.5 if record else 0.0)
    assert metrics["items_per_s"]["value"] == 0.0
    json.dumps(metrics, allow_nan=False)


def test_query_p50_geomean_weighs_each_kind_once():
    lat = [("a", 1.0), ("a", 3.0), ("a", 100.0), ("b", 4.0)]
    assert layers.query_p50_geomean(lat) == pytest.approx(12 ** 0.5)  # medians 3, 4
    assert layers.query_p50_geomean([]) == 0.0


# -- status-store reader against jobs of known shape ------------------------
@pytest.fixture(scope="module")
def sc():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    yield spark.sparkContext
    spark.stop()


def test_reader_counts_jobs_stages_tasks(sc):
    t = trace.Tracer(sc, enabled=True)
    rdd = sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1))
    with t.span("shuffle") as first:
        # one job: a 4-task map stage and a 2-task reduce stage
        counted = rdd.reduceByKey(lambda a, b: a + b, 2)
        assert sorted(counted.collect()) == [(0, 34), (1, 33), (2, 33)]
    with t.span("again") as second:
        # one job again, its map stage skipped: reuses the shuffle output
        counted.collect()
    assert (first.spark["jobs"], first.spark["stages"], first.spark["tasks"]) == (1, 2, 6)
    assert (second.spark["jobs"], second.spark["stages"], second.spark["tasks"]) == (1, 1, 2)
    assert first.spark["shuffle_write_bytes"] > 0
    assert second.spark["shuffle_read_bytes"] > 0


def test_stage_time_is_a_union_not_a_sum(sc):
    t = trace.Tracer(sc, enabled=True)

    def slow(it):
        import time as _t

        _t.sleep(0.3)
        return it

    with t.span("outer") as outer:
        with t.span("inner") as inner:
            # one stage, two tasks sleeping side by side on two cores
            sc.parallelize(range(4), 2).mapPartitions(slow).count()
        sc.parallelize(range(4), 1).count()
    assert inner.spark["jobs"] == 1 and outer.spark["jobs"] == 1
    iv = inner.attrs["stage_intervals"]
    assert len(iv) == 1
    wall = inner.end - inner.start
    union = trace.union_len(iv)
    assert 0.3 <= union <= wall + 0.05
    # two tasks ran 0.3 s each side by side: summed task time exceeds the
    # interval the stage covered, and sleeping used no CPU
    assert inner.spark["executor_run_s"] >= 0.55
    assert union < inner.spark["executor_run_s"]
    assert inner.spark["executor_cpu_s"] < 0.3
