"""The six quantized index families (bq/pq/sq, each flat or IVF) behind
the facade's codec table: a crash while a family's meta is being
committed leaves no meta (never a torn one) and the next query rebuilds;
add() absorbs a batch into every family; every family's exact re-rank
knows the corpus size for its broadcast hint."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from vectordb_acc_and_speed_exp_spark.api import VectorStore
from vectordb_acc_and_speed_exp_spark.operators import pq as pq_ops

MODES = ("bq", "pq", "sq", "ivfbq", "ivfpq", "ivfsq")
DIM = 16
N_ROWS = 50
# the facade clamps n_cells to <= 256, so this probes every cell
ALL_CELLS = 256


@pytest.fixture(scope="module")
def qstore(spark, documents, tmp_path_factory):
    vs = VectorStore(spark, str(tmp_path_factory.mktemp("codecs")), dim=DIM)
    docs = documents.limit(N_ROWS).selectExpr(
        "cast(doc_id as string) as id", "text"
    )
    vs.create_collection("c", docs)
    return vs


@pytest.fixture(scope="module")
def probe(qstore):
    """A doc whose text (hence embedding) no other doc shares, so it is
    its own unambiguous top-1."""
    from pyspark.sql import functions as F

    return (
        qstore.get("c").groupBy("text").agg(
            F.count("*").alias("n"), F.min("id").alias("id")
        ).filter("n = 1").orderBy("id").first()
    )


def _full_budget(mode: str) -> dict:
    """A budget that re-ranks every row (and probes every cell): the
    approximate modes degenerate to exact kNN, so top-1 is certain."""
    kw = {"shortlist": 10 * N_ROWS}
    if mode.startswith("ivf"):
        kw["n_probe"] = ALL_CELLS
    return kw


def _top1(vs: VectorStore, mode: str, text: str) -> str:
    rows = vs.query(
        "c", query_texts=[text], k=3, mode=mode, **_full_budget(mode)
    ).collect()
    return min(rows, key=lambda r: r.rank).item_id


def _meta_path(vs: VectorStore, mode: str) -> str:
    if mode.startswith("ivf"):
        return os.path.join(vs._ivf_path("c"), f"_{mode[3:]}_meta.json")
    return os.path.join(vs.root, f".{mode}_index", "c", "_meta.json")


@pytest.mark.parametrize("mode", MODES)
def test_crash_mid_meta_write_leaves_no_meta_and_rebuilds(
    qstore, probe, mode, monkeypatch
):
    """A writer that dies halfway through the family's meta file (and only
    that file) must leave no meta behind: a torn meta would read as
    "built" and the next query would fail to decode it. The next query
    rebuilds the family and serves the probe doc as its own top-1."""
    meta = _meta_path(qstore, mode)
    if os.path.exists(meta):  # start from an unbuilt family
        os.remove(meta)
    real_dump = json.dump

    def torn_dump(obj, fh, *args, **kwargs):
        if fh.name in (meta, meta + ".tmp"):
            text = json.dumps(obj)
            fh.write(text[: len(text) // 2])
            raise RuntimeError("injected crash mid-write")
        return real_dump(obj, fh, *args, **kwargs)

    monkeypatch.setattr(json, "dump", torn_dump)
    # the doomed build's codebooks are never served: a stand-in trainer
    # spares it the eight per-sub-space KMeans fits (the rebuild below
    # trains for real)
    monkeypatch.setattr(
        pq_ops, "pq_train",
        lambda corpus, item_vec, m, k: np.random.default_rng(0).normal(
            size=(m, k, DIM // m)
        ),
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        _top1(qstore, mode, probe.text)
    assert not os.path.exists(meta)
    monkeypatch.undo()
    assert _top1(qstore, mode, probe.text) == probe.id
    assert os.path.exists(meta)


def test_add_is_absorbed_by_every_family(qstore, probe, spark):
    """A doc added after each family's build is its own top-1 under a
    full budget: the flat tables append its codes, the IVF tables
    re-encode the cell it lands in."""
    for mode in MODES:  # built by the crash tests, or here
        if not os.path.exists(_meta_path(qstore, mode)):
            _top1(qstore, mode, probe.text)
    text = "unmistakable codec table absorb probe"
    qstore.add(
        "c", spark.createDataFrame([("absorb1", text)], "id string, text string")
    )
    for mode in MODES:
        assert os.path.exists(_meta_path(qstore, mode)), mode  # not rebuilt
        assert _top1(qstore, mode, text) == "absorb1", mode


@pytest.mark.parametrize("mode", ("pq", "ivfsq"))
def test_rerank_gets_corpus_size_for_broadcast_hint(
    qstore, probe, mode, monkeypatch
):
    """The facade passes the collection's row count to the re-rank, so
    with the threshold dialled down to 1 row the candidate side gains a
    broadcast hint."""
    from vectordb_acc_and_speed_exp_spark.operators import hints

    def n_hints():
        df = qstore.query(
            "c", query_texts=[probe.text], k=3, mode=mode,
            **_full_budget(mode),
        )
        return df._jdf.queryExecution().analyzed().toString().count(
            "strategy=broadcast"
        )

    before = n_hints()
    monkeypatch.setattr(hints, "BROADCAST_RERANK_MIN_CORPUS", 1)
    assert n_hints() == before + 1
