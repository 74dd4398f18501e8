"""The workloads.

Each workload is a class with ``setup()`` (everything before the timed
loop: inputs, collection writes, index builds, warm-up) and ``cycle()``
(one fixed round of operations). The runner repeats whole cycles until
the run's time is used, so every run samples the same operation mix;
``finish()`` then makes the untimed checks.

Every operation runs inside a root span ``op.<kind>``. Its latency is
taken with ``time.perf_counter`` around the program call and the terminal
action, the same way whether tracing is on or off.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

from . import gen

K = 10


class Workload:
    name = ""
    RECALL_KEYS: tuple[str, ...] = ()  # the approximate modes it scores

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work
        # (kind, seconds) per query of the measured phase; the kind is the
        # facade mode or the registry entry
        self.lat: list[tuple[str, float]] = []
        # items per second of each measured batch operation: rows of an
        # add(), documents of a curation chain
        self.rates: list[float] = []
        self.attempted = 0  # measured operations and output checks
        self.failed = 0  # operations that raised
        self.check_failures: list[str] = []
        self.recall_hits: dict[str, list[float]] = {}
        self.input_bytes = 1
        self.measuring = False
        self.cycles = 0  # completed in the measured phase

    # -- helpers -----------------------------------------------------------
    def op(self, kind: str, **attrs):
        phase = "measure" if self.measuring else "setup"
        return self.tracer.span(f"op.{kind}", phase=phase, **attrs)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.check_failures.append(what)

    def add_recall(self, key: str, got: list, truth: list) -> None:
        self.recall_hits.setdefault(key, []).append(
            len(set(got[:K]) & set(truth[:K])) / K
        )

    def recall(self, key: str) -> float:
        vals = self.recall_hits.get(key, [])
        return float(np.mean(vals)) if vals else 0.0

    def stored_root(self) -> str:
        raise NotImplementedError

    def finish(self) -> None:
        """Post-run output checks (untimed)."""


def _exact_matches(corpus: np.ndarray, q: np.ndarray, ids: list[int], truth: list[int]) -> bool:
    """Spark's exact top-10 equals the NumPy one, allowing only swaps
    between items whose float64 distances tie within 1e-9."""
    if ids == truth:
        return True
    d = ((corpus.astype(np.float64) - q.astype(np.float64)) ** 2).sum(axis=1)
    kth = d[truth[-1]]
    return len(ids) == len(truth) and all(d[i] <= kth + 1e-9 for i in ids)


# --------------------------------------------------------------------------
# facade: serving while ingesting
# --------------------------------------------------------------------------
class IngestServe(Workload):
    """A collection behind ``api.VectorStore`` with the mt-LSH and IVF/ivfbq
    indexes live. Each round of a cycle adds one batch with ``add()``, then
    runs one single-vector query of every mode in a fixed mix."""

    name = "ingest_serve"
    N = 2000
    N_QUERIES = 200
    N_CATS = 8
    WORDS = 12
    BATCH = 50
    ROUNDS = 2  # of add-then-query per cycle
    MAX_BATCHES = 40
    MODES = ("exact", "mtlsh", "ivfbq", "auto")
    RECALL_KEYS = ("mtlsh", "ivfbq")
    # an explicit budget: calibrating ivfbq's recall curve alone takes
    # longer than a whole run may
    IVFBQ_BUDGET = {"n_probe": 8, "shortlist": 100}
    SERVE_OP = {
        "exact": "operators.knn.exact_knn",
        "mtlsh": "operators.mtlsh.mt_lsh_ann_pruned",
        "ivfbq": "operators.bq.ivfbq_search",
        "auto": "operators.filtered.filtered_knn_auto",
    }

    def _doc_frame(self, a: int, b: int):
        from pyspark.sql.types import (
            ArrayType, FloatType, LongType, StringType, StructField, StructType,
        )

        schema = StructType([
            StructField("id", StringType()),
            StructField("text", StringType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("cat", LongType()),
        ])
        pdf = pd.DataFrame({
            "id": self.ids[a:b], "text": self.texts[a:b],
            "embedding": list(self.vecs[a:b]), "cat": self.cats[a:b],
        })
        return self.spark.createDataFrame(pdf, schema=schema)

    def setup(self) -> None:
        from vectordb_acc_and_speed_exp_spark.api import VectorStore

        n_total = self.N + self.BATCH * self.MAX_BATCHES
        self.vecs, self.qvecs, lab = gen.clustered_vectors(
            self.seed, n_total, self.N_QUERIES
        )
        self.cats = (lab % self.N_CATS).astype(np.int64)
        rng = np.random.default_rng([self.seed, 3])
        vocab = [f"t{i}" for i in range(2000)]
        self.texts = [" ".join(rng.choice(vocab, self.WORDS)) for _ in range(n_total)]
        self.ids = [f"d{i}" for i in range(n_total)]
        self.pos = {x: j for j, x in enumerate(self.ids)}
        self.input_bytes = (
            self.vecs[: self.N].nbytes
            + sum(len(t) + len(i) + 8 for t, i in zip(self.texts[: self.N], self.ids))
        )
        self.n_live = self.N
        self.root = os.path.join(self.work, "store")
        self.store = VectorStore(self.spark, self.root)
        with self.tracer.span("setup.create_collection"):
            self.store.create_collection("c", self._doc_frame(0, self.N))
        self.qi = 0
        for mode in self.MODES:  # first use of each mode builds its index
            self.query(mode, check=False)

    def stored_root(self) -> str:
        return self.root

    def _truth(self, q: np.ndarray) -> list[int]:
        return gen.topk_l2(self.vecs[: self.n_live], q[None, :], K)[0]

    def query(self, mode: str, check: bool = True) -> None:
        self.qi = (self.qi + 1) % self.N_QUERIES
        q = self.qvecs[self.qi]
        kw: dict = {"query_vecs": [q.tolist()]}
        cat = None
        if mode == "auto":
            cat = self.qi % self.N_CATS
            kw["where"] = f"cat = {cat}"
        if mode == "ivfbq":
            kw.update(self.IVFBQ_BUDGET)
        self.attempted += self.measuring
        with self.op("query", mode=mode) as s:
            t0 = time.perf_counter()
            df = self.store.query("c", k=K, mode=mode, **kw)
            with self.tracer.span("action", op=self.SERVE_OP[mode]):
                rows = df.collect()
            dt = time.perf_counter() - t0
        if s is not None:
            s.attrs["rows"] = len(rows)
        if not check:
            return
        self.lat.append((mode, dt))
        got = [self.pos[r["item_id"]] for r in sorted(rows, key=lambda r: r["rank"])]
        self.check(len(got) == K, f"{mode}: {len(got)} rows")
        if mode == "exact":
            self.check(
                _exact_matches(self.vecs[: self.n_live], q, got, self._truth(q)),
                f"exact != numpy top-10 over {self.n_live} rows",
            )
        elif mode == "auto":
            self.check(all(self.cats[g] == cat for g in got), "auto: row outside where=")

    def cycle(self) -> None:
        for _ in range(self.ROUNDS):
            a, b = self.n_live, self.n_live + self.BATCH
            if b > len(self.ids):
                raise RuntimeError("ingest_serve ran out of generated batches")
            docs = self._doc_frame(a, b)
            self.attempted += 1
            with self.op("add", rows=self.BATCH):
                t0 = time.perf_counter()
                self.store.add("c", docs)
                dt = time.perf_counter() - t0
            self.n_live = b
            self.rates.append(self.BATCH / dt)
            # the queries see the grown collection: exact must match the
            # oracle over every row added so far
            for mode in self.MODES:
                self.query(mode)
        # a third query of every mode, so that each mode's median can drop
        # one slow sample
        for mode in self.MODES:
            self.query(mode)

    RECALL_QUERIES = 200

    def finish(self) -> None:
        n = self.store.count("c")
        self.check(n == self.n_live, f"count {n} != {self.n_live} after ingest")
        # recall@10 of both index modes over the grown collection: one
        # batched query each, so each figure rests on 2,000 neighbours
        qs = self.qvecs[: self.RECALL_QUERIES]
        truth = gen.topk_l2(self.vecs[: self.n_live], qs, K)
        for mode in self.RECALL_KEYS:
            kw = dict(self.IVFBQ_BUDGET) if mode == "ivfbq" else {}
            rows = self.store.query(
                "c", query_vecs=[q.tolist() for q in qs], k=K, mode=mode, **kw
            ).collect()
            got: list[list[int]] = [[] for _ in qs]
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                got[r["query_id"]].append(self.pos[r["item_id"]])
            for g, t in zip(got, truth):
                self.add_recall(mode, g, t)


# --------------------------------------------------------------------------
# cold curation chain over a generated documents table
# --------------------------------------------------------------------------
class CurationBatch(Workload):
    """The registry's curation chain, run cold on a generated ``documents``
    table, each entry up to its terminal action."""

    name = "curation_batch"
    N_DOCS = 1500
    N_PAIRS = 650
    WARM_DOCS = 50
    RECALL_KEYS = ("minhash",)
    CHAIN = (
        "text_quality", "dedup_exact", "minhash_lsh_dup_pairs", "dedup_clusters",
        "jaccard_prefix_pairs", "decontaminate", "curated_corpus",
    )
    # entries whose output the checks need only as a row count; the rest
    # are collected (a few hundred rows at most)
    COUNT = ("text_quality",)

    def setup(self) -> None:
        from vectordb_acc_and_speed_exp_spark.queries import load_all

        self.registry = load_all()
        self.docs = gen.documents(self.seed, self.N_DOCS, self.N_PAIRS)
        table = self.docs.table
        self.src = os.path.join(self.work, "docs_src")
        os.makedirs(self.src)
        table.to_parquet(os.path.join(self.src, "documents.parquet"), index=False)
        self.input_bytes = int(table["text"].str.len().sum())
        self.sf = self.src  # the table of the last chain that ran
        self.outputs: list[dict] = []  # per chain: entry -> rows or count
        # start the Python workers and compile the scan path once, on a
        # small table, so the first entry of the chain does not pay it
        warm = os.path.join(self.work, "docs_warm")
        os.makedirs(warm)
        table.head(self.WARM_DOCS).to_parquet(
            os.path.join(warm, "documents.parquet"), index=False
        )
        self._run("text_quality", warm)

    def _run(self, entry: str, sf: str):
        """One registry entry up to its terminal action."""
        df = self.registry[entry].fn(self.spark, sf)
        return df.count() if entry in self.COUNT else df.collect()

    def stored_root(self) -> str:
        from vectordb_acc_and_speed_exp_spark.queries.pipeline import _index_root

        return _index_root(self.sf)  # artifacts of the last chain's table

    def cycle(self) -> None:
        # a fresh copy per chain: the registry caches per-corpus
        # artifacts keyed by directory, so every chain starts cold
        self.sf = sf = os.path.join(self.work, f"sf_{len(self.outputs) + 1}")
        shutil.copytree(self.src, sf)
        out: dict = {}
        self.attempted += len(self.CHAIN)
        with self.op("chain"):
            t_chain = time.perf_counter()
            for entry in self.CHAIN:
                with self.tracer.span(f"queries.{entry}"):
                    t0 = time.perf_counter()
                    out[entry] = self._run(entry, sf)
                    self.lat.append((entry, time.perf_counter() - t0))
            self.rates.append(self.N_DOCS / (time.perf_counter() - t_chain))
        self.outputs.append(out)
        mh = _pairs(out["minhash_lsh_dup_pairs"], "id_a", "id_b")
        planted = set(self.docs.planted)
        self.recall_hits.setdefault("minhash", []).append(len(mh & planted) / len(planted))

    def _splits(self) -> dict[int, str]:
        """decontaminate's train/val/test split of each doc_id."""
        from pyspark.sql import functions as F

        from vectordb_acc_and_speed_exp_spark.functions.hashing import (
            portable_hash64_seeded,
        )
        from vectordb_acc_and_speed_exp_spark.io import load_table
        from vectordb_acc_and_speed_exp_spark.queries import curation

        bucket = portable_hash64_seeded(F.col("doc_id").cast("string"), curation._SEED) % 100
        rows = load_table(self.spark, self.src, "documents").select(
            "doc_id", bucket.alias("b")
        ).collect()
        # the bucket thresholds decontaminate uses: 80% train, 10% val
        return {
            r["doc_id"]: "train" if r["b"] < 80 else ("val" if r["b"] < 90 else "test")
            for r in rows
        }

    def finish(self) -> None:
        """Every chain's outputs against what the generator planted."""
        if not self.outputs:
            return
        d = self.docs
        near = set(d.planted) | set(d.exact)
        splits = self._splits()
        want_decon = sorted(
            (a, b) for x, y in near for a, b in ((x, y), (y, x))
            if splits[a] == "train" and splits[b] == "test"
        )
        for out in self.outputs:
            self.check(out["text_quality"] == self.N_DOCS, "text_quality: row count")
            self.check(
                sorted((r["keeper_doc_id"], r["n_dups"]) for r in out["dedup_exact"])
                == [(a, 2) for a, _ in d.exact],
                "dedup_exact: not one group per verbatim copy, kept at the lower id",
            )
            mh = _pairs(out["minhash_lsh_dup_pairs"], "id_a", "id_b")
            self.check(mh <= near, "minhash_lsh_dup_pairs: a pair that was not planted")
            self.check(set(d.exact) <= mh, "minhash_lsh_dup_pairs: a verbatim copy missed")
            comp = _components(mh)
            clusters = out["dedup_clusters"]
            self.check(
                len(clusters) == len(comp) and all(
                    comp.get(r["doc_id"]) == r["cluster_id"]
                    and r["is_canonical"] == int(r["doc_id"] == r["cluster_id"])
                    for r in clusters
                ),
                "dedup_clusters: not the connected components of the MinHash pairs",
            )
            self.check(
                _pairs(out["jaccard_prefix_pairs"], "id_a", "id_b") == near,
                "jaccard_prefix_pairs: not exactly the planted and verbatim pairs",
            )
            self.check(
                sorted((r["train_doc_id"], r["test_doc_id"]) for r in out["decontaminate"])
                == want_decon,
                "decontaminate: not the planted pairs that cross train and test",
            )
            self.check(
                {r["lang"]: (r["n_docs"], r["total_tokens"]) for r in out["curated_corpus"]}
                == _curated(d, comp),
                "curated_corpus: per-language docs or tokens",
            )


def _pairs(rows, a: str, b: str) -> set[tuple[int, int]]:
    return {tuple(sorted((int(r[a]), int(r[b])))) for r in rows}


def _components(pairs) -> dict[int, int]:
    """doc_id -> the smallest doc_id of its connected component."""
    parent: dict[int, int] = {}

    def root(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: root(x) for x in parent}


def _curated(docs, comp: dict[int, int]) -> dict[str, tuple[int, int]]:
    """Per language: documents that pass the quality gate and are their
    cluster's canonical member, and their whitespace tokens."""
    drop = set(docs.low_quality) | {x for x, c in comp.items() if x != c}
    out: dict[str, tuple[int, int]] = {}
    t = docs.table
    for doc_id, text, lang in zip(t["doc_id"], t["text"], t["lang"]):
        if doc_id not in drop:
            n, tok = out.get(lang, (0, 0))
            out[lang] = (n + 1, tok + len(text.split()))
    return out


WORKLOADS = {w.name: w for w in (IngestServe, CurationBatch)}
