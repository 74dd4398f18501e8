"""The facade's quantizer codec table: 1-bit BQ, product-quantizer PQ and
int8 SQ, each served in a flat layout and an IVF cell layout — the six
quantized index families of api.py (mode ``bq`` .. ``ivfsq``).

Every codec supplies the same functions over its params (the frozen
quantizer state), so api.py builds, appends, serves, calibrates and
drift-checks all six families through one code path:

- ``train(corpus, dim)`` -> params; ``dump(params, lay)`` -> the JSON meta
  (array sidecars such as PQ codebooks are saved beside it);
  ``load(lay)`` -> params;
- ``encode(df, params, passthrough=())`` -> (item_id, codes..., passthrough);
- ``build_qerr`` / ``batch_qerr`` -> (mean, n) fine-quantizer error for the
  EP13 drift baseline and for each absorbed batch;
- ``shortlist_curve`` (flat calibration), ``flat_search`` (approximate
  shortlist + exact re-rank), ``ivf_write`` / ``ivf_upsert`` /
  ``ivf_search`` (cell layout), ``scored`` (the composed-budget scorer).

Operator functions are looked up through their module at CALL time
(``bq.ivfbq_codes_upsert``), never captured as function objects here:
instrumentation that wraps module attributes must see every call.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

from .operators import bq, drift, pq, probetune, sq


@dataclass(frozen=True)
class CodeLayout:
    """Where one family's artifact lives. Flat: its own root
    ``.{fam}_index/<name>`` holding ``_meta.json``, ``codes/``, any
    ``books.npy`` and the drift baseline. IVF: beside the cell layout in
    ``.ivf_index/<name>`` as ``_{fam}_meta.json``, ``{fam}codes/`` and
    ``{fam}_books.npy``, with the baseline INSIDE the codes dir (dynamic
    cell overwrites never touch top-level files)."""

    root: str
    ivf: bool
    meta: str
    codes: str
    books: str
    drift: str


def code_layout(root: str, fam: str, ivf: bool) -> CodeLayout:
    if ivf:
        codes = os.path.join(root, f"{fam}codes")
        return CodeLayout(
            root, True, os.path.join(root, f"_{fam}_meta.json"), codes,
            os.path.join(root, f"{fam}_books.npy"), codes,
        )
    return CodeLayout(
        root, False, os.path.join(root, "_meta.json"),
        os.path.join(root, "codes"), os.path.join(root, "books.npy"), root,
    )


def _read_meta(lay: CodeLayout) -> dict:
    with open(lay.meta) as f:
        return json.load(f)


def _floats(a) -> list[float]:
    return [float(x) for x in a]


def _recon_qerr(df, qerr_col):
    return drift.mean_coarse_qerr(df.select(qerr_col.alias("_qerr")))


class BQ:
    """Packed 1-bit codes with exact-int mean thresholds; the side means
    (lo, hi) decode for the reconstruction-error drift statistic."""

    def train(self, corpus, dim):
        sums, n = bq.bq_train(corpus, item_vec="embedding", dim=dim)
        lo, hi = bq.bq_side_means(corpus, sums, n, item_vec="embedding")
        return {"sums": sums, "n": n, "lo": lo, "hi": hi}

    def dump(self, p, lay):
        return {"sums": [int(x) for x in p["sums"]], "n": int(p["n"]),
                "lo": _floats(p["lo"]), "hi": _floats(p["hi"])}

    def load(self, lay):
        m = _read_meta(lay)
        # artifacts built before the drift tracker carry no side means:
        # they serve, but measure no batch error
        return {"sums": np.array(m["sums"], dtype=np.int64), "n": int(m["n"]),
                "lo": np.array(m["lo"]) if "lo" in m else None,
                "hi": np.array(m["hi"]) if "lo" in m else None}

    def encode(self, df, p, passthrough=()):
        return bq.bq_encode(
            df, p["sums"], p["n"], item_id="id", passthrough=passthrough
        )

    def batch_qerr(self, docs, p):
        if p["lo"] is None:
            return None
        return _recon_qerr(docs, bq.bq_recon_qerr(
            F.col("embedding"), p["sums"], p["n"], p["lo"], p["hi"]
        ))

    def build_qerr(self, corpus, p, dim):
        return self.batch_qerr(corpus, p)

    def shortlist_curve(self, corpus, encoded, p, k):
        return probetune.bq_shortlist_curve(
            corpus, encoded, p["sums"], p["n"], k=k, item_id="id"
        )

    def flat_search(self, qdf, corpus, encoded, p, k, shortlist, n_corpus):
        # the bq re-rank gates its broadcast hint on the trained row count
        return bq.bq_search_rerank(
            qdf, corpus, p["sums"], p["n"], k=k, shortlist=shortlist,
            item_id="id", item_vec="embedding", encoded=encoded,
        )

    def ivf_write(self, assigned, p, codes_path):
        bq.write_ivfbq_codes(assigned, p["sums"], p["n"], codes_path, item_id="id")

    def ivf_upsert(self, spark, corpus_path, codes_path, p, cells):
        bq.ivfbq_codes_upsert(
            spark, corpus_path, codes_path, p["sums"], p["n"], cells,
            item_id="id",
        )

    def ivf_search(self, qdf, spark, codes_path, corpus_path, cents, p,
                   k, n_probe, shortlist, n_corpus):
        return bq.ivfbq_search(
            qdf, spark, codes_path, corpus_path, cents, p["sums"], p["n"],
            k=k, n_probe=n_probe, shortlist=shortlist, item_id="id",
        )

    def scored(self, qs, codes, p):
        qcodes = bq.bq_encode(
            qs, p["sums"], p["n"], item_id="query_id", item_vec="query_vec"
        ).select(
            F.col("item_id").alias("query_id"),
            F.col("code_lo").alias("q_lo"),
            F.col("code_hi").alias("q_hi"),
        )
        return codes.crossJoin(F.broadcast(qcodes)).select(
            "query_id", "item_id", "cell",
            bq.hamming(
                F.col("q_lo"), F.col("q_hi"), F.col("code_lo"), F.col("code_hi"),
            ).cast("double").alias("adist"),
        )


def _ranked_scored(ranked, codes, dist_col):
    return ranked.select(
        "query_id", "item_id", F.col(dist_col).alias("adist")
    ).join(codes.select("item_id", "cell"), "item_id")


class PQ:
    """Product-quantizer codes (ADC scan); the codebooks persist as an
    .npy sidecar and the meta carries only their shape."""

    def train(self, corpus, dim):
        m = 8 if dim % 8 == 0 else 4
        return {"books": pq.pq_train(corpus, item_vec="embedding", m=m, k=16),
                "m": m}

    def dump(self, p, lay):
        np.save(lay.books, p["books"])
        return {"m": p["m"], "k": 16}

    def load(self, lay):
        return {"books": np.load(lay.books)}

    def encode(self, df, p, passthrough=()):
        return pq.pq_encode(df, p["books"], item_id="id", passthrough=passthrough)

    def batch_qerr(self, docs, p):
        # the encode kernel computes every sub-space distance anyway;
        # keep_qerr returns the reconstruction error as one extra column
        return drift.mean_coarse_qerr(pq.pq_encode(
            docs.select("id", "embedding"), p["books"], item_id="id",
            keep_qerr="_qerr",
        ))

    def build_qerr(self, corpus, p, dim):
        return self.batch_qerr(corpus, p)

    def shortlist_curve(self, corpus, encoded, p, k):
        return probetune.pq_shortlist_curve(
            corpus, encoded, p["books"], k=k, item_id="id"
        )

    def flat_search(self, qdf, corpus, encoded, p, k, shortlist, n_corpus):
        return pq.pq_search_rerank(
            qdf, corpus, encoded, p["books"], k=k, shortlist=shortlist,
            item_id="id", item_vec="embedding", n_corpus=n_corpus,
        )

    def ivf_write(self, assigned, p, codes_path):
        pq.write_ivfpq_codes(assigned, p["books"], codes_path, item_id="id")

    def ivf_upsert(self, spark, corpus_path, codes_path, p, cells):
        pq.ivfpq_codes_upsert(
            spark, corpus_path, codes_path, p["books"], cells, item_id="id"
        )

    def ivf_search(self, qdf, spark, codes_path, corpus_path, cents, p,
                   k, n_probe, shortlist, n_corpus):
        return pq.ivfpq_search(
            qdf, spark, codes_path, corpus_path, cents, p["books"],
            k=k, n_probe=n_probe, shortlist=shortlist, item_id="id",
            n_corpus=n_corpus,
        )

    def scored(self, qs, codes, p):
        return _ranked_scored(
            pq.pq_search(qs, codes, p["books"], k=1 << 30), codes, "adc_dist"
        )


class SQ:
    """Int8 affine codes; per-dimension (vmin, scale) persist in the meta
    (JSON float round-trip is exact — shortest-repr doubles)."""

    def train(self, corpus, dim):
        vmin, scale = sq.sq_train(corpus, item_vec="embedding", dim=dim)
        return {"vmin": vmin, "scale": scale}

    def dump(self, p, lay):
        return {"vmin": _floats(p["vmin"]), "scale": _floats(p["scale"])}

    def load(self, lay):
        m = _read_meta(lay)
        return {"vmin": np.array(m["vmin"], dtype=np.float64),
                "scale": np.array(m["scale"], dtype=np.float64)}

    def encode(self, df, p, passthrough=()):
        return sq.sq_encode(
            df, p["vmin"], p["scale"], item_id="id", passthrough=passthrough
        )

    def batch_qerr(self, docs, p):
        return _recon_qerr(
            docs, sq.sq_recon_qerr(F.col("embedding"), p["vmin"], p["scale"])
        )

    def build_qerr(self, corpus, p, dim):
        # measured OUT-OF-SAMPLE: the training rows never clamp under
        # params fit on exactly them, so an in-sample baseline fires the
        # trigger on in-distribution appends
        return sq.sq_holdout_qerr(corpus, dim)

    def shortlist_curve(self, corpus, encoded, p, k):
        return probetune.sq_shortlist_curve(
            corpus, encoded, p["vmin"], p["scale"], k=k, item_id="id"
        )

    def flat_search(self, qdf, corpus, encoded, p, k, shortlist, n_corpus):
        return sq.sq_search_rerank(
            qdf, corpus, encoded, p["vmin"], p["scale"], k=k,
            shortlist=shortlist, item_id="id", item_vec="embedding",
            n_corpus=n_corpus,
        )

    def ivf_write(self, assigned, p, codes_path):
        sq.write_ivfsq_codes(
            assigned, p["vmin"], p["scale"], codes_path, item_id="id"
        )

    def ivf_upsert(self, spark, corpus_path, codes_path, p, cells):
        sq.ivfsq_codes_upsert(
            spark, corpus_path, codes_path, p["vmin"], p["scale"], cells,
            item_id="id",
        )

    def ivf_search(self, qdf, spark, codes_path, corpus_path, cents, p,
                   k, n_probe, shortlist, n_corpus):
        return sq.ivfsq_search(
            qdf, spark, codes_path, corpus_path, cents, p["vmin"], p["scale"],
            k=k, n_probe=n_probe, shortlist=shortlist, item_id="id",
            n_corpus=n_corpus,
        )

    def scored(self, qs, codes, p):
        return _ranked_scored(
            sq.sq_search(qs, codes, p["vmin"], p["scale"], k=1 << 30),
            codes, "sq_dist",
        )


CODECS = {"bq": BQ(), "pq": PQ(), "sq": SQ()}

# query mode -> (codec, layout): the six quantized families
MODES = {
    **{f"ivf{fam}": (fam, "ivf") for fam in CODECS},
    **{fam: (fam, "flat") for fam in CODECS},
}


def layout_of(mode: str) -> str | None:
    """The layout ("flat" or "ivf") of a quantized query mode, else None."""
    return MODES[mode][1] if mode in MODES else None
