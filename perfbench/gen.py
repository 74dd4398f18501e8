"""Seeded input generators for the benchmark.

Every input a workload feeds the program comes from here and is a pure
function of the seed: the same seed gives byte-identical arrays and
tables, different seeds give different ones.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd

DIM = 64  # the facade's default embedding width
N_CLUSTERS = 32
# cluster noise above the spread of the standard-normal centres: the
# clusters overlap, so approximate indexes lose real neighbours across
# cluster borders and recall@10 sits below 1.0, where a regression shows
SPREAD = 1.5


def clustered_vectors(
    seed: int, n: int, n_queries: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(corpus, queries, corpus_cluster) drawn from one Gaussian mixture of
    ``N_CLUSTERS`` components. Queries are fresh draws from the same
    mixture, not corpus members."""
    rng = np.random.default_rng([seed, 1])
    centres = rng.normal(size=(N_CLUSTERS, DIM))
    lab = rng.integers(0, N_CLUSTERS, n)
    corpus = (centres[lab] + SPREAD * rng.normal(size=(n, DIM))).astype(np.float32)
    qlab = rng.integers(0, N_CLUSTERS, n_queries)
    queries = (centres[qlab] + SPREAD * rng.normal(size=(n_queries, DIM))).astype(
        np.float32
    )
    return corpus, queries, lab


def topk_l2(corpus: np.ndarray, queries: np.ndarray, k: int) -> list[list[int]]:
    """Brute-force oracle: row indexes of the k nearest corpus rows per
    query by float64 L2, ties broken by row index."""
    c = corpus.astype(np.float64)
    out = []
    for q in queries.astype(np.float64):
        d = ((c - q) ** 2).sum(axis=1)
        out.append(np.lexsort((np.arange(len(d)), d))[:k].tolist())
    return out


_LANGS = {
    "en": 0, "de": 1, "fr": 2, "es": 3,
}
_SOURCES = ["web", "wiki", "forum", "news", "code"]


def _vocab(lang_ix: int, size: int) -> list[str]:
    # disjoint, pronounceable-ish word lists per language
    syll = ["ka", "lo", "mi", "ne", "tu", "ra", "si", "po", "de", "fa", "gu", "be"]
    words = []
    i = 0
    while len(words) < size:
        a, b, c = i % 12, (i // 12) % 12, (i // 144) % 12
        words.append(f"{syll[a]}{syll[b]}{syll[c]}{'xyzq'[lang_ix]}")
        i += 1
    return words


N_TOKENS = 60  # words per background or planted document
VOCAB = 3000  # words per language
N_EDITS = 2  # words a near-duplicate copy changes
N_EXACT = 20  # verbatim copies
N_LOW_QUALITY = 60


class Documents(NamedTuple):
    table: pd.DataFrame  # doc_id, text, lang, source, n_chars
    planted: list[tuple[int, int]]  # near-duplicate pairs, sorted doc_ids
    exact: list[tuple[int, int]]  # verbatim-copy pairs, sorted doc_ids
    low_quality: list[int]  # doc_ids of the short or punctuation-heavy docs


def documents(seed: int, n_docs: int, n_pairs: int) -> Documents:
    """A ``documents`` table (doc_id, text, lang, source, n_chars).

    Plants ``n_pairs`` near-duplicate pairs: a document and a copy with
    ``N_EDITS`` words changed, so the two share most of their word
    3-shingles (Jaccard about 0.82): exact joins must find every pair,
    MinHash-LSH finds most. ``N_EXACT`` documents are verbatim copies of a
    background document, and ``N_LOW_QUALITY`` are short or
    punctuation-heavy. Background documents draw words uniformly from a
    per-language vocabulary, so two of them share almost no shingles.

    Any other two documents share at most a chance shingle or two, far
    below every near-duplicate threshold, so the planted and exact pairs
    are all the pairs a near-duplicate join may return.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = {lang: _vocab(ix, VOCAB) for lang, ix in _LANGS.items()}
    langs = list(_LANGS)
    rows: list[tuple[str, str, str]] = []

    def source() -> str:
        return _SOURCES[rng.integers(len(_SOURCES))]

    pairs: list[tuple[int, int]] = []
    exact: list[tuple[int, int]] = []
    low: list[int] = []
    n_bg = n_docs - 2 * n_pairs - N_EXACT - N_LOW_QUALITY
    if n_bg < N_EXACT:
        raise ValueError("too few background documents for the planted sets")
    for _ in range(n_bg):
        lang = langs[rng.integers(len(langs))]
        rows.append((" ".join(rng.choice(vocab[lang], N_TOKENS)), lang, source()))
    for i in range(N_EXACT):
        rows.append(rows[i])  # verbatim copy of background doc i
        exact.append((i, len(rows) - 1))
    for _ in range(n_pairs):
        lang = langs[rng.integers(len(langs))]
        words = vocab[lang]
        base = list(rng.choice(words, N_TOKENS))
        edits = rng.choice(N_TOKENS, N_EDITS, replace=False)
        rows.append((" ".join(base), lang, source()))
        copy = list(base)
        for pos in edits:  # each edit picks a different word
            copy[pos] = words[(words.index(copy[pos]) + 1 + rng.integers(VOCAB - 1)) % VOCAB]
        rows.append((" ".join(copy), lang, source()))
        pairs.append((len(rows) - 2, len(rows) - 1))
    for i in range(N_LOW_QUALITY):
        lang = langs[rng.integers(len(langs))]
        if i % 2:
            text = " ".join(rng.choice(vocab[lang], 8))  # too short
        else:  # punctuation-heavy
            text = " ".join(w + "!?;" for w in rng.choice(vocab[lang], 30))
        rows.append((text, lang, source()))
        low.append(len(rows) - 1)
    # shuffle doc ids so planted sets do not sit in one contiguous range
    perm = rng.permutation(len(rows))
    inv = np.empty_like(perm)
    inv[perm] = np.arange(len(rows))
    table = pd.DataFrame(
        {
            "doc_id": np.arange(len(rows), dtype=np.int64),
            "text": [rows[p][0] for p in perm],
            "lang": [rows[p][1] for p in perm],
            "source": [rows[p][2] for p in perm],
        }
    )
    table["n_chars"] = table["text"].str.len().astype(np.int64)

    def renumber(ps):
        return sorted(tuple(sorted((int(inv[a]), int(inv[b])))) for a, b in ps)

    return Documents(
        table, renumber(pairs), renumber(exact), sorted(int(inv[i]) for i in low)
    )
