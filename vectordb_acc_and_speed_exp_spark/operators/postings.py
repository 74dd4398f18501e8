"""Materialized lexical inverted index: postings as a maintained artifact.

The lexical retrieval stack (BM25 / RRF hybrid / RM3 / eval metrics) used
to re-derive tokenize -> tf -> df -> dl from raw corpus text on every
execution — correct, but a full-corpus text scan per query batch, the one
remaining serve-time scale-killer at 100 TB. This module gives postings the
same build/serve split the engine already applies to ANN code tables
(operators/ann.py) and near-dup clusters (queries/textops.py
``_get_or_build_clusters``): build once per corpus version, serve from a
pruned columnar scan.

Artifact layout (all parquet under one root):

- ``postings/bucket=B/`` — (term, doc_id, tf, dl): the inverted index,
  hash-partitioned by term bucket so a query's scan prunes to the handful
  of partitions holding its terms (driver computes bucket ids from the
  query's own vocabulary — user-input-sized). ``dl`` is denormalized into
  the posting row (impact-style), so BM25 serving needs NO join against a
  corpus-sized doc-length table: one pruned scan + three broadcasts.
- ``forward/dbucket=D/`` — (doc_id, term, tf): the forward index (doc ->
  term vector), doc-bucketed, for feedback-document mining (RM3) and any
  doc-keyed lookup; pruning by doc bucket keeps "fetch postings of these
  50 docs" off the full artifact.
- ``terms/tbucket=B/`` — (term, df): document frequencies, partitioned by
  the SAME term-bucket hash as the postings (a term's df is derivable
  entirely from its own bucket's postings, so maintenance and serving both
  prune). Serving a query reads only its terms' buckets.
- ``stats/dbucket=D/`` — (n_docs, sum_dl) per doc bucket, derivable
  entirely from that bucket's forward partition; serve-time avgdl sums the
  <= n_doc_buckets rows then applies ``sum_dl * 1.0 / n_docs`` — integer
  sums are exact, so the division is the same IEEE operation the inline
  path performs and scores stay bit-identical.
- ``doclens/dbucket=D/`` — (doc_id, dl): per-doc lengths, derivable
  entirely from that bucket's forward partition. Exists for FILTERED
  serving: a metadata-filtered BM25 needs n_docs/avgdl/df over the
  eligible set only, which a survivor semi-join against this O(docs)
  layout answers without touching corpus text (filtered_corpus_stats).
- ``_META.json`` — n_buckets for each layout.
- ``_UPSERT_INTENT.json`` — transient crash marker (see postings_upsert).

Crash-safety contract: the sidecars (terms/stats) are RECOMPUTED from the
touched buckets of the just-written corpus layouts, never delta-maintained
— they are a pure function of the layouts, so they cannot silently
desynchronize (the round-6 review's partial-upsert hazard). An interrupted
upsert leaves ``_UPSERT_INTENT.json`` behind; the next upsert unions the
marker's buckets into its own recompute set, healing any bucket whose
layout changed without its sidecar. Layout convergence itself relies on
the streaming engine redelivering a failed micro-batch (the foreachBatch
retry contract) plus per-directory atomicity of dynamic partition
overwrite — the standard file-commit assumption.

Equivalence contract (hash-proven in tests/test_postings.py and by the
oracle gate): serving from the artifact produces byte-identical BM25
scores to the inline tokenize path, because tf/df/dl/n_docs/sum_dl are the
same integers and every double expression is structurally unchanged.

Scale (100 TB): the build is two shuffles over the token stream (tf
groupBy, dl window) amortized over every future query; serving reads
O(|query terms| x avg posting length) rows via partition pruning +
row-group predicate pushdown, never the corpus. Reference parity: the
reference has no lexical channel (pure-vector ChromaDB benchmark,
chromadb_speed_experiment.py); this artifact is part of the [EXT]
retrieval surface and follows Lucene/Anserini inverted-index practice.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64

# Shared artifact-relation cache (io/relcache.py): one DataFrame per
# (session, layout path), stat-signature invalidated — see that module for
# the listing-job economics and the staleness-correctness argument.
from ..io.relcache import read_layout as _layout_relation

N_TERM_BUCKETS = 64
N_DOC_BUCKETS = 64


def bucket_of(value: str, n_buckets: int) -> int:
    """Python twin of the Spark-side bucket expression: the driver computes
    bucket ids for query terms / feedback doc ids so the scan's partition
    filter is a literal list. Must stay in lockstep with ``_bucket_col``."""
    h = int(hashlib.md5(str(value).encode()).hexdigest()[:15], 16)
    return h % n_buckets


def _bucket_col(col, n_buckets: int):
    """portable_hash64(cast to string) % n_buckets — same md5-prefix hash
    the Python twin computes, so driver-side pruning can never miss a
    partition. pmod keeps the result non-negative (hash is already >= 0,
    but be explicit)."""
    return F.pmod(portable_hash64(F.col(col).cast("string")), F.lit(n_buckets)).cast(
        "int"
    )


def tokenize(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, term) token stream — THE tokenize idiom of the lexical
    stack (whitespace split of lowercased, whitespace-collapsed text;
    explode drops token-less docs). Build and any inline consumer must
    share this so artifact and inline paths agree to the bit.

    Length-skew-bounded: documents longer than SKEW_CHUNK_TOKENS are
    sliced and redistributed BEFORE the explode (chunked_token_stream),
    so one 10M-token doc cannot pin the build on a single task; the token
    multiset — hence tf/dl/df/stats — is exactly unchanged (asserted in
    tests/test_skew_stress.py)."""
    from ..functions.text import chunked_token_stream

    return chunked_token_stream(docs, id_col, text_col).select(
        "doc_id", F.explode("toks").alias("term")
    )


def postings_frames(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The (term, doc_id, tf, dl) frame all four layouts derive from.

    tf is one (doc_id, term) groupBy (map-side partial agg); dl = sum of a
    doc's tfs via a window on the already-aggregated tf frame (shuffles tf
    rows, not raw tokens). The terms/stats sidecars are NOT derived here:
    they are pure functions of the written corpus layouts
    (_terms_from_postings / _stats_from_forward), shared between build and
    incremental maintenance."""
    tok = tokenize(docs, id_col, text_col)
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    w = Window.partitionBy("doc_id")
    return tf.withColumn("dl", F.sum("tf").over(w))


def _terms_from_postings(inv: DataFrame) -> DataFrame:
    """(term, df, tbucket) from inverted-layout rows (term, doc_id, ...,
    bucket) — THE df derivation, shared by build and upsert-recompute so
    the sidecar is always the same pure function of the postings layout
    (df = posting rows per term; a term lives wholly in its bucket)."""
    return (
        inv.groupBy("bucket", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .select("term", "df", F.col("bucket").alias("tbucket"))
    )


def _doclens_from_forward(fwd: DataFrame) -> DataFrame:
    """(doc_id, dl, dbucket) from forward-layout rows — THE per-doc
    length derivation (dl = sum of the doc's tfs), shared by build and
    upsert-recompute like the other sidecars. O(docs) narrow rows; it
    exists so FILTERED serving (eligible-set n_docs/avgdl for
    metadata-filtered BM25) reads one row per doc instead of
    re-aggregating corpus-sized posting rows."""
    return (
        fwd.groupBy("dbucket", "doc_id")
        .agg(F.sum("tf").cast("bigint").alias("dl"))
        .select("doc_id", "dl", "dbucket")
    )


def _stats_from_forward(fwd: DataFrame) -> DataFrame:
    """(n_docs, sum_dl, dbucket) from forward-layout rows (doc_id, term,
    tf, dbucket) — THE stats derivation, shared by build and
    upsert-recompute (a doc lives wholly in its dbucket, so per-bucket
    rollups sum exactly to the corpus totals)."""
    return (
        fwd.groupBy("dbucket")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("tf").cast("bigint").alias("sum_dl"),
        )
        .select("n_docs", "sum_dl", "dbucket")
    )


def write_postings_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_term_buckets: int = N_TERM_BUCKETS,
    n_doc_buckets: int = N_DOC_BUCKETS,
) -> str:
    """Build and write the full artifact set under ``path``. Returns path.

    repartition on the partition column before partitionBy so each task
    writes whole buckets (no small-file explosion: files-per-bucket is
    bounded by 1, not by shuffle-partition count)."""
    tf_dl = postings_frames(docs, id_col, text_col)
    inv = tf_dl.withColumn("bucket", _bucket_col("term", n_term_buckets))
    inv.repartition("bucket").write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(path, "postings")
    )
    fwd = tf_dl.select(
        "doc_id", "term", "tf"
    ).withColumn("dbucket", _bucket_col("doc_id", n_doc_buckets))
    fwd.repartition("dbucket").write.mode("overwrite").partitionBy("dbucket").parquet(
        os.path.join(path, "forward")
    )
    # sidecars derive from the SAME frames just written (identical rows to
    # a read-back of the layouts — upsert recomputes from the read-back)
    _terms_from_postings(inv).repartition("tbucket").write.mode(
        "overwrite"
    ).partitionBy("tbucket").parquet(os.path.join(path, "terms"))
    _stats_from_forward(fwd).repartition("dbucket").write.mode(
        "overwrite"
    ).partitionBy("dbucket").parquet(os.path.join(path, "stats"))
    _doclens_from_forward(fwd).repartition("dbucket").write.mode(
        "overwrite"
    ).partitionBy("dbucket").parquet(os.path.join(path, "doclens"))
    from ..io.commitproto import clear_marker, publish_marker

    publish_marker(
        os.path.join(path, "_META.json"),
        {"n_term_buckets": n_term_buckets, "n_doc_buckets": n_doc_buckets},
    )
    # a full rebuild rewrites every layout and sidecar — any crash marker
    # from an interrupted upsert is moot
    clear_marker(os.path.join(path, "_UPSERT_INTENT.json"), missing_ok=True)
    from ..io.relcache import assert_layout_depth

    for sub in ("postings", "forward", "terms", "stats", "doclens"):
        assert_layout_depth(os.path.join(path, sub), f"postings {sub}")
    return path


def _meta(path: str) -> dict:
    with open(os.path.join(path, "_META.json")) as fh:
        return json.load(fh)


def query_term_postings(
    spark: SparkSession, path: str, terms: list[str]
) -> DataFrame:
    """(term, doc_id, tf, dl) for exactly the given terms — a pruned scan:
    the bucket isin is a PartitionFilter (whole directories skipped), the
    term isin a pushed row-group filter inside surviving buckets."""
    n = _meta(path)["n_term_buckets"]
    buckets = sorted({bucket_of(t, n) for t in terms})
    return (
        _layout_relation(spark, os.path.join(path, "postings"))
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(list(terms)))
        .select("term", "doc_id", "tf", "dl")
    )


def term_df(spark: SparkSession, path: str, terms: list[str] | None = None) -> DataFrame:
    """(term, df); a term list prunes the scan to the terms' buckets
    (PartitionFilter) with the term isin pushed inside — same discipline
    as query_term_postings, so df lookups stay query-vocabulary-sized."""
    df = _layout_relation(spark, os.path.join(path, "terms"))
    if terms is not None:
        n = _meta(path)["n_term_buckets"]
        buckets = sorted({bucket_of(t, n) for t in terms})
        df = df.filter(F.col("tbucket").isin(buckets)).filter(
            F.col("term").isin(list(terms))
        )
    return df.select("term", "df")


def corpus_stats(spark: SparkSession, path: str) -> DataFrame:
    """One-row (n_docs, avgdl) frame from the per-dbucket stats rows
    (<= n_doc_buckets of them; docs hash-partition disjointly, so bigint
    sums are the exact corpus totals).

    The sidecar is O(n_doc_buckets) one-row files BY CONSTRUCTION — its
    size is bounded by the bucket count, never the corpus — so the totals
    are summed driver-side with pyarrow (a few KB of local IO) instead of
    paying a file-listing job + per-file footer reads + a shuffle
    aggregate on every BM25 pass (measured 0.6-1.1 s/call at sf0.1, ×2
    passes for RM3). avgdl is then computed by the SAME
    ``bigint * 1.0 / bigint`` Spark expression on a local 1-row relation,
    so the IEEE division is literally the inline path's and scores stay
    bit-identical."""
    import glob as _glob

    import pyarrow.dataset as _ds

    files = sorted(
        _glob.glob(os.path.join(path, "stats", "dbucket=*", "*.parquet"))
    )
    n_docs = sum_dl = None
    if files:
        t = _ds.dataset(files, format="parquet").to_table(
            columns=["n_docs", "sum_dl"]
        )
        n_docs = sum(t.column("n_docs").to_pylist())
        sum_dl = sum(t.column("sum_dl").to_pylist())
    # one JVM-local row, NOT createDataFrame: a parallelize-backed relation
    # launches Python workers just to serve this row inside every scoring
    # plan; range(1)+literals stays a LocalTableScan and the division
    # constant-folds JVM-side (same IEEE op, scores bit-identical)
    return spark.range(1).select(
        F.lit(n_docs).cast("bigint").alias("n_docs"),
        (
            F.lit(sum_dl).cast("bigint") * 1.0
            / F.lit(n_docs).cast("bigint")
        ).alias("avgdl"),
    )


def _drop_empty_partition_dirs(path: str, col: str, values) -> None:
    """Remove ``<col>=<v>`` directories a dynamic-partition-overwrite
    upsert rewrote to empty (same contract as the IVF layouts'
    drop_empty_cell_dirs; an object store would prefix-delete)."""
    import shutil

    for v in values:
        d = os.path.join(path, f"{col}={v}")
        if os.path.isdir(d):
            shutil.rmtree(d)


def postings_upsert(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Incremental maintenance of a written postings artifact: documents
    in ``new_docs`` REPLACE same-id documents; every layout is updated
    touching only the partitions the batch lands in. Returns
    {"term_buckets": [...], "doc_buckets": [...]} (the rewritten dirs).

    The rewrite set for the inverted layout is the union of the NEW
    docs' term buckets and the buckets holding the replaced docs' OLD
    terms (found via the doc-bucket-pruned forward index — the same
    stale-twin discipline as ivf_index_upsert, so a replaced doc that
    lost a term can't leave a stale posting in an untouched bucket).

    The df/stats sidecars are then RECOMPUTED from the touched buckets of
    the just-written layouts (never delta-maintained): each sidecar
    partition is a pure function of its corpus-layout partition, so a
    crash between the layout overwrite and the sidecar write cannot leave
    them silently inconsistent — the ``_UPSERT_INTENT.json`` marker
    (written before any overwrite, removed after the last) carries the
    touched-bucket set across the crash, and the next upsert (the
    foreachBatch redelivery, or any later batch) unions it into its own
    recompute set, healing every bucket whose layout may have changed.
    Every layout is a pure function of the final document set, so a
    replayed micro-batch converges (hash-proven upsert == rebuild and
    crash-replay tests in tests/test_postings.py).

    ``new_docs`` must hold ONE row per doc_id: duplicate same-id rows
    would merge their tokens into inflated tf/dl, so they are rejected
    loudly (the streaming wrapper dedups before calling; a direct caller
    must pick a winner per id — see streaming/index_maintenance.py
    ``_dedup_batch``).

    At 100 TB: batch cost is O(touched term-bucket rows + touched
    doc-bucket rows) — every layout including the vocab sidecar is
    touched only where the batch lands."""
    meta = _meta(path)
    ntb, ndb = meta["n_term_buckets"], meta["n_doc_buckets"]
    batch_ids_df = new_docs.select(F.col(id_col).alias("doc_id")).distinct()
    ids = [r.doc_id for r in batch_ids_df.collect()]  # micro-batch-sized
    n_rows = new_docs.count()
    if len(ids) != n_rows:
        raise ValueError(
            f"postings_upsert: {n_rows - len(ids)} duplicate doc_id row(s) "
            "in the batch — same-id rows would merge into inflated tf/dl; "
            "collapse to one row per id first (streaming/"
            "index_maintenance._dedup_batch is the keep-one idiom)"
        )

    # old term vectors of the replaced docs (pruned forward scan);
    # localCheckpoint breaks lineage to the paths we overwrite below
    old_fwd = doc_postings(spark, path, ids).localCheckpoint(eager=True)
    tok = tokenize(new_docs, id_col, text_col)
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    new_tf_dl = tf.withColumn(
        "dl", F.sum("tf").over(Window.partitionBy("doc_id"))
    ).localCheckpoint(eager=True)

    tb = {
        r.b
        for r in old_fwd.select(_bucket_col("term", ntb).alias("b"))
        .union(new_tf_dl.select(_bucket_col("term", ntb).alias("b")))
        .distinct()
        .collect()
    }
    db = {bucket_of(i, ndb) for i in ids}

    # crash healing: a leftover intent marker means a prior upsert died
    # mid-flight; fold its touched buckets into this run's rewrite +
    # recompute sets so their sidecars are re-derived from whatever state
    # the layouts actually reached
    intent_path = os.path.join(path, "_UPSERT_INTENT.json")
    if os.path.exists(intent_path):
        try:
            with open(intent_path) as fh:
                prior = json.load(fh)
        except (json.JSONDecodeError, OSError):
            # unreadable marker (e.g. disk-full partial write from a pre-
            # atomic-rename version): the dead upsert's touched set is
            # unknown, so recompute EVERY bucket's sidecars — bounded by
            # the artifact (not corpus text) and always correct, because
            # sidecars are pure functions of the layouts
            prior = {
                "term_buckets": list(range(ntb)),
                "doc_buckets": list(range(ndb)),
            }
        tb |= set(prior.get("term_buckets", []))
        db |= set(prior.get("doc_buckets", []))
    tb, db = sorted(tb), sorted(db)
    # atomic publish via the commit-protocol seam (io/commitproto.py): a
    # crash mid-write must never corrupt the healing marker itself
    from ..io.commitproto import publish_marker

    publish_marker(
        intent_path,
        {"term_buckets": [int(b) for b in tb],
         "doc_buckets": [int(b) for b in db]},
    )

    inv_path = os.path.join(path, "postings")
    fwd_path = os.path.join(path, "forward")
    terms_path = os.path.join(path, "terms")
    stats_path = os.path.join(path, "stats")

    # ---- inverted layout: touched term buckets only -----------------
    inv_keep = (
        spark.read.parquet(inv_path)
        .filter(F.col("bucket").isin(tb))
        .join(F.broadcast(batch_ids_df), "doc_id", "left_anti")
        .select("term", "doc_id", "tf", "dl", "bucket")
        .localCheckpoint(eager=True)
    )
    inv_new = new_tf_dl.select(
        "term", "doc_id", "tf", "dl", _bucket_col("term", ntb).alias("bucket")
    )
    inv_final = inv_keep.unionByName(inv_new).localCheckpoint(eager=True)
    (
        inv_final.repartition("bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(inv_path)
    )
    present = {r.bucket for r in inv_final.select("bucket").distinct().collect()}
    _drop_empty_partition_dirs(inv_path, "bucket", set(tb) - present)

    # ---- forward layout: touched doc buckets only --------------------
    fwd_keep = (
        spark.read.parquet(fwd_path)
        .filter(F.col("dbucket").isin(db))
        .join(F.broadcast(batch_ids_df), "doc_id", "left_anti")
        .select("doc_id", "term", "tf", "dbucket")
        .localCheckpoint(eager=True)
    )
    fwd_new = new_tf_dl.select(
        "doc_id", "term", "tf", _bucket_col("doc_id", ndb).alias("dbucket")
    )
    fwd_final = fwd_keep.unionByName(fwd_new).localCheckpoint(eager=True)
    (
        fwd_final.repartition("dbucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("dbucket")
        .parquet(fwd_path)
    )
    present = {
        r.dbucket for r in fwd_final.select("dbucket").distinct().collect()
    }
    _drop_empty_partition_dirs(fwd_path, "dbucket", set(db) - present)

    # ---- terms sidecar: recompute touched buckets from the NEW postings
    # layout (pure function of the layout — crash-safe by construction)
    new_terms = _terms_from_postings(
        spark.read.parquet(inv_path).filter(F.col("bucket").isin(tb))
    ).localCheckpoint(eager=True)
    (
        new_terms.repartition("tbucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("tbucket")
        .parquet(terms_path)
    )
    present = {r.tbucket for r in new_terms.select("tbucket").distinct().collect()}
    _drop_empty_partition_dirs(terms_path, "tbucket", set(tb) - present)

    # ---- stats sidecar: recompute touched dbuckets from the NEW forward
    # layout (same discipline)
    new_stats = _stats_from_forward(
        spark.read.parquet(fwd_path).filter(F.col("dbucket").isin(db))
    ).localCheckpoint(eager=True)
    (
        new_stats.repartition("dbucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("dbucket")
        .parquet(stats_path)
    )
    present = {r.dbucket for r in new_stats.select("dbucket").distinct().collect()}
    _drop_empty_partition_dirs(stats_path, "dbucket", set(db) - present)

    # ---- doclens sidecar: same recompute discipline (pure function of
    # the forward layout); an artifact built before this layout existed
    # heals by a one-time full derivation
    doclens_path = os.path.join(path, "doclens")
    fwd_scope = spark.read.parquet(fwd_path)
    if os.path.exists(doclens_path):
        fwd_scope = fwd_scope.filter(F.col("dbucket").isin(db))
    new_dls = _doclens_from_forward(fwd_scope).localCheckpoint(eager=True)
    (
        new_dls.repartition("dbucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("dbucket")
        .parquet(doclens_path)
    )
    present = {r.dbucket for r in new_dls.select("dbucket").distinct().collect()}
    _drop_empty_partition_dirs(doclens_path, "dbucket", set(db) - present)

    from ..io.commitproto import clear_marker

    clear_marker(intent_path)  # all layouts + sidecars consistent
    return {"term_buckets": [int(b) for b in tb], "doc_buckets": [int(b) for b in db]}


def ensure_doclens(spark: SparkSession, path: str) -> str:
    """Heal path for artifacts built before the doclens layout existed:
    derive it once from the forward layout (a pure function of it — the
    same derivation build and upsert use), then serve normally.

    Publish discipline (ADVICE r08): Spark creates the target directory
    at job start, so a bare write guarded by ``os.path.exists`` would
    treat a crash-torn partial layout as complete forever — and
    ``filtered_corpus_stats`` would serve silently wrong n_docs/avgdl.
    So the heal stages next to the final path and publishes with one
    atomic rename (the commitproto swap shape, degenerate case: no prior
    tree to back up). A crash mid-stage leaves only the staging dir,
    which the next call overwrites and publishes."""
    dp = os.path.join(path, "doclens")
    if not os.path.exists(dp):
        staged = dp + "._heal_staged"
        fwd = spark.read.parquet(os.path.join(path, "forward"))
        _doclens_from_forward(fwd).repartition("dbucket").write.mode(
            "overwrite"
        ).partitionBy("dbucket").parquet(staged)
        os.rename(staged, dp)
    return dp


def filtered_corpus_stats(
    spark: SparkSession, path: str, survivors: DataFrame
) -> DataFrame:
    """One-row (n_docs, avgdl) over exactly the given surviving docs —
    the filtered twin of ``corpus_stats``, for metadata-filtered BM25.
    Reads the O(docs) doclens layout (doc_id, dl), never corpus text;
    the aggregate is structurally the inline path's dl rollup
    (bm25.py::bm25_scores), so the integers and the one IEEE division
    match the tokenize-the-filtered-corpus path to the bit.

    ``survivors``: a (doc_id) frame — the eligible set (predicate already
    applied by the caller on the collection's metadata columns)."""
    ensure_doclens(spark, path)
    dls = _layout_relation(spark, os.path.join(path, "doclens")).join(
        survivors.select("doc_id"), "doc_id", "left_semi"
    )
    return dls.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") * 1.0 / F.count(F.lit(1))).alias("avgdl"),
    )


def doc_postings(spark: SparkSession, path: str, doc_ids: list) -> DataFrame:
    """(doc_id, term, tf) for exactly the given docs via the doc-bucketed
    forward index — feedback-set mining without touching raw text or the
    full artifact."""
    n = _meta(path)["n_doc_buckets"]
    dbuckets = sorted({bucket_of(i, n) for i in doc_ids})
    return (
        _layout_relation(spark, os.path.join(path, "forward"))
        .filter(F.col("dbucket").isin(dbuckets))
        .filter(F.col("doc_id").isin(list(doc_ids)))
        .select("doc_id", "term", "tf")
    )
