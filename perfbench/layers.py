"""What the benchmark instruments, and how spans become metrics.

``TARGETS`` lists the public functions wrapped in a traced run, one span
name each (the module path under the package, then the function).
``END_TO_END`` and ``PER_LAYER`` are the metric specs, read from
BENCHMARK.json; ``e2e_metrics`` and ``layer_metrics`` fill them from one
run.
"""

from __future__ import annotations

import json
import math
import os
import statistics

from . import trace as tr
from .workloads import CurationBatch, IngestServe

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = _SPEC["end_to_end"]
PER_LAYER = _SPEC["per_layer"]

PKG = "vectordb_acc_and_speed_exp_spark"

SERVE_OPS = (
    "knn.exact_knn", "mtlsh.mt_lsh_ann_pruned", "bq.ivfbq_search",
    "filtered.filtered_knn_auto",
)
WRITE_OPS = (
    "ann.ivf_index_upsert", "bq.ivfbq_codes_upsert",
    "mtlsh.mt_lsh_signatures_upsert", "drift.mean_coarse_qerr",
)
# whole-index builds: inside add() each firing is a full rebuild
BUILD_OPS = (
    "ann.kmeans_centroids", "ann.write_ivf_corpus", "bq.write_ivfbq_codes",
    "mtlsh.write_mt_lsh_index", "postings.write_postings_index",
)
DEDUP_OPS = (
    "dedup.minhash_lsh_pairs", "dedup.prefix_jaccard_join",
    "dedup.connected_components",
)
RECALL_KEYS = IngestServe.RECALL_KEYS + CurationBatch.RECALL_KEYS
SPARK_METRICS = (
    "jobs", "stages", "tasks", "outside_stage_s", "stage_union_s",
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "input_bytes", "input_records", "output_bytes",
)


def _read_layout_wrapper(tracer, orig, span_name):
    """read_layout, recording whether it returned an already-cached
    relation (the same object the session cache held before the call)."""
    import functools

    from vectordb_acc_and_speed_exp_spark.io import relcache

    @functools.wraps(orig)
    def wrapper(spark, path):
        prior = relcache._REL_CACHE.get((spark.sparkContext.applicationId, path))
        with tracer.span(span_name) as s:
            df = orig(spark, path)
        if s is not None:
            s.attrs["hit"] = prior is not None and df is prior[1]
        return df

    return wrapper


def _targets():
    out = [
        (f"{PKG}.api", "VectorStore.query", "api.query", None),
        (f"{PKG}.api", "VectorStore.add", "api.add", None),
        (f"{PKG}.io.relcache", "read_layout", "io.relcache.read_layout",
         _read_layout_wrapper),
        (f"{PKG}.io.commitproto", "publish_marker",
         "io.commitproto.publish_marker", None),
    ]
    for fn in SERVE_OPS + WRITE_OPS + BUILD_OPS + DEDUP_OPS:
        mod, name = fn.rsplit(".", 1)
        out.append((f"{PKG}.operators.{mod}", name, f"operators.{fn}", None))
    return out


TARGETS = _targets()


def _dir_stats(path: str) -> tuple[int, int]:
    n = b = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += 1
            b += os.path.getsize(os.path.join(d, f))
    return n, b


def query_p50_geomean(lat: list[tuple[str, float]]) -> float:
    """The median latency of each query kind, then their geometric mean,
    so every kind weighs the same however many samples it has; 0 with no
    samples."""
    by_kind: dict[str, list[float]] = {}
    for kind, dt in lat:
        by_kind.setdefault(kind, []).append(dt)
    if not by_kind:
        return 0.0
    return math.exp(statistics.fmean(
        math.log(statistics.median(xs)) for xs in by_kind.values()
    ))


def e2e_metrics(wl, setup_s: float) -> dict:
    """The end-to-end metrics of one run. A run whose operations all failed
    still gets a value for each, 0 where nothing was measured."""
    _, stored = _dir_stats(wl.stored_root())
    vals = {
        "setup_s": setup_s,
        "query_p50_geomean_s": query_p50_geomean(wl.lat),
        "items_per_s": statistics.median(wl.rates) if wl.rates else 0.0,
        # a relative drop in any one mode's recall lowers the product by
        # the same share, so the bound holds for each mode
        "recall_product": math.prod(wl.recall(k) for k in wl.RECALL_KEYS),
        "stored_bytes_per_input_byte": stored / wl.input_bytes,
    }
    return {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]} for m in END_TO_END}


def layer_metrics(
    wl, tracer, session_s: float, cpu0: dict, cpu1: dict, peak_rss: int
) -> dict:
    spans = tracer.spans
    roots = [s for s in spans if s.parent is None and s.attrs.get("phase") == "measure"]
    reqs = {s.req for s in roots}
    meas = [s for s in spans if s.req in reqs]
    n_cyc = max(1, wl.cycles)
    by_id = {s.sid: s for s in spans}

    def inclusive(s, key):
        return sum(x.spark.get(key, 0) for x in tr.descendants(meas, s))

    def named(name):
        return [s for s in meas if s.name == name]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def dur(s):
        return s.end - s.start

    v: dict[str, float] = {
        "session.start_s": session_s,
        "trace.query_p50_geomean_s": query_p50_geomean(wl.lat),
    }
    q = named("api.query")
    v["api.query.call_s"] = mean([dur(s) for s in q])
    v["api.query.eager_jobs"] = mean([inclusive(s, "jobs") for s in q])
    adds = named("api.add")
    v["api.add.call_s"] = mean([dur(s) for s in adds])
    builds = {f"operators.{b}" for b in BUILD_OPS}
    v["api.add.full_rebuilds"] = sum(
        1 for s in adds for d in tr.descendants(meas, s) if d.name in builds
    )
    # serve operators, per query of the mode that calls them: the
    # operator's own spans (plan building and eager jobs) plus the
    # terminal action the benchmark ran on the frame it returned
    for op in SERVE_OPS:
        name = f"operators.{op}"
        calls = named(name)
        per_query = []
        for a in named("action"):
            if a.attrs.get("op") != name:
                continue
            own = [s for s in calls if s.req == a.req
                   and not _has_ancestor(s, name, by_id)] + [a]
            per_query.append([
                sum(inclusive(s, k) for s in own)
                for k in ("jobs", "stages", "executor_cpu_s")
            ])
        v[f"{name}.calls"] = len(calls)
        v[f"{name}.call_s"] = mean([dur(s) for s in calls])
        for i, m in enumerate(("jobs", "stages", "executor_cpu_s")):
            v[f"{name}.{m}"] = mean([x[i] for x in per_query])
    for op in WRITE_OPS + DEDUP_OPS:
        v[f"operators.{op}.s"] = mean([dur(s) for s in named(f"operators.{op}")])
    for entry in CurationBatch.CHAIN:
        v[f"queries.{entry}.s"] = mean([dur(s) for s in named(f"queries.{entry}")])
    rl = named("io.relcache.read_layout")
    v["io.relcache.hit_frac"] = mean([1.0 if s.attrs.get("hit") else 0.0 for s in rl])
    v["io.commitproto.publish_marker.calls"] = len(named("io.commitproto.publish_marker")) / n_cyc
    v["io.files"], v["io.stored_bytes"] = _dir_stats(wl.stored_root())
    # the engine beneath: every job of every measured request, per cycle
    tot = dict.fromkeys(SPARK_METRICS, 0.0)
    for r in roots:
        sub = tr.descendants(meas, r)
        for k in tr.SPARK_KEYS:
            tot[k] += sum(x.spark.get(k, 0) for x in sub)
        iv = [i for x in sub for i in x.attrs.get("stage_intervals", ())]
        u = tr.union_len(iv)
        tot["stage_union_s"] += u
        tot["outside_stage_s"] += max(0.0, dur(r) - u)
    for k in SPARK_METRICS:
        v[f"spark.{k}"] = tot[k] / n_cyc
    for role in ("driver_py", "jvm", "pyworker"):
        v[f"proc.{role}_cpu_s"] = (cpu1[role] - cpu0[role]) / n_cyc
    v["proc.peak_rss_mb"] = peak_rss / 2**20
    for mode in IngestServe.MODES:
        rs = [r for r in roots if r.attrs.get("mode") == mode and r.attrs.get("rows")]
        v[f"scan_rows_per_result.{mode}"] = mean([
            inclusive(r, "input_records") / r.attrs["rows"] for r in rs
        ])
    for key in RECALL_KEYS:
        v[f"recall_at_10.{key}"] = wl.recall(key)
    return {m["name"]: {"value": v[m["name"]], "unit": m["unit"]} for m in PER_LAYER}


def _has_ancestor(s, name, by_id) -> bool:
    p = s.parent
    while p is not None:
        if by_id[p].name == name:
            return True
        p = by_id[p].parent
    return False
