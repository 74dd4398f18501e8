"""Rank layers by self time from the traced runs.

    python3 perfbench/report.py                      # read .perfbench/traces/
    python3 perfbench/report.py --run --seed 1       # run every workload
                                                     # untraced, then traced

For each workload it prints the span names of the measured phase ranked
by self time (a span's duration minus what its children cover), the same
summed per layer, and how the time inside each ``api.add`` and each
curation chain splits between its children. With ``--run`` it also prints
the tracing overhead: the traced run's median query time minus the
untraced one's.
"""

from __future__ import annotations

import argparse
import collections
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.trace import Span, self_time, union_len  # noqa: E402


def load(path: str) -> tuple[dict, list[Span]]:
    with open(path) as f:
        d = json.load(f)
    spans = [
        Span(sid=s["id"], parent=s["parent"], req=s["req"], name=s["name"],
             start=s["start"], end=s["end"], attrs=s["attrs"], spark=s["spark"])
        for s in d["spans"]
    ]
    return d, spans


def layer_of(name: str) -> str:
    if name.startswith("operators.") or name.startswith("io."):
        return ".".join(name.split(".")[:2])
    if name == "action":
        return "action (terminal Spark action)"
    if name.startswith("op."):
        return "client (benchmark loop)"
    return name.split(".")[0]


TOP = 20  # span names listed per workload


def rank(spans: list[Span]) -> str:
    roots = {s.req for s in spans if s.parent is None and s.attrs.get("phase") == "measure"}
    meas = [s for s in spans if s.req in roots]
    total = sum(s.end - s.start for s in meas if s.parent is None) or 1.0
    by_name: dict[str, list[float]] = collections.defaultdict(list)
    for s in meas:
        by_name[s.name].append(self_time(meas, s))
    by_layer: dict[str, float] = collections.Counter()
    for n, xs in by_name.items():
        by_layer[layer_of(n)] += sum(xs)
    out = [f"  measured ops: {len(roots)}, wall {total:.2f} s",
           "  self time by span:",
           f"    {'self s':>8} {'share':>6} {'calls':>5}  span"]
    for n, xs in sorted(by_name.items(), key=lambda kv: -sum(kv[1]))[:TOP]:
        out.append(f"    {sum(xs):8.3f} {sum(xs) / total:6.1%} {len(xs):5d}  {n}")
    out.append("  self time by layer:")
    for n, t in sorted(by_layer.items(), key=lambda kv: -kv[1]):
        out.append(f"    {t:8.3f} {t / total:6.1%}  {n}")
    for parent in ("api.add", "op.chain"):
        ps = [s for s in meas if s.name == parent]
        if not ps:
            continue
        dur = sum(s.end - s.start for s in ps)
        kids: dict[str, float] = collections.Counter()
        for p in ps:
            for c in meas:
                if c.parent == p.sid:
                    kids[c.name] += c.end - c.start
        covered = sum(
            union_len([(c.start, c.end) for c in meas if c.parent == p.sid]) for p in ps
        )
        out.append(f"  inside {parent} ({len(ps)} calls, {dur:.2f} s; children cover "
                   f"{covered / dur:.1%}):")
        for n, t in sorted(kids.items(), key=lambda kv: -kv[1]):
            out.append(f"    {t:8.3f} {t / dur:6.1%}  {n}")
    return "\n".join(out)


def run_pair(workload: str, seed: int, seconds: float) -> dict:
    res = {}
    for t in (0, 1):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(t)],
            cwd=ROOT, capture_output=True, text=True, check=True,
        )
        res[t] = json.loads(p.stdout.strip().splitlines()[-1])
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--traces", default=os.path.join(ROOT, ".perfbench", "traces"))
    ap.add_argument("--run", action="store_true",
                    help="run every workload untraced and traced first")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args(argv)
    if args.run:
        from perfbench.workloads import WORKLOADS

        for w in WORKLOADS:
            res = run_pair(w, args.seed, args.seconds)
            base = res[0]["metrics"]["query_p50_geomean_s"]["value"]
            traced = res[1]["metrics"]["trace.query_p50_geomean_s"]["value"]
            print(f"{w}: query_p50_geomean_s untraced {base:.4f} s, traced {traced:.4f} s, "
                  f"tracing overhead {traced - base:+.4f} s ({traced / base - 1:+.1%})")
    paths = sorted(glob.glob(os.path.join(args.traces, "*.json")))
    if args.run:
        paths = [os.path.join(args.traces, f"{w}-{args.seed}.json") for w in WORKLOADS]
    for p in paths:
        d, spans = load(p)
        print(f"\n{d['workload']} (seed {d['seed']})")
        print(rank(spans))
    return 0


if __name__ == "__main__":
    sys.exit(main())
