#!/usr/bin/env python3
"""Compare two result sets of the benchmark.

    python3 perfbench/diff.py <before> <after>

Each argument is a results directory as `run.py` keeps it
(`.bench_build/results`: one sub-directory per workload holding
`seed<n>-trace<t>.json` records); copy it aside before re-running the
other side. For each workload and end-to-end metric it prints both sides'
median and quartiles and a verdict (better, worse, unchanged, or
unresolved when a side's spread is wider than the metric's bound). For
each metric that moved it lists the per-layer metrics that moved most.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def load(results_dir):
    """{workload: [record, ...]}"""
    out = {}
    for f in sorted(glob.glob(os.path.join(results_dir, "*", "seed*-trace*.json"))):
        with open(f) as g:
            r = json.load(g)
        out.setdefault(r["workload"], []).append(r)
    return out


def layer_movers(before, after, top=5):
    """Per-layer metrics ordered by how far their median moved, as a share
    of the before median; metrics that did not move are skipped."""
    moved = []
    for k in before[0]["per_layer"]:
        a = [r["per_layer"][k] for r in before if k in r["per_layer"]]
        b = [r["per_layer"][k] for r in after if k in r["per_layer"]]
        if not a or not b:
            continue
        ma, mb = statistics.median(a), statistics.median(b)
        if ma == mb:
            continue
        change = (mb - ma) / abs(ma) if ma else float("inf")
        moved.append((abs(change), k, ma, mb, change))
    moved.sort(reverse=True)
    return moved[:top]


def runs(records, trace):
    return [r for r in records if r["trace"] == trace]


def compare(before, after, spec):
    """Yields report lines for every workload present on both sides.
    End-to-end metrics come from untraced runs; the per-layer movers from
    traced runs where both sides have one, else from untraced runs."""
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    for w in sorted(set(before) & set(after)):
        ua, ub = runs(before[w], 0), runs(after[w], 0)
        ta, tb = runs(before[w], 1), runs(after[w], 1)
        la, lb = (ta, tb) if ta and tb else (ua, ub)
        yield f"== {w}  ({len(ua)} vs {len(ub)} untraced runs)"
        for name, m in bounds.items():
            a = [r["end_to_end"][name] for r in ua if name in r["end_to_end"]]
            b = [r["end_to_end"][name] for r in ub if name in r["end_to_end"]]
            if not a or not b:
                continue
            v = stats.verdict(a, b, m["bound"], m["better"])
            qa, qb = stats.quartiles(a), stats.quartiles(b)
            yield (f"  {name:18} {qa[1]:12.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  ->  "
                   f"{qb[1]:12.4g} [{qb[0]:.4g}, {qb[2]:.4g}] {m['unit']:5} {v}")
            if v in ("better", "worse") and la and lb:
                for _, k, ma, mb, change in layer_movers(la, lb):
                    yield f"      {k:40} {ma:12.4g} -> {mb:12.4g}  ({change:+.1%})"


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    for line in compare(load(argv[1]), load(argv[2]), spec):
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
