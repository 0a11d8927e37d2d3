#!/usr/bin/env python3
"""Side-by-side medians of two sets of benchmark run records.

    python3 perfbench/report.py BASE NEW

BASE and NEW are record directories that perfbench/run.py writes, one
subdirectory per workload:
  - `.bench_build/perfbench/records/trace1` of two checkouts gives the
    per-layer diff of two traced runs: where a saving appears;
  - `records/trace0` and `records/trace1` of one checkout gives the
    tracing overhead: the traced runs' own end-to-end figures against
    the untraced runs'.
For every workload and metric found in either, prints the median over
the runs in BASE and in NEW, the run counts, and NEW/BASE.
"""
import glob
import json
import os
import statistics
import sys


def load(d):
    """workload -> metric -> list of values, over every record in d."""
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*", "*.json"))):
        if f.endswith(".spans.json"):
            continue
        with open(f) as fh:
            r = json.load(fh)
        m = out.setdefault(r["workload"], {})
        flat = dict(r["e2e"])
        flat.update(r.get("layers", {}))
        flat.update({f"self_ms.{k}": v for k, v in r.get("self_ms", {}).items()})
        flat.update({f"host.{k}": v for k, v in r["host"].items()})
        flat["failed"] = r["failed"]
        for k, v in flat.items():
            m.setdefault(k, []).append(v)
    return out


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted(set(base) | set(new)):
        b, n = base.get(w, {}), new.get(w, {})
        print(f"== {w}  (runs: base {len(b.get('failed', []))}, new {len(n.get('failed', []))})")
        print(f"  {'metric':<44} {'base':>12} {'new':>12} {'new/base':>9}")
        for k in sorted(set(b) | set(n)):
            mb = statistics.median(b[k]) if k in b else None
            mn = statistics.median(n[k]) if k in n else None
            ratio = f"{mn / mb:9.3f}" if mb and mn is not None else f"{'-':>9}"
            fmt = lambda v: f"{v:12.5g}" if v is not None else f"{'-':>12}"
            print(f"  {k:<44} {fmt(mb)} {fmt(mn)} {ratio}")


if __name__ == "__main__":
    main()
