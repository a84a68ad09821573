"""Per-layer profile diff of two benchmark results.

    python3 perfbench/diff.py BASE CHANGE

BASE and CHANGE are result files written by ``run.py --out`` or
directories of them.  Runs of one workload are combined by their median.
Prints one row per workload and metric: the base value, the change's
value, and their ratio over the base.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys


def load(path: str) -> dict[str, dict[str, float]]:
    """workload -> metric -> median over the result files under path."""
    files = (
        [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".json")]
        if os.path.isdir(path)
        else [path]
    )
    runs: dict[str, dict[str, list[float]]] = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        vals = runs.setdefault(r["workload"], {})
        for section in ("metrics", "layers"):
            for k, v in (r.get(section) or {}).items():
                vals.setdefault(k, []).append(float(v))
    return {w: {k: statistics.median(v) for k, v in m.items()} for w, m in runs.items()}


def rows(base: dict, change: dict):
    for w in sorted(set(base) | set(change)):
        b, c = base.get(w, {}), change.get(w, {})
        for k in sorted(set(b) | set(c)):
            bv, cv = b.get(k), c.get(k)
            ratio = cv / bv if bv not in (None, 0) and cv is not None else None
            yield w, k, bv, cv, ratio


def fmt(v) -> str:
    return "-" if v is None else f"{v:.6g}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    a = ap.parse_args(argv)
    out = list(rows(load(a.base), load(a.change)))
    print(f"{'workload':<14} {'metric':<40} {'base':>12} {'change':>12} {'ratio':>8}")
    for w, k, bv, cv, ratio in out:
        print(f"{w:<14} {k:<40} {fmt(bv):>12} {fmt(cv):>12} {fmt(ratio):>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
