"""Compare two sets of benchmark result records.

    python3 perfbench/compare.py BASE_DIR HEAD_DIR

Each directory holds the JSON records ``run.py`` writes to
``.perfbench/results/``. For every workload and metric the script prints
each side's median and quartiles and the change of the medians. It refuses
to compare records taken at different CPU counts (``nproc`` or
``SPARK_GRAFT_CPUS``); the burn-rate control is shown as context only.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(directory: str) -> list[dict]:
    recs = []
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            recs.append(json.load(f))
    return recs


def cpu_counts(recs: list[dict]) -> set[tuple[int, int]]:
    return {(r["host"]["nproc"], r["host"]["SPARK_GRAFT_CPUS"]) for r in recs}


def summary(values: list[float]) -> str:
    med = statistics.median(values)
    if len(values) < 2:
        return f"{med:12.4f} (n=1)"
    q1, _, q3 = statistics.quantiles(values, n=4)
    return f"{med:12.4f} [{q1:.4f}, {q3:.4f}] (n={len(values)})"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, head = load(argv[0]), load(argv[1])
    cpus = cpu_counts(base) | cpu_counts(head)
    if len(cpus) != 1:
        print(f"refusing to compare results taken at different CPU counts: {sorted(cpus)}",
              file=sys.stderr)
        return 1
    for side, recs in (("base", base), ("head", head)):
        burns = [b for r in recs for b in (r["host"]["burn_before"], r["host"]["burn_after"])]
        if burns:
            print(f"# {side} burn M/s (context only): median {statistics.median(burns):.1f}")
    keys = sorted({(r["workload"], r["trace"]) for r in base + head})
    for workload, trace in keys:
        section = "layers" if trace else "e2e"
        b = [r[section] for r in base if (r["workload"], r["trace"]) == (workload, trace)]
        h = [r[section] for r in head if (r["workload"], r["trace"]) == (workload, trace)]
        print(f"## {workload} ({'per-layer' if trace else 'end-to-end'})")
        for metric in sorted({m for rec in b + h for m in rec}):
            bv = [rec[metric] for rec in b if metric in rec]
            hv = [rec[metric] for rec in h if metric in rec]
            if not bv or not hv:
                continue
            bm, hm = statistics.median(bv), statistics.median(hv)
            change = f"{(hm - bm) / bm:+.1%}" if bm else "n/a"
            print(f"  {metric:<48} base {summary(bv)}  head {summary(hv)}  {change}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
