#!/usr/bin/env python3
"""Compare two sets of benchmark runs and flag pairs from different host regimes.

    python3 perfbench/compare.py <parent.log> <change.log>

Each log holds the standard output of several `run.py` runs of one workload,
appended in the order they ran (each run prints an info line with the host
stamp, then its result line). Runs are paired in order. A pair is flagged
when either run's own before/after stamps drifted by more than 20%, or when
the two runs' stamps differ by more than 20%: a gap between such runs may be
the host, not the code.
"""
import json
import statistics
import sys

REGIME = 0.2


def runs(path):
    out, info = [], None
    for line in open(path):
        line = line.strip()
        if not line.startswith("{"):
            continue
        d = json.loads(line)
        if "host" in d:
            info = d
        elif "metrics" in d and info is not None:
            out.append((info, d))
            info = None
    return out


def crossed(a, b):
    ha, hb = a["host"], b["host"]
    if ha["regime_changed"] or hb["regime_changed"]:
        return True
    return any(abs(hb[k] / ha[k] - 1) > REGIME for k in ("st_mops_pre", "mt_mops_pre"))


def main():
    parent, change = runs(sys.argv[1]), runs(sys.argv[2])
    pairs = list(zip(parent, change))
    flagged = [i for i, ((a, _), (b, _)) in enumerate(pairs) if crossed(a, b)]
    print(f"{len(pairs)} pairs, {len(flagged)} regime-crossed: {flagged}")
    clean = [p for i, p in enumerate(pairs) if i not in flagged]
    for name in parent[0][1]["metrics"]:
        cols = []
        for side in (0, 1):
            vals = [p[side][1]["metrics"][name]["value"] for p in clean]
            if len(vals) >= 2:
                q = statistics.quantiles(vals, n=4)
                cols.append(f"median {statistics.median(vals):.4g} [{q[0]:.4g}, {q[2]:.4g}]")
            else:
                cols.append("too few unflagged runs")
        print(f"{name:28s} parent {cols[0]:36s} change {cols[1]}")


if __name__ == "__main__":
    main()
