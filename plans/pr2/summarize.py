"""Summarize an interleaved A/B written by ``plans/pr2/ab.py``.

Usage::

    python3 plans/pr2/summarize.py AB.jsonl

Prints, per end-to-end metric: each side's median and quartiles, the
median gap against the parent's quartile distance, and in how many
pairs the change was better. Then the per-kind read medians from the
report line (medians over runs of each run's per-kind median), and
the failed-operation totals.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict

BETTER = {"setup_s": "lower", "op_p50_ms": "lower", "work_per_s": "higher"}
REPORT_KEYS = ("history_p50_ms", "data_p50_ms", "snapshot_read_p50_ms",
               "ingest_cycle_p50_s", "maint_op_p50_s", "read_mean_ms",
               "curation_pass_s", "host_ref_ms")


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main(path: str) -> None:
    runs = [json.loads(line) for line in open(path)]
    by_pair: dict[int, dict[str, dict]] = defaultdict(dict)
    for r in runs:
        if "result" in r:
            by_pair[r["pair"]][r["tree"]] = r
    pairs = [p for p in by_pair.values() if len(p) == 2]
    seeds = sorted(p["parent"]["seed"] for p in pairs)
    print(f"{len(pairs)} complete pairs, seeds {seeds}")
    for name, better in BETTER.items():
        val = {t: [p[t]["result"]["metrics"][name]["value"] for p in pairs]
               for t in ("parent", "change")}
        wins = sum((c < a) if better == "lower" else (c > a)
                   for a, c in zip(val["parent"], val["change"]))
        pq1, pmed, pq3 = quartiles(val["parent"])
        cq1, cmed, cq3 = quartiles(val["change"])
        gap = cmed - pmed
        print(f"{name:11s} parent {pmed:9.1f} [{pq1:.1f}, {pq3:.1f}]  "
              f"change {cmed:9.1f} [{cq1:.1f}, {cq3:.1f}]  "
              f"gap {gap:+.1f} ({gap / pmed:+.1%}) vs parent IQR {pq3 - pq1:.1f}  "
              f"change better in {wins}/{len(pairs)}")
    for key in REPORT_KEYS:
        med = {}
        for t in ("parent", "change"):
            xs = [p[t]["report"]["metrics"][key]["value"] for p in pairs
                  if key in p[t]["report"]["metrics"]]
            med[t] = statistics.median(xs) if xs else None
        if med["parent"] is not None:
            print(f"{key:21s} parent {med['parent']:9.1f}  change {med['change']:9.1f}  "
                  f"({med['change'] / med['parent'] - 1:+.1%})")
    for t in ("parent", "change"):
        failed = sum(p[t]["result"]["failed"] for p in pairs)
        rcs = sorted({p[t]["rc"] for p in pairs})
        print(f"{t}: failed ops {failed}, exit codes {rcs}")


if __name__ == "__main__":
    main(sys.argv[1])
