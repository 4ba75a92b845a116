"""Interleaved A/B of one perfbench workload between two checkouts.

Usage::

    python3 plans/pr2/ab.py --parent DIR --change DIR --workload NAME \
        --out OUT.jsonl SEED [SEED ...]

Each seed is one pair: both checkouts run ``perfbench/run.py`` with the
same seed at ``--seconds 20 --trace 0``, one after the other, and the
order alternates from pair to pair so a drifting host does not favour
either side. Every run appends one JSON line to ``--out`` (tree, seed,
pair, exit code, wall time, the result line and the report line), so a
cut-short A/B keeps the pairs it finished. Summarize with
``plans/pr2/summarize.py``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import time


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("seeds", nargs="+", type=int)
    args = p.parse_args()
    trees = {"parent": args.parent, "change": args.change}
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for tree in order:
            t0 = time.time()
            run = subprocess.run(
                ["python3", "perfbench/run.py", "--workload", args.workload,
                 "--seed", str(seed), "--seconds", "20", "--trace", "0"],
                cwd=trees[tree], capture_output=True, text=True, timeout=900,
            )
            rec = {"tree": tree, "seed": seed, "pair": i, "rc": run.returncode,
                   "wall_s": round(time.time() - t0, 1)}
            lines = run.stdout.strip().splitlines()
            try:
                rec["result"] = json.loads(lines[-1])
                rec["report"] = json.loads(lines[-2])
            except (IndexError, ValueError):
                rec["stderr_tail"] = run.stderr[-2000:]
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")


if __name__ == "__main__":
    main()
