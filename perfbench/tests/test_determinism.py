"""Determinism and self-consistency of the benchmark.

    python3 -m pytest perfbench/tests -q

The Spark-backed tests start the benchmark as a subprocess, as a user
would (about five minutes in all on 4 cores).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

# Counters that must repeat exactly for one seed: they depend on the
# plans and the inputs, never on timing.
EXACT_SPARK = ("jobs", "stages", "tasks")
EXACT_ATTRS = ("versioned.files_written", "versioned.partitions_rewritten")


def _digests(directory) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(directory, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(directory))
    }


def _stage(seed: int, directory) -> dict[str, str]:
    polls = os.path.join(directory, "polls")
    corpus = os.path.join(directory, "corpus")
    os.makedirs(polls)
    os.makedirs(corpus)
    feed = gen.PollFeed(seed, 6)
    for p in range(7):
        feed.stage(p, polls)
    gen.stage_corpus(seed, corpus)
    return {**_digests(polls), **{f"corpus/{k}": v for k, v in _digests(corpus).items()}}


def test_same_seed_stages_byte_identical_inputs(tmp_path):
    a = _stage(7, tmp_path / "a")
    assert a == _stage(7, tmp_path / "b")
    other = _stage(8, tmp_path / "c")
    assert all(a[k] != other[k] for k in a)


def test_page_counts_match_page_contents(tmp_path):
    feed = gen.PollFeed(3, 5)
    pages = [feed.stage(p, str(tmp_path)) for p in range(6)]
    assert pages[0].new_series == gen.N_SITES * len(gen.METRICS)
    # Poll 5 brings one new site online; its series are new.
    assert [p.new_series for p in pages[1:]] == [0, 0, 0, 0, len(gen.METRICS)]
    for p in pages:
        cells = p.rows * len(gen.METRICS)
        assert cells * (1 - 3 * gen.NULL_RATE) < p.observations <= cells


def test_approximate_operators_fail_below_their_recall_floors(tmp_path):
    import oracle
    from lakehouse import Op

    corpus = gen.stage_corpus(1, str(tmp_path))
    top, _ = oracle.exact_topk(corpus)

    def checked(kind, result):
        op = Op(kind, "driver", 0.0, result=result)
        oracle.check_corpus(corpus, [op])
        return op.error

    planted = sorted(corpus.planted_pairs)
    assert checked("dedup_minhash", [(a, b, 1.0) for a, b in planted]) is None
    assert checked("dedup_minhash", []) is not None
    assert checked("dedup_minhash", [(a, b, 1.0) for a, b in planted[1:]]) is not None

    def ann(ids):
        return [(int(q), r + 1, int(n), 0.0)
                for q, row in zip(corpus.query_ids, ids) for r, n in enumerate(row)]

    assert checked("ann_ivfpq", ann(top)) is None
    # Well-formed ranks, but none of the true neighbours.
    far = [[n for n in range(len(corpus.vectors)) if n not in row][:10] for row in top.tolist()]
    assert checked("ann_ivfpq", ann(far)) is not None


def test_benchmark_json_lists_the_metric_tables():
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]} == (
        metrics.END_TO_END
    )
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == metrics.PER_LAYER
    assert len(metrics.PER_LAYER) <= 128


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[int, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=CHECKOUT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else {}


def _traced_ops(workload: str, seed: int) -> dict[tuple, dict]:
    path = os.path.join(CHECKOUT, ".perfbench", "traces", f"{workload}-seed{seed}.jsonl")
    with open(path) as f:
        ops = [json.loads(line)["operation"] for line in f if line.startswith('{"operation"')]
    return {
        (o["kind"], tuple(sorted(o["params"].items()))): o
        for o in ops if o["traced"] and o["error"] is None
    }


@pytest.mark.parametrize("workload", ["ingest_hourly", "curation_corpus"])
def test_work_counters_repeat_exactly(workload):
    seed = 5
    runs = []
    for _ in range(2):
        rc, result = _run(workload, seed, 4, trace=1)
        assert rc == 0 and result["correct"], result
        runs.append(_traced_ops(workload, seed))
    common = runs[0].keys() & runs[1].keys()
    assert common
    for key in common:
        a, b = runs[0][key], runs[1][key]
        spark_a, spark_b = ({f: o["spark"][f] for f in EXACT_SPARK} for o in (a, b))
        assert spark_a == spark_b, key
        assert {f: a["attrs"].get(f) for f in EXACT_ATTRS} == {
            f: b["attrs"].get(f) for f in EXACT_ATTRS
        }, key


@pytest.mark.parametrize("workload", ["mixed_lifecycle", "curation_corpus"])
def test_second_seed_passes_every_check(workload):
    rc, result = _run(workload, 2, 6, trace=0)
    assert rc == 0, result
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(metrics.END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())
