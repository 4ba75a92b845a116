"""Metric definitions and the statistics behind them.

``END_TO_END`` is what a user of the engine sees; every workload
reports every one of them, from untraced runs. ``PER_LAYER`` comes from
the traced run; a layer a workload never reaches reads 0 there.
BENCHMARK.json lists both tables (the determinism test checks that the
two agree).
"""

from __future__ import annotations

import math
import statistics

# name -> (unit, better, bound). What each measures, per workload:
# op_p50_ms   ingest_hourly: median ingest cycle; curation_corpus: median
#             pass; api_reads / mixed_lifecycle: geometric mean over the
#             request kinds of each kind's median latency.
# work_per_s  ingest_hourly / mixed_lifecycle: observations committed per
#             second of ingest-cycle time; api_reads: requests per second;
#             curation_corpus: documents per second of pass time.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "op_p50_ms": ("ms", "lower", 0.25),
    "work_per_s": ("1/s", "higher", 0.25),
}

SPARK_FIELDS = (
    "jobs", "stages", "tasks", "executor_cpu_ms", "gc_ms",
    "shuffle_write_bytes", "spill_bytes", "driver_only_ms",
)
SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "executor_cpu_ms": "ms",
    "gc_ms": "ms", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "driver_only_ms": "ms",
}
OP_GROUPS = ("ingest_cycle", "history", "data", "snapshot_read", "maint_op",
             "curation_pass")
CURATION_STEPS = {
    "dedup_minhash": "dedup.minhash_ms",
    "dedup_prefix": "dedup.prefix_ms",
    "ann_exact": "ann.exact_ms",
    "ann_ivfpq": "ann.ivfpq_ms",
    "quality": "curation.quality_ms",
    "decontaminate": "curation.decontaminate_ms",
    "pack": "curation.pack_ms",
}
INGEST_LAYER = {
    "bronze.append_ms": "ms",
    "dims.insert_ms": "ms",
    "discovery.ms": "ms",
    "versioned.upsert_ms": "ms",
    "versioned.upsert_attempts": "count",
    "versioned.read_manifest_ms": "ms",
    "versioned.read_manifest_calls": "count",
    "versioned.publish_ms": "ms",
    "versioned.files_written": "count",
    "versioned.bytes_written": "bytes",
    "versioned.partitions_rewritten": "count",
    "versioned.manifest_bytes": "bytes",
    "bronze.bytes_per_input_byte": "ratio",
}
READ_LAYER = {
    "versioned.resolve_ms": "ms",
    "versioned.files_scanned": "count",
    "versioned.files_admitted_ratio": "ratio",
    "versioned.read_manifest_ms": "ms",
    "versioned.read_manifest_calls": "count",
}
MAINT_LAYER = {
    "versioned.compact_ms": "ms",
    "versioned.delete_ms": "ms",
    "versioned.erase_ms": "ms",
    "versioned.vacuum_ms": "ms",
    "versioned.bytes_rewritten": "bytes",
}


def _per_layer() -> dict[str, tuple[str, str]]:
    out: dict[str, tuple[str, str]] = {}

    def add(name, unit, better="lower"):
        out[name] = (unit, better)

    for group in OP_GROUPS:
        for f in SPARK_FIELDS:
            add(f"{group}.spark.{f}", SPARK_UNITS[f])
    for f in SPARK_FIELDS:
        add(f"all_ops.spark.{f}", SPARK_UNITS[f])
    for name, unit in INGEST_LAYER.items():
        add(f"ingest_cycle.{name}", unit)
    for group in ("history", "data", "snapshot_read"):
        for name, unit in READ_LAYER.items():
            add(f"{group}.{name}", unit)
    for name, unit in MAINT_LAYER.items():
        add(f"maint_op.{name}", unit)
    for step, name in CURATION_STEPS.items():
        add(name, "ms")
        for f in ("jobs", "tasks", "executor_cpu_ms"):
            add(f"{step}.spark.{f}", SPARK_UNITS[f])
    add("dedup.pairs_out", "count", "higher")
    add("quality.ann_recall_at_10", "ratio", "higher")
    add("quality.dedup_pair_recall", "ratio", "higher")
    add("store.bytes_per_obs", "bytes", "lower")
    add("memory.peak_rss_mb", "MB", "lower")
    add("trace.overhead_ratio", "ratio", "lower")
    return out


PER_LAYER = _per_layer()


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


def tail(xs) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it, and
    its value; (None, None) below 20 samples."""
    n = len(xs)
    if n < 20:
        return None, None
    beyond = 10
    pct = math.floor(100 * (n - beyond) / n)
    s = sorted(xs)
    return pct, s[max(0, math.ceil(pct / 100 * n) - 1)]
