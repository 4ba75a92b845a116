"""Traced-run harness: spans around the calls into each engine module,
recorded from outside the program, plus Spark's work counters per
operation.

Spans (name, start, end, parent, op id, attributes) are kept in memory
and written out as JSON lines when the run ends. The harness wraps
module attributes at runtime:

- ``engine`` binds ``bronze_append``, ``insert_if_absent``,
  ``upsert_observations`` and ``melt_numeric`` at import, so those names
  are wrapped in the engine module itself;
- ``pipeline.versioned`` is imported lazily by the engine, so its
  functions are wrapped on their own module (its internal calls go
  through module globals and see the wrappers too);
- the LLM-data operators are looked up on their modules at call time.

``ingest_batch`` runs its four sinks on a ``ThreadPoolExecutor``; the
harness makes ``submit`` carry the submitting thread's context so sink
spans keep their parent. Spark jobs are attributed to an operation by
job-id range (jobs submitted by those pool threads carry no job group),
which is exact only while one operation runs at a time.
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import contextvars
import functools
import importlib
import itertools
import json
import threading
import time
from dataclasses import dataclass, field

_PKG = "gas_data_pipeline_spark"

# (module, attribute, span name). Attributes of a class are "Class.method".
WRAPPED = (
    ("engine", "GasDataEngine.ingest_batch", "engine.ingest_batch"),
    ("engine", "GasDataEngine._discover_and_register_fields", "discovery"),
    ("engine", "GasDataEngine.get_history", "engine.get_history"),
    ("engine", "GasDataEngine.get_data", "engine.get_data"),
    ("engine", "GasDataEngine.read_observations_at", "engine.read_observations_at"),
    ("engine", "GasDataEngine.changelog", "engine.changelog"),
    ("engine", "GasDataEngine.erase_series", "engine.erase_series"),
    ("engine", "GasDataEngine.delete_observations", "engine.delete_observations"),
    ("engine", "GasDataEngine.compact_silver", "engine.compact_silver"),
    ("engine", "GasDataEngine.vacuum_silver", "engine.vacuum_silver"),
    ("engine", "GasDataEngine.dedup_near", "engine.dedup_near"),
    ("engine", "GasDataEngine.search_similar", "engine.search_similar"),
    ("engine", "GasDataEngine.quality_filter", "engine.quality_filter"),
    ("engine", "GasDataEngine.decontaminate", "engine.decontaminate"),
    ("engine", "GasDataEngine.pack_for_training", "engine.pack_for_training"),
    ("engine", "bronze_append", "bronze.append"),
    ("engine", "insert_if_absent", "dims.insert"),
    ("engine", "upsert_observations", "silver.upsert"),
    ("engine", "melt_numeric", "engine.melt"),
    ("pipeline.versioned", "upsert_with_retry", "versioned.upsert"),
    ("pipeline.versioned", "upsert_observations_versioned", "versioned.upsert_attempt"),
    ("pipeline.versioned", "read_manifest", "versioned.read_manifest"),
    ("pipeline.versioned", "publish_version", "versioned.publish"),
    ("pipeline.versioned", "read_observations_versioned", "versioned.resolve"),
    ("pipeline.versioned", "changelog_versioned", "versioned.changelog"),
    ("pipeline.versioned", "compact_versioned", "versioned.compact"),
    ("pipeline.versioned", "delete_versioned", "versioned.delete"),
    ("pipeline.versioned", "delete_versioned_by_key", "versioned.erase"),
    ("pipeline.versioned", "vacuum", "versioned.vacuum"),
    ("operators.dedup", "minhash_near_dup_pairs", "dedup.minhash_plan"),
    ("operators.dedup", "jaccard_pairs_prefix_filter", "dedup.prefix_plan"),
    ("operators.similarity", "cosine_topk", "ann.exact_plan"),
    ("operators.similarity", "cosine_topk_ivfpq", "ann.ivfpq_plan"),
    ("operators.curation", "contamination_flags", "curation.decontaminate_plan"),
    ("operators.curation", "pack_sequences", "curation.pack_plan"),
    ("operators.curation", "quality_rule_columns", "curation.quality_plan"),
    ("operators.text", "tokenize", "text.tokenize"),
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """Span recorder. ``enabled`` gates recording, so one process can
    alternate traced and untraced operations to measure the overhead."""

    def __init__(self):
        self.spans: list[Span] = []
        # Per context, so each client thread (and the pool threads its
        # calls submit to) alternates traced and untraced operations.
        self.enabled: contextvars.ContextVar[bool] = contextvars.ContextVar(
            "perfbench_enabled", default=False
        )
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._current: contextvars.ContextVar[Span | None] = contextvars.ContextVar(
            "perfbench_span", default=None
        )
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled.get():
            yield None
            return
        parent = self._current.get()
        s = Span(
            next(self._ids), name, time.time(),
            parent=parent.id if parent else None,
            op=op if op is not None else (parent.op if parent else None),
            attrs=attrs,
        )
        token = self._current.set(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._current.reset(token)
            with self._lock:
                self.spans.append(s)

    def _wrapper(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled.get():
                return fn(*args, **kwargs)
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
            if name == "versioned.resolve":
                # After the span closes, so the count is not in resolve_ms.
                from lakehouse import scan_stats

                s.attrs.update(scan_stats(out, args[1], kwargs.get("version")))
            return out

        return traced

    def install(self) -> None:
        for mod_name, attr, name in WRAPPED:
            owner = importlib.import_module(f"{_PKG}.{mod_name}")
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            orig = owner.__dict__[leaf] if isinstance(owner, type) else getattr(owner, leaf)
            self._restore.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrapper(orig, name))
        submit = concurrent.futures.ThreadPoolExecutor.submit
        self._restore.append((concurrent.futures.ThreadPoolExecutor, "submit", submit))

        def submit_in_context(pool, fn, /, *args, **kwargs):
            ctx = contextvars.copy_context()
            return submit(pool, ctx.run, fn, *args, **kwargs)

        concurrent.futures.ThreadPoolExecutor.submit = submit_in_context

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._restore):
            setattr(owner, leaf, orig)
        self._restore.clear()

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def dump(self, path: str, ops: list[dict]) -> None:
        """Spans as JSON lines, then one ``{"operation": ...}`` line per op."""
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, "attrs": s.attrs,
                }) + "\n")
            for op in ops:
                f.write(json.dumps({"operation": op}) + "\n")


def descendants(children: dict, root: Span) -> list[Span]:
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop().id, ()):
            out.append(c)
            stack.append(c)
    return out


class SparkCounters:
    """Spark's per-job and per-stage work counters, read from the
    application status store (filled even with the UI disabled)."""

    FIELDS = (
        "jobs", "stages", "tasks", "executor_cpu_ms", "gc_ms",
        "shuffle_write_bytes", "spill_bytes",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._next = 0
        self.mark()

    def _exists(self, job_id: int) -> bool:
        try:
            self._store.job(job_id)
            return True
        except Exception:  # py4j NoSuchElementException: not submitted yet
            return False

    def mark(self) -> list[int]:
        """Job ids submitted since the previous mark."""
        self._bus.waitUntilEmpty()
        start = self._next
        while self._exists(self._next):
            self._next += 1
        return list(range(start, self._next))

    def summarize(self, job_ids: list[int], wall: tuple[float, float]) -> dict:
        """Work counters of ``job_ids`` plus ``driver_only_ms``: the part
        of the wall interval during which none of those jobs ran."""
        out = dict.fromkeys(self.FIELDS, 0)
        intervals, stage_ids = [], set()
        for j in job_ids:
            job = self._store.job(j)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            stage_ids.update(self.sc.statusTracker().getJobInfo(j).stageIds)
        out["jobs"] = len(job_ids)
        for sid in stage_ids:
            st = self._store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["gc_ms"] += st.jvmGcTime()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        busy = _union_length(intervals, *wall)
        out["driver_only_ms"] = max(0.0, (wall[1] - wall[0]) - busy) * 1e3
        return out


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
