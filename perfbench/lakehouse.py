"""Lakehouse workloads: the hourly scheduler, the read API clients, and
both at once against one store.

- ``ingest_hourly``: closed loop, one client. Each cycle reads one staged
  poll page and calls ``ingest_batch`` (default ``collect_stats=True``).
- ``api_reads``: closed loop, one client, on a pre-built store with no
  writes: ``get_history`` over explicit 7-day ranges, paged ``get_data``
  (some nested), time travel and adjacent-version changelogs.
- ``mixed_lifecycle``: two client threads on one store. The scheduler
  runs ingest cycles back to back and one maintenance operation after
  each cycle (erase, merge-on-read delete, compact, vacuum in rotation);
  the other thread is an ``api_reads`` client.

Every operation's result is kept and checked after the timed region
against :mod:`oracle`.
"""

from __future__ import annotations

import calendar
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import gen

KINDS = ("history", "data", "travel", "history", "data_nested", "changelog",
         "history", "data")
# Report grouping of request kinds (time travel and changelog are both
# snapshot reads).
KIND_GROUP = {
    "history": "history", "data": "data", "data_nested": "data",
    "travel": "snapshot_read", "changelog": "snapshot_read",
}
MAINTENANCE = ("erase", "delete_mor", "compact", "vacuum")
# Historical snapshots kept readable by vacuum in mixed_lifecycle; the
# reader only travels back a few versions, well inside this window.
RETAIN_VERSIONS = 8
DATA_LIMIT = 250
ZIPF_S = 1.1


def ts_us(dt) -> int:
    """Collected Spark timestamps are naive UTC (the run pins TZ=UTC)."""
    return calendar.timegm(dt.timetuple()) * 1_000_000 + dt.microsecond


@dataclass
class Op:
    kind: str
    client: str
    start: float
    end: float = 0.0
    params: dict = field(default_factory=dict)
    result: object = None
    versions: tuple = ()  # snapshot versions the result may reflect
    work: int = 0  # observations committed or rows returned
    error: str | None = None
    traced: bool = False
    span: object = None  # the op's root span, traced ops only
    spark: dict | None = None  # Spark work counters, traced ops only
    attrs: dict = field(default_factory=dict)  # layer figures, traced ops only

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Requests:
    """Seeded API request stream: a fixed cyclic kind pattern (so every
    seed has the same mix) with Zipf-skewed series choice and seeded
    windows, filters and pages."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 4])
        series = [gen.series_id(gen.site_name(s), m)
                  for s in range(gen.N_SITES) for m in gen.METRICS]
        self.series = [series[i] for i in self.rng.permutation(len(series))]
        w = 1.0 / np.arange(1, len(series) + 1) ** ZIPF_S
        self.p = w / w.sum()
        self.i = 0

    def _series(self) -> str:
        return self.series[int(self.rng.choice(len(self.series), p=self.p))]

    def _window(self, hours: int):
        # Windows end before the oldest hour a poll re-reads: the dims
        # and silver stores commit separately, so a get_data racing a
        # new site's first ingest could see one without the other.
        h = int(self.rng.integers(0, gen.HISTORY_HOURS - gen.LOOKBACK_HOURS - hours))
        return gen.hour_ts(h), gen.hour_ts(h + hours)

    def next(self) -> dict:
        kind = KINDS[self.i % len(KINDS)]
        self.i += 1
        if kind == "history":
            start, end = self._window(7 * 24)
            return {"kind": kind, "series": self._series(), "start": start, "end": end}
        if kind in ("data", "data_nested"):
            start, end = self._window(24)
            return {
                "kind": kind, "start": start, "end": end,
                "min_value": float(np.round(self.rng.uniform(0, 60), 1)),
                "quality_flag": "ok" if self.rng.random() < 0.5 else None,
                "offset": int(self.rng.integers(0, 4)) * DATA_LIMIT,
            }
        if kind == "travel":
            start, end = self._window(7 * 24)
            return {"kind": kind, "series": self._series(), "start": start,
                    "end": end, "back": int(self.rng.integers(1, 3))}
        return {"kind": kind, "back": int(self.rng.integers(0, 2))}


class Lakehouse:
    """One store, its staged pages, and the log of committed versions."""

    def __init__(self, spark, work_dir: str, seed: int, max_polls: int):
        from gas_data_pipeline_spark.engine import GasDataEngine

        self.spark = spark
        self.root = os.path.join(work_dir, "lake")
        self.engine = GasDataEngine(spark, self.root)
        stage_dir = os.path.join(work_dir, "staged")
        os.makedirs(stage_dir)
        feed = gen.PollFeed(seed, max_polls)
        self.pages = [feed.stage(p, stage_dir) for p in range(max_polls + 1)]
        self.next_poll = 0
        self.requests = Requests(seed)
        self.maint_rng = np.random.default_rng([seed, 5])
        self.maint_i = 0
        # (version, kind, payload) for every commit, in commit order.
        self.commits: list[tuple[int, str, object]] = []
        self.ingest_versions: list[int] = []
        self._lock = threading.Lock()

    # -- state ---------------------------------------------------------

    def version(self) -> int:
        m = read_manifest(self.engine.obs_path, with_stats=False)
        return m["version"] if m else 0

    def _log(self, kind: str, payload) -> int:
        v = self.version()
        with self._lock:
            if not self.commits or self.commits[-1][0] != v:
                self.commits.append((v, kind, payload))
                if kind == "ingest":
                    self.ingest_versions.append(v)
        return v

    # -- scheduler -----------------------------------------------------

    def has_page(self) -> bool:
        return self.next_poll < len(self.pages)

    def ingest(self, op: Op) -> None:
        page = self.pages[self.next_poll]
        self.next_poll += 1
        op.params = {"poll": self.next_poll - 1}
        counts = self.engine.ingest_batch(
            self.spark.read.parquet(page.path),
            gen.DATASET, gen.SOURCE, [gen.ID_COL], gen.TIME_COL,
        )
        op.end = time.perf_counter()
        op.result = counts
        op.work = page.observations
        expect = {"bronze_rows": page.rows, "observations": page.observations,
                  "new_series": page.new_series}
        if counts != expect:
            op.error = f"ingest counts {counts} != generated {expect}"
        op.versions = (self._log("ingest", page),)

    def maintain(self, op: Op) -> None:
        kind = MAINTENANCE[self.maint_i % len(MAINTENANCE)]
        self.maint_i += 1
        op.params = {"op": kind}
        e = self.engine
        if kind == "erase":
            sid = gen.series_id(
                gen.site_name(int(self.maint_rng.integers(0, gen.N_SITES))),
                gen.METRICS[int(self.maint_rng.integers(0, len(gen.METRICS)))],
            )
            op.params["series"] = sid
            e.erase_series([sid])
            payload = sid
        elif kind == "delete_mor":
            # Drops one metric's readings above a cap (the high-level sites).
            metric = gen.METRICS[int(self.maint_rng.integers(0, len(gen.METRICS)))]
            idx = gen.METRICS.index(metric)
            threshold = float(gen.SCALE[idx] * 1.45)
            op.params.update(metric=metric, threshold=threshold)
            e.delete_observations(
                F.col("series_id").endswith("_" + metric.upper())
                & (F.col("value") > threshold),
                mode="merge-on-read",
            )
            payload = (metric.upper(), threshold)
        elif kind == "compact":
            e.compact_silver()
            payload = None
        else:
            e.vacuum_silver(retain_last_n=RETAIN_VERSIONS, min_age_seconds=0.0)
            payload = None
        op.end = time.perf_counter()
        op.versions = (self._log(kind, payload),)

    # -- reader --------------------------------------------------------

    def read(self, op: Op, req: dict) -> None:
        """One API request. ``versions`` brackets the snapshots the
        result may reflect (a current-snapshot read racing a commit may
        see either side)."""
        e, kind = self.engine, req["kind"]
        op.params = {k: v for k, v in req.items() if k != "kind"}
        with self._lock:
            ingests = list(self.ingest_versions)
        v_lo = self.version()
        op.start = time.perf_counter()  # bookkeeping above is not timed
        if kind == "history":
            rows = e.get_history(req["series"], start=req["start"], end=req["end"]).collect()
            res = [(r.series_id, ts_us(r.observation_time), r.value) for r in rows]
        elif kind in ("data", "data_nested"):
            nested = kind == "data_nested"
            df = e.get_data(
                dataset_id=gen.DATASET, start=req["start"], end=req["end"],
                min_value=req["min_value"], quality_flag=req["quality_flag"],
                limit=DATA_LIMIT, offset=req["offset"], nested=nested,
            )
            rows = df.collect()
            if nested:
                res = sorted(
                    (r.series_id, tuple((ts_us(p.observation_time), p.value) for p in r.points))
                    for r in rows
                )
            else:
                res = [(r.series_id, ts_us(r.observation_time), r.value) for r in rows]
        elif kind == "travel":
            v = max(1, v_lo - req["back"])
            v_lo = v
            rows = (
                e.read_observations_at(version=v)
                .filter((F.col("series_id") == req["series"])
                        & F.col("observation_time").between(req["start"], req["end"]))
                .collect()
            )
            res = sorted((r.series_id, ts_us(r.observation_time), r.value) for r in rows)
        else:  # changelog between an ingest commit and its predecessor
            usable = [v for v in ingests if v > 1]
            v = usable[max(0, len(usable) - 1 - req["back"])]
            op.params["to_version"] = v
            v_lo = v
            rows = e.changelog(v - 1, v).collect()
            res = sorted(
                (r.series_id, ts_us(r.observation_time), r.change_type, r.n_changed_cols)
                for r in rows
            )
        op.end = time.perf_counter()
        op.result = res
        op.work = len(rows)
        if kind in ("travel", "changelog"):
            op.versions = (v_lo,)
        else:
            op.versions = tuple(range(v_lo, self.version() + 1))

    # -- layout (traced runs) ------------------------------------------

    def layout(self) -> tuple:
        """What a write is measured against: the manifest, the store's
        files and the bronze size."""
        root = self.engine.obs_path
        m = read_manifest(root)
        return m, store_files(root, m), dir_bytes(self.engine.bronze_path)

    def layout_delta(self, before: tuple, op: Op) -> dict:
        """Layer figures of the write ``op`` made since ``before``."""
        root, (m0, files0, bronze0) = self.engine.obs_path, before
        m1 = read_manifest(root)
        new = {f: b for f, b in store_files(root, m1).items() if f not in files0}
        p0 = (m0 or {}).get("partitions", {})
        out = {
            "versioned.files_written": len(new),
            "versioned.bytes_written": sum(new.values()),
            "versioned.partitions_rewritten": sum(
                1 for d, rel in (m1 or {}).get("partitions", {}).items() if p0.get(d) != rel
            ),
            "versioned.manifest_bytes": manifest_bytes(root, m1) if m1 else 0,
        }
        if op.kind == "ingest_cycle":
            page = self.pages[op.params["poll"]]
            out["bronze.bytes_per_input_byte"] = (
                dir_bytes(self.engine.bronze_path) - bronze0
            ) / os.path.getsize(page.path)
        return out

    # -- lifecycle -----------------------------------------------------

    def final_snapshot(self) -> list[tuple]:
        df = self.engine.read_observations_at().select(
            "series_id", F.unix_micros("observation_time").alias("t"), "value"
        )
        return [tuple(r) for r in df.toPandas().itertuples(index=False)]


def read_manifest(root: str, version: int | None = None, with_stats: bool = True):
    """The engine's manifest reader, unwrapped: the benchmark's own
    manifest reads must not show up as spans."""
    from gas_data_pipeline_spark.pipeline import versioned

    fn = versioned.read_manifest
    return getattr(fn, "__wrapped__", fn)(root, version, with_stats)


def data_files(root: str, m: dict | None) -> list[str]:
    """The data files a snapshot's partitions reference."""
    if not m:
        return []
    fstats = m.get("file_stats") or {}
    out = []
    for d, rel in m["partitions"].items():
        names = list(fstats.get(d) or ()) or [
            f for f in os.listdir(os.path.join(root, rel)) if f.endswith(".parquet")
        ]
        out += [os.path.join(root, rel, n) for n in names]
    return out


def store_files(root: str, m: dict | None) -> dict[str, int]:
    """Size of every data and deletion-vector file the snapshot references."""
    paths = data_files(root, m)
    for rels in ((m or {}).get("dv") or {}).values():
        for rel in rels:
            for d, _, fs in os.walk(os.path.join(root, rel)):
                paths += [os.path.join(d, f) for f in fs if f.endswith(".parquet")]
    return {p: os.path.getsize(p) for p in paths if os.path.isfile(p)}


def manifest_bytes(root: str, m: dict) -> int:
    total = os.path.getsize(os.path.join(root, "manifest.json"))
    for rel in (m.get("fs_shards") or {}).values():
        p = os.path.join(root, rel)
        if os.path.isfile(p):
            total += os.path.getsize(p)
    return total


def scan_stats(df, root: str, version: int | None) -> dict:
    """Files a resolved read scans, and their share of the snapshot's
    live data files."""
    scanned = len(df.inputFiles())
    live = len(data_files(root, read_manifest(root, version))) or 1
    return {"files_scanned": scanned, "files_admitted_ratio": scanned / live}


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def run_op(ops: list, fn, kind: str, client: str, *args) -> Op:
    op = Op(kind, client, time.perf_counter())
    try:
        fn(op, *args)
    except Exception as exc:  # a failed operation is counted, not fatal
        op.end = op.end or time.perf_counter()
        op.error = f"{type(exc).__name__}: {exc}"
    ops.append(op)
    return op
