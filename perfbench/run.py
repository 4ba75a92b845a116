"""Workload benchmark for the gas lakehouse engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run generates its inputs from the
seed, stages them as parquet, sets up a fresh store, drives the public
``GasDataEngine`` API for about ``--seconds`` seconds (long operations
are counted from it, see NOMINAL_S), checks every output and
prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones of :mod:`metrics`; with ``--trace 1`` the
per-layer ones, and the spans are written to
``.perfbench/traces/<workload>-seed<seed>.jsonl``. The line before it is
a report with the workload-specific figures, their sample counts and
the run's environment (nproc, SPARK_GRAFT_CPUS, Spark version).

Everything a run writes lives under ``.perfbench/`` in the checkout and
its scratch directory is removed on every exit path. The exit code is 0
only when every check passed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORKLOADS = ("ingest_hourly", "api_reads", "mixed_lifecycle", "curation_corpus")
WARM_CYCLES = 1
# Long operations are counted, not timed: a run does round(seconds /
# nominal duration) of them, so the mix of work is the same whatever the
# host's speed. Short reads run for the time instead.
NOMINAL_S = {"ingest_hourly": 3.0, "mixed_lifecycle": 5.0, "curation_corpus": 20.0}
WARM_READS = 6  # the first six requests of the pattern cover every kind
API_VERSIONS = 5  # commits in the api_reads store: pre-fill + 4 cycles


class SetupError(RuntimeError):
    pass


def log(msg: str) -> None:
    """Phase timestamps on stderr (stdout carries only the results)."""
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


# ----------------------------------------------------------------------
# Process environment
# ----------------------------------------------------------------------


def prepare_scratch(workload: str, seed: int) -> str:
    """A fresh scratch directory under the checkout; Spark's local dirs,
    the JVM's and Python's temp files and the working directory all
    point into it, so nothing lands anywhere else."""
    scratch = os.path.join(CHECKOUT, ".perfbench", "tmp",
                           f"{workload}-{seed}-{uuid.uuid4().hex[:8]}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, [
        os.environ.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData",
    ]))
    os.chdir(scratch)
    return scratch


def start_spark():
    from gas_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def host_ref_ms() -> float:
    """A fixed single-threaded Python loop: how fast this host is now."""
    t = time.perf_counter()
    x = 0
    for i in range(400_000):
        x += i * i
    return (time.perf_counter() - t) * 1e3


def cpu_seconds(pids) -> float:
    """User + system CPU seconds of the given processes and their reaped
    children, from /proc."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def driver_pids(spark) -> list[int]:
    """This process and the JVM it launched."""
    return [os.getpid(), spark.sparkContext._gateway.proc.pid]


def peak_rss_mb(spark) -> float:
    """Summed VmHWM of the driver processes."""
    total_kb = 0
    for pid in driver_pids(spark):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


# ----------------------------------------------------------------------
# Operation harness
# ----------------------------------------------------------------------


class Harness:
    """Runs operations, untraced or (``--trace 1``) alternating traced
    and untraced per client so the overhead is measured in-process."""

    def __init__(self, spark, seconds: float, trace: bool, exclusive: bool):
        self.spark = spark
        self.seconds = seconds
        self.trace = trace
        self.exclusive = exclusive  # one operation at a time
        self.ops: list = []
        self._flip: dict[tuple[str, str], bool] = {}
        self._op_ids = itertools.count()
        self._lock = threading.Lock()
        self.t0 = self.t1 = 0.0
        self.setup_s = 0.0
        self.tracer = self.counters = None
        self.lake = None  # a Lakehouse: traced writes record its layout delta
        if trace:
            from tracing import SparkCounters, Tracer

            self.tracer = Tracer()
            self.tracer.install()
            self.counters = SparkCounters(spark)
            self.run_counters: dict | None = None

    def begin(self) -> None:
        self.setup_s = time.perf_counter() - T_START
        self.ref = [host_ref_ms() for _ in range(7)]
        self.pids = driver_pids(self.spark)
        self.cpu0 = cpu_seconds(self.pids)
        if self.counters:
            self.counters.mark()
            self._wall0 = time.time()
        self.t0 = time.perf_counter()
        self.deadline = self.t0 + self.seconds

    def running(self) -> bool:
        return time.perf_counter() < self.deadline

    def count(self, workload: str, minimum: int = 1) -> int:
        """How many long operations (cycles, scheduler steps, passes) a
        run of ``seconds`` does."""
        return max(minimum, round(self.seconds / NOMINAL_S[workload]))

    def end(self) -> None:
        self.t1 = time.perf_counter()
        self.cpu1 = cpu_seconds(self.pids)
        self.ref += [host_ref_ms() for _ in range(7)]
        if self.counters:
            jobs = self.counters.mark()
            self.run_counters = self.counters.summarize(jobs, (self._wall0, time.time()))

    def run(self, fn, kind: str, client: str, *args, traced: bool | None = None):
        from lakehouse import run_op

        if not self.trace:
            return run_op(self.ops, fn, kind, client, *args)
        if traced is None:
            with self._lock:
                key = (client, kind)
                traced = self._flip[key] = not self._flip.get(key, False)
        if not traced:
            return run_op(self.ops, fn, kind, client, *args)
        writes = self.lake is not None and kind in ("ingest_cycle", "maint_op")
        before = self.lake.layout() if writes else None
        if self.exclusive:
            self.counters.mark()
        token = self.tracer.enabled.set(True)
        try:
            with self.tracer.span(kind, op=next(self._op_ids)) as span:
                op = run_op(self.ops, fn, kind, client, *args)
        finally:
            self.tracer.enabled.reset(token)
        op.traced, op.span = True, span
        if self.exclusive:
            op.spark = self.counters.summarize(self.counters.mark(), (span.start, span.end))
        if writes:
            op.attrs.update(self.lake.layout_delta(before, op))
        return op


# ----------------------------------------------------------------------
# Workloads
# ----------------------------------------------------------------------


def _setup_ops(fn, *args) -> None:
    from lakehouse import run_op

    ops: list = []
    run_op(ops, fn, "setup", "setup", *args)
    if ops[0].error:
        raise SetupError(ops[0].error)


def run_lakehouse(workload: str, spark, work: str, seed: int, h: Harness) -> dict:
    from lakehouse import Lakehouse
    from oracle import check_lakehouse

    if workload == "api_reads":
        max_polls = API_VERSIONS - 1
    else:
        max_polls = WARM_CYCLES + h.count(workload)
    lh = Lakehouse(spark, work, seed, max_polls)
    log(f"staged {len(lh.pages)} poll pages")
    if h.trace:
        h.lake = lh
    # Set-up: pre-fill, warm-up cycles (api_reads: its versions), warm-up
    # reads of every kind.
    n_setup = max_polls + 1 if workload == "api_reads" else 1 + WARM_CYCLES
    for _ in range(n_setup):
        _setup_ops(lh.ingest)
        log(f"set-up ingest of poll {lh.next_poll - 1} committed")
    if workload != "ingest_hourly":
        for _ in range(WARM_READS):
            _setup_ops(lh.read, lh.requests.next())
        log("warm-up reads done")

    scheduling = threading.Event()

    def scheduler():
        while lh.has_page():
            h.run(lh.ingest, "ingest_cycle", "scheduler")
            if workload == "mixed_lifecycle":
                # One maintenance op per cycle, in rotation; traced runs
                # trace every one, since each kind comes once per four steps.
                h.run(lh.maintain, "maint_op", "scheduler", traced=h.trace)
        scheduling.clear()

    def reader():
        # Alongside the scheduler (mixed_lifecycle), reads last exactly as
        # long as its steps, so every write runs under the same read load.
        busy = scheduling.is_set if workload == "mixed_lifecycle" else h.running
        while busy():
            req = lh.requests.next()
            h.run(lh.read, req["kind"], "reader", req)

    h.begin()
    if workload == "ingest_hourly":
        scheduler()
    elif workload == "api_reads":
        reader()
    else:
        scheduling.set()
        threads = [threading.Thread(target=f, name=f.__name__)
                   for f in (scheduler, reader)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    h.end()
    log(f"timed region done: {len(h.ops)} operations")
    figures = check_lakehouse(lh, h.ops)
    log("checks done")
    return figures


def run_curation(spark, work: str, seed: int, h: Harness) -> dict:
    from corpus import STEPS, Curation
    from oracle import check_corpus

    cur = Curation(spark, work, seed)
    log("staged the corpus")
    errors = [op.error for op in cur.warm_up() if op.error]
    if errors:
        raise SetupError(errors[0])
    log("warm-up pass done")
    h.begin()
    passes = []
    # A traced run alternates traced and untraced whole passes, so it
    # needs two of them.
    for n in range(1, h.count("curation_corpus", 2 if h.trace else 1) + 1):
        start = time.perf_counter()
        for step in STEPS:
            h.run(cur.step, step, "driver", n, traced=h.trace and n % 2 == 1)
        passes.append(time.perf_counter() - start)
    h.end()
    figures = check_corpus(cur.corpus, h.ops)
    figures["passes_s"] = passes
    figures["n_docs"] = len(cur.corpus.texts)
    return figures


# ----------------------------------------------------------------------
# Per-layer metrics
# ----------------------------------------------------------------------


def per_layer_metrics(h: Harness, figures: dict, rss: float) -> dict:
    import metrics as M
    from lakehouse import KIND_GROUP
    from tracing import descendants

    values = dict.fromkeys(M.PER_LAYER, 0.0)
    children = h.tracer.children()
    by_id = {s.id: s for s in h.tracer.spans}
    traced = [op for op in h.ops if op.traced and op.error is None]

    def group_of(op) -> str:
        if op.kind in KIND_GROUP:
            return KIND_GROUP[op.kind]
        if op.kind in M.CURATION_STEPS:
            return "curation_pass"
        return op.kind

    def under(span, name) -> bool:
        p = by_id.get(span.parent)
        while p is not None:
            if p.name == name:
                return True
            p = by_id.get(p.parent)
        return False

    def span_sum(op, name, skip_under=None) -> tuple[float, int]:
        spans = [s for s in descendants(children, op.span) if s.name == name
                 and not (skip_under and under(s, skip_under))]
        return sum(s.ms for s in spans), len(spans)

    groups: dict[str, list] = {}
    for op in traced:
        groups.setdefault(group_of(op), []).append(op)

    for group, ops in groups.items():
        if ops[0].spark is not None:
            # Curation counters are per pass: the sum over its steps.
            n = len({o.params["pass"] for o in ops}) if group == "curation_pass" else len(ops)
            for f in M.SPARK_FIELDS:
                values[f"{group}.spark.{f}"] = sum(o.spark[f] for o in ops) / n
        if group == "ingest_cycle":
            layer = {
                "bronze.append_ms": ("bronze.append", None),
                "dims.insert_ms": ("dims.insert", "discovery"),
                "discovery.ms": ("discovery", None),
                "versioned.upsert_ms": ("versioned.upsert", None),
                "versioned.publish_ms": ("versioned.publish", None),
            }
            for metric, (name, skip) in layer.items():
                values[f"{group}.{metric}"] = M.mean([span_sum(o, name, skip)[0] for o in ops])
            values[f"{group}.versioned.upsert_attempts"] = M.mean(
                [span_sum(o, "versioned.upsert_attempt")[1] for o in ops])
            for key in ("versioned.files_written", "versioned.bytes_written",
                        "versioned.partitions_rewritten", "versioned.manifest_bytes",
                        "bronze.bytes_per_input_byte"):
                values[f"{group}.{key}"] = M.mean([o.attrs[key] for o in ops])
        if group in ("ingest_cycle", "history", "data", "snapshot_read"):
            values[f"{group}.versioned.read_manifest_ms"] = M.mean(
                [span_sum(o, "versioned.read_manifest")[0] for o in ops])
            values[f"{group}.versioned.read_manifest_calls"] = M.mean(
                [span_sum(o, "versioned.read_manifest")[1] for o in ops])
        if group in ("history", "data", "snapshot_read"):
            resolves = [s for o in ops for s in descendants(children, o.span)
                        if s.name == "versioned.resolve"]
            values[f"{group}.versioned.resolve_ms"] = M.mean(
                [span_sum(o, "versioned.resolve")[0] for o in ops])
            values[f"{group}.versioned.files_scanned"] = M.mean(
                [s.attrs["files_scanned"] for s in resolves])
            values[f"{group}.versioned.files_admitted_ratio"] = M.mean(
                [s.attrs["files_admitted_ratio"] for s in resolves])
        if group == "maint_op":
            for kind, name in (("compact", "versioned.compact"), ("delete_mor", "versioned.delete"),
                               ("erase", "versioned.erase"), ("vacuum", "versioned.vacuum")):
                values[f"maint_op.{name}_ms"] = M.mean(
                    [span_sum(o, name)[0] for o in ops if o.params["op"] == kind])
            values["maint_op.versioned.bytes_rewritten"] = M.mean(
                [o.attrs["versioned.bytes_written"] for o in ops])
        if group == "curation_pass":
            for step, name in M.CURATION_STEPS.items():
                steps = [o for o in ops if o.kind == step]
                values[name] = M.mean([o.ms for o in steps])
                for f in ("jobs", "tasks", "executor_cpu_ms"):
                    values[f"{step}.spark.{f}"] = M.mean([o.spark[f] for o in steps])
            values["dedup.pairs_out"] = M.mean(
                [len(o.result) for o in ops if o.kind == "dedup_minhash"])

    n_ops = len([op for op in h.ops if op.client != "check"]) or 1
    for f in M.SPARK_FIELDS:
        values[f"all_ops.spark.{f}"] = h.run_counters[f] / n_ops
    if "ann_recall_at_10" in figures:
        values["quality.ann_recall_at_10"] = figures["ann_recall_at_10"]
        values["quality.dedup_pair_recall"] = figures["dedup_pair_recall"]
    if figures.get("live_observations"):
        values["store.bytes_per_obs"] = figures["store_bytes"] / figures["live_observations"]
    values["memory.peak_rss_mb"] = rss
    values["trace.overhead_ratio"] = overhead_ratio(h)
    return values


# ----------------------------------------------------------------------
# End-to-end metrics and the report
# ----------------------------------------------------------------------


def latency_groups(ops: list) -> dict[str, list[float]]:
    """Per report group: the latencies (ms) of successful timed ops."""
    from lakehouse import KIND_GROUP

    out: dict[str, list[float]] = {}
    for op in ops:
        if op.error is not None or op.client == "check":
            continue
        if op.kind in KIND_GROUP:
            out.setdefault(op.kind, []).append(op.ms)
            out.setdefault(KIND_GROUP[op.kind], []).append(op.ms)
        elif op.kind in ("ingest_cycle", "maint_op"):
            out.setdefault(op.kind, []).append(op.ms)
    return out


def obs_rate(cycles) -> float:
    """Observations committed per second of ingest-cycle wall time."""
    secs = sum(o.ms / 1e3 for o in cycles)
    return sum(o.work for o in cycles) / secs if secs else 0.0


def e2e_metrics(workload: str, h: Harness, figures: dict) -> dict:
    """The END_TO_END table's values (metrics.py defines each per workload)."""
    import metrics as M

    lat = latency_groups(h.ops)
    cycles = [op for op in h.ops if op.kind == "ingest_cycle" and op.error is None]
    if workload == "curation_corpus":
        passes = figures["passes_s"]
        p50 = M.median(passes) * 1e3
        work = figures["n_docs"] * len(passes) / sum(passes)
    elif workload == "ingest_hourly":
        p50, work = M.median(lat.get("ingest_cycle", [])), obs_rate(cycles)
    else:
        kinds = ("history", "data", "data_nested", "travel", "changelog")
        p50 = M.geomean([M.median(lat.get(k, [])) for k in kinds])
        if workload == "api_reads":
            work = sum(len(lat.get(k, [])) for k in kinds) / (h.t1 - h.t0)
        else:
            work = obs_rate(cycles)
    return {"setup_s": h.setup_s, "op_p50_ms": p50, "work_per_s": work}


def report(workload: str, seed: int, h: Harness, figures: dict, rss: float,
           attempted: int, failed: int, spark) -> dict:
    """The workload's figures under their descriptive names, with units
    and sample counts, plus the environment stamp."""
    import metrics as M
    import pyspark

    lat = latency_groups(h.ops)
    out: dict = {}

    def put(name, value, unit, n=None, pct=None):
        entry = {"value": value, "unit": unit}
        if n is not None:
            entry["n"] = n
        if pct is not None:
            entry["percentile"] = pct
        out[name] = entry

    put("setup_s", h.setup_s, "s")
    put("host_ref_ms", M.median(h.ref), "ms", len(h.ref))
    put("timed_wall_s", h.t1 - h.t0, "s")
    ops_n = len([o for o in h.ops if o.client != "check"])
    put("cpu_s_per_op", (h.cpu1 - h.cpu0) / ops_n, "s", ops_n)
    scale = {"ingest_cycle": ("s", 1e-3), "maint_op": ("s", 1e-3)}
    for group, name in (("ingest_cycle", "ingest_cycle"), ("history", "history"),
                        ("data", "data"), ("snapshot_read", "snapshot_read"),
                        ("maint_op", "maint_op")):
        xs = lat.get(group)
        if not xs:
            continue
        unit, k = scale.get(group, ("ms", 1.0))
        put(f"{name}_p50_{unit}", M.median(xs) * k, unit, len(xs))
        if group != "snapshot_read" and group != "maint_op":
            pct, v = M.tail(xs)
            if pct is not None:
                put(f"{name}_tail_{unit}", v * k, unit, len(xs), pct)
    reads = [ms for k in ("history", "data", "snapshot_read") for ms in lat.get(k, [])]
    if reads:
        put("read_mean_ms", M.mean(reads), "ms", len(reads))
    cycles = [op for op in h.ops if op.kind == "ingest_cycle" and op.error is None]
    if cycles:
        put("ingest_obs_per_s", obs_rate(cycles), "1/s", len(cycles))
    if "passes_s" in figures:
        put("curation_pass_s", M.median(figures["passes_s"]), "s", len(figures["passes_s"]))
        put("ann_recall_at_10", figures["ann_recall_at_10"], "ratio")
        put("dedup_pair_recall", figures["dedup_pair_recall"], "ratio")
    if figures.get("live_observations"):
        put("store_bytes_per_obs", figures["store_bytes"] / figures["live_observations"], "bytes")
    put("peak_rss_mb", rss, "MB")
    put("failed_op_ratio", failed / attempted, "ratio", attempted)
    return {
        "workload": workload, "seed": seed, "seconds": h.seconds,
        "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_version": spark.version, "pyspark_version": pyspark.__version__,
        "metrics": out,
        "errors": sorted({op.error for op in h.ops if op.error})[:5],
    }


# ----------------------------------------------------------------------
# Main
# ----------------------------------------------------------------------


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(CHECKOUT, "gas_data_pipeline_spark")):
        print(f"engine package not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, CHECKOUT]
    scratch = prepare_scratch(args.workload, args.seed)

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    spark = None
    try:
        spark = start_spark()
        log("spark started")
        work = os.path.join(scratch, "work")
        os.makedirs(work)
        exclusive = args.workload != "mixed_lifecycle"
        h = Harness(spark, args.seconds, bool(args.trace), exclusive)
        if args.workload == "curation_corpus":
            figures = run_curation(spark, work, args.seed, h)
        else:
            figures = run_lakehouse(args.workload, spark, work, args.seed, h)
        rss = peak_rss_mb(spark)
        attempted = len(h.ops)
        failed = sum(1 for op in h.ops if op.error)
        if args.trace:
            metrics = per_layer_metrics(h, figures, rss)
            trace_dir = os.path.join(CHECKOUT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            h.tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"),
                          [op_record(op) for op in h.ops])
            h.tracer.uninstall()
        else:
            metrics = e2e_metrics(args.workload, h, figures)
        print(json.dumps(report(args.workload, args.seed, h, figures, rss,
                                attempted, failed, spark)))
        import metrics as M

        table = M.PER_LAYER if args.trace else M.END_TO_END
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": table[k][0]} for k in table},
        }
        print(json.dumps(result), flush=True)
        return 0 if failed == 0 else 1
    except SetupError as exc:
        print(f"set-up failed: {exc}", file=sys.stderr)
        return 3
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(CHECKOUT)
        shutil.rmtree(scratch, ignore_errors=True)


def op_record(op) -> dict:
    """One operation as a trace-file line (results are not written)."""
    return {
        "kind": op.kind, "client": op.client, "start": op.start, "ms": op.ms,
        "params": {k: str(v) for k, v in op.params.items()}, "traced": op.traced,
        "span": op.span.id if op.span else None, "spark": op.spark,
        "attrs": op.attrs, "error": op.error,
    }


def overhead_ratio(h: Harness) -> float:
    """Traced ÷ untraced median latency, per op kind, geometric mean."""
    import metrics as M

    kinds = {op.kind for op in h.ops if op.client != "check"}
    ratios = []
    for k in kinds:
        t = [op.ms for op in h.ops if op.kind == k and op.traced and not op.error]
        u = [op.ms for op in h.ops if op.kind == k and not op.traced and not op.error
             and op.client != "check"]
        if t and u:
            ratios.append(M.median(t) / M.median(u))
    return M.geomean(ratios)


if __name__ == "__main__":
    sys.exit(main())
