"""Table catalog: load the lakehouse tables and register SQL views.

The driver test data is a TPC-H-ish star schema plus ``events``
(streaming analog of the reference's observation stream),
``documents`` and ``embeddings`` (training-data operators). See
/root/repo/FIXTURES.md. At 100 TB these would be partitioned
Parquet/Delta tables; the loader is path-based so the same code serves
both layouts (a partitioned table is just a directory of files to
``spark.read.parquet``).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _read(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read that normalizes timestamp physical types.

    Driver-generated data has shipped ``events.ts`` both as
    timestamp[ns] and as timestamp[us] with isAdjustedToUTC=false, and
    the generator can change between rounds, so the scan chokepoint
    tolerates both:

    - nanos: Spark's TimestampType is microsecond-precision and Spark 4
      rejects parquet nanos outright ([PARQUET_TYPE_ILLEGAL]). We read
      nanos as raw int64 (legacy conf, runtime-settable) and
      floor-divide to micros — exactly DuckDB's ns→us truncation, so
      oracles agree. Integer division (`div`), not `/`: double division
      is lossy above 2^53.
    - tz-less micros: Spark 4 infers TIMESTAMP_NTZ by default, which
      half the temporal functions (unix_micros, window, watermarks)
      reject. Disabling the inference reads them as session-local
      TIMESTAMP; with the UTC session invariant (session.py) the values
      match DuckDB's naive timestamps bit-for-bit.

    Both confs are runtime-settable, so this holds even under the
    external driver's own SparkSession, which we don't configure.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(path)
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Read every catalog table from ``sf_dir`` and (optionally) register
    each as a temp view so ``spark.sql`` queries can name them directly.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = _read(spark, path)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a single catalog table (no view registration)."""
    return _read(spark, os.path.join(sf_dir, f"{name}.parquet"))


def spread_scan(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a *small* scan before CPU-heavy narrow work.

    A tiny parquet table arrives as 1-2 input splits
    (``maxPartitionBytes`` windows), so an expensive interpreted stage
    downstream — JSON parse, higher-order-function shingling, an Arrow
    UDF — runs on 1-2 of the cluster's cores while the rest idle. One
    cheap shuffle of the narrow input buys full parallelism; measured
    5x on the nested JSON melt at sf0.1 (3.3s -> 0.65s on local[32]).

    No-op when the scan already has enough splits: at 100 TB the scan
    has thousands of partitions and this never fires, so the shuffle
    is only ever paid on inputs small enough for it to be free.

    Split count can OVERSTATE achievable parallelism: parquet reads
    are row-group-grained (a row group goes to the split holding its
    midpoint), so a one-row-group 90 MB file still yields
    ``maxPartitionBytes``-many "splits" of which all but one are
    empty — the whole scan, and every narrow stage fused onto it, runs
    on ONE core while 31 report instantly done (this was
    ``pivot_long_to_wide``'s 1.54 per-copy superlinear flag at the 8x
    probe: the probe corpus is a single coalesced file). When the scan
    is few enough files for this to be possible, the true grain is the
    ROW-GROUP count, read from the footers — a metadata-only check.
    With >= floor files the scan parallelizes per-file regardless of
    row-group layout, so at 100 TB (thousands of files) no footer is
    ever read.

    Use AFTER scan-level filters/projections (so pushdown still reaches
    the parquet reader) and BEFORE the CPU-heavy expressions.
    """
    sc = df.sparkSession.sparkContext
    target = partitions or sc.defaultParallelism
    floor = max(2, target // 2)
    nsplits = df.rdd.getNumPartitions()
    if nsplits < floor:
        return df.repartition(target)
    groups = _scan_row_groups(df, floor)
    if groups is None:
        # Footers unreadable (no pyarrow driver for this filesystem, an
        # unhandled scheme, credentials): the true grain is UNKNOWN.
        # Fail safe toward the repartition only while the shuffle is
        # provably cheap — the split count bounds the scan bytes from
        # above (each split <= maxPartitionBytes), so a small
        # splits*maxPartitionBytes product caps the shuffle cost. Above
        # the cap, assume the splits are honest: a multi-GB scan is
        # almost never one coalesced row group, and unconditionally
        # shuffling it on EVERY query (the failure mode of treating
        # unreadable as "repartition") costs far more than the rare
        # under-parallelized hit.
        raw = df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)
        )
        return df.repartition(target) if _cheap_shuffle(nsplits, raw) else df
    if groups < floor:
        return df.repartition(target)
    return df


# The unknown-grain fail-safe budget: a shuffle bounded by this many
# bytes (splits x maxPartitionBytes upper-bounds the scan) is "free
# enough" to pay for the chance the footers hide one coalesced row
# group; anything bigger trusts the split count.
_UNKNOWN_GRAIN_SHUFFLE_BUDGET = 2 * 1024**3


def _cheap_shuffle(nsplits: int, max_partition_bytes: str) -> bool:
    """True when ``nsplits`` splits of at most ``max_partition_bytes``
    each (Spark size-string: plain bytes or a k/m/g[b] suffix) fit the
    unknown-grain shuffle budget."""
    raw = max_partition_bytes.strip().lower()
    m = re.match(r"(\d+)", raw)
    mpb = int(m.group(1)) if m else 128 * 1024**2
    for suffix, mult in (("k", 1024), ("m", 1024**2), ("g", 1024**3)):
        if raw.rstrip("b").endswith(suffix):
            mpb *= mult
            break
    return nsplits * mpb <= _UNKNOWN_GRAIN_SHUFFLE_BUDGET


# Footer results keyed by (path, mtime, size): the gate runs per
# QUERY, and the suite asks about the same handful of testdata files
# hundreds of times a session — each footer open is a file-open plus
# a metadata parse that the key makes free on every re-ask. Bounded:
# only small scans (< floor files) ever reach a footer, and the cap
# below evicts wholesale if a pathological session churns paths.
_FOOTER_CACHE: dict[str, tuple[tuple, int]] = {}
_FOOTER_CACHE_CAP = 4096


def _row_group_count(uri: str) -> int | None:
    """Row groups in one parquet file, by footer only. ``None`` means
    the footer could not be read. Local paths are stat-cached; remote
    URIs (hdfs://, s3a://, ...) go through ``pyarrow.fs`` — the gate
    was motivated by coarse-row-group files on real clusters, so the
    check must not silently pass exactly there (ADVICE r10)."""
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq

    parsed = urlparse(uri) if "://" in uri else None
    if parsed is None or parsed.scheme in ("", "file"):
        path = unquote(parsed.path) if parsed else uri
        try:
            key = (os.path.getmtime(path), os.path.getsize(path))
            hit = _FOOTER_CACHE.get(path)
            if hit is not None and hit[0] == key:
                return hit[1]
            n = pq.ParquetFile(path).num_row_groups
        except Exception:
            return None
        if len(_FOOTER_CACHE) >= _FOOTER_CACHE_CAP:
            _FOOTER_CACHE.clear()
        _FOOTER_CACHE[path] = (key, n)
        return n
    try:
        from pyarrow import fs as pafs

        # Hadoop's s3a/s3n schemes are S3 to pyarrow.
        canonical = re.sub(r"^s3[an]://", "s3://", uri)
        filesystem, fpath = pafs.FileSystem.from_uri(canonical)
        # Remote footers are the EXPENSIVE ones (a network round trip
        # per parse) — cache them like local files, keyed by the
        # remote (mtime, size) so an overwritten object re-parses.
        info = filesystem.get_file_info(fpath)
        key = (info.mtime, info.size)
        hit = _FOOTER_CACHE.get(uri)
        if hit is not None and hit[0] == key:
            return hit[1]
        with filesystem.open_input_file(fpath) as fh:
            n = pq.ParquetFile(fh).num_row_groups
        if len(_FOOTER_CACHE) >= _FOOTER_CACHE_CAP:
            _FOOTER_CACHE.clear()
        _FOOTER_CACHE[uri] = (key, n)
        return n
    except Exception:
        return None


def _scan_row_groups(df: DataFrame, floor: int) -> int | None:
    """Achievable read parallelism of ``df``'s scan: total parquet row
    groups across its input files. Returns ``floor`` (meaning "enough,
    don't repartition") when the check doesn't apply — non-file or
    non-parquet sources, >= floor files (per-file parallelism already
    suffices). Returns ``None`` when a footer is UNREADABLE (no
    pyarrow driver for the filesystem, unhandled scheme, credentials):
    the grain is unknown, and the caller decides by shuffle cost —
    assuming "enough" unconditionally re-opens the coarse-row-group
    hole exactly where the r9 probe flag lived (ADVICE r10), while
    assuming "repartition" unconditionally taxes every multi-GB
    few-file scan with a full shuffle per query."""
    try:
        files = df.inputFiles()
    except Exception:
        return floor
    if not files or len(files) >= floor:
        return floor
    from urllib.parse import unquote, urlparse

    paths = [
        unquote(urlparse(f).path) if "://" in f else f for f in files
    ]
    if not all(p.endswith(".parquet") for p in paths):
        return floor
    total = 0
    for f in files:
        n = _row_group_count(f)
        if n is None:
            return None
        total += n
    return total
