"""Dimension maintenance: insert-if-absent and delete-reload (SNK3/SNK4).

The reference's ``ON CONFLICT DO NOTHING`` catalog upserts
(series_autoregister.py:55-56) and the GIE delete-reload
(gie/service.py:12-77) become set-based anti-join writes.
"""

from __future__ import annotations

import os
import shutil

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def insert_if_absent(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    keys: list[str],
    observation: Observation | None = None,
) -> DataFrame | None:
    """SNK3: append only the rows whose key is not already present
    (one left-anti join — never row-at-a-time probes). Returns the rows
    that were inserted, or None when no key is new: then nothing is
    written at all (a plain append of zero rows still leaves one empty
    part file, so a re-polled batch would grow the table by a file per
    cycle).

    ``observation``, when given, counts the appended rows on the write
    itself (metric ``rows``) — no separate count job. It is attached
    only when the write runs, so read it only on a non-None return.

    The existing keys are read under the incoming keys' schema (the
    table holds what this function appended), so the read runs no
    schema-inference job. That side is NOT hint-broadcast: dimension
    key sets are usually tiny and AQE broadcasts them automatically
    under the session's autoBroadcastJoinThreshold, but a forced hint
    would OOM the driver if series cardinality ever exploded — let the
    runtime pick shuffle join in that regime.
    """
    new_rows = incoming.dropDuplicates(keys)
    if os.path.exists(path):
        existing_keys = (
            spark.read.schema(new_rows.select(*keys).schema).parquet(path)
        )
        new_rows = new_rows.join(existing_keys, keys, "left_anti")
        if new_rows.isEmpty():
            return None
    written = new_rows
    if observation is not None:
        written = written.observe(observation, F.count(F.lit(1)).alias("rows"))
    written.write.mode("append").parquet(path)
    return new_rows


def _swap_dirs(staging: str, path: str) -> None:
    """Promote ``staging`` over ``path`` by rename (no second data
    write). Not atomic on plain FS — single-writer assumption, same as
    the reference scheduler's ``max_instances=1``; on an object store /
    HDFS deployment this is the commit-protocol's job."""
    old = path + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)


# --- partition-directory naming -------------------------------------------
#
# Spark stores a null partition value as __HIVE_DEFAULT_PARTITION__ and
# percent-escapes specials ("#%':/ etc. — Hive's escapePathName,
# mirrored by Spark's ExternalCatalogUtils) in partition directory
# names. delete_reload never re-implements the escape: it UNescapes the
# actual listing and resolves every drop through that listing, so a
# drop of `source=a:b` finds `source=a%3Ab` instead of silently missing
# it and leaving deleted rows alive.

_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _partition_value_str(val) -> str | None:
    """Render a collected partition value the way Spark prints it into
    a partition directory (before escaping); None = null partition."""
    if val is None:
        return None
    if isinstance(val, bool):
        return "true" if val else "false"
    return str(val)


def _unescape_partition_name(name: str) -> str | None:
    """Inverse of Hive escapePathName for one ``col=value`` value."""
    if name == _HIVE_DEFAULT_PARTITION:
        return None
    out: list[str] = []
    i = 0
    while i < len(name):
        if name[i] == "%" and i + 3 <= len(name):
            try:
                out.append(chr(int(name[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(name[i])
        i += 1
    return "".join(out)


def _list_partition_dirs(path: str, partition_col: str) -> dict[str | None, str]:
    """Unescaped partition value-string -> directory name, from a pure
    filesystem listing — zero data-file bytes read."""
    prefix = partition_col + "="
    found: dict[str | None, str] = {}
    for d in os.listdir(path):
        if d.startswith(prefix) and os.path.isdir(os.path.join(path, d)):
            found[_unescape_partition_name(d[len(prefix) :])] = d
    return found


def delete_reload(
    spark: SparkSession,
    replacement: DataFrame,
    path: str,
    predicate,
    partition_col: str | None = None,
) -> dict:
    """SNK4: the GIE delete-then-reload — drop every existing row
    matching ``predicate`` (a Column), then append ``replacement``.
    Returns a small stats dict (``mode``, ``affected``, ``dropped``)
    so callers and tests can assert which execution path ran.

    Three regimes:

    - **partition-aligned** (the 100-TB path): ``partition_col`` given
      AND ``predicate`` references only ``partition_col``. Affected
      partitions are derived by evaluating the predicate over the
      *directory listing* — zero fact-file bytes are read for
      discovery. When the replacement covers every predicate-matched
      partition (the GIE case: reload exactly the dates you delete),
      the existing table is never read at all; otherwise only the
      replacement-only partitions are read for survivors, with
      directory-level pruning. One data-write pass via dynamic
      partition overwrite.
    - **predicate-scan**: ``partition_col`` given but the predicate
      touches data columns (delete-by-source over a date-partitioned
      table). Discovery is a column-pruned scan. At 100 TB, align the
      partition key with the delete key (as the GIE query does) or
      maintain a source->partition index so the aligned path applies.
    - **unpartitioned** (small dims): survivors ∪ replacement staged
      to a sibling directory and promoted by RENAME — one data write,
      no re-read-re-write cycle.

    Fully-deleted partitions (no survivors, no replacement rows) are
    dropped by directory remove using Spark's own partition-path
    escaping rules (null -> __HIVE_DEFAULT_PARTITION__, specials
    percent-escaped), matched against the actual listing so a miss
    raises instead of silently leaving deleted rows alive.
    """
    if not os.path.exists(path):
        w = replacement.write.mode("overwrite")
        if partition_col:
            w = w.partitionBy(partition_col)
        w.parquet(path)
        return {"mode": "create", "affected": set(), "dropped": []}

    pred = F.coalesce(predicate, F.lit(False))

    if partition_col:
        return _delete_reload_partitioned(
            spark, replacement, path, pred, partition_col
        )

    existing = spark.read.parquet(path)
    survivors = existing.filter(~pred)
    out = survivors.unionByName(replacement, allowMissingColumns=True)
    staging = path + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    out.write.mode("overwrite").parquet(staging)
    _swap_dirs(staging, path)
    return {"mode": "unpartitioned", "affected": set(), "dropped": []}


def _partition_member_filter(partition_col: str, typed_vals) -> F.Column:
    """Membership filter over partition values that treats None as the
    null partition. A bare ``isin`` evaluates ``col IN (NULL, ...)`` to
    NULL for null rows — silently excluding the
    __HIVE_DEFAULT_PARTITION__ rows from survivor sets."""
    non_null = [v for v in typed_vals if v is not None]
    cond = (
        F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    )
    if any(v is None for v in typed_vals):
        cond = cond | F.col(partition_col).isNull()
    return cond


def _delete_reload_partitioned(
    spark: SparkSession,
    replacement: DataFrame,
    path: str,
    pred,
    partition_col: str,
) -> dict:
    part_dirs = _list_partition_dirs(path, partition_col)

    # Replacement-side partition values: typed (for isin pruning) and
    # as directory strings (for set algebra with the listing). Bounded
    # by partition count, not rows.
    repl_typed = {
        r[0] for r in replacement.select(partition_col).distinct().collect()
    }
    repl_strs = {_partition_value_str(v) for v in repl_typed}

    # Aligned fast path: evaluate the predicate over the directory
    # listing itself. If the predicate references any column other
    # than partition_col this fails analysis and we fall back.
    dtype = None
    for f in replacement.schema.fields:
        if f.name == partition_col:
            dtype = f.dataType
    mode = "partition-aligned"
    try:
        if dtype is None:
            raise AnalysisException(
                f"partition column {partition_col} absent from replacement"
            )
        vals_df = (
            spark.createDataFrame(
                [(v,) for v in part_dirs], "__pv_str string"
            ).withColumn(partition_col, F.col("__pv_str").cast(dtype))
        )
        pred_strs = {
            r[0] for r in vals_df.filter(pred).select("__pv_str").collect()
        }
    except AnalysisException:
        mode = "predicate-scan"

    if mode == "partition-aligned":
        affected = pred_strs | repl_strs
        # Survivors exist only in replacement partitions the predicate
        # does NOT cover (their existing rows must ride along because
        # dynamic overwrite replaces whole partitions). The predicate
        # is constant within a partition here, so no row filter needed.
        keep_strs = (repl_strs - pred_strs) & set(part_dirs)
        if keep_strs:
            keep_typed = [
                v for v in repl_typed if _partition_value_str(v) in keep_strs
            ]
            existing = spark.read.parquet(path)
            survivors = existing.filter(
                _partition_member_filter(partition_col, keep_typed)
            )
            out = survivors.unionByName(replacement, allowMissingColumns=True)
        else:
            out = replacement
        # Partitions present after the write: exactly the replacement
        # partitions (survivors ride only in replacement partitions) —
        # known before the write, no post-write re-read (and no extra
        # job at all on this path).
        remaining = set(repl_strs)
    else:
        existing = spark.read.parquet(path)
        affected_typed = {
            r[0]
            for r in existing.filter(pred)
            .select(partition_col)
            .distinct()
            .collect()
        } | repl_typed
        affected = {_partition_value_str(v) for v in affected_typed}
        survivors = existing.filter(
            _partition_member_filter(partition_col, affected_typed)
        ).filter(~pred)
        # Pre-write: partitions that will exist after the write =
        # survivor partitions ∪ replacement partitions. Computed from
        # the pre-write inputs (partition-pruned to the affected set),
        # never by re-reading the just-rewritten table.
        remaining = {
            _partition_value_str(r[0])
            for r in survivors.select(partition_col).distinct().collect()
        } | repl_strs
        out = survivors.unionByName(replacement, allowMissingColumns=True)

    if remaining:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Redistribute on the partition key before partitionBy so file
        # count tracks partitions, not tasks x partitions (see
        # silver.upsert_observations).
        (
            out.repartition(F.col(partition_col))
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(path)
        )

    # Dynamic overwrite replaces only partitions present in `out`: a
    # fully-deleted partition must be dropped explicitly. Resolve each
    # value to the directory Spark actually wrote (escaped name from
    # the listing) — no ignore_errors, a miss is a bug.
    dropped = []
    for val in affected - remaining:
        dirname = part_dirs.get(val)
        if dirname is None:
            # Every droppable value came from the listing (aligned) or
            # from scanned data whose directory must exist (scan path);
            # a miss means the rendered value diverged from the on-disk
            # name (e.g. partition-type re-inference turning '05' into
            # 5) and the deleted rows would silently survive.
            raise RuntimeError(
                f"delete_reload: partition value {val!r} slated for drop "
                f"has no directory under {path} — rendered name diverged "
                "from the on-disk partition name"
            )
        shutil.rmtree(os.path.join(path, dirname))
        dropped.append(dirname)
    return {"mode": mode, "affected": affected, "dropped": dropped}
