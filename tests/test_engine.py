"""End-to-end GasDataEngine tests: the reference's API lifecycle
(ingest → discover → query → history → export) against a scratch
lakehouse, including the upsert-idempotency invariant the reference's
own ``test.py`` gestures at (zero-loss + re-ingest changes nothing).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


@pytest.fixture()
def engine(spark):
    from gas_data_pipeline_spark.engine import GasDataEngine

    root = tempfile.mkdtemp(prefix="gas_engine_")
    yield GasDataEngine(spark, root)
    shutil.rmtree(root, ignore_errors=True)


def _wide_batch(spark):
    """A gas-quality-shaped wide batch derived from events: entity key
    (user_id), event time, and two numeric measure columns."""
    from gas_data_pipeline_spark.catalog import table

    e = table(spark, SF_SMALL, "events").filter(F.col("user_id") < 5)
    return e.select(
        F.col("user_id").alias("site_id"),
        F.col("ts").alias("observed_at"),
        F.col("value").alias("flow_rate"),
        (F.col("value") * 2).alias("energy"),
    )


def test_ingest_then_query_roundtrip(engine, spark):
    batch = _wide_batch(spark)
    stats = engine.ingest_batch(
        batch,
        dataset_id="GAS_QUALITY",
        source="national_gas",
        id_cols=["site_id"],
        time_col="observed_at",
    )
    n_rows = batch.count()
    assert stats["bronze_rows"] == n_rows
    # Two numeric measure columns melt to 2 observations per row.
    assert stats["observations"] == 2 * n_rows
    # 5 sites x 2 metrics series auto-registered.
    assert stats["new_series"] == 10

    # Flagship query: filters + broadcast dim join + pagination.
    out = engine.get_data(dataset_id="GAS_QUALITY", limit=50).toPandas()
    assert len(out) == 50
    assert set(out.dataset_id) == {"GAS_QUALITY"}
    assert list(out.observation_time) == sorted(out.observation_time)

    # Offset pagination is stable and disjoint.
    p1 = engine.get_data(limit=20).toPandas()
    p2 = engine.get_data(limit=20, offset=20).toPandas()
    k1 = set(zip(p1.series_id, p1.observation_time))
    k2 = set(zip(p2.series_id, p2.observation_time))
    assert not (k1 & k2)

    # Nested API shape: one row per series, ordered points.
    nested = engine.get_data(nested=True).toPandas()
    assert len(nested) == 10
    pts = nested.iloc[0].points
    times = [p["observation_time"] for p in pts]
    assert times == sorted(times)


def test_reingest_is_idempotent(engine, spark):
    batch = _wide_batch(spark)
    engine.ingest_batch(
        batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
    )
    first = engine.get_data(limit=5000).toPandas()

    stats2 = engine.ingest_batch(
        batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
    )
    assert stats2["new_series"] == 0  # insert-if-absent: nothing new
    second = engine.get_data(limit=5000).toPandas()
    # Upsert of identical data changes nothing (values identical; only
    # ingestion_time advanced, which get_data doesn't project).
    assert len(first) == len(second)
    a = first.sort_values(["series_id", "observation_time"]).reset_index(drop=True)
    b = second.sort_values(["series_id", "observation_time"]).reset_index(drop=True)
    assert (a.value == b.value).all()


def _poll(spark, n_sites, hours, revision=0.0):
    """A small hourly poll page: ``n_sites`` sites x ``hours`` hours of
    two metrics, with a null reading every 7th cell and a null
    timestamp on one row (its readings melt to nothing)."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 3, 1)
    rows = []
    for s in range(n_sites):
        for h in range(hours):
            i = s * hours + h
            rows.append((
                s,
                None if i == 5 else t0 + timedelta(hours=h),
                None if i % 7 == 0 else float(i) + revision,
                None if i % 7 == 3 else 2.0 * i + revision,
            ))
    return spark.createDataFrame(
        rows, "site_id int, observed_at timestamp, flow_rate double, energy double"
    ), rows


def _parquet_files(path):
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def _job_ids(spark, group=None):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("atomic_silver", [True, False])
def test_ingest_stats_equal_recount(spark, tmp_path, atomic_silver):
    """The stats ``ingest_batch`` returns (observe metrics on the sink
    writes) equal an explicit recount on a first poll with nulls, a
    repeated poll with revised values, and a poll that adds a site —
    on both silver stores, whose upserts consume the batch differently."""
    from gas_data_pipeline_spark.engine import GasDataEngine

    engine = GasDataEngine(spark, str(tmp_path), atomic_silver=atomic_silver)

    def ingest(batch):
        return engine.ingest_batch(
            batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
        )

    def n_series():
        if not os.path.exists(engine.series_path):
            return 0
        return spark.read.parquet(engine.series_path).count()

    for n_sites, revision in ((3, 0.0), (3, 0.5), (4, 0.5)):
        batch, rows = _poll(spark, n_sites, hours=12, revision=revision)
        before = n_series()
        stats = ingest(batch)
        assert stats == {
            "bronze_rows": len(rows),
            "observations": sum(
                v is not None for r in rows if r[1] is not None for v in r[2:]
            ),
            "new_series": n_series() - before,
        }
        assert stats["bronze_rows"] == batch.count()
    assert n_series() == 8  # 4 sites x 2 metrics, each registered once


def test_ingest_stats_add_no_spark_job(engine, spark, monkeypatch):
    """Every Spark job of an ingest runs inside one of its four sinks:
    the stats come from observe metrics on the sink writes, so no count
    job runs before or after them. Jobs are told apart by job group —
    the sinks (on pool threads) tag theirs, the calling thread tags
    anything else."""
    from gas_data_pipeline_spark import engine as engine_mod
    from gas_data_pipeline_spark.pipeline import versioned

    sc = spark.sparkContext

    def in_sink_group(fn):
        def run(*args, **kwargs):
            sc.setJobGroup("ingest-sink", "ingest sink")
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        return run

    for mod, name in (
        (engine_mod, "bronze_append"),
        (engine_mod, "insert_if_absent"),
        (versioned, "upsert_with_retry"),
    ):
        monkeypatch.setattr(mod, name, in_sink_group(getattr(mod, name)))
    monkeypatch.setattr(
        engine_mod.GasDataEngine,
        "_discover_and_register_fields",
        in_sink_group(engine_mod.GasDataEngine._discover_and_register_fields),
    )

    # A repeated poll and one that adds a site: both write paths of the
    # series catalog (nothing new / something new) are covered.
    for n_sites in (2, 2, 3):
        batch, _ = _poll(spark, n_sites, hours=6)
        ungrouped = _job_ids(spark)
        sc.setJobGroup("ingest-caller", "ingest caller")
        try:
            stats = engine.ingest_batch(
                batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert stats["bronze_rows"] == n_sites * 6
        assert _job_ids(spark, "ingest-caller") == set()
        assert _job_ids(spark, None) - ungrouped == set()
    assert _job_ids(spark, "ingest-sink")


def test_failed_sink_raises_before_stats_are_read(engine, spark, monkeypatch):
    """A sink that fails before its write runs never fires its
    observation; ``ingest_batch`` must raise that failure, not wait
    forever on the observation's metrics."""
    import threading

    from gas_data_pipeline_spark import engine as engine_mod

    def broken(*args, **kwargs):
        raise OSError("bronze store unavailable")

    monkeypatch.setattr(engine_mod, "bronze_append", broken)
    batch, _ = _poll(spark, 2, hours=4)
    outcome = []

    def run():
        try:
            engine.ingest_batch(
                batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
            )
        except OSError as e:
            outcome.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "ingest_batch blocked on a sink that never wrote"
    assert [str(e) for e in outcome] == ["bronze store unavailable"]


def test_repeated_poll_adds_no_dims_files(engine, spark):
    """A re-polled batch registers nothing new, so neither dims table
    gains a file (a zero-row append would still leave an empty part
    file: one per table per hourly cycle)."""
    batch, _ = _poll(spark, 3, hours=6)
    args = ("GAS_QUALITY", "national_gas", ["site_id"], "observed_at")
    engine.ingest_batch(batch, *args)
    series_files = _parquet_files(engine.series_path)
    field_files = _parquet_files(engine.fields_path)
    assert series_files and field_files

    stats = engine.ingest_batch(batch, *args)
    assert stats["new_series"] == 0
    assert _parquet_files(engine.series_path) == series_files
    assert _parquet_files(engine.fields_path) == field_files


def test_dims_schemas_match_what_ingest_writes(engine, spark):
    """The declared dims schemas (used to read the tables without a
    schema-inference job) are exactly what ``ingest_batch`` writes, and
    building a ``get_data`` frame runs no Spark job."""
    from pyspark.sql.types import StructType

    from gas_data_pipeline_spark.engine import FIELD_CATALOG_SCHEMA, SERIES_SCHEMA

    batch, _ = _poll(spark, 2, hours=6)
    engine.ingest_batch(
        batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
    )
    for path, ddl in (
        (engine.series_path, SERIES_SCHEMA),
        (engine.fields_path, FIELD_CATALOG_SCHEMA),
    ):
        written = spark.read.parquet(path).schema
        assert [(f.name, f.dataType) for f in written] == [
            (f.name, f.dataType) for f in StructType.fromDDL(ddl)
        ]
    before = _job_ids(spark)
    df = engine.get_data(dataset_id="GAS_QUALITY", limit=5)
    assert _job_ids(spark) - before == set()
    assert df.count() == 5


def test_discovery_skips_registered_columns(engine, spark, monkeypatch):
    """Discovery profiles only the columns the dataset's field catalog
    does not hold yet: a batch with the same columns runs no profile
    job and leaves the catalog unchanged; a batch with one new column
    profiles and registers only that column, with its inferred type."""
    from gas_data_pipeline_spark import engine as engine_mod

    batch, _ = _poll(spark, 2, hours=6)
    engine._discover_and_register_fields(batch, "D")
    catalog = engine.discover_fields("D").toPandas()
    files = _parquet_files(engine.fields_path)
    assert sorted(catalog.field_name) == sorted(batch.columns)

    profiled = []
    real_insert = engine_mod.insert_if_absent

    def spy(spark_, incoming, path, keys, **kwargs):
        profiled.append(sorted(r.field_name for r in incoming.collect()))
        return real_insert(spark_, incoming, path, keys, **kwargs)

    monkeypatch.setattr(engine_mod, "insert_if_absent", spy)

    # Same columns (other values): one catalog lookup, no profile job.
    repeat, _ = _poll(spark, 3, hours=4, revision=0.5)
    before = _job_ids(spark)
    engine._discover_and_register_fields(repeat, "D")
    assert len(_job_ids(spark) - before) <= 1
    assert profiled == []
    assert _parquet_files(engine.fields_path) == files
    assert engine.discover_fields("D").toPandas().equals(catalog)

    # One new column: only it is profiled and registered.
    wider = repeat.withColumn(
        "is_peak", (F.col("site_id") % 2 == 0).cast("string")
    )
    engine._discover_and_register_fields(wider, "D")
    assert profiled == [["is_peak"]]
    after = engine.discover_fields("D").toPandas().set_index("field_name")
    assert sorted(after.index) == sorted(wider.columns)
    assert after.loc["is_peak"].inferred_type == "boolean"
    assert not after.loc["is_peak"].nullable
    old = catalog.set_index("field_name")
    assert after.drop(index="is_peak").sort_index().equals(old.sort_index())
    # Another dataset's catalog is separate: all its columns register.
    engine._discover_and_register_fields(batch, "E")
    assert sorted(engine.discover_fields("E").toPandas().field_name) == sorted(
        batch.columns
    )


def test_series_id_and_history(engine, spark):
    batch = _wide_batch(spark)
    engine.ingest_batch(
        batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
    )
    # S1 slug: NG_<dataset>_<site>_<metric>
    sid = "NG_GAS_QUALITY_3_FLOW_RATE"
    series = spark.read.parquet(engine.series_path).toPandas()
    assert sid in set(series.series_id)

    hist = engine.get_history(sid, start="2024-01-01", end="2025-01-01").toPandas()
    expected = (
        batch.filter(F.col("site_id") == 3).count()
    )
    assert len(hist) == expected
    assert list(hist.observation_time) == sorted(hist.observation_time)

    # Relative window (last_days): events are in 2024, so empty now.
    assert engine.get_history(sid, last_days=30).count() == 0


def test_discovery_and_field_catalog(engine, spark):
    batch = _wide_batch(spark)
    engine.ingest_batch(
        batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
    )
    datasets = engine.list_datasets().toPandas()
    assert list(datasets.dataset_id) == ["GAS_QUALITY"]

    fields = engine.discover_fields("GAS_QUALITY").toPandas().set_index("field_name")
    assert fields.loc["site_id"].inferred_type == "integer"
    assert fields.loc["flow_rate"].inferred_type == "float"
    assert not fields.loc["site_id"].nullable

    sample = engine.sample_raw("GAS_QUALITY", limit=3).toPandas()
    assert len(sample) == 3
    payload = json.loads(sample.iloc[0].raw_payload)
    assert {"site_id", "flow_rate", "energy"} <= set(payload)


def test_preview_raw_json_predicate_and_cap(engine, spark):
    """Reference discovery.py:60-87: raw preview takes an optional
    JSON-field predicate ((raw_payload ->> 'siteId')::int = :site_id)
    and a limit capped at 500. A None site_id must contribute NO
    predicate node; a given one must appear in the plan as a
    get_json_object filter; the cap must plan as TakeOrderedAndProject
    (no global sort)."""
    batch = _wide_batch(spark)
    engine.ingest_batch(
        batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
    )
    hit = engine.preview_raw(
        "GAS_QUALITY", limit=10, site_id=3, site_key="site_id"
    )
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "get_json_object" in plan
    assert "TakeOrderedAndProject" in plan
    rows = hit.toPandas()
    assert len(rows) > 0
    assert all(
        json.loads(p)["site_id"] == 3 for p in rows.raw_payload
    )
    # No predicate node when site_id is None (conditional construction).
    miss_plan = (
        engine.preview_raw("GAS_QUALITY", limit=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "get_json_object" not in miss_plan
    # The 500 cap (Query(20, ge=1, le=500)) survives absurd asks.
    capped_plan = (
        engine.preview_raw("GAS_QUALITY", limit=10_000)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "limit=500" in capped_plan


def test_discovery_boolean_and_mixed_type_union(engine, spark):
    """Reference semantics (field_discovery.py:5-16,46): a column with
    both 'true' and 'false' is boolean, and mixed fields report the
    sorted comma-joined union of per-value types."""
    batch = _wide_batch(spark).select(
        "site_id",
        "observed_at",
        "flow_rate",
        (F.col("site_id") % 2 == 0).cast("string").alias("is_even"),
        F.when(F.col("site_id") % 2 == 0, F.lit("n/a"))
        .otherwise(F.col("site_id").cast("string"))
        .alias("mixed"),
    )
    engine.ingest_batch(
        batch, "GAS_BOOL", "national_gas", ["site_id"], "observed_at"
    )
    fields = engine.discover_fields("GAS_BOOL").toPandas().set_index("field_name")
    assert fields.loc["is_even"].inferred_type == "boolean"
    assert fields.loc["mixed"].inferred_type == "integer,string"


def test_export_zero_loss(engine, spark):
    """The reference's own test.py invariant: exported raw payloads
    reconstruct the source batch exactly (zero loss)."""
    batch = _wide_batch(spark).limit(20)
    engine.ingest_batch(
        batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
    )
    out_dir = os.path.join(engine.root, "export_json")
    engine.export_raw("GAS_QUALITY", out_dir, fmt="json", limit=1000)
    payloads = []
    for f in glob.glob(os.path.join(out_dir, "part-*")):
        with open(f) as fh:
            payloads += [json.loads(ln) for ln in fh if ln.strip()]
    assert len(payloads) == 20
    exported = {
        (p["site_id"], round(p["flow_rate"], 9), round(p["energy"], 9))
        for p in payloads
    }
    source = {
        (r.site_id, round(r.flow_rate, 9), round(r.energy, 9))
        for r in batch.toPandas().itertuples()
    }
    assert exported == source


def test_get_data_nested_respects_pagination(engine, spark):
    """Reference nests the PAGINATED row window (DATA_QUERY applies
    ORDER BY/LIMIT/OFFSET first, routes.py groups after) — nested=True
    must return the same rows as the flat page, grouped."""
    batch = _wide_batch(spark)
    engine.ingest_batch(
        batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
    )
    flat = engine.get_data(limit=10, offset=5).toPandas()
    nested = engine.get_data(limit=10, offset=5, nested=True).toPandas()
    n_points = int(sum(len(p) for p in nested.points))
    assert n_points == len(flat) == 10
    flat_keys = {
        (r.series_id, r.observation_time) for r in flat.itertuples()
    }
    nested_keys = {
        (r.series_id, p["observation_time"])
        for r in nested.itertuples()
        for p in r.points
    }
    assert nested_keys == flat_keys


def test_export_csv_normalizes_payload_columns(engine, spark):
    """Reference CSV export json_normalize()s payloads — every JSON key
    is a CSV column, no lineage columns (export.py:53)."""
    batch = _wide_batch(spark).limit(20)
    engine.ingest_batch(
        batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
    )
    out_dir = os.path.join(engine.root, "exports", "csv")
    engine.export_raw("GAS_QUALITY", out_dir, fmt="csv", limit=1000)
    exported = (
        engine.spark.read.option("header", True).csv(out_dir).toPandas()
    )
    assert set(exported.columns) == {
        "site_id",
        "observed_at",
        "flow_rate",
        "energy",
    }
    assert len(exported) == 20


def test_engine_curation_api(spark, tmp_path):
    """North-star facade methods: dedup pairs/clusters, similarity
    search, text profile — callable on arbitrary frames."""
    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.engine import GasDataEngine
    from tests.conftest import SF_SMALL

    eng = GasDataEngine(spark, str(tmp_path / "lake"))
    docs = table(spark, SF_SMALL, "documents").select("doc_id", "text")

    exact = eng.dedup_exact(docs, "doc_id", "text")
    assert exact.count() == docs.count()

    pairs = eng.dedup_near(docs.limit(200), "doc_id", "text", 0.3, "exact")
    assert {"id_a", "id_b", "jaccard"} <= set(pairs.columns)

    prof = eng.profile_text(docs.limit(50))
    assert {"doc_id", "n_tokens", "quality_score", "lang_guess"} <= set(prof.columns)
    assert prof.count() == 50

    emb = table(spark, SF_SMALL, "embeddings")
    hits = eng.search_similar(emb, emb.limit(2), k=3)
    assert hits.count() > 0
    assert {"query_id", "neighbor_id", "rank", "cos_sim"} <= set(hits.columns)


def test_engine_training_curation_api(spark, tmp_path):
    """Training-corpus facade methods: decontaminate, pack, quality
    filter, shuffle, weighted sample — callable on arbitrary frames."""
    import pyspark.sql.functions as F

    from gas_data_pipeline_spark.catalog import table
    from gas_data_pipeline_spark.engine import GasDataEngine
    from tests.conftest import SF_SMALL

    eng = GasDataEngine(spark, str(tmp_path / "lake"))
    docs = table(spark, SF_SMALL, "documents").select("doc_id", "text")
    n = docs.count()

    bench = docs.filter(F.col("doc_id") < 10)
    clean = eng.decontaminate(docs, bench, n=5)
    # The benchmark members themselves are fully contaminated -> dropped.
    assert clean.count() <= n - 10
    assert clean.filter(F.col("doc_id") < 10).count() == 0

    packed = eng.pack_for_training(docs, capacity=512, n_shards=4)
    assert packed.count() == n
    assert {"first_chunk", "last_chunk", "n_chunks"} <= set(packed.columns)

    qual = eng.quality_filter(docs)
    assert qual.count() == n
    assert {"n_words", "keep"} <= set(qual.columns)

    order = eng.shuffle_for_training(docs)
    ranks = sorted(r.shuffle_rank for r in order.collect())
    assert ranks == list(range(1, n + 1))

    sampled = eng.sample_weighted(docs, F.lit(0.5))
    frac = sampled.count() / n
    assert 0.35 < frac < 0.65  # binomial(n, 0.5) well inside 5 sigma


def test_dedup_near_auto_routes_open_vocab_to_prefix(spark, tmp_path):
    """'auto' must never pick the driver-vocab bitset kernel on an open
    vocabulary: the probe routes to the prefix-filter join path, whose
    plan has joins but no MapInPandas scoring stage (the bitset kernel's
    signature) and no driver-side vocab materialization."""
    from gas_data_pipeline_spark.engine import GasDataEngine

    eng = GasDataEngine(spark, str(tmp_path / "lake"))
    # ~120k distinct word 3-shingles: every token unique corpus-wide.
    docs = spark.range(4000).selectExpr(
        "id AS doc_id",
        "array_join(transform(sequence(0, 29), i -> concat('w', id * 30 + i)), ' ') AS text",
    )
    pairs = eng.dedup_near(docs, "doc_id", "text", 0.5, "auto")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert "Join" in plan
    assert pairs.count() == 0  # all docs fully distinct


def test_dedup_near_auto_routes_closed_vocab_to_bitset(spark, tmp_path):
    from gas_data_pipeline_spark.engine import GasDataEngine

    eng = GasDataEngine(spark, str(tmp_path / "lake"))
    # 40 tokens round-robin: ~40 distinct shingles over 300 docs.
    docs = spark.range(300).selectExpr(
        "id AS doc_id",
        "array_join(transform(sequence(0, 19), i -> concat('t', (id + i) % 40)), ' ') AS text",
    )
    pairs = eng.dedup_near(docs, "doc_id", "text", 0.9, "auto")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert pairs.count() > 0  # rotated docs share 90%+ of shingles


def test_bitset_kernel_refuses_open_vocab(spark):
    from gas_data_pipeline_spark.operators.dedup import (
        jaccard_pairs_bitset_gemm,
        word_shingles,
    )

    docs = spark.range(50).selectExpr(
        "id AS doc_id",
        "array_join(transform(sequence(0, 9), i -> concat('u', id * 10 + i)), ' ') AS text",
    )
    with pytest.raises(ValueError, match="closed vocabularies"):
        jaccard_pairs_bitset_gemm(
            docs, "doc_id", word_shingles(F.col("text"), n=3), 0.5, max_vocab=100
        ).count()


def test_facade_exposes_new_operators(spark, tmp_path):
    """Wiring smoke for the latest facade methods: span dedup, LM
    quality, SCD2 history, PQ search, JSONL quarantine."""
    from gas_data_pipeline_spark.engine import GasDataEngine
    from tests.conftest import SF_SMALL

    eng = GasDataEngine(spark, str(tmp_path / "lake"))
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e")], "doc_id bigint, text string"
    )
    spans = eng.dedup_spans(docs, span_words=5).toPandas().set_index("doc_id")
    assert spans.loc[2].n_kept == 0 and spans.loc[1].n_kept == 1

    lm = eng.score_quality_lm(docs).toPandas()
    assert set(lm.columns) == {"doc_id", "n_tokens", "avg_logprob", "ppl_proxy"}

    log = spark.createDataFrame(
        [(1, "A", 10), (1, "B", 20)], "k bigint, v string, t bigint"
    )
    hist = eng.dimension_history(log, "k", "v", "t").toPandas()
    assert len(hist) == 2 and hist.is_current.sum() == 1

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    import pyspark.sql.functions as F

    pq = eng.search_similar(emb, emb.filter(F.col("vec_id") < 2), k=3, method="pq")
    assert pq.count() == 6

    p = tmp_path / "x.jsonl"
    p.write_text('{"a": 1}\nbroken\n')
    good, bad = eng.ingest_jsonl(str(p), "a bigint")
    assert good.count() == 1 and bad.count() == 1


def test_engine_validate_batch(engine, spark):
    batch = spark.createDataFrame(
        [(1, 5.0), (2, -1.0)], "id long, value double"
    )
    valid, quarantine, metrics = engine.validate_batch(
        batch, {"value_positive": F.col("value") > 0}
    )
    assert [r.id for r in valid.collect()] == [1]
    assert [r.id for r in quarantine.collect()] == [2]
    m = metrics.toPandas()
    assert int(m.n_violations.iloc[0]) == 1 and int(m.n_rows.iloc[0]) == 2


def test_engine_atomic_silver_lifecycle(spark):
    """atomic_silver=True routes SNK2 through the versioned manifest
    layer: same ingest/query/history results as the dynamic-overwrite
    engine, re-ingest is a no-op commit, and the store carries a
    committed manifest instead of flat date partitions."""
    import tempfile

    from gas_data_pipeline_spark.engine import GasDataEngine
    from gas_data_pipeline_spark.pipeline.versioned import read_manifest

    roots = [tempfile.mkdtemp(prefix="gas_atomic_") for _ in range(2)]
    try:
        plain = GasDataEngine(spark, roots[0], atomic_silver=False)
        atomic = GasDataEngine(spark, roots[1])  # atomic is the default
        batch = _wide_batch(spark)
        for eng in (plain, atomic):
            eng.ingest_batch(
                batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
            )
            eng.ingest_batch(
                batch, "GAS_QUALITY", "national_gas", ["site_id"], "observed_at"
            )
        cols = ["series_id", "observation_time", "value"]
        a = (
            plain.get_data(limit=5000).toPandas()[cols]
            .sort_values(cols).reset_index(drop=True)
        )
        b = (
            atomic.get_data(limit=5000).toPandas()[cols]
            .sort_values(cols).reset_index(drop=True)
        )
        assert a.equals(b)
        assert read_manifest(atomic.obs_path)["version"] == 2
        sid = a.series_id.iloc[0]
        ha = plain.get_history(sid, start="2024-01-01", end="2025-01-01").toPandas()
        hb = atomic.get_history(sid, start="2024-01-01", end="2025-01-01").toPandas()
        assert list(ha.value) == list(hb.value)
    finally:
        import shutil

        for r in roots:
            shutil.rmtree(r, ignore_errors=True)


def test_engine_atomic_ingest_retries_on_fence(spark, monkeypatch):
    """The engine's atomic path goes through upsert_with_retry: a
    scheduler cycle fenced by a concurrent committer re-merges against
    the new snapshot instead of failing the ingest. Simulated by
    making the first underlying commit attempt raise the fence error
    and asserting the ingest still lands its rows."""
    import tempfile

    from gas_data_pipeline_spark.engine import GasDataEngine
    from gas_data_pipeline_spark.pipeline import versioned

    root = tempfile.mkdtemp(prefix="gas_atomic_retry_")
    try:
        real = versioned.upsert_observations_versioned
        calls = {"n": 0}

        def flaky(*args, **kwargs):
            calls["n"] += 1
            if calls["n"] == 1:
                raise versioned.ConcurrentCommitError("simulated race")
            return real(*args, **kwargs)

        monkeypatch.setattr(
            versioned, "upsert_observations_versioned", flaky
        )
        eng = GasDataEngine(spark, root, atomic_silver=True)
        eng.ingest_batch(
            _wide_batch(spark),
            "GAS_QUALITY",
            "national_gas",
            ["site_id"],
            "observed_at",
        )
        assert calls["n"] == 2  # fenced once, retried, committed
        assert versioned.read_manifest(eng.obs_path)["version"] == 1
        assert eng.get_data(limit=10).count() > 0
    finally:
        import shutil

        shutil.rmtree(root, ignore_errors=True)


def test_get_data_prunes_partitions_at_manifest_level(spark):
    """Round 12: get_data's date/series predicates must reach the
    manifest BEFORE any file listing under the atomic default — a
    date-ranged read lists only the matching date partitions, and a
    series predicate consults the per-partition column stats. The
    row-level filters still apply, so results are exact either way."""
    import tempfile

    from gas_data_pipeline_spark.engine import GasDataEngine

    root = tempfile.mkdtemp(prefix="gas_prune_")
    try:
        eng = GasDataEngine(spark, root)
        eng.ingest_batch(
            _wide_batch(spark),
            "GAS_QUALITY",
            "national_gas",
            ["site_id"],
            "observed_at",
        )
        dates = sorted(
            str(r[0])
            for r in eng._read_obs()
            .select(F.to_date("observation_time"))
            .distinct()
            .collect()
        )
        assert len(dates) >= 2, "fixture must span several dates"
        d0 = dates[0]
        df = eng.get_data(start=f"{d0} 00:00:00", end=f"{d0} 23:59:59")
        files = eng._read_obs(start=f"{d0} 00:00:00", end=f"{d0} 23:59:59").inputFiles()
        assert files and all(f"__pdate={d0}" in f for f in files)
        assert df.count() > 0
        # A series id outside every partition's recorded range lists
        # NOTHING (stats prune), and the API result is exactly empty.
        none = eng._read_obs(series_id="zzz_no_such_series")
        assert none.inputFiles() == [] or none.count() == 0
        assert eng.get_data(series_id="zzz_no_such_series").count() == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_engine_table_maintenance_surface(spark):
    """Round 12: the table-format maintenance operations ride the
    engine facade — time travel, CDC, copy-on-write delete, compaction
    and vacuum all resolve against the engine's observation store, and
    every one of them refuses the plain (manifest-less) path with a
    clear error instead of corrupting it."""
    import tempfile

    from gas_data_pipeline_spark.engine import GasDataEngine

    root = tempfile.mkdtemp(prefix="gas_maint_")
    try:
        eng = GasDataEngine(spark, root)
        eng.ingest_batch(
            _wide_batch(spark), "GAS_QUALITY", "national_gas",
            ["site_id"], "observed_at",
        )
        n1 = eng._read_obs().count()
        # DELETE as a commit; v1 stays time-travelable; CDC sees it.
        m = eng.delete_observations(F.col("value") < 0)  # no-op
        assert m["version"] == 1
        m = eng.delete_observations(F.col("series_id").endswith("_ENERGY"))
        assert m["version"] == 2
        assert eng._read_obs().count() < n1
        assert eng.read_observations_at(1).count() == n1
        assert {r.change_type for r in eng.changelog(1, 2).collect()} == {
            "delete"
        }
        # Compaction: no fragmentation here -> no-op at version 2.
        assert eng.compact_silver()["version"] == 2
        # Vacuum with retention keeps the pinned v1 readable.
        eng.vacuum_silver(retain_last_n=2, min_age_seconds=0)
        assert eng.read_observations_at(1).count() == n1
        # The plain path refuses every maintenance op.
        import pytest as _pytest

        plain = GasDataEngine(spark, root + "_plain", atomic_silver=False)
        for call in (
            lambda: plain.read_observations_at(1),
            lambda: plain.changelog(1),
            lambda: plain.delete_observations(F.lit(True)),
            lambda: plain.compact_silver(),
            lambda: plain.vacuum_silver(),
        ):
            with _pytest.raises(ValueError, match="versioned store"):
                call()
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root + "_plain", ignore_errors=True)


def test_engine_mor_delete_and_erase_series(spark):
    """Round 14: both small-delete paths ride the engine facade —
    delete_observations(mode="merge-on-read") commits a positional
    vector without rewriting data, erase_series commits a
    metadata-only key erasure — and the plain (manifest-less) path
    refuses both."""
    import tempfile

    from gas_data_pipeline_spark.engine import GasDataEngine

    root = tempfile.mkdtemp(prefix="gas_mor_")
    try:
        eng = GasDataEngine(spark, root)
        eng.ingest_batch(
            _wide_batch(spark), "GAS_QUALITY", "national_gas",
            ["site_id"], "observed_at",
        )
        n1 = eng._read_obs().count()
        series = [r.series_id for r in eng._read_obs().select("series_id").distinct().collect()]
        victim = sorted(series)[0]
        m = eng.delete_observations(
            F.col("series_id") == victim, mode="merge-on-read"
        )
        assert m["partitions"]  # committed
        assert (m.get("dv") or {})  # positional vectors present
        n2 = eng._read_obs().count()
        assert n2 < n1
        assert eng.read_observations_at(1).count() == n1
        victim2 = sorted(series)[1]
        m2 = eng.erase_series(victim2)
        assert (m2.get("dv_eq") or {})
        assert eng._read_obs().count() < n2
        assert eng.get_data(series_id=victim2).count() == 0
        import pytest as _pytest

        plain = GasDataEngine(spark, root + "_plain", atomic_silver=False)
        with _pytest.raises(ValueError, match="versioned store"):
            plain.erase_series("x")
        with _pytest.raises(ValueError, match="versioned store"):
            plain.delete_observations(F.lit(True), mode="merge-on-read")
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root + "_plain", ignore_errors=True)


def test_engine_silver_status(spark):
    """silver_status rides the facade; the plain store refuses it."""
    import tempfile

    from gas_data_pipeline_spark.engine import GasDataEngine

    root = tempfile.mkdtemp(prefix="gas_status_")
    try:
        eng = GasDataEngine(spark, root)
        eng.ingest_batch(
            _wide_batch(spark), "GAS_QUALITY", "national_gas",
            ["site_id"], "observed_at",
        )
        st = eng.silver_status()
        assert st["version"] == 1 and st["n_partitions"] >= 1
        assert st["dv_debt"]["dates"] == []
        import pytest as _pytest

        plain = GasDataEngine(spark, root + "_plain", atomic_silver=False)
        with _pytest.raises(ValueError, match="versioned store"):
            plain.silver_status()
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root + "_plain", ignore_errors=True)
