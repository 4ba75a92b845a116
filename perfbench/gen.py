"""Seeded input generators. Every input the engine sees is made here
from ``--seed`` and staged as parquet before the timed region starts;
the same seed gives byte-identical files.

Lakehouse inputs are wide hourly poll pages, the shape the reference
scheduler fetches: one row per (site, hour) with one double column per
metric. A page re-polls a 72 h lookback window, so consecutive pages
overlap; a seeded ~5% of re-polled values come back revised and ~2% of
cells are null. The synthetic clock advances one hour per page, so
nothing depends on the wall clock.

The curation corpus is word documents with planted near-duplicate
clusters, a small evaluation set whose passages are planted in some
documents, and Gaussian-mixture embeddings with held-out query vectors.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATASET = "GASFLOW"
SOURCE = "perfbench"
ID_COL = "site_id"
TIME_COL = "ts"
METRICS = (
    "allocation",
    "calorific_value",
    "demand",
    "flow",
    "linepack",
    "nomination",
    "pressure",
    "temperature",
)
N_SITES = 40
HISTORY_HOURS = 30 * 24
LOOKBACK_HOURS = 72
NULL_RATE = 0.02
REVISION_RATE = 0.05
# A new site comes online on every NEW_SITE_EVERY-th poll, so the
# series catalog keeps receiving inserts after the pre-fill.
NEW_SITE_EVERY = 5
EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)
SCALE = np.array([1e3, 39.0, 250.0, 80.0, 320.0, 60.0, 70.0, 12.0])


def hour_ts(h: int) -> datetime:
    """Synthetic clock: hour index -> UTC timestamp."""
    return EPOCH + timedelta(hours=h)


def series_id(site: str, metric: str) -> str:
    """The engine's series id for a (site, metric) of this dataset."""
    return f"NG_{DATASET}_{site.upper()}_{metric.upper()}"


def site_name(i: int) -> str:
    return f"S{i:03d}"


@dataclass(frozen=True)
class Page:
    """One staged poll page and the counts ``ingest_batch`` must report."""

    path: str
    rows: int
    observations: int
    new_series: int


class PollFeed:
    """Hourly poll pages for one seed: ``page(0)`` is the 30-day
    pre-fill history, ``page(c)`` for c >= 1 the lookback poll of
    cycle c."""

    def __init__(self, seed: int, max_polls: int):
        self.seed = seed
        self.max_polls = max_polls
        n_hours = HISTORY_HOURS + max_polls + 1
        n_sites = N_SITES + max_polls // NEW_SITE_EVERY + 1
        rng = np.random.default_rng([seed, 1])
        # Truth per (hour, site, metric): a per-site level plus noise,
        # rounded so every value is exact in decimal and in DuckDB.
        level = rng.uniform(0.5, 1.5, size=(1, n_sites, len(METRICS)))
        noise = rng.normal(0.0, 0.05, size=(n_hours, n_sites, len(METRICS)))
        self._truth = np.round((level + noise) * SCALE, 3)
        self._registered: set[str] = set()

    def _sites(self, poll: int) -> list[int]:
        return list(range(N_SITES + poll // NEW_SITE_EVERY))

    def _hours(self, poll: int) -> range:
        if poll == 0:
            return range(0, HISTORY_HOURS)
        end = HISTORY_HOURS + poll  # exclusive
        return range(end - LOOKBACK_HOURS, end)

    def table(self, poll: int) -> pa.Table:
        """The wide page of ``poll`` (deterministic in seed and poll)."""
        hours = np.array(self._hours(poll))
        sites = np.array(self._sites(poll))
        rng = np.random.default_rng([self.seed, 2, poll])
        vals = self._truth[hours][:, sites, :].copy()
        shape = vals.shape
        # Revisions only touch hours an earlier poll already returned.
        polled_before = (hours < HISTORY_HOURS + poll - 1)[:, None, None]
        revised = (rng.random(shape) < REVISION_RATE) & polled_before & (poll > 0)
        vals = np.where(
            revised, np.round(vals * rng.uniform(0.9, 1.1, shape), 3), vals
        )
        null = rng.random(shape) < NULL_RATE
        # Row order: site-major, then hour.
        vals = vals.transpose(1, 0, 2).reshape(-1, len(METRICS))
        null = null.transpose(1, 0, 2).reshape(-1, len(METRICS))
        site_col = np.repeat([site_name(s) for s in sites], len(hours))
        ts_col = np.tile(
            (np.datetime64(EPOCH.replace(tzinfo=None), "us")
             + hours.astype("timedelta64[h]")).astype("datetime64[us]"),
            len(sites),
        )
        cols = {
            ID_COL: pa.array(site_col, pa.string()),
            TIME_COL: pa.array(ts_col, pa.timestamp("us", tz="UTC")),
        }
        for j, m in enumerate(METRICS):
            cols[m] = pa.array(vals[:, j], pa.float64(), mask=null[:, j])
        return pa.table(cols)

    def stage(self, poll: int, directory: str) -> Page:
        """Write ``poll``'s page and derive the counts the engine must
        return for it. Pages must be staged in poll order: ``new_series``
        depends on what earlier pages registered."""
        t = self.table(poll)
        path = os.path.join(directory, f"page-{poll:04d}.parquet")
        pq.write_table(t, path, compression="snappy")
        observations = 0
        seen: set[str] = set()
        sites = t.column(ID_COL).to_pylist()
        for m in METRICS:
            valid = t.column(m).is_valid().to_numpy(zero_copy_only=False)
            observations += int(valid.sum())
            seen.update(series_id(s, m) for s, ok in zip(sites, valid) if ok)
        new = seen - self._registered
        self._registered |= new
        return Page(path, t.num_rows, observations, len(new))


# ----------------------------------------------------------------------
# Curation corpus
# ----------------------------------------------------------------------

N_DOCS = 5000
N_CLUSTERS = 60  # planted near-duplicate clusters
CLUSTER_COPIES = 2  # near-copies per cluster source
N_BENCH = 12  # evaluation passages
N_CONTAMINATED = 12  # documents carrying one evaluation passage
N_VECS = 2000
N_QUERIES = 100
DIM = 64
N_MIXTURE = 16
MIXTURE_RANK = 8
VOCAB = 4000
DEDUP_THRESHOLD = 0.5
DECON_N = 13


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct lower-cased word n-grams: the engine's word_shingles."""
    words = text.strip().lower().split()
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


@dataclass(frozen=True)
class Corpus:
    docs_path: str
    bench_path: str
    vecs_path: str
    queries_path: str
    texts: dict  # doc_id -> text
    planted_pairs: frozenset  # (id_a, id_b), id_a < id_b, jaccard >= threshold
    contaminated: frozenset  # doc ids carrying an evaluation passage
    vectors: np.ndarray  # (N_VECS, DIM) float32, row i = vec_id i
    queries: np.ndarray  # (N_QUERIES, DIM) float32
    query_ids: np.ndarray


def stage_corpus(seed: int, directory: str, scale: float = 1.0) -> Corpus:
    """Stage the corpus; ``scale`` shrinks every count (the warm-up pass
    runs the same plans on a small copy)."""
    rng = np.random.default_rng([seed, 3, int(scale * 1000)])
    n_docs, n_clusters, n_vecs, n_queries = (
        max(8, int(n * scale)) for n in (N_DOCS, N_CLUSTERS, N_VECS, N_QUERIES)
    )
    vocab = np.array([f"w{i}" for i in range(VOCAB)])

    def words(n: int) -> list[str]:
        return list(rng.choice(vocab, n))

    texts = {i: words(int(rng.integers(40, 90))) for i in range(n_docs)}
    bench = {i: words(40) for i in range(N_BENCH)}
    planted: set[tuple[int, int]] = set()
    next_id = n_docs
    for src in rng.choice(n_docs, n_clusters, replace=False):
        members = [int(src)]
        for _ in range(CLUSTER_COPIES):
            w = list(texts[int(src)])
            for k in rng.choice(len(w), 2, replace=False):  # two word edits
                w[k] = "edit"
            texts[next_id] = w
            members.append(next_id)
            next_id += 1
        for a in members:
            for b in members:
                if a < b:
                    planted.add((a, b))
    # Contamination: overwrite a run of a clean document with a whole
    # evaluation passage, well above the 13-gram overlap threshold.
    clean = sorted(set(range(n_docs)) - {i for p in planted for i in p})
    contaminated = [int(i) for i in rng.choice(clean, N_CONTAMINATED, replace=False)]
    for j, d in enumerate(contaminated):
        texts[d] = bench[j % N_BENCH] + texts[d][:10]
    texts = {i: " ".join(w) for i, w in texts.items()}
    planted = {p for p in planted if jaccard(texts[p[0]], texts[p[1]]) >= DEDUP_THRESHOLD}

    ids = np.array(sorted(texts), dtype=np.int64)
    docs_path = os.path.join(directory, "docs.parquet")
    pq.write_table(
        pa.table({"doc_id": ids, "text": [texts[int(i)] for i in ids]}), docs_path
    )
    bench_path = os.path.join(directory, "bench.parquet")
    pq.write_table(
        pa.table({
            "doc_id": np.arange(N_BENCH, dtype=np.int64),
            "text": [" ".join(bench[i]) for i in range(N_BENCH)],
        }),
        bench_path,
    )

    # Gaussian mixture on a low-dimensional subspace plus a little
    # isotropic noise, so nearest neighbours are well separated (in pure
    # 64-d noise every in-cluster point is about equally far away).
    centres = rng.normal(size=(N_MIXTURE, DIM))
    basis = rng.normal(size=(MIXTURE_RANK, DIM)) / np.sqrt(MIXTURE_RANK)

    def draw(n: int) -> np.ndarray:
        return (centres[rng.integers(0, N_MIXTURE, n)]
                + 0.5 * rng.normal(size=(n, MIXTURE_RANK)) @ basis
                + 0.02 * rng.normal(size=(n, DIM))).astype(np.float32)

    vecs, queries = draw(n_vecs), draw(n_queries)
    query_ids = np.arange(10**6, 10**6 + n_queries, dtype=np.int64)
    emb_type = pa.list_(pa.float32())
    vecs_path = os.path.join(directory, "vectors.parquet")
    pq.write_table(
        pa.table({
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vecs), emb_type),
        }),
        vecs_path,
    )
    queries_path = os.path.join(directory, "queries.parquet")
    pq.write_table(
        pa.table({"vec_id": query_ids, "embedding": pa.array(list(queries), emb_type)}),
        queries_path,
    )
    return Corpus(
        docs_path, bench_path, vecs_path, queries_path, texts,
        frozenset(planted), frozenset(contaminated), vecs, queries, query_ids,
    )
