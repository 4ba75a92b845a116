"""Output checks, run after the timed region.

Lakehouse results are compared with DuckDB over the staged pages: the
store at version v is the last-write-wins of every page committed at or
before v, minus the rows that later erase and merge-on-read delete
commits removed. Curation results are compared with plain Python and
numpy recomputations. A mismatch marks the operation failed.
"""

from __future__ import annotations

import itertools
import time

import duckdb
import numpy as np
import pandas as pd

import gen
from lakehouse import DATA_LIMIT, Op, dir_bytes

# Recall floors of the approximate operators; a step below its floor
# fails. Recall is deterministic for a seed. Minhash found every planted
# near-duplicate pair on seeds 1-12 and must keep doing so. IVF-PQ
# recall@10 against numpy was 0.43-0.51 on seeds 1-12 (mean 0.474, sd
# 0.023); the floor sits about four standard deviations below the mean.
DEDUP_RECALL_FLOOR = 1.0
ANN_RECALL_FLOOR = 0.38


class LakeOracle:
    def __init__(self, commits: list[tuple[int, str, object]]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(
            "CREATE TABLE ev (ver INT, series_id VARCHAR, t BIGINT, value DOUBLE)"
        )
        self.con.execute("CREATE TABLE erases (ver INT, series_id VARCHAR)")
        self.con.execute("CREATE TABLE deletes (ver INT, metric VARCHAR, threshold DOUBLE)")
        metrics = ", ".join(gen.METRICS)
        self.ingests: set[int] = set()
        for ver, kind, payload in commits:
            if kind == "ingest":
                self.ingests.add(ver)
                self.con.execute(
                    f"""INSERT INTO ev
                    SELECT {ver}, 'NG_{gen.DATASET}_' || upper({gen.ID_COL}) || '_'
                           || upper(metric), epoch_us({gen.TIME_COL}), value
                    FROM (UNPIVOT read_parquet(?) ON {metrics}
                          INTO NAME metric VALUE value)""",
                    [payload.path],
                )
            elif kind == "erase":
                self.con.execute("INSERT INTO erases VALUES (?, ?)", [ver, payload])
            elif kind == "delete_mor":
                self.con.execute("INSERT INTO deletes VALUES (?, ?, ?)", [ver, *payload])
        self._states: set[int] = set()

    def state(self, v: int) -> str:
        name = f"s{v}"
        if v not in self._states:
            self.con.execute(f"""
                CREATE TABLE {name} AS
                SELECT series_id, t, value FROM (
                    SELECT series_id, t, arg_max(value, ver) AS value, max(ver) AS wver
                    FROM ev WHERE ver <= {v} GROUP BY series_id, t) l
                WHERE NOT EXISTS (
                    SELECT 1 FROM erases e WHERE e.series_id = l.series_id
                    AND e.ver > l.wver AND e.ver <= {v})
                AND NOT EXISTS (
                    SELECT 1 FROM deletes d WHERE d.ver > l.wver AND d.ver <= {v}
                    AND ends_with(l.series_id, '_' || d.metric)
                    AND l.value > d.threshold)""")
            self._states.add(v)
        return name

    def _rows(self, sql: str, params=()) -> list[tuple]:
        return [tuple(r) for r in self.con.execute(sql, list(params)).fetchall()]

    def expected(self, op: Op, v: int):
        p, s = op.params, self.state(v)
        us = lambda dt: int(dt.timestamp() * 1_000_000)  # noqa: E731
        if op.kind in ("history", "travel"):
            rows = self._rows(
                f"SELECT series_id, t, value FROM {s} WHERE series_id = ? "
                "AND t BETWEEN ? AND ? ORDER BY t",
                (p["series"], us(p["start"]), us(p["end"])),
            )
            return rows if op.kind == "history" else sorted(rows)
        if op.kind in ("data", "data_nested"):
            rows = self._rows(
                f"SELECT series_id, t, value FROM {s} WHERE t BETWEEN ? AND ? "
                f"AND value >= ? ORDER BY t, series_id LIMIT {DATA_LIMIT} OFFSET ?",
                (us(p["start"]), us(p["end"]), p["min_value"], p["offset"]),
            )
            if op.kind == "data":
                return rows
            by_series: dict[str, list] = {}
            for sid, t, val in rows:
                by_series.setdefault(sid, []).append((t, val))
            return sorted((sid, tuple(sorted(pts))) for sid, pts in by_series.items())
        if op.kind == "changelog":
            old = self.state(v - 1)
            return sorted(self._rows(f"""
                SELECT n.series_id, n.t,
                       CASE WHEN o.series_id IS NULL THEN 'insert' ELSE 'update' END,
                       CASE WHEN o.series_id IS NULL THEN 0
                            ELSE 1 + (o.value <> n.value)::INT END
                FROM (SELECT series_id, t, value FROM ev WHERE ver = {v}) n
                LEFT JOIN {old} o USING (series_id, t)
                UNION ALL
                SELECT o.series_id, o.t, 'delete', 0 FROM {old} o
                WHERE NOT EXISTS (SELECT 1 FROM {s} x
                                  WHERE x.series_id = o.series_id AND x.t = o.t)"""))
        raise ValueError(op.kind)

    def check_read(self, op: Op) -> None:
        if op.kind == "changelog" and op.versions[0] not in self.ingests:
            op.error = f"changelog target v{op.versions[0]} is not an ingest commit"
            return
        for v in op.versions:
            if self.expected(op, v) == op.result:
                return
        op.error = f"{op.kind} result differs from DuckDB at versions {op.versions}"

    def check_snapshot(self, rows: list[tuple], v: int) -> str | None:
        """Compare the engine's current snapshot with the model at v."""
        eng = pd.DataFrame(rows, columns=["series_id", "t", "value"])  # noqa: F841
        s = self.state(v)
        extra, missing = self.con.execute(f"""
            SELECT (SELECT count(*) FROM (SELECT * FROM eng EXCEPT ALL SELECT * FROM {s})),
                   (SELECT count(*) FROM (SELECT * FROM {s} EXCEPT ALL SELECT * FROM eng))
        """).fetchone()
        if extra or missing:
            return f"final snapshot v{v}: {extra} unexpected rows, {missing} missing rows"
        return None


def check_lakehouse(lh, ops: list[Op]) -> dict:
    """Check every read, then the final snapshot (appended as one more
    checked operation). Returns the run-end store figures."""
    oracle = LakeOracle(lh.commits)
    for op in ops:
        if op.error is None and op.kind in ("history", "data", "data_nested",
                                            "travel", "changelog"):
            oracle.check_read(op)
    final = Op("final_state", "check", time.perf_counter())
    rows: list[tuple] = []
    try:
        rows = lh.final_snapshot()
        final.error = oracle.check_snapshot(rows, lh.version())
    except Exception as exc:
        final.error = f"{type(exc).__name__}: {exc}"
    final.end = time.perf_counter()
    ops.append(final)
    return {"live_observations": len(rows), "store_bytes": dir_bytes(lh.root)}


# ----------------------------------------------------------------------
# Curation
# ----------------------------------------------------------------------


def similar_pairs(texts: dict, threshold: float) -> set[tuple[int, int]]:
    """Every pair at or above the Jaccard threshold, exactly, through a
    shingle inverted index (pairs sharing no shingle have Jaccard 0)."""
    sh = {i: gen.shingles(t) for i, t in texts.items()}
    postings: dict[str, list[int]] = {}
    for i, s in sh.items():
        for g in s:
            postings.setdefault(g, []).append(i)
    cands = {
        (a, b) for ids in postings.values() if len(ids) > 1
        for a, b in itertools.combinations(sorted(ids), 2)
    }
    return {
        (a, b) for a, b in cands
        if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= threshold
    }


def exact_topk(corpus, k: int = 10) -> tuple[np.ndarray, np.ndarray]:
    x = corpus.vectors.astype(np.float64)
    q = corpus.queries.astype(np.float64)
    sims = (q / np.linalg.norm(q, axis=1, keepdims=True)) @ (
        x / np.linalg.norm(x, axis=1, keepdims=True)
    ).T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return top, np.take_along_axis(sims, top, axis=1)


def check_corpus(corpus, ops: list[Op]) -> dict:
    """Check every step's output; returns recall figures (mean over
    passes)."""
    truth_pairs = similar_pairs(corpus.texts, gen.DEDUP_THRESHOLD)
    top, top_sims = exact_topk(corpus)
    qpos = {int(q): i for i, q in enumerate(corpus.query_ids)}
    all_ids = sorted(corpus.texts)
    word_counts = {i: len(t.split()) for i, t in corpus.texts.items()}
    dedup_recall, ann_recall = [], []

    def neighbours(res) -> dict[int, list[tuple]]:
        out: dict[int, list[tuple]] = {}
        for qid, rank, nid, sim in res:
            out.setdefault(qid, []).append((rank, nid, sim))
        return out

    for op in ops:
        if op.error is not None:
            continue
        res, kind = op.result, op.kind
        if kind in ("dedup_minhash", "dedup_prefix"):
            pairs = {(a, b) for a, b, _ in res}
            bad = [
                (a, b) for a, b, _ in res
                if not a < b or gen.jaccard(corpus.texts[a], corpus.texts[b])
                < gen.DEDUP_THRESHOLD
            ]
            if bad:
                op.error = f"{kind}: {len(bad)} pairs below the Jaccard threshold"
            elif kind == "dedup_prefix" and pairs != truth_pairs:
                op.error = (f"dedup_prefix: {len(pairs ^ truth_pairs)} pairs differ "
                            "from the exact similarity join")
            if kind == "dedup_minhash":
                recall = len(pairs & corpus.planted_pairs) / len(corpus.planted_pairs)
                dedup_recall.append(recall)
                if op.error is None and recall < DEDUP_RECALL_FLOOR:
                    op.error = (f"dedup_minhash: planted-pair recall {recall:.3f} "
                                f"< {DEDUP_RECALL_FLOOR}")
        elif kind in ("ann_exact", "ann_ivfpq"):
            got = neighbours(res)
            problems = 0
            hits = 0
            for qid, lst in got.items():
                i = qpos[qid]
                ranks = [r for r, _, _ in lst]
                if ranks != list(range(1, len(lst) + 1)) or len(lst) > 10:
                    problems += 1
                ids = [n for _, n, _ in lst]
                hits += len(set(ids) & set(top[i].tolist()))
                if kind == "ann_exact":
                    # Ranks must match numpy; a swap is allowed only
                    # between equal similarities.
                    sims = np.array([s for _, _, s in lst])
                    if len(lst) != 10 or not np.allclose(sims, top_sims[i], atol=1e-6):
                        problems += 1
            if len(got) != len(qpos):
                problems += 1
            if problems:
                op.error = f"{kind}: {problems} queries disagree with numpy"
            if kind == "ann_ivfpq":
                recall = hits / (10 * len(qpos))
                ann_recall.append(recall)
                if op.error is None and recall < ANN_RECALL_FLOOR:
                    op.error = f"ann_ivfpq: recall@10 {recall:.3f} < {ANN_RECALL_FLOOR}"
        elif kind == "quality":
            if [r[0] for r in res] != all_ids or any(
                r[1] != word_counts[r[0]] or r[2] is None for r in res
            ):
                op.error = "quality: rows or word counts differ from the corpus"
        elif kind == "decontaminate":
            if res != sorted(set(all_ids) - corpus.contaminated):
                op.error = "decontaminate: kept set differs from the planted contamination"
        elif kind == "pack":
            op.error = _check_pack(res, all_ids)
    return {
        "dedup_pair_recall": float(np.mean(dedup_recall)) if dedup_recall else 0.0,
        "ann_recall_at_10": float(np.mean(ann_recall)) if ann_recall else 0.0,
    }


def _check_pack(res, all_ids) -> str | None:
    if [r[0] for r in res] != all_ids:
        return "pack: documents missing or repeated"
    cum: dict[int, int] = {}
    for doc, shard, n, total, first, last, n_chunks in sorted(res, key=lambda r: (r[1], r[0])):
        cum[shard] = cum.get(shard, 0) + n
        if total != cum[shard] or n <= 0:
            return f"pack: running token sum wrong at doc {doc}"
        if (first, last, n_chunks) != ((total - n) // 2048, (total - 1) // 2048,
                                       (total - 1) // 2048 - (total - n) // 2048 + 1):
            return f"pack: chunk span wrong at doc {doc}"
    return None
