"""Reference computations and output checks, made outside the program.

Every checker returns a list of problems; an empty list means the op's
output is correct. References come from DuckDB (sql_mix),
``collections.Counter`` (mr_jobs), exact set arithmetic (dedup) and
NumPy brute force (ANN), never from the engine under test.
"""

from __future__ import annotations

import collections
import math
from decimal import Decimal

import numpy as np

# --------------------------------------------------------------------------
# sql_mix: order-insensitive row comparison against DuckDB.
# --------------------------------------------------------------------------


def _canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, Decimal):
        v = int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    return str(v)


def canon_rows(columns: list[str], rows) -> list[str]:
    """Columns in name order, every row as one string, rows sorted: two
    engines agree when these lists are equal."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return sorted("|".join(_canon_value(r[i]) for i in order) for r in rows)


def duckdb_reference(con, oracle_sql: str) -> list[str]:
    rel = con.sql(oracle_sql)
    return canon_rows([c.lower() for c in rel.columns], rel.fetchall())


def check_sql(columns: list[str], rows, expected: list[str]) -> list[str]:
    got = canon_rows([c.lower() for c in columns], rows)
    if len(got) != len(expected):
        return [f"{len(got)} rows, DuckDB has {len(expected)}"]
    diff = [(a, b) for a, b in zip(got, expected) if a != b]
    return [f"{len(diff)} rows differ from DuckDB, first {diff[0]}"] if diff else []


# --------------------------------------------------------------------------
# mr_jobs: word counts and the WRITE -> READ round trip.
# --------------------------------------------------------------------------


def word_counts(text: str) -> dict[str, int]:
    """What the word-count mapper and reducer must produce: split each
    line on single spaces, lower-case, drop empty tokens and tokens
    holding a comma (the key/value delimiter)."""
    counts: collections.Counter = collections.Counter()
    for line in text.split("\n"):
        counts.update(w for w in line.lower().split(" ") if w and "," not in w)
    return dict(counts)


def check_mr(result_lines: list[str], expected: dict[str, int],
             read_back: bytes, original: bytes) -> list[str]:
    problems = []
    got: dict[str, int] = {}
    for line in result_lines:
        word, _, count = line.rpartition(",")
        if not word or word in got or not count.isdigit():
            problems.append(f"malformed or repeated result line {line!r}")
            break
        got[word] = int(count)
    if got != expected:
        wrong = [w for w in expected.keys() | got.keys() if got.get(w) != expected.get(w)]
        problems.append(f"{len(wrong)} word counts differ from Counter, e.g. {sorted(wrong)[:3]}")
    if read_back != original:
        problems.append(f"READ returned {len(read_back)} bytes, WRITE stored {len(original)}")
    return problems


# --------------------------------------------------------------------------
# ingest: near-duplicate pairs and nearest-neighbour rows.
# --------------------------------------------------------------------------


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def check_dedup(pairs, text_of, batch_ids: set[int], planted, threshold: float) -> list[str]:
    """Every reported pair must join a batch doc to an indexed doc, carry
    the Jaccard recomputed from the two texts (to 4 dp) and reach the
    threshold; every planted pair (exact copies, and near copies whose
    Jaccard is at least 0.9) must be reported."""
    problems, seen = [], set()
    for batch_doc, corpus_doc, reported in pairs:
        key = (batch_doc, corpus_doc)
        if key in seen or batch_doc not in batch_ids or corpus_doc in batch_ids:
            problems.append(f"unexpected pair {key}")
            continue
        seen.add(key)
        j = jaccard(text_of(batch_doc), text_of(corpus_doc))
        if abs(j - reported) > 0.5e-4 + 1e-9 or j < threshold:
            problems.append(f"pair {key}: reported {reported}, recomputed {j:.6f}")
    for key in planted:
        if jaccard(text_of(key[0]), text_of(key[1])) >= 0.9 and tuple(key) not in seen:
            problems.append(f"planted duplicate {tuple(key)} not reported")
    return problems[:5]


def cosine_topk(index_vecs: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Row positions of each query's k nearest index vectors by cosine,
    NumPy brute force in float64 (ties broken by position)."""
    a = index_vecs.astype(np.float64)
    q = queries.astype(np.float64)
    sims = (q @ a.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(a, axis=1))
    order = np.lexsort((np.broadcast_to(np.arange(a.shape[0]), sims.shape), -sims), axis=1)
    return order[:, :k]


def check_ann(rows, vec_of, queries: dict[int, np.ndarray], truth: dict[int, set[int]],
              copies: dict[int, int], k: int, recall_floor: float) -> tuple[list[str], float]:
    """Rows are (q_id, vec_id, cosine, rn). Per query: at most k unique
    ids, cosines non-increasing by rank and equal to NumPy's within 1e-6,
    and a planted copy of an earlier vector ranked first. Over the batch,
    mean recall@k against brute force must reach ``recall_floor``."""
    problems = []
    by_q: dict[int, list] = collections.defaultdict(list)
    for q_id, vec_id, cos, rn in rows:
        by_q[q_id].append((rn, vec_id, cos))
    if set(by_q) - set(queries):
        problems.append(f"rows for unknown queries {sorted(set(by_q) - set(queries))[:3]}")
    recalls = []
    for q_id, qv in queries.items():
        hits = sorted(by_q.get(q_id, []))
        ids = [h[1] for h in hits]
        if len(ids) > k or len(set(ids)) != len(ids):
            problems.append(f"query {q_id}: {len(ids)} rows, {len(set(ids))} unique")
        coss = [h[2] for h in hits]
        if any(b > a for a, b in zip(coss, coss[1:])):
            problems.append(f"query {q_id}: cosines not in descending order")
        for _, vec_id, cos in hits:
            v = vec_of(vec_id).astype(np.float64)
            q = qv.astype(np.float64)
            ref = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
            if abs(ref - cos) > 1e-6:
                problems.append(f"query {q_id} -> {vec_id}: cosine {cos}, NumPy {ref:.8f}")
                break
        if q_id in copies and (not ids or not np.array_equal(vec_of(ids[0]), qv)):
            problems.append(f"query {q_id}: copy of {copies[q_id]} not ranked first")
        recalls.append(len(set(ids) & truth[q_id]) / k)
    recall = float(np.mean(recalls))
    if recall < recall_floor:
        problems.append(f"recall@{k} {recall:.3f} below floor {recall_floor}")
    return problems[:5], recall
