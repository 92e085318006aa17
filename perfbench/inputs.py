"""Seeded input generators for every workload.

Each generator is a pure function of its seed and sizes: the same seed
gives byte-identical inputs. Inputs are written under the benchmark's
cache directory (``perfbench/.cache``) and reused by later runs with the
same seed, so generating them never counts toward a timed phase.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# sql_mix: a TPC-H-like star schema plus events and documents, with the
# column names, types and value domains the registered queries expect.
# --------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_WORDS_A = ["blue", "hot", "large", "small", "red", "green", "cold", "tiny"]
P_WORDS_B = ["anvil", "bolt", "ring", "widget", "gear", "nut", "spring", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
DOC_WORDS = (
    "a the batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge data "
    "join customer vector has"
).split()

_US_PER_DAY = 86_400_000_000


def _days(start: str, n_days: int, size: int, rng) -> np.ndarray:
    base = np.datetime64(start, "D").astype("datetime64[us]").astype(np.int64)
    return base + rng.integers(0, n_days, size) * _US_PER_DAY


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    """Values on the 2-dp grid the queries' decimal arithmetic assumes."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, size) / 100.0


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), pa.timestamp("us"))


def write_sql_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the nine tables the ``sql_mix`` queries read, at scale ``sf``
    (sf 1 = 6 M lineitem rows), one parquet file each."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs = int(1_000_000 * sf), int(50_000 * sf)
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": REGIONS,
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": list(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{P_WORDS_A[a]} {P_WORDS_B[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": list(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": list(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(_days("1995-01-01", 2405, n_ord, rng)),
            "o_orderpriority": list(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": list(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": list(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": _ts(_days("1995-01-02", 2499, n_line, rng)),
        },
    }
    # events: distinct microsecond timestamps across January 2024 (the
    # sessionization queries order by (ts, event_id), so ties are legal,
    # but distinct stamps keep the windows' gap arithmetic unambiguous).
    base = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.choice(30 * _US_PER_DAY, n_events, replace=False)) + base
    tables["events"] = {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(1, n_events // 66), n_events),
        "event_type": list(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": _money(rng, 0, 560, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }
    lengths = rng.integers(8, 100, n_docs)
    words = np.array(DOC_WORDS)[rng.integers(0, len(DOC_WORDS), int(lengths.sum()))]
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(words[pos:pos + n]))
        pos += n
    tables["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": list(np.array(LANGS)[rng.integers(0, 5, n_docs)]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# mr_jobs: plain text files for WRITE / MAP-REDUCE / READ.
# --------------------------------------------------------------------------

#: Partition count the CLI stores files in (its default); generated line
#: counts are never a multiple of it, so the last partition is short.
MR_PARTITIONS = 10


def mr_text(seed: int, index: int, n_bytes: int) -> str:
    """One text file of about ``n_bytes``: lowercase and capitalised
    words, numeric-string tokens ("9", "10"), tokens holding a comma
    (which the word-count mapper must skip), double spaces and empty
    lines."""
    rng = np.random.default_rng([seed, 2, index])
    vocab = np.array(
        [f"w{i}" for i in range(4000)]
        + [f"W{i}" for i in range(200)]
        + [str(i) for i in range(300)]
        + [f"k{i},v" for i in range(20)]
    )
    n_lines = max(3, n_bytes // 60)
    if n_lines % MR_PARTITIONS == 0:
        n_lines += 1
    lens = rng.integers(0, 18, n_lines)
    lens[rng.random(n_lines) < 0.05] = 0
    toks = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    lines, pos = [], 0
    for n in lens:
        line = " ".join(toks[pos:pos + n])
        pos += n
        if n > 3 and rng.random() < 0.02:
            line = line.replace(" ", "  ", 1)
        lines.append(line)
    return "\n".join(lines) + "\n"


# --------------------------------------------------------------------------
# ingest: documents for the MinHash index and clustered vectors for the
# IVF index, plus the arriving batches with planted duplicates.
# --------------------------------------------------------------------------

INGEST_VOCAB = 3000
DIM = 64
N_CLUSTERS = 16


def _doc(rng) -> str:
    n = int(rng.integers(40, 80))
    return " ".join(f"t{i}" for i in rng.integers(0, INGEST_VOCAB, n))


def _near_copy(text: str, rng) -> str:
    """Replace the last token: changes one 3-gram shingle, so the copy's
    Jaccard with its source stays above 0.9 for these document lengths."""
    toks = text.split(" ")
    toks[-1] = f"x{int(rng.integers(0, 10**9))}"
    return " ".join(toks)


def ingest_inputs(seed: int, n_corpus: int, n_batches: int, batch: int) -> dict:
    """Corpus documents and vectors, then ``n_batches`` arriving batches.

    Every batch row carries a text and a vector. In each batch, one
    tenth of the texts are exact copies and one tenth near copies
    (last token changed) of earlier texts, and one tenth of the vectors
    are exact copies of earlier vectors. "Earlier" means the corpus for
    the first batch and, from the second batch on, the batches before
    it, so screening must find documents that earlier ops appended.
    Returns plain lists and arrays; ids are 0.. for the corpus and then
    consecutive per batch."""
    rng = np.random.default_rng([seed, 3])
    centres = rng.normal(size=(N_CLUSTERS, DIM))

    def vectors(n):
        cell = rng.integers(0, N_CLUSTERS, n)
        v = centres[cell] + 0.6 * rng.normal(size=(n, DIM))
        return v.astype(np.float32), cell.astype(np.int32)

    texts = [_doc(rng) for _ in range(n_corpus)]
    vecs, labels = vectors(n_corpus)
    corpus = {"ids": np.arange(n_corpus, dtype=np.int64), "texts": texts,
              "vecs": vecs, "labels": labels}
    batches, next_id = [], n_corpus
    n_plant = max(1, batch // 10)
    for b in range(n_batches):
        lo, hi = (0, n_corpus) if b == 0 else (n_corpus, next_id)
        b_texts = [_doc(rng) for _ in range(batch)]
        b_vecs, b_labels = vectors(batch)
        srcs = rng.choice(np.arange(lo, hi), 3 * n_plant, replace=False)
        exact_src, near_src, vec_src = np.split(srcs, 3)
        exact, near = [], []
        for j, s in enumerate(exact_src):
            b_texts[j] = _text_of(int(s), corpus, batches)
            exact.append((next_id + j, int(s)))
        for j, s in enumerate(near_src, start=n_plant):
            b_texts[j] = _near_copy(_text_of(int(s), corpus, batches), rng)
            near.append((next_id + j, int(s)))
        vec_copies = []
        for j, s in enumerate(vec_src, start=2 * n_plant):
            b_vecs[j] = _vec_of(int(s), corpus, batches)
            vec_copies.append((next_id + j, int(s)))
        batches.append({
            "ids": np.arange(next_id, next_id + batch, dtype=np.int64),
            "texts": b_texts, "vecs": b_vecs, "labels": b_labels,
            "exact": exact, "near": near, "vec_copies": vec_copies,
        })
        next_id += batch
    return {"corpus": corpus, "batches": batches}


def _locate(doc_id: int, corpus: dict, batches: list) -> tuple[dict, int]:
    n = len(corpus["ids"])
    if doc_id < n:
        return corpus, doc_id
    size = len(batches[0]["ids"])
    return batches[(doc_id - n) // size], (doc_id - n) % size


def _text_of(doc_id: int, corpus: dict, batches: list) -> str:
    part, i = _locate(doc_id, corpus, batches)
    return part["texts"][i]


def _vec_of(doc_id: int, corpus: dict, batches: list) -> np.ndarray:
    part, i = _locate(doc_id, corpus, batches)
    return part["vecs"][i]
