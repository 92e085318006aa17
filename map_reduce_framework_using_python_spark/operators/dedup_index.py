"""Persisted MinHash-LSH dedup index: near-dup screen a NEW batch
against an already-indexed corpus without re-sketching the corpus.

The one-shot :func:`.dedup.minhash_lsh_pairs` re-signatures the whole
corpus every run — right for a batch job, wrong for ingest: at 100 TB
the steady state is a small daily batch arriving against a huge static
corpus, and re-reading the corpus TEXT per ingest is the cost that
kills the pipeline. The index fixes the asymmetry by persisting the
corpus's band-bucket table ONCE::

    <path>/buckets/band=<b>/*.parquet   # (doc_id, key) per LSH band
    <path>/_dedup_meta.json             # n, num_hashes, bands + fingerprint

Per ingest, only the batch is sketched; the probe joins the batch's
bucket keys against the persisted buckets. Scale shape (audited in
EXPLAINS.md): the batch side is small, so AQE broadcasts it and the
corpus-side bucket scan never shuffles — incremental cost is one scan
of the fixed-width index (num_hashes×8 B/doc, NOT the text) plus work
proportional to the batch. Exact verification then touches corpus text
only for candidate docs (a broadcast semi-filter on candidate ids), so
the text scan prunes to near-nothing.

Equivalence contract (pinned in tests/test_dedup_index.py): probing a
batch against an index of the corpus returns EXACTLY the batch↔corpus
pairs of the uncapped ``minhash_lsh_pairs(batch ∪ corpus)`` — same
bands, same seeded hashes, same exact-Jaccard verification; the index
changes the access path, never the answer (the same contract as
:mod:`.ann_index`). Note the one-shot operator's own hot-bucket bound
(``max_bucket``, default 1024) short-circuits oversize buckets to
anchor stars, so the literal equality holds against
``max_bucket=∞`` (or whenever no combined bucket exceeds the cap,
which is the pinned test regime).

Reference parity note: the reference (a 741-LoC HTTP MapReduce
skeleton) has no dedup or persisted index; this is part of the
north-star LLM-pipeline extension (SURVEY.md §2.B bottom rows).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_framework_using_python_spark.operators.ann_index import (
    TOMBSTONE_DIR,
    _apply_tombstones,
    _compact_partitioned_index,
    _drop_src_fingerprint,
    _tombstone_frame,
)
from map_reduce_framework_using_python_spark.operators.dedup import (
    band_table,
    minhash_signatures,
    shingle_jaccard,
    word_shingles,
)
from map_reduce_framework_using_python_spark.sources.io import write_json_atomic


def _require_bigint_id(df: DataFrame, id_col: str, what: str) -> None:
    """Fail at BUILD time when the id column is not BIGINT — every index
    reader uses a fixed BIGINT schema, so a string-id index would build
    fine and only die at first probe with an opaque parquet conversion
    error far from the cause (r7 dedup review)."""
    id_type = dict(df.dtypes).get(id_col)
    if id_type is None:
        raise ValueError(f"{what}: id column {id_col!r} not in {df.columns}")
    if id_type != "bigint":
        raise ValueError(
            f"{what}: id column {id_col!r} must be BIGINT (got {id_type}) — "
            "the persisted index schema is fixed-width BIGINT"
        )


def _write_meta(path: str, meta: dict) -> None:
    # temp + os.replace: a crash mid-dump must not truncate the meta
    # (which would make every later read_meta/probe/append raise
    # instead of recover — r7 advice).
    write_json_atomic(os.path.join(path, "_dedup_meta.json"), meta)


def read_meta(path: str) -> dict:
    with open(os.path.join(path, "_dedup_meta.json")) as fh:
        return json.load(fh)


#: Live-layout subdirectory per index kind (None = the MinHash band
#: table, whose meta predates the ``kind`` key).
_LIVE_SUB = {None: "buckets", "minhash": "buckets",
             "paragraph": "digests", "shingle": "digests"}


def retract_docs_from_index(ids, path: str, spark: SparkSession | None = None) -> None:
    """Retract documents from a persisted dedup index (MinHash band /
    paragraph-digest / shingle-span) — the takedown verb a real
    training-data pipeline needs: after a deletion request, the
    retracted document's sketch rows must stop influencing every later
    dedup verdict (a re-ingest of the same content screens as FRESH,
    not as a duplicate of a document that no longer exists).

    Same tombstone design as the ANN lanes
    (:func:`~.ann_index.delete_from_index`): the doc-id set lands as an
    O(|retracted|) parquet log under ``_tombstones/`` inside the live
    layout — no data-file rewrite at retract time — every incremental
    probe anti-joins the broadcast DISTINCT tombstone set before
    matching, and the next compaction physically purges the retracted
    docs' instance rows AND retires the log in the same atomic swap.
    After purge the layout holds exactly the rows of
    build(corpus minus retracted) — instance rows are row-local, so
    the equality is EXACT (pinned in tests/test_dedup_retract.py).

    Witness-capped DERIVED layouts refuse retraction (like appends):
    the cap already discarded the rows that would be promoted when a
    witness disappears — retract from the exact index and re-run the
    prune (which applies tombstones, so a fresh derived layout never
    resurrects a retracted witness).

    ``ids``: a DataFrame whose FIRST column is the doc id (renamed to
    the index's id column), or a plain list/tuple (requires
    ``spark``). Retraction follows the append QUIESCENCE rule during
    compaction — the swap guard snapshots tombstone files too."""
    meta = read_meta(path)
    if "witness_cap" in meta:
        raise ValueError(
            "retract_docs_from_index: target is a witness-capped DERIVED "
            "layout — retract from the exact index and re-run the prune"
        )
    # The tombstone column must match the STORED layout's id column:
    # the MinHash band table keeps the source id name, while the
    # paragraph/shingle instance tables normalize to 'doc_id'
    # (_paragraph_instances / _SHINGLE_IDX_SCHEMA).
    kind = meta.get("kind")
    id_col = meta["id_col"] if kind in (None, "minhash") else "doc_id"
    live = os.path.join(path, _LIVE_SUB[kind])
    _drop_src_fingerprint(os.path.join(path, "_dedup_meta.json"))
    if not isinstance(ids, DataFrame):
        if spark is None:
            raise ValueError("retract_docs_from_index: a plain id list needs spark=")
        ids = spark.createDataFrame([(int(i),) for i in ids], f"{id_col} bigint")
    # coalesce(1): one log file per retract call, not one per input
    # partition (r14 — the delete_from_index rule; see its comment).
    _tombstone_frame(ids, id_col, "retract_docs_from_index").coalesce(
        1
    ).write.mode("append").parquet(os.path.join(live, TOMBSTONE_DIR))


def _live_rows(idx: DataFrame, path: str, kind_key, id_col: str) -> DataFrame:
    """Apply the index's tombstone set (if any) to a live-layout scan —
    the one seam every incremental probe and prune pass reads through,
    so a retracted doc can never influence a verdict or survive into a
    derived layout. A no-op (the unchanged plan) on retraction-free
    indexes."""
    return _apply_tombstones(
        idx, os.path.join(path, _LIVE_SUB[kind_key]), id_col
    )


def build_minhash_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> str:
    """Sketch ``corpus`` once and persist its band-bucket table,
    partitioned by band (``bands`` directories — a probe that only
    uses a band subset prunes at the partition level).

    One corpus pass: shingle → 64 seeded mins (map-side combined) →
    band keys → write. The stored rows are fixed-width (id + 8-byte
    key), so the index is orders of magnitude smaller than the text it
    summarizes; the parameters are persisted so probes hash with the
    exact same bands forever (an index is only valid with its params).
    """
    _require_bigint_id(corpus, id_col, "build_minhash_index")
    buckets = band_table(
        minhash_signatures(corpus, text_col, id_col, n, num_hashes),
        id_col, num_hashes, bands,
    )
    buckets.write.mode("overwrite").partitionBy("band").parquet(
        os.path.join(path, "buckets")
    )
    _write_meta(
        path,
        {"n": n, "num_hashes": num_hashes, "bands": bands, "id_col": id_col},
    )
    return path


def append_to_index(
    batch: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Extend the index with ``batch``'s band buckets (parquet append
    into the same band partitions) — the post-screen step of the ingest
    loop: screen the batch, keep what's novel, then make the index
    aware of it so the NEXT batch dedups against this one too.

    Equivalence (pinned): build(corpus) + append(batch) contains
    exactly the rows of build(corpus ∪ batch) — the band table is
    row-local, so appending commutes with building.
    """
    meta = read_meta(path)
    if meta["id_col"] != id_col:
        raise ValueError(f"index id_col {meta['id_col']!r} != {id_col!r}")
    if "witness_cap" in meta:
        raise ValueError(
            "append_to_index: target is a witness-capped DERIVED layout — "
            "append to the exact index and re-run prune_index_witnesses"
        )
    buckets = band_table(
        minhash_signatures(batch, text_col, id_col, meta["n"], meta["num_hashes"]),
        id_col, meta["num_hashes"], meta["bands"],
    )
    buckets.write.mode("append").partitionBy("band").parquet(
        os.path.join(path, "buckets")
    )
    _drop_src_fingerprint(os.path.join(path, "_dedup_meta.json"))


def prune_index_witnesses(
    spark: SparkSession,
    path: str,
    out_path: str,
    cap: int,
    write_partitions: int = 8,
) -> str:
    """Materialize the witness cap as a DERIVED index layout: rewrite
    ``path``'s buckets into ``out_path`` keeping only each (band, key)
    bucket's ``cap`` min-id rows, so steady-state probes get the
    hot-bucket bound FOR FREE instead of paying the windowed rank over
    the full index scan on every micro-batch
    (:func:`incremental_dedup_pairs` ``witness_cap``). One maintenance
    pass (sort-based window, spillable), amortized across every later
    ingest — the same build-once/probe-many economics as the index
    itself.

    The pruned layout is a separate artifact, not an in-place edit: the
    exact index stays authoritative for exact probes and future
    appends; re-run pruning after appends to refresh (meta carries
    ``witness_cap`` — and drops the pristine-build ``src`` fingerprint —
    so a capped layout can never masquerade as exact, and
    :func:`append_to_index` refuses to extend it).
    Equivalence (pinned in tests/test_dedup_index.py):
    ``probe(pruned)`` == ``probe(full, witness_cap=cap)`` whenever the
    batch's ids are DISJOINT from the indexed corpus. Under
    ``exclude_own=True`` with overlapping ids (a crash-replayed batch
    that already appended itself) the equality can break: the full
    layout promotes post-anti-join survivors into the top ``cap``,
    while the pruned layout has already discarded them — the same
    probabilistic edge :func:`prune_paragraph_index` documents; size
    ``cap`` ≥ the replay multiplicity you tolerate."""
    from pyspark.sql import Window

    if os.path.abspath(out_path) == os.path.abspath(path) or (
        os.path.abspath(out_path).startswith(os.path.abspath(path) + os.sep)
    ):
        raise ValueError(
            "prune_index_witnesses: out_path must be a separate location — "
            "an in-place prune would overwrite the buckets the lazy read is "
            "still scanning and destroy the exact index"
        )
    meta = read_meta(path)
    idx = _live_rows(
        spark.read.schema(
            f"{meta['id_col']} BIGINT, key BIGINT, band INT"
        ).parquet(os.path.join(path, "buckets")),
        path, meta.get("kind"), meta["id_col"],
    )
    wb = Window.partitionBy("band", "key").orderBy(F.col(meta["id_col"]))
    (
        idx.withColumn("_rk", F.row_number().over(wb))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
        .repartition(write_partitions, "band")
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(os.path.join(out_path, "buckets"))
    )
    # The derived layout is NOT a pristine build(source): drop the 'src'
    # fingerprint so ensure-style callers can never serve the capped
    # layout as exact (the _drop_src_fingerprint invariant every other
    # mutation path keeps).
    pruned_meta = {k: v for k, v in meta.items() if k != "src"}
    _write_meta(out_path, {**pruned_meta, "witness_cap": cap})
    return out_path


def compact_index(spark: SparkSession, path: str, write_partitions: int = 8) -> None:
    """Rewrite the bucket layout into ONE file per band — the
    small-file remedy for an index that has absorbed many streamed
    micro-batch appends (each append lands one file per touched band;
    a year of 5-minute batches is ~10⁵ files per band without this).
    Hash-clustering on ``band`` before the partitioned write puts each
    band in exactly one task (``write_partitions`` only caps write
    parallelism), so each band directory comes out as a single file.
    Content is SET-equivalent, not byte-identical (dropDuplicates).
    Crash/race protocol: see :func:`.ann_index._compact_partitioned_index`."""
    meta = read_meta(path)
    _compact_partitioned_index(
        spark, os.path.join(path, "buckets"), "band", write_partitions,
        None, "compact_index",
        schema=f"{meta['id_col']} BIGINT, key BIGINT, band INT",
        meta_file=os.path.join(path, "_dedup_meta.json"),
    )


def incremental_dedup_pairs(
    spark: SparkSession,
    batch: DataFrame,
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    witness_cap: int | None = None,
    exclude_own: bool = True,
) -> DataFrame:
    """Near-dup pairs between ``batch`` and the corpus indexed at
    ``path``: ``(batch_doc, corpus_doc, jaccard)`` with exact word-
    shingle Jaccard ≥ ``threshold`` among LSH band collisions.

    ``exclude_own=True`` (default) anti-joins the index against the
    batch's own doc ids before probing (broadcast, map-side) — the
    same replay guard as the ANN and paragraph lanes: a crash-REPLAYED
    batch that already appended itself under ``extend_index`` must not
    collide with its own band buckets and report every doc a duplicate
    of itself. Also required whenever batch ids can legitimately recur
    in the corpus (re-delivered feeds). Costs one broadcast of the
    batch id set; disjoint batch/corpus make it a no-op.

    Only the batch is sketched; the corpus contributes its persisted
    buckets (scan of the fixed-width index) and, for verification, the
    text of candidate docs only. ``corpus`` must be the same frame the
    index was built from — verification recomputes shingles from its
    text (at true scale you would ALSO persist the shingle digests;
    here the candidate-pruned text scan keeps the index minimal).

    **witness_cap — the ingest-path hot-bucket bound.** A boilerplate
    corpus puts millions of near-identical docs in one persisted
    bucket; a batch doc colliding with it generates O(|bucket|)
    candidate pairs and text verifications, the same blowup
    :func:`.dedup.minhash_lsh_pairs` bounds with ``max_bucket``. With
    ``witness_cap=K``, each persisted bucket is represented by its K
    min-id members (a windowed rank over the index scan — sort-based,
    spillable, batch-independent), bounding candidates at
    O(|batch| × bands × K). Screening soundness is probabilistic, not
    absolute: a bucket certifies agreement on one band's r hashes, so
    with small r an oversize bucket can mix low-similarity colliders,
    and a batch doc whose only true near-duplicate ranks above the K
    witnesses in EVERY shared bucket would be missed. In the regime the
    cap targets (oversize buckets = boilerplate clusters) any witness
    verifies; size r (num_hashes/bands) and K so that holds, or keep
    ``None`` for exactness. ``None`` (the default) emits every verified
    collision pair — equal to the batch↔corpus pairs of the UNCAPPED
    one-shot operator (``minhash_lsh_pairs`` with ``max_bucket`` above
    every bucket size; the one-shot default caps at 1024, so the two
    coincide exactly when no combined bucket exceeds that).
    """
    meta = read_meta(path)
    if meta["id_col"] != id_col:
        # Same fail-fast diagnosis as append_to_index — otherwise the
        # mismatch surfaces as an opaque unresolved-column error
        # mid-plan (r7 dedup review).
        raise ValueError(f"index id_col {meta['id_col']!r} != {id_col!r}")
    stored_cap = meta.get("witness_cap")
    if stored_cap is not None and witness_cap is not None and witness_cap > stored_cap:
        raise ValueError(
            f"witness_cap={witness_cap} cannot be honored by a layout "
            f"pruned at cap={stored_cap} — probe the exact index instead"
        )
    # Explicit schema: an index built over an EMPTY corpus has no band
    # directories, and schema inference would fail on the bare dir.
    idx = _live_rows(
        spark.read.schema(
            f"{meta['id_col']} BIGINT, key BIGINT, band INT"
        ).parquet(os.path.join(path, "buckets")),
        path, meta.get("kind"), meta["id_col"],
    )
    if exclude_own:
        idx = idx.join(
            F.broadcast(batch.select(F.col(id_col)).distinct()),
            id_col,
            "left_anti",
        )
    if witness_cap is not None:
        from pyspark.sql import Window

        wb = Window.partitionBy("band", "key").orderBy(F.col(meta["id_col"]))
        idx = (
            idx.withColumn("_rk", F.row_number().over(wb))
            .filter(F.col("_rk") <= witness_cap)
            .drop("_rk")
        )
    probe = band_table(
        minhash_signatures(batch, text_col, id_col, meta["n"], meta["num_hashes"]),
        id_col, meta["num_hashes"], meta["bands"],
    ).withColumnRenamed(id_col, "batch_doc")
    # Batch side is ingest-sized → broadcast it so the corpus-side
    # index scan joins without an Exchange.
    # Persisted lazily: the candidate table feeds both the corpus-text
    # pruning id set and the verification join — without the persist
    # the index-scan join would execute twice (same rationale as
    # minhash_lsh_pairs; the ContextCleaner reclaims it).
    cand = (
        idx.join(F.broadcast(probe), ["band", "key"])
        .select(F.col("batch_doc"), F.col(id_col).alias("corpus_doc"))
        .distinct()
        .persist()
    )
    # Exact verification: batch shingles are cheap; corpus text prunes
    # to candidate docs via a broadcast semi-join BEFORE shingling, so
    # the expensive shingle expression runs on candidates only.
    #
    # r15 (guide §2.3 — do each distinct unit of work once): Jaccard is
    # a function of the two TEXTS alone, and the boilerplate regime
    # this probe screens is precisely the one where thousands of
    # candidate corpus docs share one text (the 50× bench replica is
    # the synthetic extreme: 532k candidate pairs collapsing to ~10k
    # distinct (batch_doc, text) verifications). So shingle and verify
    # once per distinct candidate text — md5-digest equality stands in
    # for text equality, the exact-dedup lane's standing doctrine —
    # and join each digest's verdict back onto its (batch_doc,
    # corpus_doc) pairs. The pair set is taken from ``cand`` (never
    # re-derived from digests), so witness-capped layouts keep their
    # truncated candidate sets exactly.
    cand_ids = cand.select(F.col("corpus_doc")).distinct()
    # Narrow (corpus_doc, digest) map over the candidate set — ONE
    # corpus-text scan computes every digest; persisted (the cand
    # discipline: two consumers — the pair attach and the
    # representative pick — and fixed-width rows bounded by the
    # candidate set, never corpus text).
    cd = (
        corpus.join(
            F.broadcast(cand_ids.withColumnRenamed("corpus_doc", id_col)),
            id_col,
            "semi",
        )
        .select(
            F.col(id_col).alias("corpus_doc"),
            F.md5(F.col(text_col)).alias("_td"),
        )
        .persist()
    )
    # One representative doc per digest; only THEIR text is re-read
    # and shingled (the distinct-text set, ≤ the candidate set).
    reps = cd.groupBy("_td").agg(F.min("corpus_doc").alias(id_col))
    rep_sets = corpus.join(F.broadcast(reps), id_col).select(
        "_td", word_shingles(text_col, meta["n"]).alias("sh_b")
    )
    batch_sets = batch.select(
        F.col(id_col).alias("batch_doc"),
        word_shingles(text_col, meta["n"]).alias("sh_a"),
    )
    jac = shingle_jaccard("sh_a", "sh_b")
    pair_d = cand.join(cd, "corpus_doc")
    verdicts = (
        pair_d.select("batch_doc", "_td")
        .distinct()
        .join(F.broadcast(batch_sets), "batch_doc")
        .join(rep_sets, "_td")
        .filter(jac >= threshold)
        .select("batch_doc", "_td", F.round(jac, 4).alias("jaccard"))
    )
    return pair_d.join(verdicts, ["batch_doc", "_td"]).select(
        "batch_doc", "corpus_doc", "jaccard"
    )


# ---------------------------------------------------------------------------
# Paragraph-digest index (r7, VERDICT r6 item 2): the ingest-path twin
# of plans/pipeline8.paragraph_dedup_stats. Boilerplate arrives
# incrementally in a real 100 TB ingest; re-running the one-shot
# paragraph pass over the whole corpus per batch is the cost the
# MinHash index already kills for near-dup — this kills it for
# paragraph-level EXACT dedup. Layout mirrors the band-partitioned
# bucket table:
#
#     <path>/digests/pb=<b>/*.parquet   # (doc_id, g, h) per instance
#     <path>/_dedup_meta.json           # kind/para_words/buckets/id_col
#
# Rows are (doc_id, position, md5-digest) — fixed width, never text.
# Storing instance rows (not just the digest set) is what makes a
# crash-REPLAYED batch safe: the probe anti-joins the index against the
# batch's own doc ids, so a batch that already appended itself never
# counts its own paragraphs as prior occurrences (the ann_ingest
# exclude-own-ids contract).

#: Paragraph window length in words — must match the one-shot operator
#: (plans/pipeline8._PARA_WORDS) for the screened verdicts to compose.
PARA_WORDS = 10

#: Composite instance key base (doc_id·10⁹ + g), same exactness note as
#: plans/pipeline8._INST_KEY.
_PINST_KEY = 1_000_000_000


def _paragraph_instances(
    d: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    para_words: int = PARA_WORDS,
) -> DataFrame:
    """(doc_id, g, h) per non-overlapping ``para_words``-word window —
    the exact digesting of plans/pipeline8.paragraph_dedup_stats (md5
    over the space-joined slice), shared so index and one-shot verdicts
    always agree."""
    ws = F.split(F.trim(F.col(text_col)), " +")
    n_chunks = F.expr(f"(size(ws) + {para_words - 1}) DIV {para_words}")
    return (
        d.select(F.col(id_col).alias("doc_id"), ws.alias("ws"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("g"),
            F.col("ws"),
        )
        .select(
            "doc_id",
            "g",
            F.md5(
                F.concat_ws(
                    " ", F.expr(f"slice(ws, g * {para_words} + 1, {para_words})")
                )
            ).alias("h"),
        )
    )


def _pb(col: str, buckets: int):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(buckets)).cast("int")


def paragraph_clean_expr(text_col: str, para_words: int):
    """Rebuild a document from its kept paragraph positions ``ks`` —
    the ONE definition of the apply-side rewrite shared by the one-shot
    (plans/pipeline8.ns_paragraph_dedup_apply) and the incremental
    apply, so the two rewrites can never drift (r7 dedup review)."""
    quoted = "`" + text_col.replace("`", "``") + "`"
    return F.expr(
        f"concat_ws(' ', transform(ks, g -> concat_ws(' ', "
        f"slice(split(trim({quoted}), ' +'), g * {para_words} + 1, {para_words}))))"
    )


def build_paragraph_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    para_words: int = PARA_WORDS,
    buckets: int = 16,
) -> str:
    """Digest ``corpus`` once and persist its paragraph-instance table,
    hash-partitioned on the digest into ``buckets`` directories (a
    probe scans only directories its batch digests hash into when the
    reader pushes the partition filter; at minimum the layout bounds
    file counts per append)."""
    _require_bigint_id(corpus, id_col, "build_paragraph_index")
    inst = _paragraph_instances(corpus, text_col, id_col, para_words)
    (
        inst.withColumn("pb", _pb("h", buckets))
        .write.mode("overwrite")
        .partitionBy("pb")
        .parquet(os.path.join(path, "digests"))
    )
    _write_meta(
        path,
        {"kind": "paragraph", "para_words": para_words, "buckets": buckets,
         "id_col": id_col},
    )
    return path


def append_paragraphs_to_index(
    batch: DataFrame, path: str, text_col: str = "text", id_col: str = "doc_id"
) -> None:
    """Extend the index with ``batch``'s paragraph instances (parquet
    append into the same pb partitions) — the post-screen step of the
    ingest loop. Appending commutes with building (instance rows are
    row-local), pinned like the MinHash twin."""
    meta = read_meta(path)
    if meta.get("kind") != "paragraph":
        raise ValueError(f"not a paragraph index: {meta.get('kind')!r}")
    if meta["id_col"] != id_col:
        raise ValueError(f"index id_col {meta['id_col']!r} != {id_col!r}")
    if "witness_cap" in meta:
        raise ValueError(
            "append_paragraphs_to_index: target is a witness-capped DERIVED "
            "layout — append to the exact index and re-run prune_paragraph_index"
        )
    inst = _paragraph_instances(batch, text_col, id_col, meta["para_words"])
    (
        inst.withColumn("pb", _pb("h", meta["buckets"]))
        .write.mode("append")
        .partitionBy("pb")
        .parquet(os.path.join(path, "digests"))
    )
    _drop_src_fingerprint(os.path.join(path, "_dedup_meta.json"))


def incremental_paragraph_stats(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    exclude_own: bool = True,
) -> DataFrame:
    """Per-batch-document paragraph-duplication stats against the
    indexed corpus: ``(doc_id, n_paras, n_dup, dup_frac)`` where a
    batch paragraph instance is a duplicate iff its digest occurs ≥2
    times across (indexed corpus ∪ batch) — EXACTLY the one-shot
    ``paragraph_dedup_stats(corpus ∪ batch)`` verdict restricted to
    batch docs (pinned in tests/test_paragraph_ingest.py), because
    (count_index ≥ 1) OR (count_batch ≥ 2) ⇔ total ≥ 2.

    Scale shape (the incremental_dedup_pairs discipline): only the
    batch is digested; the corpus contributes one scan of the
    fixed-width instance table, semi-pruned map-side by the BROADCAST
    batch digest set, so per-batch cost is O(index scan) + O(batch).
    Within-batch counts come from one batch-sized window exchange on
    the digest. ``exclude_own=True`` anti-joins the index against the
    batch's own doc ids first (broadcast, map-side), so a crash-
    replayed batch that already appended itself never self-matches —
    REQUIRED under extend-index streaming; only turn it off for a
    corpus known to be disjoint from every batch (saves nothing, so
    don't)."""
    from pyspark.sql import Window

    meta = read_meta(path)
    if meta.get("kind") != "paragraph":
        raise ValueError(f"not a paragraph index: {meta.get('kind')!r}")
    inst = _paragraph_instances(batch, text_col, id_col, meta["para_words"])
    idx = _live_rows(
        spark.read.schema("doc_id BIGINT, g BIGINT, h STRING, pb INT").parquet(
            os.path.join(path, "digests")
        ),
        path, "paragraph", "doc_id",
    )
    if exclude_own:
        idx = idx.join(
            F.broadcast(batch.select(F.col(id_col).alias("doc_id")).distinct()),
            "doc_id",
            "left_anti",
        )
    bat_h = inst.select("h").distinct()
    hits = (
        idx.join(F.broadcast(bat_h), "h")
        .select("h")
        .distinct()
        .withColumn("_in_idx", F.lit(True))
    )
    wb = Window.partitionBy("h")
    flagged = (
        inst.withColumn("_bc", F.count("*").over(wb))
        .join(F.broadcast(hits), "h", "left")
        .withColumn(
            "_dup",
            (F.coalesce(F.col("_in_idx"), F.lit(False)) | (F.col("_bc") >= 2))
            .cast("long"),
        )
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum("_dup").alias("n_dup"),
            (
                F.floor(
                    F.sum("_dup").cast("double") / F.count("*") * 1e6 + F.lit(0.5)
                )
                / 1e6
            ).alias("dup_frac"),
        )
    )


def compact_paragraph_index(
    spark: SparkSession, path: str, write_partitions: int = 8,
    _test_hook_pre_swap=None,
) -> None:
    """One file per pb directory + exact-duplicate shedding for the
    paragraph layout (a replayed append's instance rows are exact
    duplicates by construction, so dropDuplicates is the correct heal).
    Crash/race protocol: see :func:`.ann_index._compact_partitioned_index`."""
    meta = read_meta(path)
    if meta.get("kind") != "paragraph":
        raise ValueError(f"not a paragraph index: {meta.get('kind')!r}")
    _compact_partitioned_index(
        spark, os.path.join(path, "digests"), "pb", write_partitions,
        _test_hook_pre_swap, "compact_paragraph_index",
        schema="doc_id BIGINT, g BIGINT, h STRING, pb INT",
        meta_file=os.path.join(path, "_dedup_meta.json"),
    )


def incremental_paragraph_apply(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    exclude_own: bool = True,
) -> DataFrame:
    """The APPLY step on ingest: rewrite each batch document keeping a
    paragraph instance iff it is the corpus-wide FIRST occurrence of
    its text — min composite key (doc_id·10⁹ + position) across
    (indexed corpus ∪ batch), the exact
    plans/pipeline8.ns_paragraph_dedup_apply rule — and return
    ``(doc_id, n_kept, clean_text)``; batch docs whose every paragraph
    first occurred elsewhere vanish (fully-boilerplate removal).

    Verdict equivalence (oracle-gated as ns_paragraph_screen_apply):
    equals the one-shot apply over (corpus ∪ batch) restricted to batch
    docs, because an instance's keep test only compares its key with
    the global min — min(index_min(h), batch_min(h)) here — and index
    rows carry exactly (doc_id, position, digest). Note the ingest
    fixed point: batch docs' ids must sort AFTER already-indexed ids
    for "first" to mean "arrived first" (true for monotone ingest ids;
    with arbitrary ids the rule is still exactly the one-shot min-key
    rule, just not temporal).

    Scale shape: the keep DECISION flows digests-only — the index scan
    is semi-pruned map-side by the broadcast batch digest set and
    aggregated to one min-key row per matched digest (tiny, broadcast
    back); batch text is touched once more to rebuild clean_text
    map-side from the kept positions, the same floor as the one-shot
    apply."""
    from pyspark.sql import Window

    meta = read_meta(path)
    if meta.get("kind") != "paragraph":
        raise ValueError(f"not a paragraph index: {meta.get('kind')!r}")
    pw = meta["para_words"]
    inst = _paragraph_instances(batch, text_col, id_col, pw)
    idx = _live_rows(
        spark.read.schema("doc_id BIGINT, g BIGINT, h STRING, pb INT").parquet(
            os.path.join(path, "digests")
        ),
        path, "paragraph", "doc_id",
    )
    if exclude_own:
        idx = idx.join(
            F.broadcast(batch.select(F.col(id_col).alias("doc_id")).distinct()),
            "doc_id",
            "left_anti",
        )
    bat_h = inst.select("h").distinct()
    idx_min = (
        idx.join(F.broadcast(bat_h), "h")
        .groupBy("h")
        .agg(F.min(F.col("doc_id") * _PINST_KEY + F.col("g")).alias("_imin"))
    )
    ikey = F.col("doc_id") * _PINST_KEY + F.col("g")
    wb = Window.partitionBy("h")
    keptg = (
        inst.withColumn("_bmin", F.min(ikey).over(wb))
        .join(F.broadcast(idx_min), "h", "left")
        .filter(
            (ikey == F.col("_bmin"))
            & (F.col("_imin").isNull() | (ikey < F.col("_imin")))
        )
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("g")).alias("ks"),
            F.count("*").alias("n_kept"),
        )
    )
    clean = paragraph_clean_expr(text_col, pw)
    return (
        batch.withColumnRenamed(id_col, "doc_id")
        .join(keptg, "doc_id")
        .select("doc_id", "n_kept", clean.alias("clean_text"))
    )


def prune_paragraph_index(
    spark: SparkSession,
    path: str,
    out_path: str,
    cap: int,
    write_partitions: int = 8,
) -> str:
    """Materialize a witness-capped DERIVED paragraph-index layout:
    keep each digest's ``cap`` min-composite-key instance rows (the
    prune_index_witnesses economics — one sort-based maintenance pass,
    amortized over every later ingest). For a boilerplate-heavy corpus
    this shrinks the instance table toward the DISTINCT-digest count,
    which is the whole storage story at 100 TB.

    Losslessness: the screen needs digest EXISTENCE and the apply needs
    the digest's GLOBAL MIN key — both preserved by keeping min-key
    rows, so probes against the pruned layout equal the full index
    EXACTLY whenever the batch's ids are disjoint from the indexed
    corpus (pinned). The probabilistic edge is ``exclude_own`` under
    crash-replay: a replayed batch's own rows are anti-joined out, and
    if ALL ``cap`` kept witnesses of a digest came from that batch
    while pruned-away occurrences did not, the screen under-reports —
    size ``cap`` ≥ the replay batch multiplicity you tolerate (the
    MinHash witness_cap sizing rule; ``cap`` ≥ 2 already covers the
    common single-replay case). Meta carries ``witness_cap`` so a
    capped layout can never masquerade as exact; append to the EXACT
    index and re-prune to refresh."""
    from pyspark.sql import Window

    if os.path.abspath(out_path) == os.path.abspath(path) or (
        os.path.abspath(out_path).startswith(os.path.abspath(path) + os.sep)
    ):
        raise ValueError(
            "prune_paragraph_index: out_path must be a separate location"
        )
    meta = read_meta(path)
    if meta.get("kind") != "paragraph":
        raise ValueError(f"not a paragraph index: {meta.get('kind')!r}")
    idx = _live_rows(
        spark.read.schema("doc_id BIGINT, g BIGINT, h STRING, pb INT").parquet(
            os.path.join(path, "digests")
        ),
        path, "paragraph", "doc_id",
    )
    wb = Window.partitionBy("h").orderBy(F.col("doc_id") * _PINST_KEY + F.col("g"))
    (
        idx.withColumn("_rk", F.row_number().over(wb))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
        .repartition(write_partitions, "pb")
        .write.mode("overwrite")
        .partitionBy("pb")
        .parquet(os.path.join(out_path, "digests"))
    )
    # Derived layout: drop the pristine-build fingerprint (same
    # invariant as prune_index_witnesses).
    pruned_meta = {k: v for k, v in meta.items() if k != "src"}
    _write_meta(out_path, {**pruned_meta, "witness_cap": cap})
    return out_path


# ---------------------------------------------------------------------------
# Shingle (exact-substring span) index — the ingest lane of the
# variable-length ExactSubstr pass (plans/pipeline5.exact_substring_*):
# the corpus's stride-1 k-token shingle digests persist once, and each
# arriving batch screens/trims against them without re-reading corpus
# text. O(n_tokens) index rows is the same asymptotic budget as the
# paper's suffix array (~one machine word per token with the xxhash64
# digest); md5 stays the default so oracles can restate the math.
# ---------------------------------------------------------------------------


def shingle_digest_expr(k: int, digest: str) -> F.Column:
    """Digest of the k-token shingle at position ``g`` of token array
    ``a`` — THE one definition shared by the one-shot operators
    (plans/pipeline5) and this index lane, so build and probe can never
    drift. ``md5`` for oracle parity; ``xxhash64`` for production
    (8-byte BIGINT shuffle/storage rows, ~4× narrower)."""
    s = F.concat_ws(" ", F.expr(f"slice(a, g, {k})"))
    if digest == "md5":
        return F.md5(s)
    if digest == "xxhash64":
        return F.xxhash64(s)
    raise ValueError(f"digest must be 'md5' or 'xxhash64', got {digest!r}")


def shingle_instances(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 12,
    digest: str = "md5",
) -> DataFrame:
    """(doc_id, g, h): every stride-1 ``min_len``-token shingle of
    every document, 1-based positions; documents shorter than
    ``min_len`` contribute their single truncated shingle (the
    ns_span_dedup convention). Plain ``split(text, ' ')`` tokens —
    the exact_substring grid, NOT the paragraph lane's regex split."""
    k = int(min_len)
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.col(text_col), " ").alias("a"),
        )
        .select(
            "doc_id",
            F.col("a"),
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.size("a") - (k - 1), F.lit(1)))
            ).alias("g"),
        )
        .select(
            "doc_id",
            F.col("g").cast("long").alias("g"),
            shingle_digest_expr(k, digest).alias("h"),
        )
    )


_SHINGLE_IDX_SCHEMA = {
    "md5": "doc_id BIGINT, g BIGINT, h STRING, pb INT",
    "xxhash64": "doc_id BIGINT, g BIGINT, h BIGINT, pb INT",
}


def build_shingle_index(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 12,
    buckets: int = 16,
    digest: str = "md5",
) -> str:
    """Digest ``corpus`` once and persist its shingle-instance table,
    hash-partitioned on the digest into ``buckets`` directories (the
    paragraph-index layout applied to the span lane)."""
    _require_bigint_id(corpus, id_col, "build_shingle_index")
    inst = shingle_instances(corpus, text_col, id_col, min_len, digest)
    (
        inst.withColumn("pb", _pb("h", buckets))
        .write.mode("overwrite")
        .partitionBy("pb")
        .parquet(os.path.join(path, "digests"))
    )
    _write_meta(
        path,
        {"kind": "shingle", "min_len": min_len, "buckets": buckets,
         "digest": digest, "id_col": id_col},
    )
    return path


def _shingle_meta(path: str, id_col: str) -> dict:
    meta = read_meta(path)
    if meta.get("kind") != "shingle":
        raise ValueError(f"not a shingle index: {meta.get('kind')!r}")
    if meta["id_col"] != id_col:
        raise ValueError(f"index id_col {meta['id_col']!r} != {id_col!r}")
    return meta


def append_shingles_to_index(
    batch: DataFrame, path: str, text_col: str = "text", id_col: str = "doc_id"
) -> None:
    """Extend the index with ``batch``'s shingle instances (parquet
    append into the same pb partitions) — the post-screen step of the
    ingest loop, so later batches dedup against earlier ones too.
    Instance rows are row-local, so appending commutes with building
    (the paragraph-lane pin, re-pinned in tests/test_span_ingest.py)."""
    meta = _shingle_meta(path, id_col)
    inst = shingle_instances(batch, text_col, id_col, meta["min_len"],
                             meta["digest"])
    (
        inst.withColumn("pb", _pb("h", meta["buckets"]))
        .write.mode("append")
        .partitionBy("pb")
        .parquet(os.path.join(path, "digests"))
    )
    _drop_src_fingerprint(os.path.join(path, "_dedup_meta.json"))


def _read_shingle_index(
    spark: SparkSession, path: str, meta: dict
) -> DataFrame:
    return _live_rows(
        spark.read.schema(_SHINGLE_IDX_SCHEMA[meta["digest"]]).parquet(
            os.path.join(path, "digests")
        ),
        path, "shingle", "doc_id",
    )


def incremental_span_stats(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    exclude_own: bool = True,
) -> DataFrame:
    """Per-batch-document exact-substring duplication stats against
    the indexed corpus: ``(doc_id, n_positions, n_dup, dup_frac)``
    where a batch shingle position is duplicated iff its digest occurs
    at ≥2 (doc, pos) sites across (indexed corpus ∪ batch) — EXACTLY
    the one-shot verdict over the union restricted to batch docs
    ((count_index ≥ 1) OR (count_batch ≥ 2) ⇔ total ≥ 2; oracle-gated
    as ns_span_screen). Scale shape = the paragraph screen's: only the
    batch is digested, one scan of the fixed-width instance table
    semi-pruned map-side by the broadcast batch digest set, one
    batch-sized digest window. ``exclude_own`` is the standard
    crash-replay guard (a batch that already appended itself must not
    self-match)."""
    from pyspark.sql import Window

    meta = _shingle_meta(path, id_col)
    inst = shingle_instances(batch, text_col, id_col, meta["min_len"],
                             meta["digest"])
    idx = _read_shingle_index(spark, path, meta)
    if exclude_own:
        idx = idx.join(
            F.broadcast(batch.select(F.col(id_col).alias("doc_id")).distinct()),
            "doc_id",
            "left_anti",
        )
    hits = (
        idx.join(F.broadcast(inst.select("h").distinct()), "h")
        .select("h")
        .distinct()
        .withColumn("_in_idx", F.lit(True))
    )
    wb = Window.partitionBy("h")
    flagged = (
        inst.withColumn("_bc", F.count("*").over(wb))
        .join(F.broadcast(hits), "h", "left")
        .withColumn(
            "_dup",
            (F.coalesce(F.col("_in_idx"), F.lit(False)) | (F.col("_bc") >= 2))
            .cast("long"),
        )
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_positions"),
        F.sum("_dup").alias("n_dup"),
        (
            F.floor(F.sum("_dup").cast("double") / F.count("*") * 1e6 + F.lit(0.5))
            / 1e6
        ).alias("dup_frac"),
    )


def incremental_span_apply(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    exclude_own: bool = True,
) -> DataFrame:
    """The ExactSubstr REMOVAL pass on ingest: rewrite each batch
    document cutting every token covered by a non-canonical duplicated
    shingle, where canonical is ARRIVAL-FIRST — any indexed corpus
    site wins outright (it arrived earlier by definition), and
    batch-only repeats keep their first (doc_id, g) site within the
    batch. Emits every batch doc as ``(doc_id, clean_text,
    n_removed)``.

    Arrival-first replaces the one-shot operator's lexicographic
    keep-one (plans/pipeline5.exact_substring_apply): the two COINCIDE
    whenever batch ids follow corpus ids (the monotonic-ingest case,
    pinned), and the oracle-gated twin (ns_span_screen_apply) states
    arrival-first directly — order by (is_batch, doc_id, g) — so the
    equivalence holds for ANY id split. Shape: the screen's probe plus
    a within-batch rank window, removal positions island-merge into
    per-doc ranges, ONE join back onto the batch text, map-side array
    rebuild — corpus text is never read."""
    from pyspark.sql import Window

    meta = _shingle_meta(path, id_col)
    k = int(meta["min_len"])
    base = batch.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("a")
    )
    inst = shingle_instances(batch, text_col, id_col, k, meta["digest"])
    idx = _read_shingle_index(spark, path, meta)
    if exclude_own:
        idx = idx.join(
            F.broadcast(batch.select(F.col(id_col).alias("doc_id")).distinct()),
            "doc_id",
            "left_anti",
        )
    hits = (
        idx.join(F.broadcast(inst.select("h").distinct()), "h")
        .select("h")
        .distinct()
        .withColumn("_in_idx", F.lit(True))
    )
    wb = Window.partitionBy("h")
    rem = (
        inst.withColumn("_bc", F.count("*").over(wb))
        .withColumn("_rn", F.row_number().over(wb.orderBy("doc_id", "g")))
        .join(F.broadcast(hits), "h", "left")
        .filter(
            F.coalesce(F.col("_in_idx"), F.lit(False))  # corpus site wins
            | ((F.col("_bc") >= 2) & (F.col("_rn") > 1))  # batch keep-first
        )
    )
    ranges = (
        rem.withColumn(
            "grp",
            F.col("g")
            - F.row_number().over(Window.partitionBy("doc_id").orderBy("g")),
        )
        .groupBy("doc_id", "grp")
        .agg(
            F.min("g").alias("rs"),
            (F.max("g") + F.lit(k - 1)).cast("long").alias("re"),
        )
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("rs", "re")).alias("spans"))
    )
    return (
        base.join(ranges, "doc_id", "left")
        .withColumn(
            "spans",
            F.coalesce(
                F.col("spans"),
                F.expr("CAST(array() AS array<struct<rs:bigint,re:bigint>>)"),
            ),
        )
        .withColumn(
            "_kept",
            F.expr(
                "filter(zip_with(a, sequence(1L, cast(size(a) AS BIGINT)),"
                " (t, p) -> struct(t, p)),"
                " s -> NOT exists(spans, r -> s.p BETWEEN r.rs AND r.re))"
            ),
        )
        .select(
            "doc_id",
            F.concat_ws(" ", F.expr("transform(_kept, s -> s.t)")).alias(
                "clean_text"
            ),
            (F.size("a") - F.size("_kept")).cast("long").alias("n_removed"),
        )
    )


def compact_shingle_index(
    spark: SparkSession, path: str, write_partitions: int = 8
) -> None:
    """One file per pb directory + exact-duplicate shedding (a replayed
    append's instance rows are exact duplicates by construction).
    Crash/race protocol: see :func:`.ann_index._compact_partitioned_index`."""
    meta = read_meta(path)
    if meta.get("kind") != "shingle":
        raise ValueError(f"not a shingle index: {meta.get('kind')!r}")
    _compact_partitioned_index(
        spark, os.path.join(path, "digests"), "pb", write_partitions,
        None, "compact_shingle_index",
        schema=_SHINGLE_IDX_SCHEMA[meta["digest"]],
        meta_file=os.path.join(path, "_dedup_meta.json"),
    )
