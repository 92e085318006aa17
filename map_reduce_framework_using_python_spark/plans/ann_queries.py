"""Registered queries for the storage-backed ANN indexes.

These are the partition-pruned scale paths for similarity search
(VERDICT r1 item 2): the corpus is written ONCE partitioned by LSH
bucket / IVF centroid id, and each query's parquet scan opens only the
probed partition directories (``PartitionFilters`` — EXPLAINS.md §ANN).

Sketch-based → registered rows-only (no ANSI-SQL oracle); pytest
(tests/test_ann_index.py) pins exact equivalence with the inline
variants and with brute force under full probe.

Index builds are cached per (sf_dir, params) under
:data:`~map_reduce_framework_using_python_spark.operators.ann_index.INDEX_ROOT`
so repeated query calls reuse the layout — mirroring real operation,
where the index is built once per corpus version, not per query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_framework_using_python_spark.operators.ann_index import (
    INDEX_ROOT,
    build_ivf_index,
    build_lsh_index,
    ivf_topk_indexed,
    lsh_topk_indexed,
)
from map_reduce_framework_using_python_spark.plans.core import query, t


def _index_path(sf_dir: str, kind: str) -> str:
    from map_reduce_framework_using_python_spark.sources.io import layout_cache_tag

    # Full-path tag (shared helper): same-basename corpora must not
    # collide on one cache slot (r7 ANN review).
    return os.path.join(INDEX_ROOT, layout_cache_tag(sf_dir), kind)


def _ensure(sf_dir: str, kind: str, build) -> str:
    """Build-or-reuse a storage-backed index, guarded by a SOURCE
    fingerprint in the meta file: a regenerated embeddings.parquet
    (even same-cardinality) invalidates the index — the same
    refresh-hazard rule as the partitioned/Z-order layouts. The
    corrupt-manifest/atomic-write rules live in the shared
    sources.io.ensure_fingerprinted_layout (r7 review: three drifted
    hand-rolled copies collapsed to one)."""
    from map_reduce_framework_using_python_spark.sources.io import (
        ensure_fingerprinted_layout,
        source_fingerprint,
    )

    return ensure_fingerprinted_layout(
        _index_path(sf_dir, kind),
        "_ann_meta.json",
        source_fingerprint(os.path.join(sf_dir, "embeddings.parquet")),
        build,
    )


def _ensure_lsh(spark: SparkSession, sf_dir: str) -> str:
    return _ensure(
        sf_dir, "lsh8_seed42",
        lambda p: build_lsh_index(
            t(spark, sf_dir, "embeddings"), p, n_planes=8, seed=42
        ),
    )


def _ensure_ivf(spark: SparkSession, sf_dir: str) -> str:
    return _ensure(
        sf_dir, "ivf16_seed42",
        lambda p: build_ivf_index(
            t(spark, sf_dir, "embeddings"), p, n_centroids=16, seed=42
        ),
    )


def _ensure_lsh_grid(spark: SparkSession, sf_dir: str) -> str:
    """The grid-bucketed LSH build variant (same planes as _ensure_lsh;
    signs taken on the half-up 1e-6 grid) — the deterministic layout
    the full-oracle indexed probe reads (ns_lsh_topk_indexed, r13)."""
    return _ensure(
        sf_dir, "lsh8_seed42_grid",
        lambda p: build_lsh_index(
            t(spark, sf_dir, "embeddings"), p, n_planes=8, seed=42, grid=True
        ),
    )


def _ensure_ivf_lloyd(spark: SparkSession, sf_dir: str) -> str:
    from map_reduce_framework_using_python_spark.operators.ann_index import (
        build_ivf_index_lloyd,
    )

    return _ensure(
        sf_dir, "ivf_lloyd8x2",
        lambda p: build_ivf_index_lloyd(
            t(spark, sf_dir, "embeddings"), p, k=8, n_iter=2
        ),
    )


def _scratch_dir(prefix: str) -> str:
    """Per-invocation work dir (sink + checkpoint), reclaimed at process
    exit — repeated sweep/bench runs otherwise accumulate unbounded
    /tmp usage (r7 ANN review). Not reclaimed earlier because the
    returned result frame may still read its parquet sink lazily."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _qvec(spark: SparkSession, sf_dir: str, vid: int = 0) -> list[float]:
    # Delegate to the similarity helper: it raises a descriptive
    # ValueError when the id is absent instead of a bare TypeError on
    # row[...] (r7 ANN review).
    from map_reduce_framework_using_python_spark.operators.similarity import (
        _query_vector,
    )

    return _query_vector(
        t(spark, sf_dir, "embeddings"), "embedding", "vec_id", vid
    )


# ---------------------------------------------------------------------------
# Batched multi-query probing (round 5): one plan answers a BATCH of
# query vectors — the shape retrieval/curation actually runs — and, by
# quantizing both the bucket signs and the cosine to the 1e-6 grid on
# both engines, the first ANN query that carries a full DuckDB oracle.
# r13 promoted the single-query INDEXED forms under the same gate: the
# LSH one over a grid-bucketed build variant (build_lsh_index grid=True),
# the IVF one over the Lloyd-built index.

from map_reduce_framework_using_python_spark.operators.similarity import (  # noqa: E402
    hyperplanes,
    lsh_probe_batch,
)

#: The testdata embedding dimension. The oracle embeds the hyperplanes
#: as SQL literals, so it is generated for THIS dim; a testdata dim
#: change fails the sweep loudly on both engines rather than silently.
_EMB_DIM = 64

_PLANES = hyperplanes(_EMB_DIM, 8, seed=42)


def _bucket_sql(vec_expr: str) -> str:
    """DuckDB twin of operators/similarity.lsh_bucket_grid: bit i =
    (floor(dot(v, plane_i)*1e6 + 0.5) >= 0), planes as literals."""
    terms = []
    for i, p in enumerate(_PLANES):
        lit = "[" + ", ".join(repr(x) for x in p) + "]"
        terms.append(
            f"(CASE WHEN floor(list_dot_product({vec_expr}, {lit})"
            f" * 1000000.0 + 0.5) >= 0 THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


_LSH_TOPK_INDEXED_ORACLE = f"""
    WITH b AS (
        SELECT vec_id, label,
               CAST(embedding AS DOUBLE[]) AS v,
               CAST({_bucket_sql("CAST(embedding AS DOUBLE[])")} AS BIGINT)
                   AS bucket
        FROM embeddings
    ), q AS (
        SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0
    ), cand AS (
        SELECT b.vec_id, b.label,
               floor(list_cosine_similarity(b.v, q.qv) * 1000000.0 + 0.5)
                   AS qcos
        FROM b CROSS JOIN q
        WHERE bit_count(xor(b.bucket, q.qbucket)) <= 2 AND b.vec_id <> 0
    )
    SELECT vec_id, label, qcos / 1000000.0 AS cosine
    FROM cand ORDER BY qcos DESC, vec_id LIMIT 10
"""


@query(
    "ns_lsh_topk_indexed",
    oracle=_LSH_TOPK_INDEXED_ORACLE,
    tags=("northstar", "similarity", "sketch", "index"),
)
def ns_lsh_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned LSH cosine top-10 against a PERSISTED
    grid-bucketed index (build_lsh_index ``grid=True`` — signs on the
    half-up 1e-6 grid, same planes as the raw layout): reads only the
    37/256 Hamming-ball bucket directories, ranks on the quantized
    cosine. Promoted from rows-only to a FULL DuckDB oracle in r13
    (VERDICT item 5): the grid signs make the bucket bits — and so the
    candidate set — bit-reproducible in SQL (plane literals, the
    ns_ann_probe_batch machinery), so the oracle replays bucketing,
    Hamming-ball pruning, and the top-k. The raw-sign build path stays
    (operators/ann_index.build_lsh_index default) with its pytest pins."""
    path = _ensure_lsh_grid(spark, sf_dir)
    return lsh_topk_indexed(
        spark, path, _qvec(spark, sf_dir), k=10, probe_hamming=2,
        exclude_id=0, grid=True,
    )


def _ivf_topk_indexed_oracle() -> str:
    """Full DuckDB oracle for the Lloyd-built single-query IVF probe:
    the deterministic k-means CTE chain reproduces the index's
    centroids and assignments; centroid ranking, n_probe pruning, and
    the grid-quantized cosine top-10 are plain SQL (the
    ns_ivf_probe_batch machinery, single-query form)."""
    from map_reduce_framework_using_python_spark.plans.clustering_queries import (
        _kmeans_ctes,
        _sqdist_sql,
    )

    k_cl, n_iter, dim = 8, 2, 64
    ctes = _kmeans_ctes(k_cl, n_iter, dim)
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
        q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
        pr AS (SELECT cluster FROM (
                   SELECT c.cluster,
                          row_number() OVER (
                              ORDER BY {_sqdist_sql("q.qv", "c.cent")}, c.cluster
                          ) AS cr
                   FROM q CROSS JOIN cent{n_iter} c)
               WHERE cr <= 4),
        cand AS (SELECT a.vec_id,
                        floor(list_cosine_similarity(a.v, q.qv)
                              * 1000000.0 + 0.5) AS qcos
                 FROM a{n_iter} a JOIN pr ON a.cluster = pr.cluster
                      CROSS JOIN q
                 WHERE a.vec_id <> 0)
        SELECT c.vec_id, e.label, qcos / 1000000.0 AS cosine
        FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
        ORDER BY qcos DESC, c.vec_id LIMIT 10
    """
    )


@query(
    "ns_ivf_topk_indexed",
    oracle=_ivf_topk_indexed_oracle(),
    tags=("northstar", "similarity", "sketch", "index"),
)
def ns_ivf_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned IVF cosine top-10 against the PERSISTED
    Lloyd-built index (k=8, 2 iterations — ns_kmeans_sizes' model):
    reads the 4/8 nearest centroid partitions, ranks on the quantized
    cosine. Promoted from rows-only to a FULL DuckDB oracle in r13
    (VERDICT item 5) via the ns_ivf_probe_batch machinery in
    single-query form — the oracle replays centroid training, index
    assignment, probe routing, and the top-10. The spark.ml build path
    stays (operators/ann_index.build_ivf_index) with its pytest pins
    (full-probe == brute force, tests/test_ann_index.py)."""
    path = _ensure_ivf_lloyd(spark, sf_dir)
    return ivf_topk_indexed(
        spark, path, _qvec(spark, sf_dir), k=10, n_probe=4, exclude_id=0,
        grid=True,
    )


_ANN_PROBE_BATCH_ORACLE = f"""
    WITH b AS (
        SELECT vec_id, label,
               CAST(embedding AS DOUBLE[]) AS v,
               CAST({_bucket_sql("CAST(embedding AS DOUBLE[])")} AS BIGINT)
                   AS bucket
        FROM embeddings
    ), q AS (
        SELECT vec_id AS q_id, v AS qv, bucket AS qbucket
        FROM b WHERE vec_id % 37 = 0 AND vec_id < 18500
    ), cand AS (
        SELECT q.q_id, b.vec_id, b.label,
               floor(list_cosine_similarity(b.v, q.qv) * 1000000.0 + 0.5)
                   AS qcos
        FROM q JOIN b
          ON bit_count(xor(b.bucket, q.qbucket)) <= 2
         AND b.vec_id <> q.q_id
    ), r AS (
        SELECT q_id, vec_id, label, qcos,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY qcos DESC, vec_id) AS rn
        FROM cand
    )
    SELECT q_id, vec_id, label, qcos / 1000000.0 AS cosine,
           CAST(rn AS INTEGER) AS rn
    FROM r WHERE rn <= 5
"""


@query(
    "ns_ann_probe_batch",
    oracle=_ANN_PROBE_BATCH_ORACLE,
    tags=("northstar", "similarity", "batch"),
)
def ns_ann_probe_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched LSH cosine top-5: every query vector (vec_id ≡ 0 mod 37)
    gets its 5 approximate nearest corpus neighbors in ONE plan — the
    corpus is scanned once and equi-joined against the broadcast
    exploded Hamming-ball probe table (ball membership ⇔
    bit_count(xor) ≤ 2, which is what the oracle checks directly).
    Grid-quantized bucket signs and cosines make it the one ANN query
    under the full DuckDB hash gate.

    The batch is id-bounded (``vec_id < 18500`` = the first 500-id
    slice — a no-op at test scale, where ids stop at 500): a probe
    batch is a fixed-size unit of work, so a bigger corpus must mean
    more candidates per query, never more queries — which is what the
    scale probe measures (tools/scale_probe.py)."""
    emb = t(spark, sf_dir, "embeddings")
    return lsh_probe_batch(
        emb,
        emb.filter((F.col("vec_id") % 37 == 0) & (F.col("vec_id") < 18500)),
        dim=_EMB_DIM,
        k=5,
        n_planes=8,
        seed=42,
        probe_hamming=2,
    )


@query(
    "st_ann_ingest",
    oracle=None,
    tags=("streaming", "similarity", "index", "rows_only"),
)
def st_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-on-ingest: embedding vectors arriving as micro-batches
    (a replayed corpus slice, vec_id ≡ 5 mod 13) are probed per batch
    against the PERSISTED LSH index — per-batch cost is (bucket the
    batch) + (scan the probed partition directories); the corpus
    embeddings outside the probe set are never read. Rows-only for the
    driver (bucket contents depend on the hyperplane hash, not
    SQL-expressible at the index layer); pinned equal to the one-shot
    batch probe and to per-query ``lsh_topk_indexed`` in
    tests/test_ann_batch.py."""
    from map_reduce_framework_using_python_spark.streaming.ann_ingest import (
        probe_stream,
        read_embeddings_stream,
    )

    path = _ensure_lsh(spark, sf_dir)
    work = _scratch_dir("st_ann_ingest_")
    return probe_stream(
        read_embeddings_stream(spark, sf_dir).filter(F.col("vec_id") % 13 == 5),
        path,
        out_dir=f"{work}/neighbors",
        checkpoint_dir=f"{work}/ckpt",
        k=5,
        probe_hamming=2,
    )


@query(
    "st_ann_takedown",
    oracle=None,
    tags=("streaming", "similarity", "index", "rows_only"),
)
def st_ann_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion requests INTERLEAVED with the similarity-on-ingest loop
    (r12, the retraction verb wired into the ANN ingest lane): ingest
    slice A (vec_id ≡ 5 mod 13) probes a scratch COPY of the LSH index
    (the fingerprint-cached layout stays pristine), then a takedown
    QUEUE drains — every EVEN corpus id slice A retrieved, arriving as
    its own stream
    (:func:`~..streaming.ann_ingest.delete_stream`: an O(|batch ids|)
    tombstone append per micro-batch, idempotent under at-least-once
    replay) — and ingest slice B (≡ 6 mod 13) probes the post-takedown
    index. Returned: slice B's neighbor lists, which can contain no
    tombstoned id and must EQUAL the one-shot batch probe against an
    index with one bulk delete (drained == one-shot; pinned with
    replay in tests/test_ann_takedown_stream.py). Rows-only for the
    driver (bucket contents ride the hyperplane hash)."""
    import shutil

    from map_reduce_framework_using_python_spark.streaming.ann_ingest import (
        delete_stream,
        probe_stream,
        read_embeddings_stream,
    )

    base = _scratch_dir("st_ann_takedown_")
    work = f"{base}/idx"
    shutil.copytree(_ensure_lsh(spark, sf_dir), work)
    slice_a = probe_stream(
        read_embeddings_stream(spark, sf_dir).filter(F.col("vec_id") % 13 == 5),
        work,
        out_dir=f"{base}/n1",
        checkpoint_dir=f"{base}/ck1",
        k=5,
        probe_hamming=2,
    )
    victims = (
        slice_a.filter(F.col("vec_id") % 2 == 0).select("vec_id").distinct()
    )
    delete_stream(
        read_embeddings_stream(spark, sf_dir)
        .select("vec_id")
        .join(F.broadcast(victims), "vec_id"),
        work,
        checkpoint_dir=f"{base}/ck2",
    )
    return probe_stream(
        read_embeddings_stream(spark, sf_dir).filter(F.col("vec_id") % 13 == 6),
        work,
        out_dir=f"{base}/n2",
        checkpoint_dir=f"{base}/ck3",
        k=5,
        probe_hamming=2,
    )


def _ivf_probe_batch_oracle() -> str:
    """Full DuckDB oracle for the Lloyd-quantizer IVF batch probe: the
    deterministic k-means CTE chain (the SAME chain ns_kmeans_sizes is
    gated on) reproduces the index's centroids AND its per-vector
    assignments; per-query centroid ranking, n_probe pruning, and the
    grid-quantized cosine top-k are then plain SQL."""
    from map_reduce_framework_using_python_spark.plans.clustering_queries import (
        _kmeans_ctes,
        _sqdist_sql,
    )

    k_cl, n_iter, dim = 8, 2, 64
    ctes = _kmeans_ctes(k_cl, n_iter, dim)
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
        q AS (SELECT vec_id AS q_id, v AS qv FROM v
              WHERE vec_id % 37 = 0 AND vec_id < 18500),
        pr AS (SELECT q_id, qv, cluster FROM (
                   SELECT q.q_id, q.qv, c.cluster,
                          row_number() OVER (
                              PARTITION BY q.q_id
                              ORDER BY {_sqdist_sql("q.qv", "c.cent")}, c.cluster
                          ) AS cr
                   FROM q CROSS JOIN cent{n_iter} c)
               WHERE cr <= 4),
        cand AS (SELECT pr.q_id, a.vec_id,
                        floor(list_cosine_similarity(a.v, pr.qv)
                              * 1000000.0 + 0.5) AS qcos
                 FROM pr JOIN a{n_iter} a ON a.cluster = pr.cluster
                                         AND a.vec_id <> pr.q_id),
        r AS (SELECT q_id, vec_id, qcos,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY qcos DESC, vec_id) AS rn
              FROM cand)
        SELECT r.q_id, r.vec_id, e.label, qcos / 1000000.0 AS cosine,
               CAST(rn AS INTEGER) AS rn
        FROM r JOIN embeddings e ON e.vec_id = r.vec_id
        WHERE rn <= 10
    """
    )


@query(
    "ns_ivf_probe_batch",
    oracle=_ivf_probe_batch_oracle(),
    tags=("northstar", "similarity", "sketch", "index", "batch"),
)
def ns_ivf_probe_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF cosine top-10 against a PERSISTED index whose coarse
    quantizer is the deterministic Lloyd run (k=8, 2 iterations,
    k-smallest-id init, half-up 1e-6 centroid rounding — exactly
    ns_kmeans_sizes' model): per-query centroid ranking via JVM
    array_sort over the 8 persisted centroids, folded into ONE plan
    constant (the shared nearest-centroid kernel), the 4 nearest
    exploded into a broadcast (q_id, centroid_id) probe table,
    equi-joined on the partition column — one plan for the whole batch,
    corpus scanned once, cosine ordering on the 1e-6 grid.

    Promoted from rows-only to a FULL DuckDB oracle in r7 (VERDICT r6
    item 4): the Lloyd quantizer is SQL-reproducible as a CTE chain, so
    the oracle replays centroid training, index assignment, probe
    routing, and the top-k — the whole lifecycle, not just the probe.
    The spark.ml-quantizer build path stays available
    (operators/ann_index.build_ivf_index) and keeps its pytest pins."""
    from map_reduce_framework_using_python_spark.operators.ann_index import (
        ivf_probe_index_batch,
    )

    path = _ensure_ivf_lloyd(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    return ivf_probe_index_batch(
        spark,
        emb.filter((F.col("vec_id") % 37 == 0) & (F.col("vec_id") < 18500)),
        path,
        k=10,
        n_probe=4,
        grid_order=True,
    )


@query(
    "st_ann_ingest_ivf",
    oracle=None,
    tags=("streaming", "similarity", "index", "rows_only"),
)
def st_ann_ingest_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF twin of st_ann_ingest: the same replayed corpus slice
    (vec_id ≡ 5 mod 13) arrives as micro-batches and is probed per
    batch against the PERSISTED IVF index — per-batch cost is (rank
    the 16 persisted centroids per query, JVM-side) + (scan the probed
    centroid directories). Rows-only for the driver (centroids are
    trained k-means state, not static SQL); pinned equal to the
    one-shot ivf_probe_index_batch in tests/test_ann_batch.py."""
    from map_reduce_framework_using_python_spark.streaming.ann_ingest import (
        ivf_probe_stream,
        read_embeddings_stream,
    )

    path = _ensure_ivf(spark, sf_dir)
    work = _scratch_dir("st_ann_ingest_ivf_")
    return ivf_probe_stream(
        read_embeddings_stream(spark, sf_dir).filter(F.col("vec_id") % 13 == 5),
        path,
        out_dir=f"{work}/neighbors",
        checkpoint_dir=f"{work}/ckpt",
        k=5,
        n_probe=4,
    )


def _ensure_ivfpq(spark: SparkSession, sf_dir: str) -> str:
    from map_reduce_framework_using_python_spark.operators.ivfpq import (
        build_ivfpq_index,
    )

    return _ensure(
        sf_dir, "ivfpq16x16x16_seed42",
        lambda p: build_ivfpq_index(
            t(spark, sf_dir, "embeddings"), p,
            n_centroids=16, m=16, k=16, seed=42,
        ),
    )


@query(
    "ns_ivfpq_topk",
    oracle=None,  # two trained quantizers (coarse k-means + m PQ
    # subspace fits) — not static SQL; recall ≥0.9 and exact-rerank
    # cosine equality are pinned in tests/test_ivfpq.py.
    tags=("northstar", "similarity", "sketch", "index", "rows_only"),
)
def ns_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (IVFADC) cosine top-10 against the composed persisted
    index (operators/ivfpq.py): route through the 16 persisted coarse
    centroids (n_probe=12, shortlist=150 — sized for min recall@10 ≥0.9
    across query sweeps at BOTH test SFs on the synthetic UNSTRUCTURED
    vectors, IVF's worst case: true neighbors at cosine ~0.3 scatter
    across random cells; clustered real embeddings probe far fewer),
    ADC-score the m-byte PQ codes only inside probed
    ``centroid_id=`` partition directories (~16 bytes/vector read —
    the double pruning: directory × code width), shortlist, rerank
    EXACTLY against the full-vector table. Returned cosines are true
    cosines; recall and equality-to-brute-force-on-intersections are
    pinned in tests/test_ivfpq.py."""
    from map_reduce_framework_using_python_spark.operators.ivfpq import (
        ivfpq_topk_indexed,
    )

    path = _ensure_ivfpq(spark, sf_dir)
    return ivfpq_topk_indexed(
        t(spark, sf_dir, "embeddings"), path, query_vec_id=0,
        topk=10, n_probe=12, shortlist=150,
    )


@query(
    "st_ann_ingest_ivfpq",
    oracle=None,
    tags=("streaming", "similarity", "index", "rows_only"),
)
def st_ann_ingest_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ twin of st_ann_ingest/st_ann_ingest_ivf: the replayed
    corpus slice (vec_id ≡ 5 mod 13) arrives as micro-batches and is
    probed per batch against the PERSISTED IVF-PQ index — per-batch
    cost is JVM-side routing + per-query ADC tables + a scan of the
    probed CODE directories (~3% of raw bytes) + the shortlist rerank
    against the full-vector table. Rows-only (two trained quantizers);
    pinned equal to the one-shot ivfpq_probe_index_batch in
    tests/test_ivfpq.py."""
    from map_reduce_framework_using_python_spark.streaming.ann_ingest import (
        ivfpq_probe_stream,
        read_embeddings_stream,
    )

    path = _ensure_ivfpq(spark, sf_dir)
    work = _scratch_dir("st_ann_ingest_ivfpq_")
    return ivfpq_probe_stream(
        read_embeddings_stream(spark, sf_dir).filter(F.col("vec_id") % 13 == 5),
        path,
        t(spark, sf_dir, "embeddings"),
        out_dir=f"{work}/neighbors",
        checkpoint_dir=f"{work}/ckpt",
        k=5,
        n_probe=12,
        shortlist=150,
    )


def _ensure_ivfpq_lloyd(spark: SparkSession, sf_dir: str) -> str:
    from map_reduce_framework_using_python_spark.operators.ivfpq import (
        build_ivfpq_index_lloyd,
    )

    return _ensure(
        sf_dir, "ivfpq_lloyd4x2_4x4x1",
        lambda p: build_ivfpq_index_lloyd(
            t(spark, sf_dir, "embeddings"), p,
            n_centroids=4, m=4, k=4, n_iter=2, n_iter_sub=1,
        ),
    )


def _ivfpq_probe_oracle(codes_join: str = "", codes_pred: str = "") -> str:
    """Full DuckDB oracle for the Lloyd-quantizer IVF-PQ batch probe —
    the first PQ query under the hash gate. The deterministic k-means
    CTE chain reproduces the COARSE quantizer (the same chain
    ns_ivf_probe_batch is gated on) AND, with per-chain prefixes, each
    of the m PQ subspace codebooks over list slices; per-vector codes,
    per-query coarse routing, the grid-quantized ADC shortlist, and the
    grid-quantized exact-cosine rerank are then plain SQL. Every float
    the two engines must agree on rides either the proven
    list_sum/aggregate fold equivalence (assignments, distances) or the
    half-up 1e-6 grid (shortlist and rerank ordering).

    ``codes_join`` / ``codes_pred`` restrict the candidate code rows —
    the oracle twin of the Spark side's ``code_filter`` (attribute
    pre-filtering, ns_ivfpq_filtered_lloyd) and of a tombstoned id set
    (``delete_from_index``, ns_ann_delete_probe): both verbs reduce to
    "these code rows are not candidates", which in SQL is exactly a
    predicate on the codes CTE."""
    from map_reduce_framework_using_python_spark.plans.clustering_queries import (
        _kmeans_ctes,
        _sqdist_sql,
    )

    kc, nc, dim = 4, 2, 64          # coarse: k=4, 2 Lloyd iterations
    m, ks, ns_, sub = 4, 4, 1, 16   # PQ: 4 subspaces × (k=4, 1 iteration)
    n_probe, shortlist, topk = 2, 50, 10
    ctes = _kmeans_ctes(kc, nc, dim, pfx="c")
    for j in range(m):
        vexpr = (
            "list_transform(embedding, x -> CAST(x AS DOUBLE))"
            f"[{j * sub + 1}:{(j + 1) * sub}]"
        )
        ctes += _kmeans_ctes(ks, ns_, sub, pfx=f"s{j}", vexpr=vexpr)
    code_joins = "\n".join(
        f"            JOIN s{j}a{ns_} c{j} ON c{j}.vec_id = a.vec_id"
        for j in range(m)
    )
    code_cols = ", ".join(f"c{j}.cluster AS k{j}" for j in range(m))
    cent_joins = "\n".join(
        f"            JOIN s{j}cent{ns_} e{j} ON e{j}.cluster = d.k{j}"
        for j in range(m)
    )
    adc_terms = " + ".join(
        _sqdist_sql(f"pr.qv[{j * sub + 1}:{(j + 1) * sub}]", f"e{j}.cent")
        for j in range(m)
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
        q AS (SELECT vec_id AS q_id, v AS qv FROM cv
              WHERE vec_id % 37 = 0 AND vec_id < 18500),
        pr AS (SELECT q_id, qv, cluster FROM (
                   SELECT q.q_id, q.qv, c.cluster,
                          row_number() OVER (
                              PARTITION BY q.q_id
                              ORDER BY {_sqdist_sql("q.qv", "c.cent")}, c.cluster
                          ) AS cr
                   FROM q CROSS JOIN ccent{nc} c)
               WHERE cr <= {n_probe}),
        codes AS (SELECT a.vec_id, a.cluster AS centroid_id, {code_cols}
                  FROM ca{nc} a
{code_joins}{codes_join}{codes_pred}),
        cand AS (SELECT pr.q_id, pr.qv, d.vec_id,
                        ({adc_terms}) AS adc
                 FROM pr JOIN codes d ON d.centroid_id = pr.cluster
                                     AND d.vec_id <> pr.q_id
{cent_joins}),
        sl AS (SELECT q_id, vec_id, qv FROM (
                   SELECT q_id, vec_id, qv,
                          row_number() OVER (
                              PARTITION BY q_id
                              ORDER BY CAST(floor(adc * 1000000.0 + 0.5)
                                            AS BIGINT), vec_id
                          ) AS srn
                   FROM cand)
               WHERE srn <= {shortlist}),
        rr AS (SELECT q_id, s.vec_id,
                      floor(list_cosine_similarity(v.v, s.qv)
                            * 1000000.0 + 0.5) AS qcos
               FROM sl s JOIN cv v ON v.vec_id = s.vec_id),
        rk AS (SELECT q_id, vec_id, qcos,
                      row_number() OVER (PARTITION BY q_id
                                         ORDER BY qcos DESC, vec_id) AS rn
               FROM rr)
        SELECT rk.q_id, rk.vec_id, e.label, qcos / 1000000.0 AS cosine,
               CAST(rn AS INTEGER) AS rn
        FROM rk JOIN embeddings e ON e.vec_id = rk.vec_id
        WHERE rn <= {topk}
    """
    )


@query(
    "ns_ivfpq_probe_lloyd",
    oracle=_ivfpq_probe_oracle(),
    tags=("northstar", "similarity", "sketch", "index", "batch"),
)
def ns_ivfpq_probe_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF-PQ (IVFADC) top-10 against a persisted index whose
    coarse quantizer AND all m PQ codebooks are deterministic Lloyd
    runs (operators/ivfpq.build_ivfpq_index_lloyd — raw vector space,
    k-smallest-id init, half-up 1e-6 centroid rounding), probed
    grid-ordered: per-query coarse routing over the persisted centroid
    constant, per-query m×k ADC tables off ONE broadcast codebook row,
    the quantized-ADC shortlist, and an exact grid-quantized cosine
    rerank against the full-vector table — one plan for the whole
    batch, the codes scan partition-pruned to the probed cells.

    The FIRST PQ query under the full DuckDB hash gate (the r7
    ns_ivf_probe_batch promotion applied to the composed lane): the
    oracle replays quantizer training (coarse + m prefixed subspace
    CTE chains), code assignment, routing, the ADC shortlist, and the
    rerank — the whole IVFADC lifecycle. The spark.ml build path
    (ns_ivfpq_topk) keeps its recall pins."""
    from map_reduce_framework_using_python_spark.operators.ivfpq import (
        ivfpq_probe_index_batch,
    )

    path = _ensure_ivfpq_lloyd(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    return ivfpq_probe_index_batch(
        spark,
        emb.filter((F.col("vec_id") % 37 == 0) & (F.col("vec_id") < 18500)),
        path,
        emb,
        k=10,
        n_probe=2,
        shortlist=50,
        grid_order=True,
    )


@query(
    "ns_ivfpq_filtered_lloyd",
    oracle=_ivfpq_probe_oracle(
        codes_join="\n            JOIN embeddings el ON el.vec_id = a.vec_id",
        codes_pred="\n            WHERE el.label % 2 = 0",
    ),
    tags=("northstar", "similarity", "sketch", "index", "batch"),
)
def ns_ivfpq_filtered_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-FILTERED IVF-PQ batch probe — top-10 among only the
    even-label vectors (pre-filtering: the predicate evaluates against
    the label column STORED in the index, inside the probed cells,
    before ADC scoring, so every shortlist slot goes to an eligible
    row — the vector-DB filtered-search shape). Same Lloyd-built index,
    grid ordering, and oracle replay as ns_ivfpq_probe_lloyd; the
    oracle adds the identical predicate to the candidate code rows, so
    the filter's interaction with routing, the shortlist, and the
    rerank is hash-gated end to end, not just recall-pinned."""
    from map_reduce_framework_using_python_spark.operators.ivfpq import (
        ivfpq_probe_index_batch,
    )

    path = _ensure_ivfpq_lloyd(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    return ivfpq_probe_index_batch(
        spark,
        emb.filter((F.col("vec_id") % 37 == 0) & (F.col("vec_id") < 18500)),
        path,
        emb,
        k=10,
        n_probe=2,
        shortlist=50,
        grid_order=True,
        code_filter=F.col("label") % 2 == 0,
    )


@query(
    "ns_ann_delete_probe",
    oracle=_ivfpq_probe_oracle(
        codes_pred="\n            WHERE a.vec_id % 7 <> 3",
    ),
    tags=("northstar", "similarity", "sketch", "index", "batch"),
)
def ns_ann_delete_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe an index that has absorbed DELETES — the tombstone verb
    (operators/ann_index.delete_from_index) under the full DuckDB hash
    gate. The cached Lloyd IVF-PQ index is copied to a scratch dir (the
    cached layout stays pristine for the other queries), every vec_id ≡
    3 (mod 7) is tombstoned (~14% of the corpus — a broadcast-sized
    delete log), and the standard batched probe runs: the tombstone
    anti-join drops deleted ids before ADC scoring, so none can hold a
    shortlist slot. The oracle is the full IVFADC replay with the
    deleted ids excluded from the candidate code rows — routing, ADC,
    shortlist and rerank must all re-settle around the survivors for
    the hashes to match. Physical purge (compaction) and the
    un-delete contract are pinned in tests/test_ann_delete.py."""
    import shutil

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        delete_from_index,
    )
    from map_reduce_framework_using_python_spark.operators.ivfpq import (
        ivfpq_probe_index_batch,
    )

    src = _ensure_ivfpq_lloyd(spark, sf_dir)
    work = os.path.join(_scratch_dir("ns_ann_delete_"), "ivfpq")
    shutil.copytree(src, work)
    emb = t(spark, sf_dir, "embeddings")
    delete_from_index(
        emb.filter(F.col("vec_id") % 7 == 3).select("vec_id"), work
    )
    return ivfpq_probe_index_batch(
        spark,
        emb.filter((F.col("vec_id") % 37 == 0) & (F.col("vec_id") < 18500)),
        work,
        emb,
        k=10,
        n_probe=2,
        shortlist=50,
        grid_order=True,
    )


@query(
    "ns_semdedup_sdc",
    oracle=None,
    tags=("northstar", "similarity", "dedup", "sketch", "index", "rows_only"),
)
def ns_semdedup_sdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup candidate mining over the persisted IVF-PQ CODES table
    via symmetric distance computation (SDC — Jégou et al. 2011
    §III.A): within-coarse-cell code pairs are screened by the
    broadcast m×k² centroid-to-centroid table (m lookups per pair, no
    vector math), and survivors are verified with the EXACT cosine
    against the full-vector table (τ=0.4, the ns_semdedup_pairs
    threshold; margin=0.2 — measured to prune ~1/3 of same-cell
    candidates at recall 1.0 on the synthetic embeddings). The 100 TB
    shape for embedding near-dup pairs: the quadratic stage reads the
    ~30×-smaller codes layout instead of raw vectors. Rows-only:
    pinned in tests/test_ivfpq.py (margin=None == same-cell exact
    pairs EXACTLY; the registry margin's recall ≥ 0.9; tombstoned ids
    never pair)."""
    from map_reduce_framework_using_python_spark.operators.ivfpq import (
        sdc_near_pairs,
    )

    path = _ensure_ivfpq(spark, sf_dir)
    return sdc_near_pairs(
        spark, path, t(spark, sf_dir, "embeddings"), tau=0.4, margin=0.2
    )


def _ensure_ivfpq_hier(spark: SparkSession, sf_dir: str) -> str:
    from map_reduce_framework_using_python_spark.operators.ivfpq import (
        build_ivfpq_index_hier,
    )

    return _ensure(
        sf_dir, "ivfpq_hier4x4_seed42",
        lambda p: build_ivfpq_index_hier(
            t(spark, sf_dir, "embeddings"), p,
            n_cells_l1=4, n_cells_l2=4, m=16, k=16, seed=42,
        ),
    )


@query(
    "ns_semdedup_sdc_hier",
    oracle=None,
    tags=("northstar", "similarity", "dedup", "sketch", "index", "rows_only"),
)
def ns_semdedup_sdc_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SDC pair mining over the TWO-LEVEL coarse quantizer (r13,
    VERDICT item 1 — the corpus-proportional scale path): the same
    16-byte-code quadratic as ns_semdedup_sdc, but the 16 leaf cells
    come from two stacked 4-centroid fits (the inverted multi-index
    composition, Babenko & Lempitsky 2012) instead of one flat k=16
    fit. At 100 TB this is the difference that matters: cells must grow
    with the corpus (n/cell-size bounds the within-cell quadratic), and
    √k + √k fit cost stays affordable where a flat k≈6400 spark.ml fit
    is the documented ceiling (NOTES r12; validated two orders up by
    tools/maint100x_probe.py --sdc-hier). Rows-only: the hier==flat
    degenerate equality, recall vs exact all-pairs, and append/rebuild
    contracts are pinned in tests/test_ivfpq.py."""
    from map_reduce_framework_using_python_spark.operators.ivfpq import (
        sdc_near_pairs,
    )

    path = _ensure_ivfpq_hier(spark, sf_dir)
    return sdc_near_pairs(
        spark, path, t(spark, sf_dir, "embeddings"), tau=0.4, margin=0.2
    )


@query(
    "ns_semdedup_sdc_reps",
    oracle=None,
    tags=("northstar", "similarity", "dedup", "sketch", "index",
          "graph", "rows_only"),
)
def ns_semdedup_sdc_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup DROP RULE over the SDC-mined pairs: transitive
    near-dup groups via connected components
    (operators/graph.dedup_clusters — the iterative union frame), one
    deterministic representative per group (min vec_id — the
    ns_dedup_keep_best witness policy), every other member marked for
    drop. Output ``(vec_id, cluster_id, keep)`` for EVERY corpus
    vector (singletons keep themselves) — the end-to-end semantic
    dedup pipeline at code width: 16-byte SDC candidates → exact
    verify → components → representative. Rows-only; pinned in
    tests/test_ivfpq.py against a driver-side union-find over the
    collected pair list (exact cluster equality) plus the
    one-keeper-per-cluster invariant."""
    from map_reduce_framework_using_python_spark.operators.graph import (
        dedup_clusters,
    )
    from map_reduce_framework_using_python_spark.operators.ivfpq import (
        sdc_near_pairs,
    )
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    path = _ensure_ivfpq(spark, sf_dir)
    pairs = sdc_near_pairs(spark, path, emb, tau=0.4, margin=0.2)
    clusters = dedup_clusters(
        pairs, emb, id_col="vec_id", left_col="id_a", right_col="id_b"
    )
    w = Window.partitionBy("cluster_id")
    return clusters.select(
        "vec_id",
        "cluster_id",
        (F.col("vec_id") == F.min("vec_id").over(w)).alias("keep"),
    )


@query(
    "ns_semdedup_sdc_hier_reps",
    oracle=None,
    tags=("northstar", "similarity", "dedup", "sketch", "index",
          "graph", "rows_only"),
)
def ns_semdedup_sdc_hier_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup DROP RULE over the HIER-mined SDC pairs (r13): the
    end-to-end corpus-proportional semantic dedup pipeline — two-level
    coarse quantizer → 16-byte-code SDC candidates inside leaf cells →
    exact verify → connected components → one min-id representative
    per transitive group, every corpus vector labeled
    ``(vec_id, cluster_id, keep)``. The ns_semdedup_sdc_reps shape with
    the hier index swapped in: dedup_clusters is lane-agnostic, which
    is the point — the scale path changes WHERE candidates come from,
    never what the drop rule does. Rows-only; the union-find equality
    and one-keeper-per-cluster pins cover the reps machinery
    (tests/test_ivfpq.py), the hier lane's own pins cover the pairs."""
    from map_reduce_framework_using_python_spark.operators.graph import (
        dedup_clusters,
    )
    from map_reduce_framework_using_python_spark.operators.ivfpq import (
        sdc_near_pairs,
    )
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    path = _ensure_ivfpq_hier(spark, sf_dir)
    pairs = sdc_near_pairs(spark, path, emb, tau=0.4, margin=0.2)
    clusters = dedup_clusters(
        pairs, emb, id_col="vec_id", left_col="id_a", right_col="id_b"
    )
    w = Window.partitionBy("cluster_id")
    return clusters.select(
        "vec_id",
        "cluster_id",
        (F.col("vec_id") == F.min("vec_id").over(w)).alias("keep"),
    )


def _ensure_ivfpq_hier_lloyd(spark: SparkSession, sf_dir: str) -> str:
    from map_reduce_framework_using_python_spark.operators.ivfpq import (
        build_ivfpq_index_hier_lloyd,
    )

    return _ensure(
        sf_dir, "ivfpq_hlloyd4x4x2_4x4x1",
        lambda p: build_ivfpq_index_hier_lloyd(
            t(spark, sf_dir, "embeddings"), p,
            n_cells_l1=4, n_cells_l2=4, m=4, k=4, n_iter=2, n_iter_sub=1,
        ),
    )


def _sdc_hier_lloyd_oracle(reps: bool = False) -> str:
    """Full DuckDB oracle for SDC pair mining over the LLOYD-flavor
    two-level coarse quantizer — the r13 scale path promoted from
    pin-trusted to oracle-proven (r14). STACKED deterministic k-means
    CTE chains replay the whole build: normalize (the exact
    ``_normalized`` fold arithmetic), fit level 1 on the normalized
    corpus, compute residuals against the final level-1 centroids (a
    CTE, which ``_kmeans_ctes``'s ``src=`` makes a legal chain input),
    fit level 2 on the residual frame, fit the m PQ subspace codebooks
    on normalized slices; leaf cell = l1·k2 + l2; the SDC screen sums
    the per-subspace centroid-to-centroid squared distances and
    thresholds the HALF-UP-1e-6-QUANTIZED estimate (the Spark side's
    ``grid_screen=True``); survivors verify with the grid-quantized
    exact cosine. Every cross-engine float rides the proven
    list_sum/aggregate fold equivalence, the 1e-6 grid, or IEEE-exact
    sqrt/divide (normalization).

    ``reps=True`` extends the chain with the DROP RULE: transitive
    closure of the verified pairs as a RECURSIVE CTE (min-reachable-id
    labeling — the SQL twin of operators/graph.connected_components'
    min-label propagation; UNION semantics bound the recursion), one
    min-id representative per component, singletons keeping
    themselves — the first connected-components query under the hash
    gate (previously "non-SQL-expressible" was taken on faith)."""
    from map_reduce_framework_using_python_spark.plans.clustering_queries import (
        _kmeans_ctes,
        _sqdist_sql,
    )

    k1, k2, ni, dim = 4, 4, 2, 64
    m, ks, nis, sub = 4, 4, 1, 16
    tau, margin = 0.4, 0.2
    thr = 2.0 * (1.0 - tau) + margin  # the Spark side's exact double
    ctes = [
        "rawv AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        " FROM embeddings)",
        # _normalized twin: x / max(l2, 1e-30); l2 is the same
        # sequential fold Spark runs, sqrt and divide are IEEE-exact
        "nv AS (SELECT vec_id, list_transform(v, x -> x /"
        " greatest(sqrt(list_sum(list_transform(v, y -> y * y))),"
        " 1e-30)) AS v FROM rawv)",
    ]
    ctes += _kmeans_ctes(k1, ni, dim, pfx="h1", vexpr="v", src="nv")
    ctes.append(
        # residual of every vector against its FINAL level-1 centroid —
        # exactly operators/ivfpq._residual_frame on the lloyd fit
        "rres AS (SELECT a.vec_id,"
        " list_transform(list_zip(a.v, c.cent), p -> p[1] - p[2]) AS v"
        f" FROM h1a{ni} a JOIN h1cent{ni} c ON c.cluster = a.cluster)"
    )
    ctes += _kmeans_ctes(k2, ni, dim, pfx="h2", vexpr="v", src="rres")
    for j in range(m):
        ctes += _kmeans_ctes(
            ks, nis, sub, pfx=f"p{j}",
            vexpr=f"v[{j * sub + 1}:{(j + 1) * sub}]", src="nv",
        )
    code_joins = "\n".join(
        f"            JOIN p{j}a{nis} c{j} ON c{j}.vec_id = l.vec_id"
        for j in range(m)
    )
    code_cols = ", ".join(f"c{j}.cluster AS k{j}" for j in range(m))
    cent_joins = "\n".join(
        f"            JOIN p{j}cent{nis} e{j}a ON e{j}a.cluster = a.k{j}\n"
        f"            JOIN p{j}cent{nis} e{j}b ON e{j}b.cluster = b.k{j}"
        for j in range(m)
    )
    sdc_terms = " + ".join(
        _sqdist_sql(f"e{j}a.cent", f"e{j}b.cent") for j in range(m)
    )
    body = f""",
        cells AS (SELECT a1.vec_id, a1.cluster * {k2} + a2.cluster AS cell
                  FROM h1a{ni} a1 JOIN h2a{ni} a2 ON a2.vec_id = a1.vec_id),
        codes AS (SELECT l.vec_id, l.cell, {code_cols}
                  FROM cells l
{code_joins}),
        cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                 FROM codes a JOIN codes b
                   ON b.cell = a.cell AND a.vec_id < b.vec_id
{cent_joins}
                 WHERE floor(({sdc_terms}) * 1000000.0 + 0.5) / 1000000.0
                       <= {thr!r})"""
    if not reps:
        return (
            "WITH " + ",\n".join(ctes) + body
            + f"""
        SELECT id_a, id_b, qcos / 1000000.0 AS cosine FROM (
            SELECT c.id_a, c.id_b,
                   floor(list_cosine_similarity(va.v, vb.v)
                         * 1000000.0 + 0.5) AS qcos
            FROM cand c
            JOIN rawv va ON va.vec_id = c.id_a
            JOIN rawv vb ON vb.vec_id = c.id_b)
        WHERE qcos / 1000000.0 >= {tau!r}
    """
        )
    return (
        "WITH RECURSIVE " + ",\n".join(ctes) + body
        + f""",
        verified AS (SELECT id_a, id_b FROM (
            SELECT c.id_a, c.id_b,
                   floor(list_cosine_similarity(va.v, vb.v)
                         * 1000000.0 + 0.5) AS qcos
            FROM cand c
            JOIN rawv va ON va.vec_id = c.id_a
            JOIN rawv vb ON vb.vec_id = c.id_b)
            WHERE qcos / 1000000.0 >= {tau!r}),
        bidir AS (SELECT id_a AS src, id_b AS dst FROM verified
                  UNION ALL
                  SELECT id_b AS src, id_a AS dst FROM verified),
        reach(vec_id, u) AS (
            SELECT vec_id, vec_id AS u FROM embeddings
            UNION
            SELECT r.vec_id, b.dst AS u
            FROM reach r JOIN bidir b ON b.src = r.u
        )
        SELECT vec_id, min(u) AS cluster_id, vec_id = min(u) AS keep
        FROM reach GROUP BY vec_id
    """
    )


@query(
    "ns_semdedup_sdc_hier_lloyd",
    oracle=_sdc_hier_lloyd_oracle(),
    tags=("northstar", "similarity", "dedup", "sketch", "index"),
)
def ns_semdedup_sdc_hier_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SDC pair mining over the two-level coarse quantizer with EVERY
    fit the deterministic Lloyd kernel (operators/ivfpq.
    build_ivfpq_index_hier_lloyd) — the r13 hier scale path under the
    full DuckDB hash gate (r14): the oracle replays normalize → fit-l1
    → residual → fit-l2 → subspace codebooks → leaf routing → the
    grid-quantized SDC screen → the grid-quantized exact-cosine verify,
    end to end in SQL (stacked ``_kmeans_ctes`` chains — the
    ns_ivfpq_probe_lloyd machinery plus the new residual-CTE ``src=``).
    Same operator (:func:`~..operators.ivfpq.sdc_near_pairs`), same
    corpus-proportional 100 TB shape as ns_semdedup_sdc_hier — k1·k2
    leaf cells from k1+k2 fits bound the within-cell quadratic — with
    ``grid_screen=True`` so both engines threshold the identical
    quantized estimate."""
    from map_reduce_framework_using_python_spark.operators.ivfpq import (
        sdc_near_pairs,
    )

    path = _ensure_ivfpq_hier_lloyd(spark, sf_dir)
    return sdc_near_pairs(
        spark, path, t(spark, sf_dir, "embeddings"), tau=0.4, margin=0.2,
        grid_screen=True,
    )


@query(
    "ns_semdedup_sdc_hier_lloyd_reps",
    oracle=_sdc_hier_lloyd_oracle(reps=True),
    tags=("northstar", "similarity", "dedup", "sketch", "index", "graph"),
)
def ns_semdedup_sdc_hier_lloyd_reps(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SemDeDup DROP RULE over the hier-LLOYD SDC pairs, under the
    FULL hash gate (r14): deterministic two-level quantizer → grid-
    screened 16-byte-code SDC candidates → grid-quantized exact verify
    → connected components (operators/graph.dedup_clusters — iterative
    min-label propagation with per-round localCheckpoint) → one min-id
    representative per transitive group, every corpus vector labeled
    ``(vec_id, cluster_id, keep)``. The oracle replays the components
    as a RECURSIVE min-reachable-id CTE — the first time the iterative
    graph machinery itself is oracle-proven rather than union-find-
    pinned (the rows-only ns_semdedup_sdc_*_reps forms keep covering
    the spark.ml lanes)."""
    from map_reduce_framework_using_python_spark.operators.graph import (
        dedup_clusters,
    )
    from map_reduce_framework_using_python_spark.operators.ivfpq import (
        sdc_near_pairs,
    )
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    path = _ensure_ivfpq_hier_lloyd(spark, sf_dir)
    pairs = sdc_near_pairs(spark, path, emb, tau=0.4, margin=0.2,
                           grid_screen=True)
    clusters = dedup_clusters(
        pairs, emb, id_col="vec_id", left_col="id_a", right_col="id_b"
    )
    w = Window.partitionBy("cluster_id")
    return clusters.select(
        "vec_id",
        "cluster_id",
        (F.col("vec_id") == F.min("vec_id").over(w)).alias("keep"),
    )


def _pq_topk_lloyd_oracle() -> str:
    """Full DuckDB oracle for the Lloyd-codebook FLAT-PQ probe: the
    normalized-vector CTE (the hier-lloyd nv twin), one deterministic
    k-means chain per subspace slice, per-vector codes, the
    grid-quantized ADC shortlist against the query's normalized
    slices, and the grid-quantized exact-cosine rerank — train →
    encode → ADC → rerank, end to end in SQL (the ns_ivfpq_probe_lloyd
    shape minus coarse routing)."""
    from map_reduce_framework_using_python_spark.plans.clustering_queries import (
        _kmeans_ctes,
        _sqdist_sql,
    )

    m, ks, nis, sub = 4, 4, 1, 16
    shortlist, topk, qid = 50, 10, 0
    ctes = [
        "rawv AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        " FROM embeddings)",
        "nv AS (SELECT vec_id, list_transform(v, x -> x /"
        " greatest(sqrt(list_sum(list_transform(v, y -> y * y))),"
        " 1e-30)) AS v FROM rawv)",
    ]
    for j in range(m):
        ctes += _kmeans_ctes(
            ks, nis, sub, pfx=f"p{j}",
            vexpr=f"v[{j * sub + 1}:{(j + 1) * sub}]", src="nv",
        )
    code_joins = "\n".join(
        f"            JOIN p{j}a{nis} c{j} ON c{j}.vec_id = n.vec_id"
        for j in range(m)
    )
    code_cols = ", ".join(f"c{j}.cluster AS k{j}" for j in range(m))
    cent_joins = "\n".join(
        f"            JOIN p{j}cent{nis} e{j} ON e{j}.cluster = d.k{j}"
        for j in range(m)
    )
    adc_terms = " + ".join(
        _sqdist_sql(f"q.qv[{j * sub + 1}:{(j + 1) * sub}]", f"e{j}.cent")
        for j in range(m)
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
        codes AS (SELECT n.vec_id, {code_cols}
                  FROM nv n
{code_joins}),
        q AS (SELECT v AS qv FROM nv WHERE vec_id = {qid}),
        sl AS (SELECT vec_id FROM (
                   SELECT d.vec_id,
                          row_number() OVER (
                              ORDER BY CAST(floor(({adc_terms})
                                            * 1000000.0 + 0.5) AS BIGINT),
                                       d.vec_id
                          ) AS srn
                   FROM codes d CROSS JOIN q
{cent_joins}
                   WHERE d.vec_id <> {qid})
               WHERE srn <= {shortlist}),
        rr AS (SELECT s.vec_id,
                      floor(list_cosine_similarity(v.v, q0.v)
                            * 1000000.0 + 0.5) AS qcos
               FROM sl s
               JOIN rawv v ON v.vec_id = s.vec_id
               CROSS JOIN (SELECT v FROM rawv WHERE vec_id = {qid}) q0),
        rk AS (SELECT vec_id, qcos,
                      row_number() OVER (ORDER BY qcos DESC, vec_id) AS rn
               FROM rr)
        SELECT rk.vec_id, e.label, qcos / 1000000.0 AS cosine
        FROM rk JOIN embeddings e ON e.vec_id = rk.vec_id
        WHERE rn <= {topk}
    """
    )


@query(
    "ns_pq_topk_lloyd",
    oracle=_pq_topk_lloyd_oracle(),
    tags=("northstar", "similarity", "sketch"),
)
def ns_pq_topk_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat-PQ ANN top-10 with deterministic Lloyd codebooks under the
    full DuckDB hash gate (r14, the ns_pq_topk promotion): per-subspace
    Lloyd fits over normalized slices, m-byte codes via the shared
    encode kernel, grid-quantized ADC shortlist, grid-quantized exact
    rerank — the whole compressed-domain pipeline oracle-proven
    (operators/pq.pq_topk_lloyd). The spark.ml form (ns_pq_topk) keeps
    its recall/determinism pins."""
    from map_reduce_framework_using_python_spark.operators.pq import (
        pq_topk_lloyd,
    )

    return pq_topk_lloyd(
        t(spark, sf_dir, "embeddings"), query_vec_id=0, k=10,
        m=4, n_centroids=4, shortlist=50, n_iter=1,
    )


@query(
    "ns_index_maintenance_plan",
    oracle=None,
    tags=("northstar", "similarity", "index", "ops", "rows_only"),
)
def ns_index_maintenance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The auto-maintenance PLANNER (r12, VERDICT item 7): three scratch
    LSH indexes driven into the lifecycle's three states — pristine,
    append-fanned (5 streamed re-deliveries of the same batch), and
    heavily tombstoned (every even id deleted) — then
    :func:`~..operators.ann_index.plan_maintenance` turns the
    listing-only signals (parquet-footer row counts, file fan-out,
    delete-log size; NO Spark scan) into per-index compact / rebuild /
    noop decisions: noop for the pristine layout, compact for append
    fan-out, rebuild when the tombstone fraction says the quantizers
    were fit on a corpus the layout no longer stores. Rows-only for the
    driver (decisions are filesystem facts, not SQL); the full
    lifecycle flip sequence — including compact and rebuild actually
    CLEARING the decisions they answer — is pinned in
    tests/test_ann_maintenance.py."""
    import shutil

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        append_to_lsh_index,
        build_lsh_index,
        delete_from_index,
        plan_maintenance,
    )

    emb = t(spark, sf_dir, "embeddings").limit(300)
    base = _scratch_dir("ns_maint_plan_")
    fresh = f"{base}/fresh"
    appended = f"{base}/appended"
    deleted = f"{base}/deleted"
    build_lsh_index(emb, fresh, n_planes=4, seed=42)
    shutil.copytree(fresh, appended)
    batch = emb.limit(40)
    for _ in range(5):
        append_to_lsh_index(batch, appended)
    shutil.copytree(fresh, deleted)
    delete_from_index(
        emb.filter(F.col("vec_id") % 2 == 0).select("vec_id"), deleted
    )
    rows = plan_maintenance(
        {"fresh": fresh, "appended": appended, "deleted": deleted}
    )
    return spark.createDataFrame(
        rows,
        "index string, kind string, n_partition_dirs int, n_data_files int,"
        " files_per_partition double, data_rows bigint, tombstone_rows bigint,"
        " n_tombstone_files int, tombstone_frac double, fit_rows bigint,"
        " growth_frac double, decision string, trigger string, reason string",
    )


@query(
    "ns_index_auto_maintain",
    oracle=None,
    tags=("northstar", "similarity", "index", "ops", "rows_only"),
)
def ns_index_auto_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance loop CLOSED (r12): the planner's three-state
    fixture (pristine / append-fanned / mass-deleted), but
    :func:`~..operators.ann_index.auto_maintain` also EXECUTES each
    decision — compact for the fan-out, rebuild for the tombstoned
    index (the executor anti-joins the authoritative vectors against
    the live delete log itself, so the caller's unfiltered table can't
    resurrect deletes), noop for the pristine layout — and re-plans
    after acting. Every returned row must show decision_after = noop:
    each verb clears the decision that called for it. Rows-only;
    degradation (rebuild planned, no vectors → compact) and
    probe-correctness after each action are pinned in
    tests/test_ann_maintenance.py."""
    import shutil

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        append_to_lsh_index,
        auto_maintain,
        build_lsh_index,
        delete_from_index,
    )

    emb = t(spark, sf_dir, "embeddings").limit(300)
    base = _scratch_dir("ns_auto_maint_")
    fresh = f"{base}/fresh"
    appended = f"{base}/appended"
    deleted = f"{base}/deleted"
    build_lsh_index(emb, fresh, n_planes=4, seed=42)
    shutil.copytree(fresh, appended)
    batch = emb.limit(40)
    for _ in range(5):
        append_to_lsh_index(batch, appended)
    shutil.copytree(fresh, deleted)
    delete_from_index(
        emb.filter(F.col("vec_id") % 2 == 0).select("vec_id"), deleted
    )
    rows = auto_maintain(
        spark,
        {"fresh": fresh, "appended": appended, "deleted": deleted},
        vectors={"deleted": emb},
    )
    return spark.createDataFrame(
        [
            (r["index"], r["kind"], r["decision"], r["trigger"],
             r["action"], r["decision_after"])
            for r in rows
        ],
        "index string, kind string, decision string, trigger string,"
        " action string, decision_after string",
    )
