"""Product quantization (Jégou et al., *Product Quantization for
Nearest Neighbor Search*, TPAMI 2011) — the compressed-domain ANN
component that completes the quantization story next to int8
(plans/pipeline6.ns_int8_quantize) and the IVF/LSH index lanes.

The economics at 100 TB: a 64-dim float embedding is 256–516 bytes; PQ
splits it into ``m`` subvectors, k-means each subspace once (codebooks
= m×k bounded model state), and stores each vector as ``m`` one-byte
codes — **16 bytes/vector at the m=16 defaults**, so the ANN scan
reads ~3% of the raw bytes. A query then scores the whole corpus with
ADC (asymmetric distance computation): one m×k lookup TABLE of exact
query-to-centroid distances broadcasts, and each vector's approximate
distance is m table lookups — no floating-point vector math in the
scan at all.

ADC ranks approximately, so the production composition is
**shortlist-then-rerank**: take the ADC top-``shortlist`` (a TakeOrdered
over the codes scan), join those few ids back to the full vectors, and
rerank EXACTLY — returned cosines are true cosines, and the only error
mode is a true neighbor missing the shortlist. Measured on the
synthetic embeddings (unstructured vectors — PQ's worst case, real
embedding clusters recall higher): exact-top10 recall in the ADC
shortlist at m=16, k=16 is 0.87 at R=50 and 0.97 at R=100; the
end-to-end pin lives in tests/test_pq.py.

Everything JVM-side: the per-subspace argmin encode and the ADC fold
are generated higher-order array expressions against ONE broadcast
codebook row (no plan literals per centroid — the r8 IVF lesson); the
m spark.ml fits are bounded call-time model actions, exactly the
semdedup/benchmark-kmeans contract. Cosine contract: vectors are
L2-normalized inside, where cosine order == negated squared-L2 order.
"""

from __future__ import annotations

from functools import partial
from multiprocessing.pool import ThreadPool
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from map_reduce_framework_using_python_spark.operators.clustering import kmeans_fit
from map_reduce_framework_using_python_spark.operators.similarity import (
    _as_double,
    _topk_tail,
    cosine_scores,
    l2_norm,
)

#: Quantizer fits in flight at once. Each fit (spark.ml or Lloyd) is
#: a chain of small jobs whose driver-side turnaround leaves the
#: executors idle between stages; concurrent fits fill those gaps
#: (pyspark.ml.tuning's ``parallelism`` pattern).
_FIT_THREADS = 8


def _fit_all(fits: list[Callable]) -> list:
    """Run independent, deterministic fits concurrently; results in
    ``fits`` order, so every model equals its sequential fit."""
    with ThreadPool(min(len(fits), _FIT_THREADS)) as pool:
        return pool.map(
            lambda fit: fit(), [inheritable_thread_target(f) for f in fits]
        )


def _lloyd_book_fits(
    frame: DataFrame, vec: Column, id_col: str, m: int, sub: int, k: int, n_iter: int
) -> list[Callable[[], list[list[float]]]]:
    """The Lloyd twin of :func:`_fit_books`'s loop, as fits for
    :func:`_fit_all`: one deterministic ``kmeans_fit`` chain per
    ``sub``-wide slice of ``vec``."""

    def fit(j: int) -> list[list[float]]:
        sliced = frame.select(
            F.col(id_col), F.slice(vec, j * sub + 1, sub).alias("_sub")
        )
        return kmeans_fit(
            sliced, k=k, n_iter=n_iter, vec_col="_sub", id_col=id_col
        )[1]

    return [partial(fit, j) for j in range(m)]


def _normalized(vectors: DataFrame, vec_col: str, id_col: str, label_col: str | None):
    # greatest(nrm, 1e-30): an all-zero embedding would otherwise divide
    # 0/0 into NaN coordinates, silently poisoning the spark.ml fit in
    # pq_train and producing undefined codes in pq_encode (r10 advice).
    # With the floor a zero vector stays the zero vector — well-defined
    # distances to every centroid, deterministic (lowest-cid) codes.
    cols = [id_col] if label_col is None else [id_col, label_col]
    v = vectors.select(*cols, _as_double(F.col(vec_col)).alias("v")).withColumn(
        "nrm", F.greatest(l2_norm(F.col("v")), F.lit(1e-30))
    )
    return v.select(
        *cols, F.expr("transform(v, x -> x / nrm)").alias("vn")
    )


def _fit_books(
    vn_frame: DataFrame,
    m: int,
    k: int,
    seed: int,
    max_iter: int,
    opname: str = "pq_train",
) -> list[list[list[float]]]:
    """The codebook-fitting loop over a frame carrying a ``vn`` vector
    column (whatever space the caller chose: normalized vectors for
    flat PQ, coarse residuals for by-residual IVF-PQ): m bounded
    spark.ml KMeans fits, one per dim/m-wide slice, run concurrently
    by :func:`_fit_all`. Returned model
    state is m×k×(dim/m) floats on the driver — the k-means centroid
    contract. dim must be divisible by m (fails loudly). The fixed
    per-slice seeds reproduce the codebooks only for the same input
    partitioning: spark.ml's k-means|| initialisation draws per
    partition (the deterministic, partition-independent fit is the
    Lloyd builder, ``ivfpq.build_ivfpq_index_lloyd``)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vn = vn_frame.persist()
    try:
        head = vn.select(F.size("vn").alias("d")).head()
        if head is None:
            raise ValueError(f"{opname}: empty input")
        dim = int(head["d"])
        if dim % m != 0:
            raise ValueError(f"{opname}: dim {dim} not divisible by m {m}")
        sub = dim // m

        def fit(j: int) -> list[list[float]]:
            feats = vn.select(
                array_to_vector(
                    F.expr(f"slice(vn, {j * sub + 1}, {sub})")
                ).alias("features")
            )
            model = KMeans(
                k=k, seed=seed + j, maxIter=max_iter, featuresCol="features"
            ).fit(feats)
            return [[float(x) for x in c] for c in model.clusterCenters()]

        return _fit_all([partial(fit, j) for j in range(m)])
    finally:
        vn.unpersist()


def pq_train(
    vectors: DataFrame,
    m: int = 16,
    k: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Fit the per-subspace codebooks: ``codebooks[j][c]`` is centroid
    ``c`` of subspace ``j`` (each a dim/m-wide subvector of the
    L2-NORMALIZED input). See :func:`_fit_books` for the shared loop
    (by-residual IVF-PQ fits the same loop over coarse residuals)."""
    return _fit_books(
        _normalized(vectors, vec_col, id_col, None), m, k, seed, max_iter
    )


def _books_row(df: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    rows = [
        (j, [(c, cv) for c, cv in enumerate(book)])
        for j, book in enumerate(books)
    ]
    return df.sparkSession.createDataFrame(
        [(rows,)],
        "books array<struct<j:int,cents:array<struct<cid:int,cv:array<double>>>>>",
    )


def _code_expr(sub: int, col: str = "vn"):
    """Per-subspace argmin over the broadcast ``books`` row, evaluated
    against the vector column ``col`` (normalized vectors, raw vectors,
    or coarse residuals — the caller picks the space): deterministic
    ties go to the lowest cid. The ONE encode kernel — flat PQ
    (:func:`pq_encode`) and the IVF-PQ lane
    (:func:`~.ivfpq._assign_and_encode`) both call it, so the two
    layouts' codes can never drift (the r11 review found each carried
    its own copy of this string)."""
    return F.expr(
        "transform(books, b -> element_at(array_sort("
        f"transform(b.cents, c -> struct("
        f"aggregate(zip_with(slice({col}, b.j * {sub} + 1, {sub}), c.cv,"
        " (a, x) -> (a - x) * (a - x)), 0D, (acc, x) -> acc + x) AS dist,"
        " c.cid AS cid))), 1).cid)"
    )


def pq_encode(
    vectors: DataFrame,
    books: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str | None = "label",
) -> DataFrame:
    """(keys…, codes array<int>): each vector's per-subspace nearest
    centroid ids — the m-byte compressed representation. Map-side: the
    codebooks ride ONE broadcast row; the argmin is a struct-sort over
    generated array expressions (deterministic ties: lowest cid)."""
    sub = len(books[0][0])
    cols = [id_col] if label_col is None else [id_col, label_col]
    vn = _normalized(vectors, vec_col, id_col, label_col)
    return (
        vn.crossJoin(F.broadcast(_books_row(vectors, books)))
        .select(*cols, _code_expr(sub).alias("codes"))
    )


def pq_adc_scores(
    codes: DataFrame,
    books: list[list[list[float]]],
    query: list[float],
) -> DataFrame:
    """Append ``adc`` (approximate squared L2 distance to the
    NORMALIZED query) to a codes frame: the m×k exact
    query-to-centroid distance table is computed on the driver
    (bounded model math), broadcast as ONE row, and each vector costs
    m array lookups — the compressed-domain scan."""
    nrm = sum(x * x for x in query) ** 0.5 or 1.0
    q = [x / nrm for x in query]
    m, sub = len(books), len(books[0][0])
    table = [
        [
            sum((q[j * sub + i] - cv[i]) ** 2 for i in range(sub))
            for cv in book
        ]
        for j, book in enumerate(books)
    ]
    tbl_row = codes.sparkSession.createDataFrame(
        [(table,)], "tbl array<array<double>>"
    )
    adc = F.expr(
        "aggregate(zip_with(codes, tbl,"
        " (c, row) -> element_at(row, c + 1)), 0D, (acc, x) -> acc + x)"
    )
    return codes.crossJoin(F.broadcast(tbl_row)).withColumn("adc", adc).drop("tbl")


def pq_topk(
    vectors: DataFrame,
    query_vec_id: int,
    k: int = 10,
    m: int = 16,
    n_centroids: int = 16,
    shortlist: int = 100,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """PQ ANN end-to-end: train → encode → ADC shortlist → EXACT
    rerank, same output surface and tie-break as
    cosine_topk_bruteforce/ivf_topk (the shared _topk_tail). Returned
    cosines are exact — shortlist membership is the only approximation
    (recall measured/pinned in tests/test_pq.py). Inline train keeps
    the operator self-contained like ivf_topk; persist the codes +
    codebooks for the amortized production loop."""
    from map_reduce_framework_using_python_spark.operators.similarity import (
        _query_vector,
    )

    q = _query_vector(vectors, vec_col, id_col, query_vec_id)
    books = pq_train(vectors, m, n_centroids, seed, vec_col=vec_col, id_col=id_col)
    codes = pq_encode(vectors, books, vec_col, id_col, label_col)
    short = (
        pq_adc_scores(codes, books, q)
        .filter(F.col(id_col) != query_vec_id)
        .orderBy(F.col("adc").asc(), F.col(id_col))
        .limit(int(shortlist))
        .select(id_col)
    )
    candidates = vectors.join(F.broadcast(short), id_col).select(
        id_col, label_col, _as_double(F.col(vec_col)).alias("v")
    )
    scored = cosine_scores(candidates, q, vec_col="v")
    return _topk_tail(scored, k, id_col, label_col)


def build_pq_index(
    vectors: DataFrame,
    path: str,
    m: int = 16,
    k: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str | None = "label",
) -> str:
    """Persist the PQ artifact: train the codebooks once, encode the
    corpus once, and write ``codes/`` parquet (keys + m-byte codes —
    the 16-bytes-per-vector table a 100 TB ANN scan reads) plus the
    bounded codebook JSON. After this, :func:`pq_topk_indexed` answers
    queries with NO model fit and NO encode in the query path — the
    same artifact economics as the LSH/IVF indexes and the decon
    quantizer (operators/ann_index.py, build_semdecon_kmeans_bench)."""
    import os

    from map_reduce_framework_using_python_spark.sources.io import (
        write_json_atomic,
    )

    books = pq_train(vectors, m, k, seed, max_iter, vec_col, id_col)
    pq_encode(vectors, books, vec_col, id_col, label_col).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "codes"))
    write_json_atomic(
        os.path.join(path, "codebooks.json"),
        {"kind": "pq", "m": m, "k": k, "seed": seed,
         "sub": len(books[0][0]), "books": books,
         "id_col": id_col, "label_col": label_col},
    )
    return path


def append_to_pq_index(
    batch: DataFrame,
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Extend a persisted PQ index with ``batch``'s vectors (parquet
    append into ``codes/``) — the flat-PQ twin of
    :func:`~.ann_index.append_to_lsh_index`, closing the one lifecycle
    asymmetry the r10 verdict called out (PQ was the only index lane
    without append/compact/streaming-ingest).

    The batch encodes with the index's PERSISTED codebooks — the
    quantizer is FROZEN at build time; appending never refits, so old
    and new codes score under the same ADC tables forever — and
    encoding is row-local, so appending commutes with building:
    build(corpus) + append(batch) holds exactly the code rows of
    build(corpus ∪ batch) (pinned in tests/test_ivfpq.py). Appends are
    at-least-once under foreachBatch replay (replayed rows are exact
    duplicates); :func:`pq_topk_indexed` is unaffected — a duplicate
    code row ranks adjacent in the ADC shortlist and the exact rerank
    scores ids, not rows — and :func:`compact_pq_index` sheds the
    duplicates from storage."""
    import os

    from map_reduce_framework_using_python_spark.sources.io import (
        read_json_guarded,
    )

    meta = read_json_guarded(os.path.join(path, "codebooks.json"))
    if meta is None or meta.get("kind") != "pq":
        raise ValueError(f"not a PQ index: {path}")
    pq_encode(
        batch, meta["books"], vec_col, meta["id_col"], meta["label_col"]
    ).write.mode("append").parquet(os.path.join(path, "codes"))


def compact_pq_index(
    spark,
    path: str,
    write_partitions: int | None = None,
    _test_hook_pre_swap=None,
) -> None:
    """Rewrite ``codes/`` into ``write_partitions`` files, shedding
    replay-duplicate rows — the flat-layout instantiation of the shared
    two-rename swap (``ann_index._compact_partitioned_index`` with
    ``part_col=None``): same sentinel/commit-marker crash recovery and
    two-stage concurrent-append guard, same APPEND QUIESCENCE
    requirement. The codebook JSON lives beside ``codes/`` and is
    untouched."""
    import os

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        FLAT_COMPACT_PARTITIONS,
        _compact_partitioned_index,
    )

    _compact_partitioned_index(
        spark, os.path.join(path, "codes"), None,
        write_partitions or FLAT_COMPACT_PARTITIONS,
        _test_hook_pre_swap, "compact_pq_index",
    )


def pq_topk_indexed(
    vectors: DataFrame,
    path: str,
    query_vec_id: int,
    topk: int = 10,
    shortlist: int = 100,
    vec_col: str = "embedding",
) -> DataFrame:
    """Artifact-backed PQ ANN: read the persisted codes + codebooks,
    ADC-score the codes scan against the broadcast query lookup table,
    shortlist, and rerank EXACTLY against ``vectors`` (the full-vector
    table — the index stores only codes; rerank touches just the
    shortlist rows). Query-path cost: one codes scan + m lookups per
    vector + an R-row join. Pinned equal to the inline
    :func:`pq_topk` at the same (m, k, seed) in tests/test_pq.py."""
    import os

    from map_reduce_framework_using_python_spark.operators.similarity import (
        _query_vector,
    )
    from map_reduce_framework_using_python_spark.sources.io import (
        read_json_guarded,
    )

    meta = read_json_guarded(os.path.join(path, "codebooks.json"))
    if meta is None or meta.get("kind") != "pq":
        raise ValueError(f"not a PQ index: {path}")
    id_col, label_col = meta["id_col"], meta["label_col"]
    keys = [id_col] if label_col is None else [id_col, label_col]
    from map_reduce_framework_using_python_spark.operators.ann_index import (
        _apply_tombstones,
    )

    # Tombstoned ids (delete_from_index — the flat lane keeps its
    # delete log inside codes/) drop before ADC scoring, so a deleted
    # id can never hold a shortlist slot; compact_pq_index purges them.
    codes = _apply_tombstones(
        vectors.sparkSession.read.parquet(os.path.join(path, "codes")),
        os.path.join(path, "codes"), id_col,
    )
    q = _query_vector(vectors, vec_col, id_col, query_vec_id)
    short = (
        pq_adc_scores(codes, meta["books"], q)
        .filter(F.col(id_col) != query_vec_id)
        # One shortlist slot per id at its best ADC: replayed
        # at-least-once appends (append_to_pq_index) leave exact-
        # duplicate code rows that would otherwise consume slots and
        # shrink the effective shortlist; a re-encoded id resolves to
        # its best copy, and the exact rerank below recomputes the true
        # cosine from the CURRENT vector either way. Partial-agg
        # friendly: the exchange carries (id, adc) only.
        .groupBy(id_col)
        .agg(F.min("adc").alias("adc"))
        .orderBy(F.col("adc").asc(), F.col(id_col))
        .limit(int(shortlist))
        .select(id_col)
    )
    candidates = vectors.join(F.broadcast(short), id_col).select(
        *keys, _as_double(F.col(vec_col)).alias("v")
    )
    scored = cosine_scores(candidates, q, vec_col="v")
    return _topk_tail(scored, topk, id_col, label_col)


def pq_topk_lloyd(
    vectors: DataFrame,
    query_vec_id: int,
    k: int = 10,
    m: int = 4,
    n_centroids: int = 4,
    shortlist: int = 50,
    n_iter: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Flat-PQ ANN whose m subspace codebooks are the DETERMINISTIC
    Lloyd run from operators/clustering.py instead of spark.ml — the
    build_ivfpq_index_lloyd promotion trick applied to the FLAT lane
    (r14, VERDICT item 7): every fit replays as a ``_kmeans_ctes``
    chain over a slice of the normalized-vector CTE, the ADC
    shortlist ranks on the HALF-UP-1e-6-QUANTIZED distance (id
    tiebreak), and the exact rerank is the grid-quantized cosine — so
    the end-to-end train → encode → ADC → rerank pipeline carries a
    full DuckDB oracle (ns_pq_topk_lloyd) where the spark.ml form
    (:func:`pq_topk`) keeps its recall pins. Same output surface and
    tie-break as the other single-query probes (the shared
    ``_topk_tail`` with ``grid=True``)."""
    from map_reduce_framework_using_python_spark.operators.similarity import (
        _query_vector,
    )

    q = _query_vector(vectors, vec_col, id_col, query_vec_id)
    # persist around the m fits (the _fit_books discipline): each
    # kmeans_fit runs an init collect + n_iter aggregate jobs over a
    # slice, and without the cache every job would re-pay the
    # normalization scan
    vn = _normalized(vectors, vec_col, id_col, label_col).persist()
    try:
        head = vn.select(F.size("vn").alias("d")).head()
        if head is None:
            raise ValueError("pq_topk_lloyd: empty input")
        dim = int(head["d"])
        if dim % m != 0:
            raise ValueError(
                f"pq_topk_lloyd: dim {dim} not divisible by m {m}"
            )
        sub = dim // m
        books = _fit_all(_lloyd_book_fits(
            vn, F.col("vn"), id_col, m, sub, n_centroids, n_iter
        ))
        codes = (
            vn.crossJoin(F.broadcast(_books_row(vectors, books)))
            # the ONE shared encode kernel (_code_expr — pq_encode and
            # the IVF-PQ lane wrap the same string), evaluated against
            # the cached normalized frame rather than re-normalizing
            # through pq_encode
            .select(id_col, label_col, _code_expr(sub).alias("codes"))
        )
        short = (
            pq_adc_scores(codes, books, q)
            .filter(F.col(id_col) != query_vec_id)
            # grid-quantized ADC ordering (id tiebreak): the
            # oracle-parity discipline of the batched probes'
            # grid_order applied to the flat lane's shortlist boundary
            .withColumn(
                "_qadc", F.floor(F.col("adc") * 1e6 + F.lit(0.5)).cast("long")
            )
            .orderBy(F.col("_qadc").asc(), F.col(id_col))
            .limit(int(shortlist))
            .select(id_col)
        )
        candidates = vectors.join(F.broadcast(short), id_col).select(
            id_col, label_col, _as_double(F.col(vec_col)).alias("v")
        )
        scored = cosine_scores(candidates, q, vec_col="v")
        return _topk_tail(scored, k, id_col, label_col, grid=True)
    finally:
        vn.unpersist()
