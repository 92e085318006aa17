"""IVF-PQ (IVFADC) — the composed ANN index: IVF coarse routing over
PQ-compressed codes (Jégou et al., *Product Quantization for Nearest
Neighbor Search*, TPAMI 2011 §IV; FAISS's ``IVFADC``). The two halves
already exist separately — the partition-pruned IVF layout
(:mod:`.ann_index`) and the 16-byte/vector ADC scan (:mod:`.pq`) —
and this module composes them into the actual 100 TB ANN shape:

* **storage**: the corpus is ONE parquet layout of ``m``-byte PQ codes
  partitioned by coarse centroid id — ~3% of the raw embedding bytes,
  and a probe opens only its ``n_probe`` nearest ``centroid_id=``
  directories (``PartitionFilters``), so a query touches
  ``n_probe/n_centroids`` of an already-30×-smaller table;
* **scan**: inside probed cells each vector costs ``m`` array lookups
  against the query's broadcast ADC table — no floating-point vector
  math in the scan;
* **answer**: the ADC shortlist joins back to the full-vector table
  and is reranked EXACTLY, so returned cosines are true cosines and
  the only error mode is a true neighbor missing the probe set or the
  shortlist (recall pinned in tests/test_ivfpq.py at the registry
  knobs).

Both FAISS encodings ship: the default codes are PQ(normalized
vector) under ONE global codebook set (one ADC table per query), and
``by_residual=True`` quantizes PQ(vector − centroid) — the FAISS
IVFADC default, where the coarse cells absorb the low-frequency
component and the codebooks spend their bits on the fine structure
(one ADC table per (query, probed cell)). On the synthetic UNIFORM
vectors the two encodings measure recall PARITY (means within 0.01 at
every probed knob — random cells absorb almost no structure, so there
is little residual advantage to collect; on clustered real embeddings
the residual form is the one that wins, which is why FAISS defaults
to it). Encoding is
row-local EITHER way (the residual is a function of the frozen
centroid assignment), so appends commute with builds exactly — the
LSH/IVF lane contract, pinned — and the exact-rerank shortlist absorbs
residual quantization error identically (measured ≥0.9 recall@10 at
the registry knobs on the synthetic embeddings, PQ's worst case).

Index layout on disk::

    <path>/_ann_meta.json            # kind=ivfpq: centroids + books + params
    <path>/centroid_id=<id>/*.parquet  # (id, [label], codes array<int>)

Quantizers are FROZEN at build time: the coarse assignment uses the
same JVM argmin expression at build and append time (never
``model.transform``), so build/append routing can never diverge.

Lifecycle parity with the LSH/IVF lanes: :func:`append_to_ivfpq_index`
(frozen quantizers, src-fingerprint drop, at-least-once),
:func:`compact_ivfpq_index` (two-rename swap via the shared
``_compact_partitioned_index``), and the streaming ingest probe in
:mod:`..streaming.ann_ingest`.

Reference parity note: the reference has no ANN at all; this lane is
part of the north-star LLM-pipeline extension (SURVEY.md §2.B bottom
rows).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_framework_using_python_spark.operators.ann_index import (
    _apply_tombstones,
    _centroids_sql,
    _compact_partitioned_index,
    _dist_structs,
    _drop_src_fingerprint,
    _nearest_centroids,
    _parquet_rows_under,
    _read_meta,
    _write_meta,
)
from map_reduce_framework_using_python_spark.operators.pq import (
    _books_row,
    _code_expr,
    _fit_all,
    _fit_books,
    _lloyd_book_fits,
    _normalized,
)
from map_reduce_framework_using_python_spark.operators.similarity import (
    _as_double,
    _query_vector,
    _topk_tail,
    cosine_scores,
    dot,
    l2_norm,
)


#: Residual of a routed vector against its assigned coarse centroid —
#: the by-residual encode/probe space (PQ quantizes x − c(x), the FAISS
#: IVFADC default: cells absorb the coarse component so the codebooks
#: spend their 8 bits on the fine structure). ``c_sql`` is the centroid
#: constant of :func:`~.ann_index._centroids_sql`; the lookup is
#: positional by ``centroid_id``.
def _residual_expr(vec: str, c_sql: str) -> F.Column:
    return F.expr(
        f"zip_with({vec}, element_at({c_sql}, centroid_id + 1).cv,"
        " (a, b) -> a - b)"
    )


def _assign_hier(
    vn: DataFrame, c1: list[list[float]], c2: list[list[float]]
) -> DataFrame:
    """Append ``centroid_id`` = LEAF cell of the two-level coarse
    quantizer (``l1 · len(c2) + l2``): route to the nearest level-1
    centroid, take the residual, route the residual to the nearest
    level-2 centroid — the inverted-multi-index composition (Babenko &
    Lempitsky 2012, "The Inverted Multi-Index"): ``k1·k2`` leaf cells
    from only ``k1 + k2`` fitted centroids, which is what makes a
    corpus-proportional cell count affordable (a FLAT fit at k≈6400 is
    the documented SDC scale ceiling — NOTES r12). Routing is row-local
    map-side math through both levels, so it commutes across any corpus
    split exactly like the flat :func:`_assigned` (the
    append-commutes-with-build contract)."""
    c1_sql, c2_sql = _centroids_sql(c1), _centroids_sql(c2)
    l2 = f"element_at({_nearest_centroids('_rv', c2_sql, 1)}, 1).cid"
    return (
        _assigned(vn, c1_sql)
        .withColumn("_rv", _residual_expr("vn", c1_sql))
        .withColumn("centroid_id", F.expr(f"centroid_id * {len(c2)} + {l2}"))
        .drop("_rv")
    )


def _assign_and_encode(
    vn: DataFrame,
    keys: list[str],
    centroids: list[list[float]],
    books: list[list[list[float]]],
    by_residual: bool = False,
    hier: dict | None = None,
) -> DataFrame:
    """(keys…, centroid_id, codes) for every row of a vector frame —
    the ONE map-side pass build and append share: coarse argmin via the
    shared :func:`~.ann_index._nearest_centroids` kernel (at any
    centroid count), then the PQ argmin against the single broadcast
    codebook row — over the vector itself, or (``by_residual``) over
    the residual against the assigned coarse centroid. Both quantizers
    are pure row-local functions of the persisted model state either
    way, so this pass commutes with itself across any corpus split —
    the append-commutes-with-build pin rests on exactly that.

    ``hier`` (the meta's two-level dict) routes through
    :func:`_assign_hier` instead of the flat argmin — leaf-cell ids,
    same row-local contract; incompatible with ``by_residual`` (the
    hier lane encodes the vector itself)."""
    if hier is not None and by_residual:
        raise ValueError(
            "_assign_and_encode: hier routing and by_residual encoding "
            "are mutually exclusive"
        )
    sub = len(books[0][0])
    if hier is not None:
        assigned = _assign_hier(vn, hier["centroids_l1"], hier["centroids_l2"])
    else:
        c_sql = _centroids_sql(centroids)
        assigned = _assigned(vn, c_sql)
    assigned = assigned.crossJoin(F.broadcast(_books_row(vn, books)))
    col = "vn"
    if by_residual:
        assigned = assigned.withColumn("_rv", _residual_expr("vn", c_sql))
        col = "_rv"
    return assigned.select(
        *keys, "centroid_id", _code_expr(sub, col).alias("codes")
    )


def _assigned(vn: DataFrame, c_sql: str) -> DataFrame:
    """Append ``centroid_id``: element 1 of the shared
    :func:`~.ann_index._nearest_centroids` kernel over ``vn`` — one
    definition so build, append, and the residual fitting pass can
    never route differently."""
    nearest = _nearest_centroids("vn", c_sql, 1)
    return vn.withColumn("centroid_id", F.expr(f"element_at({nearest}, 1).cid"))


def _residual_frame(
    vn: DataFrame, centroids: list[list[float]], id_col: str
) -> DataFrame:
    """(vn → coarse residual) frame for codebook FITTING: assign each
    vector its nearest coarse centroid (the shared :func:`_assigned`
    routing) and subtract. Returns a frame whose ``vn`` column IS the
    residual, ready for :func:`~.pq._fit_books`."""
    c_sql = _centroids_sql(centroids)
    return _assigned(vn, c_sql).select(
        F.col(id_col), _residual_expr("vn", c_sql).alias("vn")
    )


def build_ivfpq_index(
    vectors: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 16,
    k: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str | None = "label",
    fit_fraction: float | None = None,
    by_residual: bool = False,
) -> str:
    """Fit both quantizers and write the composed index ONCE: coarse
    k-means (spark.ml, fixed seed) over the L2-normalized corpus,
    global PQ codebooks (:func:`~.pq.pq_train` — m bounded spark.ml
    fits), then one corpus pass assigns + encodes map-side and writes
    the codes partitioned by ``centroid_id``. All model state
    (centroids + codebooks ≈ (n_centroids + m·k)·dim floats) persists
    in the meta sidecar, so query-time routing and table building are
    pure driver math and append-time assignment needs no refit.

    ``fit_fraction``: train BOTH quantizers on a deterministic
    xxhash-sample of this fraction of the vectors, then assign/encode
    ALL of them — the standard 100 TB quantizer practice (FAISS trains
    IVF-PQ on a subsample too; centroids and codebooks need density
    estimates, not every point). Fit cost drops to O(f·n) while the
    encode pass, probe answers' EXACTNESS (the rerank is always exact —
    quantizer quality moves recall only), and the append/commute
    contract are untouched (the quantizers freeze at build regardless
    of what they were fitted on). Sampling follows the
    semdedup_pairs_scaled rule: xxhash64(id, seed) — reproducible
    across runs and partitionings, never ``rand()``. Caller contract:
    f·n must comfortably exceed max(n_centroids, k)·(a few).

    Reproducibility: "spark.ml, fixed seed" gives the same coarse
    centroids and codebooks only for the same input PARTITIONING —
    spark.ml's k-means|| initialisation draws per partition, so the
    same rows split another way (``createDataFrame`` of a local list
    splits by the session's default parallelism) fit other quantizers
    and move recall. The ``fit_fraction`` sample itself is
    partition-independent; :func:`build_ivfpq_index_lloyd` is the
    builder whose quantizers do not depend on the partitioning.

    ``by_residual``: quantize PQ over x − c(x) instead of x — the FAISS
    IVFADC default. The coarse cells absorb the low-frequency component
    so the m×8-bit budget spends on the fine structure. Measured on the
    synthetic UNIFORM vectors the two encodings are recall PARITY
    (means within 0.01 at every probed knob — random cells capture no
    structure for the residual to exploit; clustered real embeddings
    are where it wins, hence the FAISS default); the registry-knob
    recall pin and the full-probe==bruteforce exactness pin both hold
    for the residual form (tests/test_ivfpq.py). Cost: probes build one
    ADC table per (query, probed cell) instead of one per query —
    n_probe × m×k bounded driver/JVM math, still no corpus-sized
    state. Appends still commute (the residual is a row-local function
    of the FROZEN centroid assignment)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    keys = [id_col] if label_col is None else [id_col, label_col]
    vn = _normalized(vectors, vec_col, id_col, label_col).persist()
    try:
        head = vn.select(F.size("vn").alias("d")).head()
        if head is None:
            raise ValueError("build_ivfpq_index: empty input")
        dim = int(head["d"])
        if dim % m != 0:
            raise ValueError(f"build_ivfpq_index: dim {dim} not divisible by m {m}")
        fit_vn = vn
        if fit_fraction is not None and fit_fraction < 1.0:
            keep = F.pmod(
                F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1_000_000)
            ) < F.lit(int(fit_fraction * 1_000_000))
            fit_vn = vn.filter(keep)

        def fit_coarse() -> list[list[float]]:
            model = KMeans(
                k=n_centroids, seed=seed, featuresCol="_features"
            ).fit(fit_vn.withColumn("_features", array_to_vector(F.col("vn"))))
            return [[float(x) for x in c] for c in model.clusterCenters()]

        if by_residual:
            centroids = fit_coarse()
            books = _fit_books(
                _residual_frame(
                    fit_vn.select(id_col, "vn"), centroids, id_col
                ),
                m, k, seed, max_iter, opname="build_ivfpq_index(residual)",
            )
        else:
            # independent quantizers: the codebooks fit fit_vn's rows
            # (pq_train's input, same partitions) beside the coarse fit
            centroids, books = _fit_all([fit_coarse, lambda: _fit_books(
                fit_vn.select(id_col, "vn"), m, k, seed, max_iter)])
        (
            _assign_and_encode(
                vn, keys, centroids, books, by_residual=by_residual
            )
            # one file per cell directory (ann_index.build_lsh_index's
            # r12 layout rule): a fresh build starts compaction-clean
            .repartition(F.col("centroid_id"))
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(path)
        )
    finally:
        vn.unpersist()
    _write_meta(
        path,
        {"kind": "ivfpq", "n_centroids": n_centroids, "m": m, "k": k,
         "seed": seed, "sub": dim // m, "centroids": centroids,
         "books": books, "by_residual": by_residual, "vec_col": vec_col,
         "id_col": id_col, "label_col": label_col,
         "fit_rows": _parquet_rows_under(path, tombstones=False)},
    )
    return path


def build_ivfpq_index_lloyd(
    df: DataFrame,
    path: str,
    n_centroids: int = 4,
    m: int = 4,
    k: int = 4,
    n_iter: int = 2,
    n_iter_sub: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str | None = "label",
) -> str:
    """IVF-PQ index whose BOTH quantizers are the DETERMINISTIC Lloyd
    run from operators/clustering.py (k-smallest-id init, half-up 1e-6
    centroid rounding, min-struct assignment) instead of spark.ml —
    the build_ivf_index_lloyd trick applied to the composed lane: the
    coarse chain AND the m per-subspace codebook chains are all
    SQL-reproducible as CTE chains (plans/clustering_queries.
    _kmeans_ctes with a prefix per chain), which is what lets a probe
    against THIS index carry a full DuckDB oracle (ns_ivfpq_probe_
    lloyd) — the first PQ query under the hash gate; the spark.ml
    build keeps its pytest pins. Operates on RAW vectors (``normalize``
    False in the meta — probes rank centroids and build ADC tables in
    raw space; the exact rerank is cosine, which is scale-invariant),
    sidestepping any cross-engine normalization arithmetic. Same
    layout, append, and compaction contracts as
    :func:`build_ivfpq_index`."""
    from map_reduce_framework_using_python_spark.operators.clustering import (
        kmeans_fit,
    )

    keys = [id_col] if label_col is None else [id_col, label_col]
    first = df.select(_as_double(F.col(vec_col)).alias("v")).head()
    if first is None or first["v"] is None:
        raise ValueError("build_ivfpq_index_lloyd: empty input")
    dim = len(first["v"])
    if dim % m != 0:
        raise ValueError(
            f"build_ivfpq_index_lloyd: dim {dim} not divisible by m {m}"
        )
    sub = dim // m
    coarse, *books = _fit_all(
        [lambda: kmeans_fit(
            df, k=n_centroids, n_iter=n_iter, vec_col=vec_col, id_col=id_col
        )[1]]
        + _lloyd_book_fits(
            df, _as_double(F.col(vec_col)), id_col, m, sub, k, n_iter_sub
        )
    )
    vn = df.select(*keys, _as_double(F.col(vec_col)).alias("vn"))
    (
        _assign_and_encode(vn, keys, coarse, books)
        # one file per cell directory (the r12 layout rule)
        .repartition(F.col("centroid_id"))
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path)
    )
    _write_meta(
        path,
        {"kind": "ivfpq", "n_centroids": n_centroids, "m": m, "k": k,
         "quantizer": f"lloyd{n_centroids}x{n_iter}+{m}x{k}x{n_iter_sub}",
         "normalize": False, "sub": sub, "centroids": coarse,
         "books": books, "vec_col": vec_col, "id_col": id_col,
         "label_col": label_col,
         "fit_rows": _parquet_rows_under(path, tombstones=False)},
    )
    return path


def build_ivfpq_index_hier(
    vectors: DataFrame,
    path: str,
    n_cells_l1: int = 4,
    n_cells_l2: int = 4,
    m: int = 16,
    k: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str | None = "label",
    fit_fraction: float | None = None,
) -> str:
    """IVF-PQ index whose coarse quantizer is TWO stacked k-means
    levels (the inverted multi-index, Babenko & Lempitsky 2012): fit
    ``n_cells_l1`` centroids on the normalized corpus, fit
    ``n_cells_l2`` centroids on the RESIDUALS against level 1, and
    partition by the composed leaf cell ``l1·k2 + l2`` —
    ``k1·k2`` cells from ``k1 + k2`` fitted centroids.

    WHY (the r12 scale ceiling): SemDeDup/SDC pair mining needs the
    cell count to grow WITH the corpus (cells ≈ n / target-cell-size
    keeps the within-cell quadratic bounded per vector), but a flat
    spark.ml fit at k ≈ 6400 is too expensive a coarse fit — the 100×
    probe documented SDC as the one lane without a scale path. Two
    stacked √k-sized fits cost what two SMALL fits cost (each Lloyd
    iteration scans with √k distance evaluations per row instead of k)
    while still yielding k leaf cells; routing is map-side through
    both levels. :func:`sdc_near_pairs` runs UNCHANGED over the
    resulting layout — same-cell blocking over leaf cells, the same
    16-byte-code quadratic, now corpus-proportionally bounded.

    Degenerate ``n_cells_l2=1`` reduces EXACTLY to the flat build
    (level 2's single centroid shifts every residual identically and
    every leaf id equals the level-1 id) — pinned in
    tests/test_ivfpq.py, which is what ties the hier lane's
    correctness to the flat form's oracles and pins.

    Layout, meta contract, appends (hier routing — frozen centroids of
    BOTH levels), compaction, and probes (leaf centroids composed as
    ``c1_i + c2_j`` persist in ``meta['centroids']``, so ranking and
    ADC work unchanged; hierarchical greedy assignment may differ from
    flat argmin over composed centroids — standard IMI semantics, a
    recall knob, never a correctness one: the exact rerank scores true
    vectors) all match :func:`build_ivfpq_index`. Normalized space
    (``normalize`` True) — the SDC threshold mapping needs unit-norm
    codes."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    keys = [id_col] if label_col is None else [id_col, label_col]
    vn = _normalized(vectors, vec_col, id_col, label_col).persist()
    try:
        head = vn.select(F.size("vn").alias("d")).head()
        if head is None:
            raise ValueError("build_ivfpq_index_hier: empty input")
        dim = int(head["d"])
        if dim % m != 0:
            raise ValueError(
                f"build_ivfpq_index_hier: dim {dim} not divisible by m {m}"
            )
        fit_vn = vn
        if fit_fraction is not None and fit_fraction < 1.0:
            keep = F.pmod(
                F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1_000_000)
            ) < F.lit(int(fit_fraction * 1_000_000))
            fit_vn = vn.filter(keep)
        def fit_level(frame: DataFrame, kk: int) -> list[list[float]]:
            if kk == 1:
                # spark.ml forbids k=1; a single Lloyd centroid IS the
                # mean — one agg pass (this is the degenerate level the
                # hier==flat equality pin rides)
                rows = (
                    frame.select(F.posexplode("vn").alias("pos", "x"))
                    .groupBy("pos").agg(F.avg("x").alias("a"))
                    .orderBy("pos").collect()
                )
                return [[float(r["a"]) for r in rows]]
            model = KMeans(k=kk, seed=seed, featuresCol="_features").fit(
                frame.withColumn("_features", array_to_vector(F.col("vn")))
            )
            return [[float(x) for x in c] for c in model.clusterCenters()]

        def fit_levels() -> tuple[list[list[float]], list[list[float]]]:
            c1 = fit_level(fit_vn, n_cells_l1)
            res = _residual_frame(fit_vn.select(id_col, "vn"), c1, id_col)
            return c1, fit_level(res, n_cells_l2)

        # independent fits: the codebooks quantize fit_vn's rows, not residuals
        (c1, c2), books = _fit_all([fit_levels, lambda: _fit_books(
            fit_vn.select(id_col, "vn"), m, k, seed, max_iter)])
        hier = {
            "n_cells_l1": n_cells_l1, "n_cells_l2": n_cells_l2,
            "centroids_l1": c1, "centroids_l2": c2,
        }
        (
            _assign_and_encode(vn, keys, [], books, hier=hier)
            # one file per cell directory (the r12 layout rule)
            .repartition(F.col("centroid_id"))
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(path)
        )
    finally:
        vn.unpersist()
    composed = [
        [a + b for a, b in zip(c1[i], c2[j])]
        for i in range(n_cells_l1)
        for j in range(n_cells_l2)
    ]
    _write_meta(
        path,
        {"kind": "ivfpq", "n_centroids": n_cells_l1 * n_cells_l2,
         "m": m, "k": k, "seed": seed, "sub": dim // m,
         "quantizer": f"hier{n_cells_l1}x{n_cells_l2}",
         "centroids": composed, "books": books, "by_residual": False,
         "hier": hier, "vec_col": vec_col, "id_col": id_col,
         "label_col": label_col,
         "fit_rows": _parquet_rows_under(path, tombstones=False)},
    )
    return path


def build_ivfpq_index_hier_lloyd(
    vectors: DataFrame,
    path: str,
    n_cells_l1: int = 4,
    n_cells_l2: int = 4,
    m: int = 4,
    k: int = 4,
    n_iter: int = 2,
    n_iter_sub: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str | None = "label",
) -> str:
    """Two-level (inverted multi-index) IVF-PQ build whose EVERY fit —
    both coarse levels and all m PQ subspace codebooks — is the
    DETERMINISTIC Lloyd run from operators/clustering.py
    (k-smallest-id init, half-up 1e-6 centroid rounding per iteration,
    min-struct assignment): the build_ivfpq_index_lloyd trick applied
    to the HIER lane (r14, promoting the r13 scale path to the hash
    gate). Each fit is SQL-reproducible as a _kmeans_ctes chain, and
    the chains STACK — fit level 1 on the normalized corpus, compute
    residuals against the final level-1 centroids, fit level 2 on that
    residual FRAME (a CTE, not a table) — so SDC pair mining over this
    index carries a full DuckDB oracle (ns_semdedup_sdc_hier_lloyd)
    where the spark.ml hier build keeps its pytest pins.

    Unlike the flat lloyd build this operates in NORMALIZED space
    (``normalize`` True implied by its absence in the meta): SDC's
    cosine-τ → squared-L2-ball mapping needs unit-norm codes
    (:func:`sdc_near_pairs` refuses raw-space indexes). Normalization
    is the exact arithmetic ``_normalized`` applies — x / max(‖x‖₂,
    1e-30), a sequential fold + IEEE sqrt + exact division — replayed
    verbatim in the oracle's nv CTE. Layout, meta ``hier`` dict,
    appends (frozen two-level routing), compaction, and probes all
    match :func:`build_ivfpq_index_hier`; quantizer tag
    ``hlloyd{k1}x{k2}x{n_iter}+{m}x{k}x{n_iter_sub}`` dispatches
    rebuilds back to THIS builder (flavor preservation, r13 ADVICE)."""
    from map_reduce_framework_using_python_spark.operators.clustering import (
        kmeans_fit,
    )

    keys = [id_col] if label_col is None else [id_col, label_col]
    vn = _normalized(vectors, vec_col, id_col, label_col).persist()
    try:
        head = vn.select(F.size("vn").alias("d")).head()
        if head is None:
            raise ValueError("build_ivfpq_index_hier_lloyd: empty input")
        dim = int(head["d"])
        if dim % m != 0:
            raise ValueError(
                f"build_ivfpq_index_hier_lloyd: dim {dim} not divisible "
                f"by m {m}"
            )
        sub = dim // m

        def fit_levels() -> tuple[list[list[float]], list[list[float]]]:
            _, c1 = kmeans_fit(
                vn, k=n_cells_l1, n_iter=n_iter, vec_col="vn", id_col=id_col
            )
            res = _residual_frame(vn.select(id_col, "vn"), c1, id_col)
            _, c2 = kmeans_fit(
                res, k=n_cells_l2, n_iter=n_iter, vec_col="vn", id_col=id_col
            )
            return c1, c2

        (c1, c2), *books = _fit_all(
            [fit_levels]
            + _lloyd_book_fits(vn, F.col("vn"), id_col, m, sub, k, n_iter_sub)
        )
        hier = {
            "n_cells_l1": n_cells_l1, "n_cells_l2": n_cells_l2,
            "centroids_l1": c1, "centroids_l2": c2,
        }
        (
            _assign_and_encode(vn, keys, [], books, hier=hier)
            # one file per cell directory (the r12 layout rule)
            .repartition(F.col("centroid_id"))
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(path)
        )
    finally:
        vn.unpersist()
    composed = [
        [a + b for a, b in zip(c1[i], c2[j])]
        for i in range(n_cells_l1)
        for j in range(n_cells_l2)
    ]
    _write_meta(
        path,
        {"kind": "ivfpq", "n_centroids": n_cells_l1 * n_cells_l2,
         "m": m, "k": k, "sub": dim // m,
         "quantizer": (
             f"hlloyd{n_cells_l1}x{n_cells_l2}x{n_iter}"
             f"+{m}x{k}x{n_iter_sub}"
         ),
         "centroids": composed, "books": books, "by_residual": False,
         "hier": hier, "vec_col": vec_col, "id_col": id_col,
         "label_col": label_col,
         "fit_rows": _parquet_rows_under(path, tombstones=False)},
    )
    return path


def _hier_probe_cells(
    qn: list[float], meta: dict, n_probe: int, n_probe1: int
) -> list[int]:
    """IMI MULTI-SEQUENCE cell selection (Babenko & Lempitsky 2012
    §3.1) for a two-level index: rank the k1 level-1 centroids (k1
    distance evals, driver math), keep the ``n_probe1`` nearest, rank
    each survivor's RESIDUAL against the k2 level-2 centroids, and
    take the ``n_probe`` best composed cells by the exact leaf
    distance ‖(q − c1ᵢ) − c2ⱼ‖² — mathematically identical to the
    composed-centroid distance ‖q − (c1ᵢ + c2ⱼ)‖² (equal up to float
    association; ties break on cell id like the composed sort).

    WHY: the composed ranking is k1·k2 distance evaluations per query
    — fine at 6,400 leaves, the probe bottleneck past ~10⁵ (the r13
    NOTES crossover): at a 250×250 grid this walk costs
    k1 + n_probe1·k2 ≈ 4,250 evals where the composed sort pays
    62,500 — measured flat-vs-linear in tools/maint100x_probe.py
    (--imi). Skipping cells whose level-1 parent ranks past
    ``n_probe1`` is the standard IMI recall knob, never a correctness
    one: the exact rerank scores true vectors (``n_probe1 >= k1``
    degenerates to the composed ranking's exact cell set)."""
    h = meta["hier"]
    c1, c2 = h["centroids_l1"], h["centroids_l2"]
    k2 = len(c2)
    d1 = sorted(
        (sum((a - b) ** 2 for a, b in zip(qn, c)), i)
        for i, c in enumerate(c1)
    )[: max(1, int(n_probe1))]
    cand = []
    for _, i in d1:
        r = [a - b for a, b in zip(qn, c1[i])]
        for j, c in enumerate(c2):
            cand.append(
                (sum((x - y) ** 2 for x, y in zip(r, c)), i * k2 + j)
            )
    cand.sort()
    return [cell for _, cell in cand[: int(n_probe)]]


def _nearest_cells_hier(
    v_sql: str,
    c1: list[list[float]],
    c2: list[list[float]],
    n_probe: int,
    n_probe1: int,
) -> str:
    """SQL for a query row's ``n_probe`` nearest leaf cells via the IMI
    multi-sequence walk, per row — the batch twin of
    :func:`_hier_probe_cells`: rank level 1 with the shared
    :func:`~.ann_index._nearest_centroids` kernel and keep ``n_probe1``
    parents, subtract each parent once, score every level-2 centroid
    against each residual as a ``(dist, cid)`` struct with the leaf
    cell id ``p.cid·k2 + c.cid``, then ``flatten``, ``array_sort`` and
    ``slice`` — the exact leaf distance ‖(q − c1ᵢ) − c2ⱼ‖², ties →
    lowest cell id, the composed sort's rule. Same struct shape as the
    kernel, so callers explode either one identically.

    The 100 TB shape: plan state shrinks from k1·k2·dim doubles (the
    composed centroid list — 32 MB at a 250×250×64 grid) to
    (k1 + k2)·dim, and per-query work from k1·k2 to
    k1 + n_probe1·k2 distance folds, with no window or join."""
    c1_sql, c2_sql = _centroids_sql(c1), _centroids_sql(c2)
    # clamp like the driver twin (_hier_probe_cells): n_probe1 <= 0
    # must probe 1 parent, never silently return no cell
    parents = _nearest_centroids(v_sql, c1_sql, max(1, int(n_probe1)))
    residuals = (
        f"transform({parents}, p -> named_struct('pid', p.cid, 'rv',"
        f" zip_with({v_sql}, element_at({c1_sql}, p.cid + 1).cv,"
        " (a, b) -> a - b)))"
    )
    cells = _dist_structs("p.rv", c2_sql, f"p.pid * {len(c2)} + c.cid")
    return (
        f"slice(array_sort(flatten(transform({residuals}, p -> {cells}))),"
        f" 1, {int(n_probe)})"
    )


def _ivfpq_meta(path: str) -> dict:
    meta = _read_meta(path)
    if meta.get("kind") != "ivfpq":
        raise ValueError(f"not an IVF-PQ index: {path}")
    return meta


def _normalize_query(query: list[float]) -> list[float]:
    nrm = sum(x * x for x in query) ** 0.5 or 1.0
    return [x / nrm for x in query]


def _adc_table(
    qn: list[float], books: list[list[list[float]]]
) -> list[list[float]]:
    """The query's m×k exact squared-L2 lookup table against the
    NORMALIZED query — driver-side bounded model math (the
    :func:`~.pq.pq_adc_scores` table, shared shape)."""
    m, sub = len(books), len(books[0][0])
    return [
        [sum((qn[j * sub + i] - cv[i]) ** 2 for i in range(sub)) for cv in book]
        for j, book in enumerate(books)
    ]


def ivfpq_topk_indexed(
    vectors: DataFrame,
    path: str,
    query_vec_id: int,
    topk: int = 10,
    n_probe: int = 8,
    shortlist: int = 100,
    vec_col: str = "embedding",
    n_probe1: int | None = None,
) -> DataFrame:
    """Single-query IVFADC against a built index: rank the persisted
    centroids by distance to the normalized query (driver math — the
    ``ivf_topk_indexed`` probe rule), filter ``centroid_id IN
    (n_probe nearest)`` on the PARTITION column so the codes scan opens
    only probed directories, ADC-score those codes against the
    broadcast lookup table, take the ``shortlist`` best (adc asc, id
    tiebreak), and rerank EXACTLY against the full-vector table.
    Output surface and tie-break match ``cosine_topk_bruteforce`` /
    ``ivf_topk_indexed`` (the shared ``_topk_tail``).

    ``n_probe1`` (hier indexes only): route with the IMI
    multi-sequence walk (:func:`_hier_probe_cells` — rank level 1,
    then level 2 within the ``n_probe1`` nearest parents) instead of
    sorting all k1·k2 composed leaf centroids — the scale path past
    ~10⁵ leaves. Default None keeps the composed ranking."""
    meta = _ivfpq_meta(path)
    id_col, label_col = meta["id_col"], meta["label_col"]
    keys = [id_col] if label_col is None else [id_col, label_col]
    q = _query_vector(vectors, vec_col, id_col, query_vec_id)
    # A normalize=False (Lloyd/raw-space) index routes and ADC-scores in
    # the raw vector space its quantizers were fitted in.
    qn = (
        _normalize_query(q)
        if meta.get("normalize", True)
        else [float(x) for x in q]
    )
    centroids = meta["centroids"]
    if len(qn) != len(centroids[0]):
        raise ValueError(
            f"query dim {len(qn)} != index dim {len(centroids[0])}"
        )
    if n_probe1 is not None:
        if not meta.get("hier"):
            raise ValueError(
                "ivfpq_topk_indexed: n_probe1 is the two-level (IMI) "
                "routing knob — this index has no hier quantizer"
            )
        probe = _hier_probe_cells(qn, meta, n_probe, n_probe1)
    else:
        by_dist = sorted(
            range(len(centroids)),
            key=lambda i: (
                sum((a - b) ** 2 for a, b in zip(qn, centroids[i])), i
            ),
        )
        probe = by_dist[:n_probe]
    spark = vectors.sparkSession
    codes = _apply_tombstones(
        spark.read.parquet(path).filter(F.col("centroid_id").isin(probe)),
        path, id_col,
    )
    adc = F.expr(
        "aggregate(zip_with(codes, tbl,"
        " (c, row) -> element_at(row, c + 1)), 0D, (acc, x) -> acc + x)"
    )
    if meta.get("by_residual", False):
        # One exact ADC table PER PROBED CELL, against the query's
        # residual in that cell (q − c): n_probe × m×k bounded driver
        # math, broadcast as an n_probe-row table keyed on centroid_id
        # — the codes already carry the key, so the join is the same
        # broadcast equi-join shape as the batched probe's routing.
        tables = [
            (
                c,
                _adc_table(
                    [a - b for a, b in zip(qn, meta["centroids"][c])],
                    meta["books"],
                ),
            )
            for c in probe
        ]
        tbl_rows = spark.createDataFrame(
            tables, "centroid_id int, tbl array<array<double>>"
        )
        scored_codes = codes.join(F.broadcast(tbl_rows), "centroid_id")
    else:
        table = _adc_table(qn, meta["books"])
        tbl_row = spark.createDataFrame([(table,)], "tbl array<array<double>>")
        scored_codes = codes.crossJoin(F.broadcast(tbl_row))
    short = (
        scored_codes
        .withColumn("adc", adc)
        .filter(F.col(id_col) != query_vec_id)
        # Replayed at-least-once appends leave duplicate code rows; one
        # id must hold one shortlist slot, scored by its best copy (a
        # re-encoded id resolves to min adc — the rerank below recomputes
        # the exact cosine from the CURRENT vector either way).
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


def ivfpq_probe_index_batch(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
    vectors: DataFrame,
    k: int = 10,
    n_probe: int = 8,
    shortlist: int = 100,
    exclude_query_ids: bool = False,
    grid_order: bool = False,
    code_filter: F.Column | None = None,
    n_probe1: int | None = None,
) -> DataFrame:
    """Batched multi-query IVFADC — the IVF-PQ twin of
    ``ivf_probe_index_batch``: every query vector in ``queries`` gets
    its ``k`` exact-reranked neighbors in ONE plan, ``(q_id, vec_id,
    label, cosine, rn)``.

    Fully JVM-side per-query work: each query normalizes, ranks the
    persisted centroids (array_sort over the folded centroid constant —
    meta-sized constant work per row), keeps ``n_probe`` cells, and
    builds its OWN m×k ADC table against the single broadcast codebook
    row (m·k doubles per query — bounded model math riding the probe
    rows, never plan literals per query). The tiny probe table
    broadcasts into an equi-join on the index's PARTITION column; the static
    ``centroid_id IN (...)`` filter keeps pruning independent of DPP
    heuristics (the LSH/IVF probe rule). Candidates collapse to one
    row per (query, id) at their best ADC before the per-query
    shortlist window, the shortlist joins back to ``vectors`` (the
    index stores only codes) and reranks exactly; ordering matches
    :func:`ivfpq_topk_indexed` (raw cosine desc, id tiebreak — pinned
    equal in tests/test_ivfpq.py). ``exclude_query_ids=True`` is the
    standard crash-replay guard for ingest loops (a batch that already
    appended itself must never match itself). ``grid_order=True``
    (the DuckDB-oracle discipline of ``ivf_probe_index_batch``) orders
    BOTH the ADC shortlist and the final rerank on the half-up 1e-6
    grid (ties → id) and emits the quantized cosine, so the two
    engines agree at last-ulp ties; default False keeps raw ordering,
    pinned equal to :func:`ivfpq_topk_indexed`.

    ``code_filter``: attribute-filtered search — a predicate over the
    columns stored in the index (id, label), applied INSIDE the probed
    cells before ADC scoring (pre-filtering), so every shortlist slot
    goes to an eligible row. Exactness pinned at full probe vs the
    brute-force filtered top-k in tests/test_ann_delete.py; the
    full-oracle form is ns_ivfpq_filtered_lloyd. Tombstoned ids
    (:func:`~.ann_index.delete_from_index`) are dropped the same way on
    every probe form.

    Routing is per query row, with no window or join: the shared
    :func:`~.ann_index._nearest_centroids` kernel ranks the centroid
    list folded into ONE plan constant, at any centroid count.
    ``n_probe1`` (hier indexes only): route with the per-row IMI
    multi-sequence walk (:func:`_nearest_cells_hier`) instead of
    ranking all k1·k2 composed centroids — plan state and per-query
    work shrink from k1·k2 to k1 + n_probe1·k2, the batch scale path
    past ~10⁵ leaves. Default None ranks the composed centroids."""
    from pyspark.sql import Window

    meta = _ivfpq_meta(path)
    if n_probe1 is not None and not meta.get("hier"):
        # fail fast, before any query-frame work (the single-query
        # twin's validation order)
        raise ValueError(
            "ivfpq_probe_index_batch: n_probe1 is the two-level "
            "(IMI) routing knob — this index has no hier quantizer"
        )
    centroids, books = meta["centroids"], meta["books"]
    id_col, label_col = meta["id_col"], meta["label_col"]
    vec_col = meta["vec_col"]
    m, sub = meta["m"], meta["sub"]
    qv = _as_double(F.col(vec_col))
    if meta.get("normalize", True):
        # Normalized query vectors, computed once JVM-side (same
        # zero-norm floor as pq._normalized); qvn is unit-norm so the
        # rerank divides by a literal 1.0.
        qbase = (
            queries.select(F.col(id_col).alias("q_id"), qv.alias("_qv"))
            .withColumn(
                "_nrm", F.greatest(l2_norm(F.col("_qv")), F.lit(1e-30))
            )
            .select(
                "q_id",
                F.expr("transform(_qv, x -> x / _nrm)").alias("qvn"),
                F.lit(1.0).alias("qnrm"),
            )
        )
    else:
        # Raw-space (Lloyd) index: route and ADC in the space the
        # quantizers were fitted in; the rerank needs the true query
        # norm since qvn is no longer unit-length.
        qbase = queries.select(
            F.col(id_col).alias("q_id"), qv.alias("qvn"), l2_norm(qv).alias("qnrm")
        )
    # TWO subplans read qbase (centroid routing and the rerank
    # join-back) — a non-deterministic query lineage must not route one
    # evaluation and rerank another (the r7 ANN desync rule), so it
    # persists up front. Nothing unpersists it: the returned plan reads
    # it, and the CacheManager keeps the entry until an explicit
    # unpersist (plans/core.py).
    qbase = qbase.persist()
    if n_probe1 is not None:
        h = meta["hier"]
        nearest = _nearest_cells_hier(
            "qvn", h["centroids_l1"], h["centroids_l2"], n_probe, n_probe1
        )
    else:
        c_sql = _centroids_sql(centroids)
        nearest = _nearest_centroids("qvn", c_sql, n_probe)
    routed = qbase.withColumn("_probe", F.explode(F.expr(nearest))).select(
        "q_id", "qvn", F.col("_probe.cid").alias("centroid_id")
    )
    # Per-query ADC table from the ONE broadcast codebook row: m×k exact
    # query-to-centroid squared distances as DATA on the probe rows.
    # by_residual indexes score the query's per-cell RESIDUAL (q − c,
    # looked up by centroid_id in the folded centroid constant), so each
    # (query, probed cell) row carries its own table — same bounded
    # m×k payload per row either way. by_residual indexes are flat, so
    # c_sql is set whenever it is read.
    routed = routed.crossJoin(F.broadcast(_books_row(queries, books)))
    qcol = "qvn"
    if meta.get("by_residual", False):
        routed = routed.withColumn("_rq", _residual_expr("qvn", c_sql))
        qcol = "_rq"
    tbl = F.expr(
        "transform(books, b -> transform(b.cents, c ->"
        f" aggregate(zip_with(slice({qcol}, b.j * {sub} + 1, {sub}), c.cv,"
        " (a, x) -> (a - x) * (a - x)), 0D, (acc, x) -> acc + x)))"
    )
    probes = routed.select("q_id", "centroid_id", tbl.alias("tbl"))
    # Persist before the static collect: the collect and the join must
    # see ONE evaluation of `queries` (the r7 ANN desync rule). No
    # matching unpersist — the returned plan reads `probes`, and the
    # CacheManager keeps the entry until an explicit unpersist
    # (plans/core.py), so each call leaves one.
    probes = probes.persist()
    probed_cids = [
        r["centroid_id"] for r in probes.select("centroid_id").distinct().collect()
    ]
    codes = _apply_tombstones(
        spark.read.parquet(path).filter(
            F.col("centroid_id").isin(probed_cids)
        ),
        path, id_col,
    )
    if code_filter is not None:
        # Attribute-filtered search, PRE-filter style (the vector-DB
        # term): the predicate evaluates against the columns STORED in
        # the index (id, label) inside the probed cells, before ADC
        # scoring — so the shortlist spends all its slots on rows that
        # can actually be answers, instead of post-filtering a mostly-
        # ineligible top list. A selective predicate shrinks the
        # eligible pool per cell; size `shortlist`/`n_probe` for the
        # FILTERED density, not the raw one (the standard filtered-ANN
        # over-fetch rule).
        codes = codes.filter(code_filter)
    if exclude_query_ids:
        codes = codes.join(
            F.broadcast(queries.select(F.col(id_col))), id_col, "left_anti"
        )
    adc = F.expr(
        "aggregate(zip_with(codes, tbl,"
        " (c, row) -> element_at(row, c + 1)), 0D, (acc, x) -> acc + x)"
    )
    cand = (
        codes.join(F.broadcast(probes), "centroid_id")
        .filter(F.col(id_col) != F.col("q_id"))
        .withColumn("adc", adc)
        # One shortlist slot per (query, id) at its best ADC copy —
        # replayed appends / re-encoded ids collapse here; the exact
        # rerank recomputes cosine from the CURRENT vector regardless.
        .groupBy("q_id", id_col)
        .agg(F.min("adc").alias("adc"))
    )
    if grid_order:
        # Shortlist membership must agree across engines at last-ulp
        # adc ties: rank the half-up-1e-6-quantized adc (ties → id).
        cand = cand.withColumn(
            "_qadc", F.floor(F.col("adc") * 1e6 + F.lit(0.5)).cast("long")
        )
        ws = Window.partitionBy("q_id").orderBy(
            F.col("_qadc").asc(), F.col(id_col)
        )
    else:
        ws = Window.partitionBy("q_id").orderBy(
            F.col("adc").asc(), F.col(id_col)
        )
    short = (
        cand.withColumn("_srn", F.row_number().over(ws))
        .filter(F.col("_srn") <= int(shortlist))
        .select("q_id", id_col)
    )
    v = _as_double(F.col(vec_col))
    keys = [id_col] if label_col is None else [id_col, label_col]
    full = vectors.select(*keys, v.alias("v"), l2_norm(v).alias("vnorm"))
    rerank = (
        short.join(full, id_col)
        .join(
            qbase.select("q_id", F.col("qvn").alias("qv"), "qnrm"),
            "q_id",
        )
        # qnrm is a literal 1.0 on normalized indexes (qvn unit-norm),
        # the true query norm on raw-space (Lloyd) ones.
        .withColumn(
            "cosine_raw",
            dot(F.col("v"), F.col("qv")) / (F.col("vnorm") * F.col("qnrm")),
        )
    )
    if grid_order:
        rerank = rerank.withColumn(
            "_qcos", F.floor(F.col("cosine_raw") * 1e6 + F.lit(0.5)).cast("long")
        )
        wk = Window.partitionBy("q_id").orderBy(
            F.col("_qcos").desc(), F.col(id_col)
        )
        return (
            rerank.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") <= k)
            .select(
                "q_id",
                F.col(id_col),
                *([] if label_col is None else [F.col(label_col)]),
                (F.col("_qcos") / 1e6).alias("cosine"),
                "rn",
            )
        )
    wk = Window.partitionBy("q_id").orderBy(
        F.col("cosine_raw").desc(), F.col(id_col)
    )
    return (
        rerank.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .select(
            "q_id",
            F.col(id_col),
            *([] if label_col is None else [F.col(label_col)]),
            F.round("cosine_raw", 6).alias("cosine"),
            "rn",
        )
    )


def append_to_ivfpq_index(batch: DataFrame, path: str) -> None:
    """Extend a persisted IVF-PQ index with ``batch``'s vectors — both
    quantizers FROZEN (persisted centroids route, persisted codebooks
    encode; never a refit), and the assignment/encode pass is the
    byte-identical :func:`_assign_and_encode` the build ran, so
    appending commutes with building: build(corpus) + append(batch)
    holds exactly the code rows of build(corpus ∪ batch) (pinned in
    tests/test_ivfpq.py — the non-residual design makes this exact,
    not approximate). Same at-least-once/src-fingerprint contract as
    the LSH/IVF appends: the ``src`` pristine-build fingerprint drops
    BEFORE the parquet append (fail-safe crash window), replayed
    batches leave exact-duplicate rows that every probe collapses
    after scoring and :func:`compact_ivfpq_index` sheds from disk."""
    _ivfpq_meta(path)  # kind check before any mutation
    meta = _drop_src_fingerprint(os.path.join(path, "_ann_meta.json"))
    id_col, label_col = meta["id_col"], meta["label_col"]
    keys = [id_col] if label_col is None else [id_col, label_col]
    # The batch enters the SAME space the index was built in: normalized
    # for the spark.ml build, raw for the Lloyd (normalize=False) one —
    # a normalized append into a raw-space index would encode garbage.
    if meta.get("normalize", True):
        vn = _normalized(batch, meta["vec_col"], id_col, label_col)
    else:
        vn = batch.select(
            *keys, _as_double(F.col(meta["vec_col"])).alias("vn")
        )
    (
        _assign_and_encode(
            vn, keys, meta["centroids"], meta["books"],
            by_residual=meta.get("by_residual", False),
            # hier layouts route through both frozen levels — flat
            # argmin over the composed leaf centroids is NOT the same
            # assignment (greedy vs global), and appends must land in
            # the cells the build would have picked
            hier=meta.get("hier"),
        )
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(path)
    )


def compact_ivfpq_index(
    spark: SparkSession,
    path: str,
    write_partitions: int = 8,
    _test_hook_pre_swap=None,
) -> None:
    """IVF-PQ twin of ``compact_lsh_index``/``compact_ivf_index``: one
    file per ``centroid_id`` directory after many streamed appends,
    replay-duplicate rows shed, the distinct code-row set unchanged.
    Same atomic two-rename swap, sentinel/commit-marker crash recovery,
    two-stage concurrent-append guard, and APPEND QUIESCENCE
    requirement (all in ``_compact_partitioned_index``)."""
    _compact_partitioned_index(
        spark, path, "centroid_id", write_partitions, _test_hook_pre_swap,
        "compact_ivfpq_index",
    )


def rebuild_ivfpq_index(
    vectors: DataFrame,
    path: str,
    spark: SparkSession | None = None,
    _test_hook_pre_swap=None,
    ids_already_filtered: bool = False,
    **knobs,
) -> None:
    """Atomic in-place REFIT of an IVF-PQ index from the current
    authoritative vector set — the quantizer-drift maintenance verb
    (FAISS's retrain): after enough appends the frozen coarse centroids
    and PQ codebooks no longer reflect the data distribution and recall
    decays; this refits BOTH quantizers and re-encodes every vector
    into a side directory, then swaps it in through the shared snapshot
    guard / two-rename / crash-recovery machinery
    (:func:`~.ann_index._rebuild_index`), so probes read the old layout
    until the commit instant and a mutation landing mid-build aborts
    the swap instead of being lost. The fresh layout carries its own
    meta (new quantizers) and an empty tombstone set — prior deletes
    are expressed by their absence from ``vectors``, which is why a
    live tombstone log REFUSES the rebuild unless the caller attests
    ``ids_already_filtered=True`` (see :func:`~.ann_index._rebuild_index`).
    ``knobs`` pass to :func:`build_ivfpq_index`
    (n_centroids/m/k/seed/by_residual/...); unspecified knobs inherit
    the live index's meta so a non-default index keeps its parameters.
    Completes the lifecycle pentad: build / append / delete / compact /
    rebuild (pinned in tests/test_ann_delete.py).

    Quantizer FLAVOR is preserved (r13 ADVICE): an index built with
    :func:`build_ivfpq_index_lloyd` (meta
    ``quantizer: lloyd{n}x{i}+{m}x{k}x{i_sub}``) is refit by the
    deterministic Lloyd builder — n_iter/n_iter_sub inherited from the
    meta tag — never silently swapped to the spark.ml/sampled fit by a
    planner-triggered rebuild (determinism and raw-space layout are
    what carry the lloyd lane's DuckDB oracles)."""
    from map_reduce_framework_using_python_spark.operators.ann_index import (
        _live_quantizer,
        _read_meta,
        _rebuild_index,
        _rebuild_knobs,
    )

    quant = _live_quantizer(path)
    if quant.startswith("hlloyd"):
        meta = _read_meta(path)
        h = meta["hier"]
        coarse_tag, pq_tag = quant[len("hlloyd"):].split("+")
        _, _, ni_tag = (int(s) for s in coarse_tag.split("x"))
        _, _, nis_tag = (int(s) for s in pq_tag.split("x"))
        hknobs = {
            "n_cells_l1": int(knobs.pop("n_cells_l1", h["n_cells_l1"])),
            "n_cells_l2": int(knobs.pop("n_cells_l2", h["n_cells_l2"])),
            "m": int(knobs.pop("m", meta["m"])),
            "k": int(knobs.pop("k", meta["k"])),
            "n_iter": int(knobs.pop("n_iter", ni_tag)),
            "n_iter_sub": int(knobs.pop("n_iter_sub", nis_tag)),
            "vec_col": knobs.pop("vec_col", meta.get("vec_col", "embedding")),
            "id_col": knobs.pop("id_col", meta.get("id_col", "vec_id")),
            "label_col": knobs.pop("label_col", meta.get("label_col", "label")),
        }
        if knobs:
            raise ValueError(
                f"rebuild_ivfpq_index: knobs {sorted(knobs)} do not apply "
                "to a hier-lloyd index (deterministic fit, no "
                "seed/fit_fraction) — pass n_cells_l1/n_cells_l2/m/k/"
                "n_iter/n_iter_sub/vec_col/id_col/label_col, or refit "
                "explicitly with build_ivfpq_index_hier_lloyd"
            )
        _rebuild_index(
            spark or vectors.sparkSession, path, "centroid_id",
            lambda tmp: build_ivfpq_index_hier_lloyd(vectors, tmp, **hknobs),
            "rebuild_ivfpq_index",
            _test_hook_pre_swap=_test_hook_pre_swap,
            ids_already_filtered=ids_already_filtered,
        )
        return
    if quant.startswith("hier"):
        meta = _read_meta(path)
        h = meta["hier"]
        hknobs = {
            "n_cells_l1": int(knobs.pop("n_cells_l1", h["n_cells_l1"])),
            "n_cells_l2": int(knobs.pop("n_cells_l2", h["n_cells_l2"])),
            "m": int(knobs.pop("m", meta["m"])),
            "k": int(knobs.pop("k", meta["k"])),
            "seed": int(knobs.pop("seed", meta.get("seed", 42))),
            "vec_col": knobs.pop("vec_col", meta.get("vec_col", "embedding")),
            "id_col": knobs.pop("id_col", meta.get("id_col", "vec_id")),
            "label_col": knobs.pop("label_col", meta.get("label_col", "label")),
        }
        if "fit_fraction" in knobs:
            hknobs["fit_fraction"] = knobs.pop("fit_fraction")
        if "max_iter" in knobs:
            hknobs["max_iter"] = int(knobs.pop("max_iter"))
        if knobs:
            raise ValueError(
                f"rebuild_ivfpq_index: knobs {sorted(knobs)} do not apply to "
                "a hierarchical (two-level) index — pass n_cells_l1/"
                "n_cells_l2/m/k/seed/fit_fraction/max_iter/vec_col/id_col/"
                "label_col, or refit explicitly with build_ivfpq_index_hier"
            )
        _rebuild_index(
            spark or vectors.sparkSession, path, "centroid_id",
            lambda tmp: build_ivfpq_index_hier(vectors, tmp, **hknobs),
            "rebuild_ivfpq_index",
            _test_hook_pre_swap=_test_hook_pre_swap,
            ids_already_filtered=ids_already_filtered,
        )
        return
    if quant.startswith("lloyd"):
        meta = _read_meta(path)
        coarse_tag, pq_tag = quant[len("lloyd"):].split("+")
        nc_tag, ni_tag = (int(s) for s in coarse_tag.split("x"))
        m_tag, k_tag, nis_tag = (int(s) for s in pq_tag.split("x"))
        lknobs = {
            "n_centroids": int(knobs.pop("n_centroids",
                                         meta.get("n_centroids", nc_tag))),
            "m": int(knobs.pop("m", meta.get("m", m_tag))),
            "k": int(knobs.pop("k", meta.get("k", k_tag))),
            "n_iter": int(knobs.pop("n_iter", ni_tag)),
            "n_iter_sub": int(knobs.pop("n_iter_sub", nis_tag)),
            "vec_col": knobs.pop("vec_col", meta.get("vec_col", "embedding")),
            "id_col": knobs.pop("id_col", meta.get("id_col", "vec_id")),
            "label_col": knobs.pop("label_col", meta.get("label_col", "label")),
        }
        if knobs:
            raise ValueError(
                f"rebuild_ivfpq_index: knobs {sorted(knobs)} do not apply to "
                "a lloyd-quantized index (deterministic fit, no "
                "seed/by_residual) — pass n_centroids/m/k/n_iter/n_iter_sub/"
                "vec_col/id_col/label_col, or refit explicitly with "
                "build_ivfpq_index_lloyd"
            )
        _rebuild_index(
            spark or vectors.sparkSession, path, "centroid_id",
            lambda tmp: build_ivfpq_index_lloyd(vectors, tmp, **lknobs),
            "rebuild_ivfpq_index",
            _test_hook_pre_swap=_test_hook_pre_swap,
            ids_already_filtered=ids_already_filtered,
        )
        return
    knobs = _rebuild_knobs(path, "ivfpq", knobs)
    _rebuild_index(
        spark or vectors.sparkSession, path, "centroid_id",
        lambda tmp: build_ivfpq_index(vectors, tmp, **knobs),
        "rebuild_ivfpq_index",
        _test_hook_pre_swap=_test_hook_pre_swap,
        ids_already_filtered=ids_already_filtered,
    )


def scan_bytes_fraction(path: str, probed: list[int]) -> float:
    """Fraction of the CODE bytes a probe set actually reads — the
    observable composed-pruning ratio (directory pruning × the ~30×
    byte shrink is the whole IVFADC argument; tests assert ≪ 1)."""
    total = hit = 0
    probed_set = set(probed)
    for d in os.listdir(path):
        if not d.startswith("centroid_id="):
            continue
        size = sum(
            os.path.getsize(os.path.join(path, d, f))
            for f in os.listdir(os.path.join(path, d))
            if f.endswith(".parquet")
        )
        total += size
        if int(d.split("=", 1)[1]) in probed_set:
            hit += size
    return hit / max(1, total)


def sdc_near_pairs(
    spark: SparkSession,
    path: str,
    vectors: DataFrame,
    tau: float = 0.4,
    margin: float | None = 0.2,
    grid_screen: bool = False,
) -> DataFrame:
    """Embedding near-duplicate PAIRS mined from the persisted IVF-PQ
    index via SYMMETRIC distance computation (SDC — Jégou et al. 2011
    §III.A: code-to-code distance estimated as the sum of per-subspace
    CENTROID-to-centroid distances): the SemDeDup candidate stage run
    over the 16-byte codes table instead of the raw vectors.

    Why this is the 100 TB shape: the kmeans-bucketed SemDeDup
    (ns_semdedup_pairs) bounds the quadratic to within-cluster pairs
    but still reads full vectors for every comparison; here the
    within-cell self-join reads the ~30×-smaller codes layout, each
    candidate pair costs ``m`` lookups into ONE broadcast m×k² table
    (no vector math), and only pairs whose SDC estimate clears
    ``2·(1−tau) + margin`` touch the full-vector table for the EXACT
    cosine verification — so returned pairs carry true cosines and the
    only approximation is candidate loss (bounded by ``margin``; pinned
    in tests/test_ivfpq.py: ``margin=None`` — no SDC screen — equals
    the same-cell exact pairs EXACTLY, finite margin's recall against
    that is measured and pinned). Same-cell blocking is the SemDeDup
    bucketing rule (cross-cell pairs are out of scope by design, as in
    the kmeans form); tombstoned ids never pair. Normalized-build
    indexes only (cosine τ maps to the squared-L2 ball 2·(1−τ) on the
    unit sphere; a raw-space Lloyd index has no such mapping).

    ``grid_screen``: quantize the SDC estimate itself to the half-up
    1e-6 grid BEFORE thresholding — the oracle-parity discipline
    (plans/core.py) applied to the candidate screen, so a last-ulp
    fold divergence between engines can't flip a candidate in or out
    at the margin boundary (the hier-lloyd DuckDB oracle compares the
    same quantized number). Default off: the screen's raw compare is
    what every existing recall pin measured.

    Returns ``(id_a, id_b, cosine)`` with ``id_a < id_b``, cosine
    half-up on the 1e-6 grid (the cluster_cosine_pairs convention)."""
    meta = _ivfpq_meta(path)
    if not meta.get("normalize", True):
        raise ValueError(
            "sdc_near_pairs: raw-space (normalize=False) index — the "
            "cosine threshold mapping needs unit-norm codes"
        )
    id_col = meta["id_col"]
    books = meta["books"]
    m, k = meta["m"], meta["k"]
    # m rows of k² doubles: d[j][a*k + b] = ||cent_a − cent_b||² in
    # subspace j — bounded driver math (16×256 doubles at the default
    # knobs), broadcast as ONE row like the ADC tables.
    sdc_tbl = [
        [
            sum((xa - xb) ** 2 for xa, xb in zip(book[a], book[b]))
            for a in range(k)
            for b in range(k)
        ]
        for book in books
    ]
    tbl_row = spark.createDataFrame([(sdc_tbl,)], "tbl array<array<double>>")
    codes = _apply_tombstones(spark.read.parquet(path), path, id_col)
    a = codes.select(
        "centroid_id", F.col(id_col).alias("id_a"), F.col("codes").alias("ca")
    )
    b = codes.select(
        "centroid_id", F.col(id_col).alias("id_b"), F.col("codes").alias("cb")
    )
    pairs = a.join(b, "centroid_id").filter(F.col("id_a") < F.col("id_b"))
    if margin is not None:
        sdc = F.expr(
            f"aggregate(zip_with(zip_with(ca, cb, (x, y) -> x * {k} + y),"
            " tbl, (i, row) -> element_at(row, i + 1)),"
            " 0D, (acc, x) -> acc + x)"
        )
        screened = (
            F.floor(F.col("_sdc") * 1e6 + F.lit(0.5)) / 1e6
            if grid_screen else F.col("_sdc")
        )
        pairs = (
            pairs.crossJoin(F.broadcast(tbl_row))
            .withColumn("_sdc", sdc)
            .filter(screened <= F.lit(2.0 * (1.0 - tau) + margin))
        )
    # distinct: replayed at-least-once appends leave exact-duplicate
    # code rows until compaction (a tolerated index state — every probe
    # dedups it), and the within-cell self-join would then emit the
    # same (id_a, id_b) pair once per copy-product (r11 review).
    cand = pairs.select("id_a", "id_b").distinct()
    vn = _normalized(vectors, meta["vec_col"], id_col, None)
    va = vn.select(F.col(id_col).alias("id_a"), F.col("vn").alias("va"))
    vb = vn.select(F.col(id_col).alias("id_b"), F.col("vn").alias("vb"))
    cos6 = F.floor(
        dot(F.col("va"), F.col("vb")) * 1e6 + F.lit(0.5)
    ) / 1e6
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cos6)
        .filter(F.col("cosine") >= tau)
        .select("id_a", "id_b", "cosine")
    )
