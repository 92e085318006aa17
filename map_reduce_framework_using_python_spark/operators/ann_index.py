"""Storage-backed ANN indexes: partition-pruned similarity search.

The inline variants in :mod:`.similarity` (``lsh_cosine_topk``,
``ivf_topk``) prune *compute* — they still scan every row at query time
to evaluate the bucket/centroid predicate. The 100 TB path prunes
*storage*: write the corpus ONCE partitioned by bucket id (LSH) or
centroid id (IVF), then each query enumerates its probe ids driver-side
and filters on the partition column, so the parquet scan touches only
the probed directories (``PartitionFilters`` in the plan — see
EXPLAINS.md §ANN). With 8 hyperplanes and Hamming radius 2, a query
reads 37/256 ≈ 14% of the corpus; IVF with 16 centroids and 4 probes
reads ~25%, and both ratios improve with more planes/centroids at real
scale.

Index layout on disk::

    <path>/_ann_meta.json          # planes or centroids + params (driver-side JSON)
    <path>/bucket=<id>/*.parquet   # LSH  (partition column: bucket)
    <path>/centroid_id=<id>/*.parquet  # IVF

Equivalence contract (pinned in tests/test_ann_index.py): an indexed
query with the same seed/params returns EXACTLY the rows of its inline
counterpart — the index changes the access path, never the answer.

Reference parity note: the reference has no ANN at all; this is part of
the north-star LLM-pipeline extension (SURVEY.md §2.B bottom rows).
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_framework_using_python_spark.operators.similarity import (
    _as_double,
    _topk_tail,
    cosine_scores,
    hyperplanes,
    lsh_bucket,
)
from map_reduce_framework_using_python_spark.sources.io import write_json_atomic

#: Default root for index layouts (tests override with tmp_path).
INDEX_ROOT = os.environ.get("SPARK_GRAFT_INDEX_ROOT", "/tmp/spark_graft_ann")


def _write_meta(path: str, meta: dict) -> None:
    # temp + os.replace: a crash mid-dump must not truncate the sidecar,
    # which every later probe, append and compaction reads.
    write_json_atomic(os.path.join(path, "_ann_meta.json"), meta)


def _read_meta(path: str) -> dict:
    with open(os.path.join(path, "_ann_meta.json")) as fh:
        return json.load(fh)


def _drop_src_fingerprint(meta_file: str) -> dict:
    """A mutated index is no longer a pristine build(source): drop the
    ``src`` fingerprint that cache-reuse callers key on
    (ann_queries._ensure_*, northstar._ensure_dedup_index,
    pipeline8._ensure_paragraph_index), so they rebuild instead of
    serving the mutated layout as build(corpus). Every mutation verb
    (append, delete/retract, a compaction recovery that folds in a
    racer's files) calls this; the ANN appends and deletes call it
    BEFORE they write (fail-safe: if the write then dies, the only cost
    is one cache rebuild). Returns the fingerprint-free meta dict."""
    with open(meta_file) as fh:
        meta = json.load(fh)
    if meta.pop("src", None) is not None:
        write_json_atomic(meta_file, meta)
    return meta


#: Subdirectory holding delete tombstones. Underscore-prefixed, so the
#: plain ``spark.read.parquet(<index dir>)`` code scans every probe
#: runs never see it as data — the tombstone set is consulted
#: explicitly via :func:`_apply_tombstones`.
TOMBSTONE_DIR = "_tombstones"

#: Write parallelism a FLAT layout's compactor targets (pq codes/ —
#: operators/pq.compact_pq_index's default). The maintenance planner
#: normalizes the flat fan-out signal by this floor.
FLAT_COMPACT_PARTITIONS = 8


def _tombstone_base(path: str) -> tuple[str, str]:
    """(directory that holds ``_tombstones``, id column name) for any
    index lane: partitioned lanes (LSH/IVF/IVF-PQ) keep tombstones
    inside the index dir beside ``_ann_meta.json``; the flat PQ lane
    (``codes/`` + ``codebooks.json``, operators/pq.py) keeps them
    inside ``codes/`` so they ride the same compaction swap."""
    if os.path.exists(os.path.join(path, "_ann_meta.json")):
        return path, _read_meta(path)["id_col"]
    books = os.path.join(path, "codebooks.json")
    if os.path.exists(books):
        with open(books) as fh:
            meta = json.load(fh)
        if meta.get("kind") == "pq":
            return os.path.join(path, "codes"), meta["id_col"]
    raise ValueError(f"not an ANN index (no meta sidecar): {path}")


def delete_from_index(ids, path: str, spark: SparkSession | None = None) -> None:
    """Mark ids as deleted in ANY persisted index lane (LSH / IVF /
    IVF-PQ / flat PQ) — the missing third lifecycle verb beside append
    and compact. Deletes are TOMBSTONES (the Lucene live-docs / Delta
    deletion-vector design): the id set lands as parquet under
    ``_tombstones/`` inside the layout, every probe anti-joins the
    broadcast tombstone set before scoring, and the next compaction
    physically purges the tombstoned rows AND retires the tombstones in
    the same atomic two-rename swap. Nothing rewrites data files at
    delete time — at 100 TB a delete must cost O(|deleted ids|), never
    a layout rewrite.

    ``ids``: a DataFrame whose FIRST column is the id (any name — it is
    renamed to the index's id column), or a plain Python list/tuple of
    ids (requires ``spark``). Deleting an id that was never indexed is
    a harmless no-op at probe time.

    Contract (pinned in tests/test_ann_delete.py):

    * at-least-once safe — replayed deletes append duplicate tombstone
      rows; probes read the DISTINCT id set, so replays are idempotent;
    * a tombstone beats every copy of the id, including copies APPENDED
      AFTER the delete — un-deleting an id requires compacting first
      (purges rows and tombstones together), then re-appending;
    * tombstones are a *recent-deletes* set sized for broadcast (the
      probe-side anti-join). An unboundedly growing delete log is the
      signal to compact, which folds it into the layout and empties it;
    * deletes follow the same QUIESCENCE rule as appends during
      compaction — the swap guard snapshots tombstone files too, so a
      delete landing mid-compaction aborts the swap rather than being
      silently resurrected (the tmp rewrite carries no tombstones).

    Like the append verbs, a delete drops the ``src`` pristine-build
    fingerprint (fail-safe-first: before the tombstone write), so
    cached-index users rebuild rather than serving a mutated layout as
    pristine."""
    base, id_col = _tombstone_base(path)
    if os.path.exists(os.path.join(path, "_ann_meta.json")):
        _drop_src_fingerprint(os.path.join(path, "_ann_meta.json"))
    if not isinstance(ids, DataFrame):
        if spark is None:
            raise ValueError(
                "delete_from_index: a plain id list needs spark="
            )
        ids = spark.createDataFrame(
            [(int(i),) for i in ids], f"{id_col} bigint"
        )
    ts = _tombstone_frame(ids, id_col, "delete_from_index")
    # coalesce(1): the log is O(|deleted ids|) by design — one file per
    # delete call instead of one per input partition (r14, guide §6:
    # a 4.5k-id retract wrote 22 tiny files, and every later probe
    # lists and footer-reads each of them; compaction retires the log
    # either way).
    ts.coalesce(1).write.mode("append").parquet(
        os.path.join(base, TOMBSTONE_DIR)
    )


def _tombstone_frame(ids: DataFrame, id_col: str, opname: str) -> DataFrame:
    """One BIGINT column named ``id_col`` — every tombstone file must
    carry the identical schema, because probes read the log dir with a
    schema-less ``spark.read.parquet`` (one footer speaks for all
    files; a mixed int32/int64 log would poison every later probe).
    Integral ids are the layouts' standing contract
    (``dedup_index._require_bigint_id``; the embeddings' vec_id).

    Column choice (r14, the curation `_takedown_id_col` rule pushed to
    the ONE seam every delete/retract verb crosses): a column NAMED
    like the target layout's id column wins when present; otherwise
    the FIRST column, positionally (the documented contract). A frame
    that gained a leading non-id column (e.g. a prepended timestamp)
    either resolves by name or fails the integral-type check below —
    never silently retracts the wrong values."""
    src = id_col if id_col in ids.columns else ids.columns[0]
    dt = ids.schema[ids.columns.index(src)].dataType.simpleString()
    if dt not in ("bigint", "int", "smallint", "tinyint"):
        raise ValueError(
            f"{opname}: id column must be integral (got {dt}) — the "
            "index layouts pin BIGINT ids"
        )
    return ids.select(F.col(src).cast("bigint").alias(id_col))


def _has_tombstones(base: str) -> bool:
    tp = os.path.join(base, TOMBSTONE_DIR)
    return os.path.isdir(tp) and any(
        f.endswith(".parquet") for f in os.listdir(tp)
    )


def _apply_tombstones(df: DataFrame, base: str, id_col: str) -> DataFrame:
    """Anti-join ``df`` against the index's broadcast tombstone set —
    a no-op (the unchanged plan) when no delete has ever landed, so
    probe plans on delete-free indexes are byte-identical to before
    the delete verb existed."""
    if not _has_tombstones(base):
        return df
    ts = (
        df.sparkSession.read.parquet(os.path.join(base, TOMBSTONE_DIR))
        .select(F.col(id_col))
        .distinct()
    )
    return df.join(F.broadcast(ts), id_col, "left_anti")


def build_lsh_index(
    df: DataFrame,
    path: str,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    grid: bool = False,
) -> str:
    """Write ``df`` partitioned by LSH sign-bucket.

    One pass over the corpus: compute the bucket JVM-side, then
    ``partitionBy(bucket)`` so each of the 2^n_planes buckets becomes
    its own parquet directory. The hyperplanes are persisted alongside
    so queries hash identically forever (an index is only valid with
    the planes it was built with).

    ``grid=True`` buckets with :func:`~.similarity.lsh_bucket_grid`
    (sign taken on the half-up 1e-6 grid) instead of the raw sign —
    the deterministic build variant that lets a probe against this
    index carry a full DuckDB oracle (ns_lsh_topk_indexed, r13 — the
    build_ivf_index_lloyd pattern applied to the LSH lane): both
    engines quantize each plane projection to the same integer grid
    before taking its sign, so a last-ulp float disagreement can't
    flip a bucket bit. The flag persists in the meta; every consumer
    of the persisted planes (append / probes / rebuild) hashes with
    the function the index was built with.
    """
    first = df.select(vec_col).head()
    if first is None or first[0] is None:
        # Degenerate inputs fail loudly, not with a bare TypeError
        # (the kmeans_fit convention, r7 review).
        raise ValueError(
            f"build_lsh_index: cannot infer dim — empty corpus or NULL {vec_col!r}"
        )
    dim = len(first[0])
    planes = hyperplanes(dim, n_planes, seed)
    bucket_fn = _bucket_fn_for({"grid": grid})
    (
        df.withColumn("bucket", bucket_fn(vec_col, planes))
        # one file per bucket directory: co-locate each bucket on one
        # writer task before the partitioned write — a fresh build must
        # START compaction-clean (the r12 100x probe caught the planner
        # flagging a brand-new 2M-vector layout whose every dir held one
        # file per write task), and probes open one file per probed dir
        .repartition(F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    _write_meta(path, {"kind": "lsh", "n_planes": n_planes, "seed": seed,
                       "planes": planes, "vec_col": vec_col, "id_col": id_col,
                       "grid": grid})
    return path


def _bucket_fn_for(meta: dict):
    """The bucket function a persisted LSH layout was BUILT with — an
    index is only valid with its own hashing, so every consumer of the
    persisted planes (build / append / probe / rebuild) routes through
    this one switch."""
    from map_reduce_framework_using_python_spark.operators.similarity import (
        lsh_bucket_grid,
    )

    return lsh_bucket_grid if meta.get("grid") else lsh_bucket


def _query_bits(query: list[float], meta: dict) -> int:
    """Driver-side bucket of a single query vector under the index's
    persisted planes, honoring the layout's sign convention (raw vs
    half-up-1e-6 grid)."""
    import math as _math

    qbits = 0
    for i, p in enumerate(meta["planes"]):
        d = sum(x * y for x, y in zip(query, p))
        sign_ok = (
            _math.floor(d * 1e6 + 0.5) >= 0 if meta.get("grid") else d >= 0
        )
        if sign_ok:
            qbits |= 1 << i
    return qbits


def _hamming_ball(center: int, n_bits: int, radius: int) -> list[int]:
    """All bucket ids within ``radius`` sign-flips of ``center``."""
    out = [center]
    if radius >= 1:
        for i in range(n_bits):
            out.append(center ^ (1 << i))
    if radius >= 2:
        for i in range(n_bits):
            for j in range(i + 1, n_bits):
                out.append(center ^ (1 << i) ^ (1 << j))
    if radius >= 3:
        for i in range(n_bits):
            for j in range(i + 1, n_bits):
                for m in range(j + 1, n_bits):
                    out.append(center ^ (1 << i) ^ (1 << j) ^ (1 << m))
    if radius > 3:
        raise ValueError("probe radius > 3 reads most of the corpus; add planes instead")
    return out


def lsh_topk_indexed(
    spark: SparkSession,
    path: str,
    query: list[float],
    k: int = 10,
    probe_hamming: int = 2,
    label_col: str = "label",
    exclude_id: int | None = None,
    grid: bool | None = None,
) -> DataFrame:
    """Partition-pruned LSH cosine top-k against a built index.

    The probe set (Hamming ball around the query's bucket) is enumerated
    driver-side from the persisted planes — tiny, pure math — and pushed
    as ``bucket IN (...)`` on the PARTITION column, so the scan plans
    with ``PartitionFilters`` and never opens non-probed directories.
    Query hashing honors the layout's persisted sign convention (raw vs
    grid — :func:`_query_bits`); ``grid`` controls whether the RANKED /
    reported cosine is also on the half-up 1e-6 grid (oracle parity) and
    defaults from the build's persisted flag (r13 ADVICE: probing a
    grid-built index must not silently mix conventions — bucket on the
    grid, rank raw). Pass ``grid=`` explicitly to override.
    """
    meta = _read_meta(path)
    if grid is None:
        grid = bool(meta.get("grid", False))
    planes, id_col = meta["planes"], meta["id_col"]
    if len(query) != len(planes[0]):
        # zip() would silently truncate and hash a garbage bucket.
        raise ValueError(
            f"query dim {len(query)} != index dim {len(planes[0])}"
        )
    qbits = _query_bits(query, meta)
    probe = sorted(set(_hamming_ball(qbits, meta["n_planes"], probe_hamming)))
    corpus = _apply_tombstones(
        spark.read.parquet(path).filter(F.col("bucket").isin(probe)),
        path, id_col,
    )
    if exclude_id is not None:
        corpus = corpus.filter(F.col(id_col) != exclude_id)
    scored = cosine_scores(corpus, query, meta["vec_col"])
    return _topk_tail(scored, k, id_col, label_col, grid=grid)


def build_ivf_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """Write ``df`` partitioned by IVF centroid id.

    k-means coarse quantizer (spark.ml, fixed seed — at 100 TB you
    train on a sample, which changes nothing below), assign each row
    its nearest centroid JVM-side, ``partitionBy(centroid_id)``.
    Centroid coordinates persist in the meta sidecar so query-time
    probe selection is pure driver math.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = df.withColumn("_features", array_to_vector(_as_double(F.col(vec_col))))
    model = KMeans(k=n_centroids, seed=seed, featuresCol="_features").fit(vecs)
    (
        model.transform(vecs)
        .withColumnRenamed("prediction", "centroid_id")
        .drop("_features")
        # one file per cell directory (see build_lsh_index)
        .repartition(F.col("centroid_id"))
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path)
    )
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    _write_meta(path, {"kind": "ivf", "n_centroids": n_centroids, "seed": seed,
                       "centroids": centroids, "vec_col": vec_col, "id_col": id_col,
                       "fit_rows": _parquet_rows_under(path, tombstones=False)})
    return path


def build_ivf_index_lloyd(
    df: DataFrame,
    path: str,
    k: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """IVF index whose coarse quantizer is the DETERMINISTIC Lloyd run
    from operators/clustering.py (k-smallest-id init, half-up 1e-6
    centroid rounding per iteration) instead of spark.ml KMeans.

    Same layout and meta contract as :func:`build_ivf_index` — every
    probe works unchanged — but the centroids are exactly reproducible
    as a SQL CTE chain (plans/clustering_queries._kmeans_ctes), which
    is what lets a probe against THIS index carry a full DuckDB oracle
    (ns_ivf_probe_batch) where the spark.ml build can only be
    rows-only. Assignment ties resolve to the lowest cluster id on
    both engines (struct min)."""
    from map_reduce_framework_using_python_spark.operators.clustering import (
        assign_clusters,
        kmeans_fit,
    )

    _, centroids = kmeans_fit(df, k=k, n_iter=n_iter, vec_col=vec_col, id_col=id_col)
    (
        assign_clusters(
            df.withColumn("_v", _as_double(F.col(vec_col))), centroids, vec_col="_v"
        )
        .drop("_v")
        .withColumnRenamed("cluster", "centroid_id")
        # one file per cell directory (see build_lsh_index)
        .repartition(F.col("centroid_id"))
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path)
    )
    _write_meta(
        path,
        {"kind": "ivf", "n_centroids": k, "quantizer": f"lloyd{k}x{n_iter}",
         "centroids": centroids, "vec_col": vec_col, "id_col": id_col,
         "fit_rows": _parquet_rows_under(path, tombstones=False)},
    )
    return path


def ivf_topk_indexed(
    spark: SparkSession,
    path: str,
    query: list[float],
    k: int = 10,
    n_probe: int = 4,
    label_col: str = "label",
    exclude_id: int | None = None,
    grid: bool | None = None,
) -> DataFrame:
    """Partition-pruned IVF cosine top-k against a built index: rank the
    persisted centroids by distance to the query (driver math), filter
    ``centroid_id IN (n_probe nearest)`` on the partition column.
    ``grid=True`` ranks and reports the cosine on the half-up 1e-6 grid
    (oracle parity over a Lloyd-built index — ns_ivf_topk_indexed);
    ``grid=None`` defaults from the build's persisted flag like the LSH
    probe (IVF metas don't persist one today → raw)."""
    meta = _read_meta(path)
    if grid is None:
        grid = bool(meta.get("grid", False))
    centroids, id_col = meta["centroids"], meta["id_col"]
    if len(query) != len(centroids[0]):
        raise ValueError(
            f"query dim {len(query)} != index dim {len(centroids[0])}"
        )
    by_dist = sorted(
        range(len(centroids)),
        key=lambda i: sum((a - b) ** 2 for a, b in zip(query, centroids[i])),
    )
    probe = by_dist[:n_probe]
    corpus = _apply_tombstones(
        spark.read.parquet(path).filter(F.col("centroid_id").isin(probe)),
        path, id_col,
    )
    if exclude_id is not None:
        corpus = corpus.filter(F.col(id_col) != exclude_id)
    scored = cosine_scores(corpus, query, meta["vec_col"])
    return _topk_tail(scored, k, id_col, label_col, grid=grid)


def append_to_lsh_index(batch: DataFrame, path: str) -> None:
    """Extend a persisted LSH index with ``batch``'s vectors (parquet
    append into the same bucket partitions) — the post-probe step of a
    similarity ingest loop: probe the batch against what's known, then
    make the index aware of it so the NEXT batch retrieves against
    this one too (the ANN twin of ``dedup_index.append_to_index``).

    The batch hashes with the index's PERSISTED planes — an index is
    only valid with the planes it was built with — so appending
    commutes with building: build(corpus) + append(batch) holds
    exactly the rows of build(corpus ∪ batch) (bucketing is row-local;
    pinned in tests/test_ann_batch.py).

    Appending also DROPS the ``src`` source fingerprint from the meta
    sidecar: the fingerprint asserts "this layout is exactly
    build(source table)", which stops being true the moment a batch
    lands — without this, the shared query cache (plans/ann_queries.py
    ``_ensure``) would keep serving a mutated index as pristine. Ingest
    loops own their index paths and never consult the fingerprint;
    cache users rebuild on the next call.

    Appends are AT-LEAST-ONCE under foreachBatch replay (a restart
    between append and checkpoint commit re-appends the batch), so the
    index may hold exact-duplicate rows; every probe dedups candidates
    on (query, vector) after scoring, keeping the max-cosine copy
    (:func:`lsh_probe_index_batch`), and :func:`compact_lsh_index`
    sheds the duplicate rows from storage."""
    # Drop the pristine-build fingerprint BEFORE the append: a crash (or
    # a concurrent _ensure read) between the parquet append and a
    # post-hoc meta rewrite would leave a mutated index still claiming
    # pristine (r7 ANN review). Dropping first fails safe — if the
    # append then dies, the only cost is one cache rebuild.
    meta = _drop_src_fingerprint(os.path.join(path, "_ann_meta.json"))
    (
        batch.withColumn(
            "bucket", _bucket_fn_for(meta)(meta["vec_col"], meta["planes"])
        )
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(path)
    )


def compact_lsh_index(
    spark: SparkSession,
    path: str,
    write_partitions: int = 8,
    _test_hook_pre_swap=None,
) -> None:
    """Rewrite the bucket layout into ONE file per bucket — the
    small-file remedy for an index that has absorbed many streamed
    appends (each :func:`append_to_lsh_index` lands one file per
    touched bucket; a year of 5-minute ingest batches is ~10⁵ files
    per bucket without this). Hash-clustering on ``bucket`` before the
    partitioned write puts each bucket in exactly one task
    (``write_partitions`` only caps write parallelism). Replay
    artifacts (exact-duplicate rows from at-least-once appends) are
    shed; the distinct row SET is unchanged. The rewrite goes through
    a side directory and a two-rename swap
    (:func:`_compact_partitioned_index`, the one swap machine every
    persisted index compacts through): a crash between the renames
    leaves the previous copy intact at ``__old`` and is rolled back on
    the next call.

    Compaction requires APPEND QUIESCENCE (run it between ingest
    batches — in the foreachBatch loop that is any point outside the
    probe callback): a file that lands after the snapshot read would be
    silently dropped by the swap. The guard is two-stage: the listing
    is re-checked before the swap (abandon: tmp removed, live dir
    untouched), and AGAIN after the live dir has been renamed aside —
    a part file that slipped in between the first check and the rename
    is caught there and the rename is rolled back, so the landed file
    survives in the live dir. The quiescence requirement stays
    authoritative: a writer racing the post-rename window itself (its
    part file materializing mid-rename) is OS-undefined behavior no
    listing can close — the guard narrows the window to the rename
    syscalls, it does not license concurrent appends.

    ``_test_hook_pre_swap`` is a test seam (tests/test_ann_batch.py)
    invoked between the first listing check and the rename-aside —
    exactly the window the second check exists for."""
    _compact_partitioned_index(
        spark, path, "bucket", write_partitions, _test_hook_pre_swap,
        "compact_lsh_index",
    )


def compact_ivf_index(
    spark: SparkSession,
    path: str,
    write_partitions: int = 8,
    _test_hook_pre_swap=None,
) -> None:
    """IVF twin of :func:`compact_lsh_index`: rewrite the
    ``centroid_id`` layout into one file per centroid directory after
    many streamed appends, shedding replay-duplicate rows. Same atomic
    two-rename swap, crash recovery, and two-stage concurrent-append
    guard; same APPEND QUIESCENCE requirement."""
    _compact_partitioned_index(
        spark, path, "centroid_id", write_partitions, _test_hook_pre_swap,
        "compact_ivf_index",
    )


def _compact_partitioned_index(
    spark: SparkSession,
    path: str,
    part_col: str | None,
    write_partitions: int,
    _test_hook_pre_swap,
    opname: str,
    _test_hook_post_aside=None,
    _rewrite=None,
    schema: str | None = None,
    meta_file: str | None = None,
) -> None:
    """The one compaction swap machine of every persisted index (LSH,
    IVF, IVF-PQ, flat PQ, every ``rebuild_*``, and the dedup MinHash /
    paragraph / shingle layouts): rewrite the ``part_col``-partitioned
    live dir ``path`` into one file per partition via a side directory
    (``<path>__compact``) and a two-rename swap (live dir aside to
    ``<path>__old``, side dir to live), with the full crash/race
    protocol:

    - a data-file snapshot taken before the rewrite is re-checked after
      the rewrite AND after the rename-aside, so a part file (or a
      tombstone) landing anywhere in the window aborts the swap (rolled
      back, landed file kept live) instead of dying in ``__old``;
    - a ``_swap_pending`` sentinel travels with the aside copy so
      recovery always RESTORES the complete copy (folding in any data
      files a racing appender landed in a recreated live dir, and
      dropping the ``src`` fingerprint in ``meta_file`` when it does,
      since the restored index is no longer build(corpus));
    - a ``_swap_committed`` marker riding the final rename makes a
      crash in the retire sequence self-describing, so recovery deletes
      the stale aside copy instead of re-merging it — no crash ordering
      loses OR duplicates rows;
    - the rewrite applies ``dropDuplicates`` (exact duplicates from
      replayed at-least-once appends heal) and physically purges
      tombstoned ids, retiring the tombstone log in the same swap.

    Appends should still be quiesced — the guards do not license
    concurrency.

    ``schema``: DDL schema the live dir is read with (default: infer).
    The dedup layouts pass their fixed-width schemas, so a layout built
    over an EMPTY corpus (no partition dirs) still compacts.
    ``meta_file``: the sidecar whose ``src`` fingerprint a racer fold
    drops (default ``<path>/_ann_meta.json``; the dedup layouts keep
    ``_dedup_meta.json`` one level above the live dir). A missing file
    is a no-op.

    ``part_col=None`` compacts a FLAT (unpartitioned) parquet dir —
    the PQ codes layout (operators/pq.py) — with the identical
    two-rename swap, sentinel/commit-marker crash recovery, and
    two-stage concurrent-append guard; the snapshot is the top-level
    part-file listing and the rewrite is a plain ``repartition(n)``.
    Only an ``_ann_meta.json`` INSIDE the compacted dir is carried
    into the rewrite; a sidecar kept outside it (PQ's
    ``codebooks.json`` beside ``codes/``, the dedup meta) stays put.

    ``_rewrite``: optional ``f(tmp_path) -> None`` producing the
    REPLACEMENT layout at ``tmp_path`` instead of the default
    dedup+tombstone-purge rewrite — the REBUILD verb
    (:func:`rebuild_ivfpq_index` et al.) rides the identical snapshot
    guard, two-rename swap, and crash recovery, swapping in a
    freshly-built layout (new quantizers, its OWN meta — the old meta
    is not preserved over it) while a mutation landing mid-build still
    aborts the swap."""
    import shutil

    tmp = path.rstrip("/") + "__compact"
    old = path.rstrip("/") + "__old"
    sentinel = "_swap_pending"
    committed = "_swap_committed"

    def _merge_tree(src: str, dst: str) -> int:
        # Fold every DATA file under src into dst (same relative
        # layout), returning how many were moved. Hidden/metadata files
        # (_SUCCESS, _ann_meta.json,
        # .crc …) are SKIPPED — dst already carries its own authoritative
        # copies, and a disambiguation-renamed metadata file would stop
        # being underscore-hidden and poison every later parquet read.
        # Parquet part names are UUID-unique, so data collisions are
        # practically impossible; if one ever occurs the src copy wins
        # under a uniquified (still .parquet-suffixed) name rather than
        # silently vanishing — the rename loops until the name is free.
        moved = 0
        for root, _dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            out_dir = dst if rel == "." else os.path.join(dst, rel)
            os.makedirs(out_dir, exist_ok=True)
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                target = os.path.join(out_dir, f)
                i = 0
                while os.path.exists(target):
                    i += 1
                    target = os.path.join(out_dir, f"racer{i}-{f}")
                os.rename(os.path.join(root, f), target)
                moved += 1
        return moved

    if meta_file is None:
        meta_file = os.path.join(path, "_ann_meta.json")
    if os.path.isdir(old) and os.path.exists(os.path.join(old, sentinel)):
        if os.path.isdir(path) and os.path.exists(os.path.join(path, committed)):
            # The final rename COMMITTED and the crash hit the retire
            # window (sentinel not yet removed / __old not yet deleted):
            # the live dir is the compacted copy, __old is stale — drop
            # it; re-merging it would duplicate every row.
            shutil.rmtree(old)
            os.remove(os.path.join(path, committed))
        else:
            # A previous swap never finished cleanly: __old
            # (sentinel-marked) is a COMPLETE pre-compaction copy. Fold
            # any files a racing appender landed in a recreated live
            # dir into it, then restore it — never delete the only
            # complete copy.
            folded = 0
            if os.path.isdir(path):
                folded = _merge_tree(path, old)
                shutil.rmtree(path)
            os.remove(os.path.join(old, sentinel))
            os.rename(old, path)
            if folded and os.path.exists(meta_file):
                _drop_src_fingerprint(meta_file)
    elif not os.path.isdir(path) and os.path.isdir(old):
        os.rename(old, path)  # pre-sentinel crash shape: roll back
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(os.path.join(path, committed)):
        # Stray marker from a crash after the retire completed but
        # before the marker removal — benign; clear it.
        os.remove(os.path.join(path, committed))
    has_meta = os.path.exists(os.path.join(path, "_ann_meta.json"))
    meta = _read_meta(path) if has_meta else None

    def _data_files(base: str) -> set[str]:
        # Tombstone part files are part of the snapshot: a DELETE that
        # lands mid-compaction must abort the swap exactly like an
        # append — the tmp rewrite carries no tombstones, so a missed
        # one would silently RESURRECT its rows.
        out = set()
        tdir = os.path.join(base, TOMBSTONE_DIR)
        if os.path.isdir(tdir):
            out |= {
                f"{TOMBSTONE_DIR}/{f}"
                for f in os.listdir(tdir)
                if f.endswith(".parquet")
            }
        if part_col is None:
            return out | {
                f for f in os.listdir(base) if f.endswith(".parquet")
            }
        for d in os.listdir(base):
            if d.startswith(f"{part_col}="):
                for f in os.listdir(os.path.join(base, d)):
                    if f.endswith(".parquet"):
                        out.add(f"{d}/{f}")
        return out

    snapshot = _data_files(path)
    if _rewrite is not None:
        _rewrite(tmp)
    else:
        reader = spark.read if schema is None else spark.read.schema(schema)
        deduped = reader.parquet(path).dropDuplicates()
        if _has_tombstones(path):
            # Physical purge: compaction is where tombstones become
            # real — the rewrite drops the tombstoned rows, and because
            # the tmp layout carries no _tombstones dir, the committed
            # swap retires the delete log in the same atomic rename.
            # The tombstone column is named the index's id column by
            # delete_from_index.
            ts = spark.read.parquet(os.path.join(path, TOMBSTONE_DIR))
            deduped = deduped.join(
                F.broadcast(ts.select(ts.columns[0]).distinct()),
                ts.columns[0], "left_anti",
            )
        if part_col is None:
            deduped.repartition(write_partitions).write.mode("overwrite").parquet(tmp)
        else:
            (
                deduped.repartition(write_partitions, part_col)
                .write.mode("overwrite")
                .partitionBy(part_col)
                .parquet(tmp)
            )
        if meta is not None:
            _write_meta(tmp, meta)
    if _data_files(path) != snapshot:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"{opname}: index changed during compaction "
            "(concurrent append?) — quiesce appends and re-run"
        )
    if _test_hook_pre_swap is not None:
        _test_hook_pre_swap()
    # Sentinel travels with the aside copy: if anything below fails (or
    # the process dies), the next call knows __old is the complete copy
    # and restores it instead of deleting it.
    open(os.path.join(path, sentinel), "w").close()
    os.rename(path, old)
    # Check-then-act closure: a part file that landed between the check
    # above and the rename is now sitting in __old — detect it, roll the
    # rename back (the landed file stays live), and abort the swap.
    if _data_files(old) != snapshot:
        os.rename(old, path)
        os.remove(os.path.join(path, sentinel))
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"{opname}: append landed during the swap window — "
            "rolled back; quiesce appends and re-run"
        )
    if _test_hook_post_aside is not None:
        _test_hook_post_aside()
    # The marker travels INTO the live dir with the rename below, so a
    # crash anywhere after the rename leaves a self-describing
    # committed state (see the recovery branch at the top). Written
    # before the rename, a crash in between is still safe: path is
    # absent, so recovery takes the restore branch and the marked tmp
    # is discarded by the next run's pre-clean.
    open(os.path.join(tmp, committed), "w").close()
    try:
        os.rename(tmp, path)
    except OSError:
        # A racing appender RECREATED the live dir after the
        # rename-aside (its meta was read before the swap), so the
        # final rename hit a non-empty target. Fold the racer's files
        # into the complete copy, restore it, abort — data from both
        # sides survives; only the compaction is abandoned.
        folded = _merge_tree(path, old)
        shutil.rmtree(path, ignore_errors=True)
        os.remove(os.path.join(old, sentinel))
        os.rename(old, path)
        if folded and os.path.exists(meta_file):
            _drop_src_fingerprint(meta_file)
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"{opname}: live dir was recreated during the swap window — "
            "rolled back with the racer's files preserved; quiesce "
            "appends and re-run"
        )
    # The swap is COMMITTED, and the live dir carries the commit
    # marker: a crash anywhere in this retire sequence is recovered
    # exactly (marker + sentinel reads as "committed, retire
    # interrupted" → the stale aside copy is deleted, never re-merged).
    # Retire order: sentinel first (so a crash during the possibly long
    # rmtree reads as the benign no-sentinel cleanup shape), aside copy
    # second, marker last (a stray marker is cleared by the next run's
    # pre-clean).
    os.remove(os.path.join(old, sentinel))
    shutil.rmtree(old)
    os.remove(os.path.join(path, committed))


#: Per-lane knobs a rebuild may inherit from the live index's meta.
_REBUILD_META_KNOBS: dict[str, tuple[str, ...]] = {
    "lsh": ("n_planes", "seed", "vec_col", "id_col", "grid"),
    "ivf": ("n_centroids", "seed", "vec_col", "id_col"),
    "ivfpq": ("n_centroids", "m", "k", "seed", "by_residual",
              "vec_col", "id_col", "label_col"),
}


def _live_quantizer(path: str) -> str:
    """The live index's ``quantizer`` meta tag, or '' — lloyd-built
    indexes stamp ``lloyd{k}x{n_iter}`` (IVF) /
    ``lloyd{n}x{i}+{m}x{k}x{i_sub}`` (IVF-PQ); spark.ml builds carry
    no tag. Rebuild dispatch keys on this (r13 ADVICE): a rebuild must
    refit with the SAME quantizer algorithm the index was built with,
    or recall/layout determinism silently shifts under a
    planner-triggered rebuild."""
    try:
        return str(_read_meta(path).get("quantizer", ""))
    except FileNotFoundError:
        return ""


def _rebuild_knobs(path: str, kind: str, knobs: dict) -> dict:
    """Default unspecified rebuild knobs from the LIVE index's meta.

    An index built with non-default ``n_planes``/``n_centroids``/
    ``seed``/... must not silently change parameters on rebuild just
    because the caller didn't re-pass every knob (r11 review): layout
    and recall would shift with no signal. Explicit knobs stay
    overrides; knobs the meta doesn't carry keep builder defaults."""
    try:
        meta = _read_meta(path)
    except FileNotFoundError:
        return knobs
    out = dict(knobs)
    for key in _REBUILD_META_KNOBS.get(kind, ()):
        if key not in out and key in meta:
            out[key] = meta[key]
    return out


def _rebuild_index(
    spark: SparkSession,
    path: str,
    part_col: str,
    build_into,
    opname: str,
    _test_hook_pre_swap=None,
    ids_already_filtered: bool = False,
) -> None:
    """REBUILD a live index in place, atomically: run ``build_into(tmp)``
    (a full fresh build — new quantizers/planes, new meta) into the
    side directory, then swap it in through the SAME snapshot guard,
    two-rename swap, and sentinel/commit-marker crash recovery as
    compaction. The maintenance verb for quantizer drift: after enough
    appends the frozen centroids/codebooks no longer reflect the data
    distribution (recall decays); rebuilding refits from the CURRENT
    authoritative vector set while probes keep reading the old layout
    until the commit instant. Mutations (append/delete) landing
    mid-build abort the swap — same quiescence doctrine as compaction.
    A failed build leaves the live layout untouched (tmp is discarded
    by the next call's pre-clean). The fresh layout starts with an
    empty tombstone set: the caller passes the authoritative vectors,
    so prior deletes are expressed by their absence.

    Because deletes are INDEX-SIDE ONLY, rebuilding from the same
    authoritative table that fed the original build (the common case)
    would silently resurrect every deleted id. A rebuild over a live
    index with a non-empty tombstone log therefore REFUSES unless the
    caller passes ``ids_already_filtered=True``, attesting the input
    vectors already exclude the deleted ids (the
    retract_docs_from_index witness-cap refusal pattern, r11 review)."""
    if _has_tombstones(path) and not ids_already_filtered:
        raise ValueError(
            f"{opname}: the live index carries delete tombstones, which a "
            "rebuild retires — rebuilding from an unfiltered vector table "
            "would resurrect every deleted id. Pass "
            "ids_already_filtered=True after excluding the deleted ids "
            "from the input (deletes are index-side only)."
        )
    _compact_partitioned_index(
        spark, path, part_col, 8, _test_hook_pre_swap, opname,
        _rewrite=build_into,
    )


def rebuild_lsh_index(
    df: DataFrame, path: str, spark: SparkSession | None = None,
    _test_hook_pre_swap=None, ids_already_filtered: bool = False, **knobs
) -> None:
    """Atomic in-place refit of an LSH index from the current corpus —
    see :func:`_rebuild_index`. ``knobs`` pass to
    :func:`build_lsh_index` (e.g. ``n_planes=``, ``seed=``); knobs NOT
    passed inherit the live index's meta (:func:`_rebuild_knobs`), so
    a non-default index keeps its parameters across rebuilds."""
    knobs = _rebuild_knobs(path, "lsh", knobs)
    _rebuild_index(
        spark or df.sparkSession, path, "bucket",
        lambda tmp: build_lsh_index(df, tmp, **knobs), "rebuild_lsh_index",
        _test_hook_pre_swap=_test_hook_pre_swap,
        ids_already_filtered=ids_already_filtered,
    )


def rebuild_ivf_index(
    df: DataFrame, path: str, spark: SparkSession | None = None,
    ids_already_filtered: bool = False, **knobs
) -> None:
    """Atomic in-place refit of an IVF index (fresh k-means coarse
    quantizer) from the current corpus — see :func:`_rebuild_index`.
    ``knobs`` pass to :func:`build_ivf_index`; unspecified knobs
    inherit the live index's meta (:func:`_rebuild_knobs`).

    Quantizer FLAVOR is preserved (r13 ADVICE): an index built with
    :func:`build_ivf_index_lloyd` (meta ``quantizer: lloyd{k}x{n}``)
    is refit by the deterministic Lloyd builder — inheriting
    ``k``/``n_iter`` from the meta tag — never silently swapped to the
    spark.ml fit by a planner-triggered rebuild (the lloyd layout is
    what carries the DuckDB oracles; its determinism is the contract)."""
    quant = _live_quantizer(path)
    if quant.startswith("lloyd"):
        meta = _read_meta(path)
        k_tag, n_iter_tag = (int(s) for s in quant[len("lloyd"):].split("x"))
        # k / n_centroids are aliases; accepting both at once would
        # silently discard one (r13 ADVICE: the nested-pop form
        # consumed n_centroids eagerly). Conflicts fail loudly like
        # every other inapplicable knob.
        if "k" in knobs and "n_centroids" in knobs:
            raise ValueError(
                "rebuild_ivf_index: pass k OR n_centroids, not both "
                "(they are aliases for the lloyd centroid count)"
            )
        if "k" in knobs:
            k_knob = knobs.pop("k")
        elif "n_centroids" in knobs:
            k_knob = knobs.pop("n_centroids")
        else:
            k_knob = meta.get("n_centroids", k_tag)
        lknobs = {
            "k": int(k_knob),
            "n_iter": int(knobs.pop("n_iter", n_iter_tag)),
            "vec_col": knobs.pop("vec_col", meta.get("vec_col", "embedding")),
            "id_col": knobs.pop("id_col", meta.get("id_col", "vec_id")),
        }
        if knobs:
            raise ValueError(
                f"rebuild_ivf_index: knobs {sorted(knobs)} do not apply to a "
                "lloyd-quantized index (deterministic fit, no seed) — pass "
                "k/n_iter/vec_col/id_col, or refit explicitly with "
                "build_ivf_index_lloyd"
            )
        _rebuild_index(
            spark or df.sparkSession, path, "centroid_id",
            lambda tmp: build_ivf_index_lloyd(df, tmp, **lknobs),
            "rebuild_ivf_index", ids_already_filtered=ids_already_filtered,
        )
        return
    knobs = _rebuild_knobs(path, "ivf", knobs)
    _rebuild_index(
        spark or df.sparkSession, path, "centroid_id",
        lambda tmp: build_ivf_index(df, tmp, **knobs), "rebuild_ivf_index",
        ids_already_filtered=ids_already_filtered,
    )


def _dedup_max_cosine(scored: DataFrame, id_col: str, label_col: str) -> DataFrame:
    """Collapse duplicate (q_id, id) candidate rows AFTER scoring,
    keeping the max-cosine copy (tie → max label; struct max orders
    field-wise, so the pick is deterministic). Exact-duplicate rows
    from replayed at-least-once appends score identically — any copy is
    THE copy; a re-appended id with a DIFFERENT vector (re-embedded
    document) resolves to its best-scoring embedding instead of an
    arbitrary one. Shared by the LSH and IVF batch probes so both dedup
    identically. Costs the same single (q_id, id) exchange the previous
    pre-scoring ``dropDuplicates`` paid."""
    return scored.groupBy("q_id", id_col).agg(
        F.max(F.struct(F.col("cosine_raw"), F.col(label_col))).alias("_m")
    ).select(
        "q_id",
        F.col(id_col),
        F.col(f"_m.{label_col}").alias(label_col),
        F.col("_m.cosine_raw").alias("cosine_raw"),
    )


def lsh_probe_index_batch(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
    k: int = 10,
    probe_hamming: int = 2,
    label_col: str = "label",
    max_static_buckets: int = 1024,
    exclude_query_ids: bool = False,
    index_filter=None,
) -> DataFrame:
    """Batched multi-query probe of a persisted LSH index: every query
    vector in ``queries`` gets its k nearest indexed vectors in ONE
    plan — ``(q_id, vec_id, label, cosine, rn)``.

    :func:`lsh_topk_indexed` enumerates its probe buckets driver-side
    for a single query; an ingest micro-batch carries MANY query
    vectors, and looping it would launch one index scan per vector.
    Here the query side buckets itself with the index's own persisted
    planes (raw-sign :func:`~.similarity.lsh_bucket` — the function the
    index was BUILT with, so query and index hash identically), explodes
    the Hamming-ball XOR masks, and the tiny probe table is broadcast
    into an equi-join on the index's PARTITION column. The scan is
    pruned STATICALLY: the batch's distinct probe buckets are collected
    driver-side (one tiny job, capped — this is a runtime ingest op,
    not a lazy plan builder) and pushed as ``bucket IN (...)``
    PartitionFilters, so pruning never depends on whether Catalyst's
    dynamic-pruning rule deems the broadcast side selective — an
    unfiltered landing-dir batch prunes exactly like a filtered one.
    When the batch's Hamming-ball union exceeds ``max_static_buckets``
    distinct buckets (a huge batch, or many planes), the IN-list would
    bloat planning for ever-diminishing pruning value, so the static
    filter is SKIPPED and the equi-join alone (plus Catalyst's runtime
    pruning) bounds the work — the filter is an access-path
    optimization, never a correctness condition (equality across both
    paths pinned in tests/test_ann_batch.py).

    Candidates dedup on (query, vector) AFTER scoring, keeping the
    max-cosine copy (ties broken by max label — deterministic), so
    replayed at-least-once appends cannot displace a true top-k
    neighbor even if an id is ever re-appended with a different vector
    (re-embedded document): the best-scoring copy wins, never an
    arbitrary one. ``exclude_query_ids=True`` additionally anti-joins
    the index scan against the batch's own ids — the ingest loop
    (streaming/ann_ingest.py) sets it under ``extend_index`` so a
    replayed batch that already appended itself can never match itself.
    Per-query ordering matches :func:`lsh_topk_indexed` exactly (raw
    cosine desc, id tiebreak) — pinned equal in
    tests/test_ann_batch.py.

    ``index_filter``: attribute-filtered search (the IVF-PQ lane's
    ``code_filter``, same pre-filter semantics): a predicate applied
    inside the probed buckets before scoring, so every top-k slot goes
    to an eligible row. It evaluates AFTER the probe's projection, so
    the columns in scope are ``(<id_col>, <label_col>, v, vnorm,
    bucket)`` — the vector column is renamed ``v`` (doubles), its L2
    norm is ``vnorm``; typical predicates filter the label. Pinned in
    tests/test_ann_delete.py: per query, the filtered probe returns
    exactly the eligible rows of the unfiltered ranking, re-ranked."""
    from pyspark.sql import Window

    from map_reduce_framework_using_python_spark.operators.similarity import (
        dot,
        hamming_masks,
        l2_norm,
        lsh_bucket,
    )

    meta = _read_meta(path)
    planes, id_col, vec_col = meta["planes"], meta["id_col"], meta["vec_col"]
    masks = hamming_masks(meta["n_planes"], probe_hamming)
    qv = _as_double(F.col(vec_col))
    probes = (
        queries.select(
            F.col(id_col).alias("q_id"),
            qv.alias("qv"),
            l2_norm(qv).alias("qnorm"),
            _bucket_fn_for(meta)(vec_col, planes).alias("_qbucket"),
            F.explode(
                F.array(*[F.lit(m).cast("long") for m in masks])
            ).alias("_mask"),
        )
        .withColumn("bucket", F.col("_qbucket").bitwiseXOR(F.col("_mask")))
        .drop("_qbucket", "_mask")
    )
    # Persist the probe table BEFORE the static collect: the collect and
    # the join below would otherwise evaluate `queries` twice, and a
    # non-deterministic query lineage could desynchronize the IN-filter
    # from the join, silently dropping candidates — the persist makes
    # the filter a pure access-path optimization again (r7 ANN review).
    # No matching unpersist: the RETURNED plan still reads `probes`, so
    # an eager unpersist would recompute the lineage at action time and
    # reintroduce the desync. Default storage is MEMORY_AND_DISK; the
    # CacheManager keeps the entry until an explicit unpersist
    # (plans/core.py), so each call leaves one.
    probes = probes.persist()
    # Bounded driver collect: LIMIT cap+1 so a pathological batch can
    # never materialize an unbounded IN-list (or driver row set) — the
    # fallback path below costs pruning, not correctness.
    probed_buckets = [
        r["bucket"]
        for r in probes.select("bucket")
        .distinct()
        .limit(max_static_buckets + 1)
        .collect()
    ]
    v = _as_double(F.col(vec_col))
    idx = spark.read.parquet(path)
    if len(probed_buckets) <= max_static_buckets:
        idx = idx.filter(F.col("bucket").isin(probed_buckets))
    idx = idx.select(
        F.col(id_col), F.col(label_col), v.alias("v"),
        l2_norm(v).alias("vnorm"), F.col("bucket"),
    )
    idx = _apply_tombstones(idx, path, id_col)
    if index_filter is not None:
        idx = idx.filter(index_filter)
    if exclude_query_ids:
        idx = idx.join(
            F.broadcast(queries.select(F.col(id_col))), id_col, "left_anti"
        )
    scored = (
        idx.join(F.broadcast(probes), "bucket")
        .filter(F.col(id_col) != F.col("q_id"))
        .withColumn(
            "cosine_raw",
            dot(F.col("v"), F.col("qv")) / (F.col("vnorm") * F.col("qnorm")),
        )
    )
    cand = _dedup_max_cosine(scored, id_col, label_col)
    w = Window.partitionBy("q_id").orderBy(F.col("cosine_raw").desc(), F.col(id_col))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "q_id",
            F.col(id_col),
            F.col(label_col),
            F.round("cosine_raw", 6).alias("cosine"),
            "rn",
        )
    )


def _centroids_sql(centroids: list[list[float]]) -> str:
    """The centroid list as ONE SQL constant ``C``: ``from_json`` over a
    JSON string literal, one ``(cid, cv)`` struct per centroid with
    ``cid`` its position in the persisted list. Its only input is a
    literal, so the optimizer folds the call into a single array
    literal — the plan does not grow k×d expression trees and no
    broadcast job ships the centroids. JSON floats are Python's
    shortest round-trip ``repr`` and the JSON parser rounds correctly,
    so every ``cv`` holds the persisted doubles bit for bit. JSON has
    no NaN or infinity, so a non-finite coordinate raises
    ``ValueError`` when the plan is built."""
    rows = []
    for i, c in enumerate(centroids):
        cv = [float(x) for x in c]
        for x in cv:
            if not math.isfinite(x):
                raise ValueError(f"non-finite centroid coordinate: {x}")
        rows.append({"cid": i, "cv": cv})
    js = json.dumps(rows, separators=(",", ":"))
    return f"from_json('{js}', 'array<struct<cid:int,cv:array<double>>>')"


def _dist_structs(v_sql: str, c_sql: str, cid_sql: str = "c.cid") -> str:
    """SQL: one ``(dist, cid)`` struct per centroid ``c`` of ``c_sql`` —
    ``dist`` is the squared L2 distance from the vector ``v_sql``
    (zip_with + aggregate fold, 0.0 init, the ``similarity.dot`` order)."""
    return (
        f"transform({c_sql}, c -> named_struct('dist', aggregate(zip_with("
        f"{v_sql}, c.cv, (a, b) -> (a - b) * (a - b)), 0D, "
        f"(acc, x) -> acc + x), 'cid', {cid_sql}))"
    )


def _nearest_centroids(v_sql: str, c_sql: str, n: int) -> str:
    """THE nearest-centroid kernel every IVF, IVF-PQ and Lloyd routing
    site shares: SQL for the ``n`` nearest centroids of ``c_sql``
    (:func:`_centroids_sql`) to the vector ``v_sql``, as an array of
    ``(dist, cid)`` structs, nearest first. Structs sort
    lexicographically, so exact distance ties resolve to the lowest
    cid — the driver-side ``sorted(range(k), key=dist)`` of
    :func:`ivf_topk_indexed`. Row-local and constant work per row: no
    window, join or shuffle picks the centroids, and every site that
    routes with it assigns a vector the same cell."""
    return f"slice(array_sort({_dist_structs(v_sql, c_sql)}), 1, {int(n)})"


def append_to_ivf_index(batch: DataFrame, path: str) -> None:
    """Extend a persisted IVF index with ``batch``'s vectors — the IVF
    twin of :func:`append_to_lsh_index`, closing the lifecycle
    asymmetry between the two layouts.

    Each vector is assigned its nearest PERSISTED centroid JVM-side
    (element 1 of the :func:`_nearest_centroids` kernel the probes
    route with — the quantizer is FROZEN at build time; appending never
    refits, so probe routing for old and new rows stays consistent
    forever) and appended into the matching ``centroid_id=`` partition
    in one pass over ``batch``, at any centroid count. Exact distance
    ties resolve to the lowest cid, the same tie-break the probes use. The assignment
    agrees with the build-time spark.ml ``model.transform`` except on
    exact-tie distances (measure-zero for float embeddings); the
    Python-argmin equivalence is pinned in tests/test_ann_batch.py.

    Like the LSH append: the meta ``src`` fingerprint is dropped (the
    layout is no longer build(source)), appends are at-least-once under
    foreachBatch replay (probes dedup on (query, vector) after scoring;
    :func:`compact_ivf_index` sheds duplicate rows from storage)."""
    # src drops BEFORE the append — same crash-window rationale as
    # append_to_lsh_index.
    meta = _drop_src_fingerprint(os.path.join(path, "_ann_meta.json"))
    qv_sql = f"transform(`{meta['vec_col']}`, x -> CAST(x AS DOUBLE))"
    nearest = _nearest_centroids(qv_sql, _centroids_sql(meta["centroids"]), 1)
    (
        batch.withColumn("centroid_id", F.expr(f"element_at({nearest}, 1).cid"))
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(path)
    )


def ivf_probe_index_batch(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
    k: int = 10,
    n_probe: int = 4,
    label_col: str = "label",
    exclude_query_ids: bool = False,
    grid_order: bool = False,
    index_filter=None,
) -> DataFrame:
    """Batched multi-query probe of a persisted IVF index — the IVF twin
    of :func:`lsh_probe_index_batch`: ``(q_id, vec_id, label, cosine,
    rn)`` for every query vector in ONE plan.

    ``grid_order=True`` ranks by the half-up-1e-6-QUANTIZED cosine
    (ties → id) and emits that quantized value, the same discipline as
    the LSH batch probe — required for DuckDB hash-gating, where both
    engines must agree on ordering at last-ulp cosine ties. Default
    False keeps raw-cosine ordering, pinned equal to
    :func:`ivf_topk_indexed`.

    Per-query centroid selection stays fully JVM-side (no driver loop
    over queries): each query row ranks the persisted centroids by
    squared L2 distance with the :func:`_nearest_centroids` kernel —
    ``array_sort`` over ``(dist, cid)`` structs against the centroid
    list folded into ONE plan constant, constant work per query row at
    any centroid count — keeps the ``n_probe`` nearest, and explodes to
    a tiny (q_id, centroid_id) probe table that broadcasts into an
    equi-join on the index's PARTITION column. Candidates dedup on (query,
    vector) after scoring keeping the max-cosine copy — the same
    :func:`_dedup_max_cosine` the LSH probe applies, so duplicate index
    rows (repeated source ids, or replayed :func:`append_to_ivf_index`
    batches) can never occupy multiple top-k slots.
    ``exclude_query_ids=True`` anti-joins the index scan against the
    batch's own ids — the IVF ingest loop sets it under
    ``extend_index`` so a crash-replayed batch that already appended
    itself never matches itself (same contract as the LSH probe).
    Per-query ordering matches :func:`ivf_topk_indexed` exactly (raw
    cosine desc, id tiebreak) — pinned equal in
    tests/test_ann_batch.py.

    ``index_filter``: attribute-filtered search — the same pre-filter
    semantics as the LSH twin and the IVF-PQ lane's ``code_filter``.
    Columns in scope (post-projection): ``(<id_col>, <label_col>, v,
    vnorm, centroid_id)`` — the vector column is renamed ``v``.
    Pinned in tests/test_ann_delete.py."""
    from pyspark.sql import Window

    from map_reduce_framework_using_python_spark.operators.similarity import (
        dot,
        l2_norm,
    )

    meta = _read_meta(path)
    centroids, id_col, vec_col = meta["centroids"], meta["id_col"], meta["vec_col"]
    qv = _as_double(F.col(vec_col))
    qbase = queries.select(
        F.col(id_col).alias("q_id"),
        qv.alias("qv"),
        l2_norm(qv).alias("qnorm"),
    )
    nearest = _nearest_centroids("qv", _centroids_sql(centroids), n_probe)
    probes = qbase.withColumn("_probe", F.explode(F.expr(nearest))).select(
        "q_id", "qv", "qnorm", F.col("_probe.cid").alias("centroid_id")
    )
    # Static partition filter, like the LSH twin: DPP's pruningHasBenefit
    # heuristic can decline to fire on an unfiltered probe side, and then
    # every micro-batch scans ALL centroid directories. The distinct
    # probed-centroid set is bounded by the meta-sized centroid count, so
    # the collect is trivially cheap; the persist keeps the collect and
    # the join on ONE evaluation of `queries` (r7 ANN review). No
    # matching unpersist: the returned plan reads `probes`, so an eager
    # unpersist would recompute the lineage at action time and
    # reintroduce the desync. The CacheManager keeps the entry until an
    # explicit unpersist (plans/core.py), so each call leaves one.
    probes = probes.persist()
    probed_cids = [
        r["centroid_id"] for r in probes.select("centroid_id").distinct().collect()
    ]
    v = _as_double(F.col(vec_col))
    idx = spark.read.parquet(path).filter(
        F.col("centroid_id").isin(probed_cids)
    ).select(
        F.col(id_col), F.col(label_col), v.alias("v"), l2_norm(v).alias("vnorm"),
        F.col("centroid_id"),
    )
    idx = _apply_tombstones(idx, path, id_col)
    if index_filter is not None:
        idx = idx.filter(index_filter)
    if exclude_query_ids:
        idx = idx.join(
            F.broadcast(queries.select(F.col(id_col))), id_col, "left_anti"
        )
    scored = (
        idx.join(F.broadcast(probes), "centroid_id")
        .filter(F.col(id_col) != F.col("q_id"))
        .withColumn(
            "cosine_raw",
            dot(F.col("v"), F.col("qv")) / (F.col("vnorm") * F.col("qnorm")),
        )
    )
    cand = _dedup_max_cosine(scored, id_col, label_col)
    if grid_order:
        cand = cand.withColumn(
            "_qcos", F.floor(F.col("cosine_raw") * 1e6 + F.lit(0.5)).cast("long")
        )
        w = Window.partitionBy("q_id").orderBy(F.col("_qcos").desc(), F.col(id_col))
        return (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select(
                "q_id",
                F.col(id_col),
                F.col(label_col),
                (F.col("_qcos") / 1e6).alias("cosine"),
                "rn",
            )
        )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine_raw").desc(), F.col(id_col))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "q_id",
            F.col(id_col),
            F.col(label_col),
            F.round("cosine_raw", 6).alias("cosine"),
            "rn",
        )
    )


def index_stats(path: str) -> dict:
    """Driver-side introspection of any persisted index layout (ANN
    lanes, dedup lanes, flat PQ) — the ops surface for the maintenance
    verbs: file/byte counts per the live layout, partition-directory
    count, and the tombstone-log size, all from directory listings (no
    Spark job; at 100 TB this is a namenode listing, not a scan). Read
    it to decide WHEN to compact (file count ballooning from streamed
    appends, tombstone log outgrowing broadcast comfort) or rebuild.

    Returns ``{kind, meta, n_partition_dirs, n_data_files, data_bytes,
    n_tombstone_files, tombstone_bytes}`` — ``kind`` is the meta
    sidecar's kind (``lsh``/``ivf``/``ivfpq``/``pq``/``minhash``/
    ``paragraph``/``shingle``), ``meta`` the parameter dict with bulky
    model state (centroids/books/planes) elided."""
    bulky = {"centroids", "books", "planes", "hier"}
    if os.path.exists(os.path.join(path, "_ann_meta.json")):
        meta = _read_meta(path)
        kind = meta.get("kind", "lsh" if "planes" in meta else "?")
        live = path
    elif os.path.exists(os.path.join(path, "codebooks.json")):
        with open(os.path.join(path, "codebooks.json")) as fh:
            meta = json.load(fh)
        kind = meta.get("kind", "pq")
        live = os.path.join(path, "codes")
    elif os.path.exists(os.path.join(path, "_dedup_meta.json")):
        from map_reduce_framework_using_python_spark.operators.dedup_index import (
            _LIVE_SUB,
        )

        with open(os.path.join(path, "_dedup_meta.json")) as fh:
            meta = json.load(fh)
        kind = meta.get("kind", "minhash")
        live = os.path.join(path, _LIVE_SUB[kind])
    else:
        raise ValueError(f"not a recognized index layout: {path}")
    n_dirs = n_files = data_bytes = 0
    n_tomb = tomb_bytes = 0
    for root, dirs, files in os.walk(live):
        rel = os.path.relpath(root, live)
        in_tomb = rel.split(os.sep)[0] == TOMBSTONE_DIR
        if rel != "." and "=" in os.path.basename(root):
            n_dirs += 1
        for f in files:
            if not f.endswith(".parquet"):
                continue
            sz = os.path.getsize(os.path.join(root, f))
            if in_tomb:
                n_tomb += 1
                tomb_bytes += sz
            else:
                n_files += 1
                data_bytes += sz
    return {
        "kind": kind,
        "meta": {k: v for k, v in meta.items() if k not in bulky},
        "live_dir": live,
        "n_partition_dirs": n_dirs,
        "n_data_files": n_files,
        "data_bytes": data_bytes,
        "n_tombstone_files": n_tomb,
        "tombstone_bytes": tomb_bytes,
    }


def _parquet_rows_under(root: str, tombstones: bool) -> int:
    """Sum of footer ``num_rows`` over the parquet files under ``root``
    — driver-side pyarrow footer reads (one footer per file, metadata
    only; at 100 TB this is namenode listings + footer gets, still no
    Spark job and proportional to FILE COUNT, not bytes). Tombstone
    rows count replays at-least-once (appends are never deduped on
    disk), so the returned count is an upper bound on distinct ids —
    the safe direction for a maintenance trigger."""
    import pyarrow.parquet as pq

    total = 0
    for r, _d, files in os.walk(root):
        rel = os.path.relpath(r, root)
        # Files directly under root have rel == "." — that is NOT an
        # in-progress dot-dir (r13 ADVICE: '.'.startswith('.') made
        # flat layouts tolerate corrupt LIVE files, defeating the
        # fail-loud rule below). Root-level files get no dir parts.
        parts = [] if rel == "." else rel.split(os.sep)
        in_tomb = bool(parts) and parts[0] == TOMBSTONE_DIR
        if in_tomb != tombstones:
            continue
        # Spark's in-flight writes live under _temporary/ (or dot-tmp
        # names); a half-written file THERE is expected and skippable.
        in_progress_dir = any(p == "_temporary" or p.startswith(".") for p in parts)
        for f in files:
            if not f.endswith(".parquet"):
                continue
            fpath = os.path.join(r, f)
            try:
                total += pq.ParquetFile(fpath).metadata.num_rows
            except Exception:  # noqa: BLE001
                # Tolerate unreadable files ONLY where a half-written
                # file is expected: in-progress/tmp paths, or the
                # tombstone side (appended concurrently by takedown
                # streams). An unreadable LIVE data file must NOT
                # silently undercount data_rows — that INFLATES
                # tombstone_frac and can flip a cheap compact into a
                # ~28x-cost rebuild (r12 ADVICE). Let it propagate so
                # the policy input stays auditable.
                if in_progress_dir or f.startswith((".", "_")) or tombstones:
                    continue
                raise
    return total


def plan_maintenance(
    indexes: dict[str, str],
    compact_tombstone_frac: float = 0.05,
    max_files_per_partition: float = 4.0,
    max_tombstone_files: int = 64,
    rebuild_tombstone_frac: float = 0.3,
    rebuild_growth_frac: float = 1.0,
) -> list[dict]:
    """Turn :func:`index_stats`'s listing-only signals into per-index
    **compact / rebuild / noop** decisions — the "when to run verb N"
    policy the lifecycle pentad (build/append/delete/compact/rebuild)
    makes possible. ``indexes``: ``{label: path}``. Returns one dict
    per index, decision plus every input signal (so the caller can
    audit the policy, not just obey it).

    Policy, in precedence order (thresholds are knobs):

    * **rebuild** when ``tombstone_frac`` (tombstone rows / live data
      rows, both from parquet FOOTERS — no scan) ≥
      ``rebuild_tombstone_frac``: so much of the layout is dead that
      the vectors the quantizers were fit on no longer reflect the
      survivors — compaction would purge the rows but keep the stale
      quantizers; refit instead (the caller passes the filtered
      authoritative vectors, ``ids_already_filtered=True``). The
      measured cost gap (rebuild ≈ 28× append+compact at the 10×
      bench, scale10x_rebuild) is why this threshold is HIGH.
    * **rebuild** (r13) when the layout has GROWN past
      ``rebuild_growth_frac`` of its fit-time row count
      (``growth_frac`` = appended rows since fit / ``fit_rows``, both
      from footers vs the meta's stamp — still listing-only): appends
      with a frozen quantizer shift the stored distribution even with
      zero deletes, so long-lived ingest loops must rebuild on growth,
      not just takedown. Applies only to the DATA-FIT quantizer lanes
      (ivf / ivfpq — k-means centroids/codebooks drift with the data);
      LSH planes are data-independent, so growth never invalidates
      them. Indexes built before the stamp (no ``fit_rows`` meta) skip
      the signal.
    * **compact** when the tombstone set outgrows broadcast comfort
      (``tombstone_frac`` ≥ ``compact_tombstone_frac`` or
      ``n_tombstone_files`` ≥ ``max_tombstone_files`` — the log's own
      file fan-out makes every probe's anti-join read more files) or
      streamed appends have fanned the layout out
      (``files_per_partition`` ≥ ``max_files_per_partition`` — each
      probe opens every file of its partition directories).
    * **noop** otherwise — a pristine or recently-compacted index.

    Decisions flip exactly as the lifecycle advances (pinned in
    tests/test_ann_maintenance.py); the registered form is
    ``ns_index_maintenance_plan``."""
    out: list[dict] = []
    for label, path in indexes.items():
        st = index_stats(path)
        live = st["live_dir"]
        data_rows = _parquet_rows_under(live, tombstones=False)
        tomb_rows = _parquet_rows_under(live, tombstones=True)
        # Flat layouts (no partition dirs — pq codes/) can never
        # compact below their compactor's own write parallelism, so
        # the fan-out signal normalizes by that floor: a just-compacted
        # flat index must read noop, not re-flag forever (r13).
        denom = st["n_partition_dirs"] or FLAT_COMPACT_PARTITIONS
        files_pp = st["n_data_files"] / denom
        # Tombstones are DOC/VECTOR ids; the minhash layout stores one
        # row per (doc, band), so the raw ratio understates a takedown
        # by the bands factor — normalize to per-document terms when
        # the meta says how (paragraph/shingle instance multiplicity is
        # data-dependent; their raw ratio stays the conservative floor).
        per_id_rows = (
            st["meta"].get("bands", 1) if st["kind"] == "minhash" else 1
        )
        tomb_frac = tomb_rows / max(1, data_rows / max(1, per_id_rows))
        fit_rows = st["meta"].get("fit_rows")
        growth_frac = (
            max(0, data_rows - fit_rows) / fit_rows
            if fit_rows else None
        )
        # Mass takedown means different things per lane: quantized
        # layouts (ANN) REBUILD — their frozen quantizers were fit on a
        # corpus the layout no longer stores — while sketch layouts
        # (minhash/paragraph/shingle) have no model to drift, so the
        # same signal just means PURGE (compact).
        quantized = st["kind"] in ("lsh", "ivf", "ivfpq", "pq")
        # ``trigger`` is the STRUCTURED signal class ('tombstone' |
        # 'growth' | 'fanout' | None) — consumers key policy on it
        # (auto_maintain's growth-rebuild deferral), never on the
        # human-readable reason prose (r13 ADVICE: a rewording must
        # not silently re-enable the compact-every-tick loop).
        if tomb_frac >= rebuild_tombstone_frac and quantized:
            decision, trigger = "rebuild", "tombstone"
            reason = (
                f"tombstone_frac {tomb_frac:.3f} >= "
                f"{rebuild_tombstone_frac} (quantizers fit on a corpus "
                "this layout no longer stores)"
            )
        elif tomb_frac >= rebuild_tombstone_frac:
            decision, trigger = "compact", "tombstone"
            reason = (
                f"tombstone_frac {tomb_frac:.3f} >= "
                f"{rebuild_tombstone_frac} (mass takedown; sketch layout "
                "has no quantizer to refit — purge)"
            )
        elif (
            growth_frac is not None
            and growth_frac >= rebuild_growth_frac
            and st["kind"] in ("ivf", "ivfpq")
        ):
            decision, trigger = "rebuild", "growth"
            reason = (
                f"growth_frac {growth_frac:.3f} >= {rebuild_growth_frac} "
                "(appends with a frozen quantizer shift the stored "
                "distribution — refit on growth, not just takedown)"
            )
        elif tomb_frac >= compact_tombstone_frac:
            decision, trigger = "compact", "tombstone"
            reason = (
                f"tombstone_frac {tomb_frac:.3f} >= "
                f"{compact_tombstone_frac} (anti-join set outgrowing "
                "broadcast comfort)"
            )
        elif st["n_tombstone_files"] >= max_tombstone_files:
            decision, trigger = "compact", "fanout"
            reason = (
                f"n_tombstone_files {st['n_tombstone_files']} >= "
                f"{max_tombstone_files} (delete-log file fan-out)"
            )
        elif files_pp >= max_files_per_partition:
            decision, trigger = "compact", "fanout"
            reason = (
                f"files_per_partition {files_pp:.1f} >= "
                f"{max_files_per_partition} (append fan-out)"
            )
        else:
            decision, trigger = "noop", None
            reason = "all signals under thresholds"
        out.append(
            {
                "index": label,
                "kind": st["kind"],
                "n_partition_dirs": st["n_partition_dirs"],
                "n_data_files": st["n_data_files"],
                "files_per_partition": round(files_pp, 3),
                "data_rows": data_rows,
                "tombstone_rows": tomb_rows,
                "n_tombstone_files": st["n_tombstone_files"],
                "tombstone_frac": round(tomb_frac, 6),
                "fit_rows": fit_rows,
                "growth_frac": (
                    None if growth_frac is None else round(growth_frac, 6)
                ),
                "decision": decision,
                "trigger": trigger,
                "reason": reason,
            }
        )
    return out


def auto_maintain(
    spark: SparkSession,
    indexes: dict[str, str],
    vectors: dict[str, DataFrame] | None = None,
    **thresholds,
) -> list[dict]:
    """Close the maintenance loop: :func:`plan_maintenance` decides,
    this EXECUTES — the operational form of the lifecycle pentad for
    the ANN lanes (lsh / ivf / ivfpq) and the dedup lanes the takedown
    queues feed (minhash / paragraph / shingle — compact only; their
    mass-takedown signal routes to purge at the PLANNER, no quantizer
    to refit). ``vectors``: the authoritative
    vector table per index label, required only for rebuilds; the
    executor OWNS the tombstone filtering (anti-join against the live
    delete log before the refit, then ``ids_already_filtered=True``),
    so a caller can hand over the same unfiltered table that fed the
    original build without resurrecting deletes.

    A planned rebuild with NO vectors DEGRADES to compact — the purge
    half of the decision still lands (probes stay correct; only
    quantizer freshness is deferred) and the degradation is RECORDED,
    never silent. Each returned row carries the decision, the action
    actually taken, and the post-action re-plan, so drift between plan
    and effect is observable (each verb must flip its own decision to
    noop — pinned in tests/test_ann_maintenance.py).

    Quiescence is the caller's contract, same as calling the verbs
    directly: run between ingest drains, not concurrent with appends
    (a mutation landing mid-swap aborts the swap — the shared guard)."""
    from map_reduce_framework_using_python_spark.operators import (
        dedup_index as _dd,
    )
    from map_reduce_framework_using_python_spark.operators import ivfpq as _ivfpq
    from map_reduce_framework_using_python_spark.operators import pq as _pq

    compactors = {
        "lsh": lambda p: compact_lsh_index(spark, p),
        "ivf": lambda p: compact_ivf_index(spark, p),
        "ivfpq": lambda p: _ivfpq.compact_ivfpq_index(spark, p),
        # flat-PQ (r13, ADVICE): the planner treats pq as quantized
        # (can decide rebuild) but the lane has no in-place rebuilder —
        # rebuild DEGRADES to compact below, like the no-vectors path
        "pq": lambda p: _pq.compact_pq_index(spark, p),
        # dedup lanes (r12): the takedown queues feed these — the
        # planner routes their mass-takedown signal to compact (purge),
        # never rebuild (no quantizer to refit)
        "minhash": lambda p: _dd.compact_index(spark, p),
        "paragraph": lambda p: _dd.compact_paragraph_index(spark, p),
        "shingle": lambda p: _dd.compact_shingle_index(spark, p),
    }
    rebuilders = {
        "lsh": lambda df, p: rebuild_lsh_index(
            df, p, spark=spark, ids_already_filtered=True
        ),
        "ivf": lambda df, p: rebuild_ivf_index(
            df, p, spark=spark, ids_already_filtered=True
        ),
        "ivfpq": lambda df, p: _ivfpq.rebuild_ivfpq_index(
            df, p, spark=spark, ids_already_filtered=True
        ),
    }
    out: list[dict] = []
    for row in plan_maintenance(indexes, **thresholds):
        label, decision = row["index"], row["decision"]
        path = indexes[label]
        kind = row["kind"]
        if kind not in compactors:
            raise ValueError(
                f"auto_maintain: no executor for kind {kind!r} (label "
                f"{label!r}) — run the lane's own maintenance verbs"
            )
        vec = (vectors or {}).get(label)
        growth_rebuild = row["trigger"] == "growth"
        if decision == "rebuild" and growth_rebuild and vec is None:
            # A GROWTH-triggered rebuild has no purge half for compact
            # to land — degrading to compact would pay an O(corpus)
            # rewrite that cannot clear the signal, and a
            # maintain_every ingest loop past the threshold would then
            # re-compact EVERY tick forever (r13). Record, defer.
            action = "noop (deferred: growth rebuild needs vectors)"
        elif decision == "rebuild" and kind not in rebuilders:
            action = "compact (degraded: rebuild planned, no in-place rebuilder)"
            compactors[kind](path)
        elif decision == "rebuild" and vec is None:
            action = "compact (degraded: rebuild planned, no vectors)"
            compactors[kind](path)
        elif decision == "rebuild":
            action = "rebuild"
            meta = _read_meta(path)
            survivors = _apply_tombstones(vec, path, meta["id_col"])
            rebuilders[kind](survivors, path)
        elif decision == "compact":
            action = "compact"
            compactors[kind](path)
        else:
            action = "noop"
        after = plan_maintenance({label: path}, **thresholds)[0]
        out.append(
            {
                **row,
                "action": action,
                "decision_after": after["decision"],
            }
        )
    return out


#: One row per (maintenance tick, index): the planner's decision, the
#: action actually taken, and the post-action re-plan — the
#: observability contract every self-maintaining stream shares.
MAINTENANCE_LEDGER_SCHEMA = (
    "batch_id bigint, index string, kind string, decision string,"
    " trigger string, action string, decision_after string"
)


def write_maintenance_ledger(
    spark: SparkSession, rows: list[dict], batch_id: int, ledger_dir: str
) -> None:
    """Append :func:`auto_maintain`'s rows to a parquet ledger keyed by
    the micro-batch id — ONE writer shared by curate_stream and the
    ANN ingest loops (r13), so plan-vs-effect drift (including deferred
    growth rebuilds) is observable in every self-maintaining stream's
    own output, not just the function return value."""
    spark.createDataFrame(
        [
            (batch_id, r["index"], r["kind"], r["decision"],
             r["trigger"], r["action"], r["decision_after"])
            for r in rows
        ],
        MAINTENANCE_LEDGER_SCHEMA,
    ).write.mode("append").parquet(ledger_dir)


def maintenance_tick(
    spark: SparkSession,
    indexes: dict[str, str],
    batch_id: int,
    maintain_every: int | None,
    thresholds: dict | None = None,
    ledger_dir: str | None = None,
) -> list[dict] | None:
    """THE self-maintenance tick every ``maintain_every=`` stream
    shares (r14 — one definition so the cadence gate, the executor
    call, and the ledger write can never drift between lanes): after
    every Nth micro-batch — callers invoke it inside their foreachBatch
    quiescence window, the one place a stream owns its layouts — run
    :func:`auto_maintain` over ``indexes`` and, when ``ledger_dir`` is
    set, append the decision/trigger/action/decision_after rows to the
    shared parquet ledger (:data:`MAINTENANCE_LEDGER_SCHEMA`). Returns
    the rows, or None when the tick doesn't fire. Maintenance is
    layout-only — every lane pins drained answers unchanged."""
    if not maintain_every or (batch_id + 1) % maintain_every != 0:
        return None
    rows = auto_maintain(spark, indexes, **(thresholds or {}))
    if ledger_dir:
        write_maintenance_ledger(spark, rows, batch_id, ledger_dir)
    return rows


def scan_fraction(path: str, probed: list[int], part_col: str) -> float:
    """Fraction of partition directories a probe set actually opens —
    the observable pruning ratio (tests assert it ≪ 1)."""
    parts = [d for d in os.listdir(path) if d.startswith(f"{part_col}=")]
    hit = sum(1 for d in parts if int(d.split("=", 1)[1]) in set(probed))
    return hit / max(1, len(parts))
