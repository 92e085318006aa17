"""Deterministic Lloyd k-means (operators/clustering.py): exact pin
against an independent numpy implementation of the same contract
(min-id init, per-iteration 6-dp half-up centroid rounding, squared
euclidean, lowest-cluster-id tie-break)."""

from __future__ import annotations

import math

import numpy as np
import pyarrow.parquet as pq
import pytest

from map_reduce_framework_using_python_spark.operators.clustering import (
    assign_clusters,
    kmeans_fit,
)
from tests.conftest import SF_SMOKE

K, N_ITER = 8, 2


def _r6(a: np.ndarray) -> np.ndarray:
    return np.where(
        a >= 0,
        np.floor(a * 1e6 + 0.5) / 1e6,
        -np.floor(-a * 1e6 + 0.5) / 1e6,
    )


def _numpy_kmeans(vecs: np.ndarray, ids: np.ndarray, k: int, n_iter: int):
    order = np.argsort(ids)
    cents = _r6(vecs[order[:k]].astype(np.float64))
    for _ in range(n_iter):
        d = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)  # argmin takes first (lowest id) on ties
        for c in range(k):
            members = vecs[assign == c]
            if len(members):
                cents[c] = _r6(members.mean(axis=0))
    d = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    return d.argmin(axis=1), cents


@pytest.fixture(scope="module")
def ref():
    tbl = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    ids = np.array(tbl["vec_id"].to_pylist())
    vecs = np.array(tbl["embedding"].to_pylist(), dtype=np.float64)
    return ids, vecs


def test_kmeans_matches_numpy_exactly(spark, ref):
    ids, vecs = ref
    np_assign, np_cents = _numpy_kmeans(vecs, ids, K, N_ITER)

    from map_reduce_framework_using_python_spark.plans.core import t

    assigned, cents = kmeans_fit(t(spark, SF_SMOKE, "embeddings"), k=K, n_iter=N_ITER)
    got = {r["vec_id"]: r["cluster"] for r in assigned.select("vec_id", "cluster").collect()}

    want = dict(zip(ids.tolist(), np_assign.tolist()))
    assert got == want  # per-vector assignment, not just sizes

    for c_spark, c_np in zip(cents, np_cents):
        assert all(
            math.isclose(a, b, abs_tol=0.0) for a, b in zip(c_spark, c_np.tolist())
        )


def test_kmeans_no_empty_clusters(spark):
    from map_reduce_framework_using_python_spark.plans.core import t

    assigned, _ = kmeans_fit(t(spark, SF_SMOKE, "embeddings"), k=K, n_iter=N_ITER)
    sizes = assigned.groupBy("cluster").count().collect()
    assert len(sizes) == K
    assert all(r["count"] > 0 for r in sizes)


def test_assign_clusters_tie_breaks_to_lowest_id(spark):
    df = spark.createDataFrame([(1, [0.0, 0.0])], "vec_id long, v array<double>")
    # both centroids equidistant → struct ordering must pick cluster 0
    out = assign_clusters(df, [[1.0, 0.0], [0.0, 1.0]]).collect()
    assert out[0]["cluster"] == 0


def test_semdedup_pairs_equal_cocluster_restriction_of_exact(spark):
    """SemDeDup's candidate set must be EXACTLY the all-pairs ground
    truth (ns_embedding_near_pairs, the oracle_tier quadratic twin)
    restricted to co-clustered pairs — bucketing may only lose
    cross-cluster pairs, never in-cluster ones, and must invent none."""
    from pyspark.sql import functions as F

    from map_reduce_framework_using_python_spark.plans import REGISTRY

    sem = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in REGISTRY["ns_semdedup_pairs"].fn(spark, SF_SMOKE).collect()
    }
    exact = REGISTRY["ns_embedding_near_pairs"].fn(spark, SF_SMOKE)
    assigned, _ = kmeans_fit(
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet"), k=K, n_iter=N_ITER
    )
    cl = assigned.select("vec_id", "cluster")
    cocluster = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in exact.join(cl.withColumnRenamed("vec_id", "vec_a"), "vec_a")
        .withColumnRenamed("cluster", "ca")
        .join(cl.withColumnRenamed("vec_id", "vec_b"), "vec_b")
        .filter(F.col("ca") == F.col("cluster"))
        .select("vec_a", "vec_b", "cosine")
        .collect()
    }
    assert sem == cocluster and sem  # non-trivial and exactly equal


def test_semdedup_scaled_matches_brute_force_at_k1(spark):
    """The spark.ml-bucketed scale path (semdedup_pairs_scaled) with a
    single cluster must equal brute-force all-pairs exactly — same
    pairs, same half_up-1e-6 cosine — since k=1 makes bucketing a
    no-op. Also pins soundness at k>1: every emitted pair clears the
    threshold on the quantized value."""
    from map_reduce_framework_using_python_spark.operators.clustering import (
        semdedup_pairs_scaled,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    got = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in semdedup_pairs_scaled(emb, threshold=0.4, k=1).collect()
    }
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    want = set()
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            va, vb = vecs[a], vecs[b]
            c = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            cq = math.floor(c * 1e6 + 0.5) / 1e6
            if cq >= 0.4:
                want.add((a, b, cq))
    assert got == want

    some_k = semdedup_pairs_scaled(emb, threshold=0.4, k=5).collect()
    assert all(r["cosine"] >= 0.4 for r in some_k)
    assert {(r["vec_a"], r["vec_b"], r["cosine"]) for r in some_k} <= want


def test_semdedup_sample_fit_stays_sound(spark):
    """Quantizer trained on a hash-sample (fit_fraction): bucketing may
    shift, but every emitted pair must still clear the quantized-cosine
    threshold and be a true near-dup pair (subset of the k=1 brute
    set) — sampling trades recall, never soundness."""
    from map_reduce_framework_using_python_spark.operators.clustering import (
        semdedup_pairs_scaled,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    brute = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in semdedup_pairs_scaled(emb, threshold=0.4, k=1).collect()
    }
    sampled = semdedup_pairs_scaled(
        emb, threshold=0.4, k=5, fit_fraction=0.5
    ).collect()
    assert sampled  # the sample-fit buckets must still find pairs
    assert all(r["cosine"] >= 0.4 for r in sampled)
    assert {(r["vec_a"], r["vec_b"], r["cosine"]) for r in sampled} <= brute


def test_assign_clusters_sql_build_bit_equal_to_column_path(spark):
    """The kernel assignment (one folded centroid constant) must be
    BIT-equal to the Column-API _sqdist form — same fold order, same
    round-tripped centroid doubles, same (dist, id) tie-break."""
    from pyspark.sql import functions as F

    from map_reduce_framework_using_python_spark.operators.clustering import (
        _sqdist,
    )
    from map_reduce_framework_using_python_spark.operators.similarity import (
        _as_double,
        hyperplanes,
    )
    from map_reduce_framework_using_python_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    vecs = emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    cents = hyperplanes(64, 8, seed=7)  # arbitrary full-precision doubles
    got = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(vecs, cents).collect()
    }
    scored = F.array(
        *[
            F.struct(_sqdist(F.col("v"), c).alias("d"), F.lit(i).alias("c"))
            for i, c in enumerate(cents)
        ]
    )
    want = {
        r["vec_id"]: r["cluster"]
        for r in vecs.withColumn("cluster", F.array_min(scored)["c"]).collect()
    }
    assert got == want
    # and the raw distances themselves agree bit-for-bit on centroid 0
    dd = [
        (r["vec_id"], r[1])
        for r in vecs.select(
            "vec_id", _sqdist(F.col("v"), cents[0])
        ).orderBy("vec_id").collect()
    ]
    from map_reduce_framework_using_python_spark.operators.similarity import _dstr

    arr = "array(" + ",".join(_dstr(x) for x in cents[0]) + ")"
    ds = [
        (r["vec_id"], r[1])
        for r in vecs.select(
            "vec_id",
            F.expr(
                f"aggregate(zip_with(`v`, {arr}, (x, y) -> (x - y) * (x - y)), "
                "0.0D, (acc, x) -> acc + x)"
            ),
        ).orderBy("vec_id").collect()
    ]
    assert ds == dd


def test_kmeans_fit_rejects_degenerate_inputs(spark):
    """r7 dedup review: empty input raised a bare IndexError and n < k
    silently fit fewer clusters — both now raise a clear ValueError."""
    import pytest

    from map_reduce_framework_using_python_spark.operators.clustering import kmeans_fit

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="at least k"):
        kmeans_fit(empty, k=4)
    three = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="at least k"):
        kmeans_fit(three, k=8)
