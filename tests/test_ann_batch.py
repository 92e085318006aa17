"""Batched multi-query ANN probing: the batch is an ACCESS-PATH change,
never an answer change — per-query rows equal the single-query indexed
probe exactly, the full-radius inline batch reproduces brute force, and
micro-batch boundaries cannot change a neighbor list that depends only
on (query vector, frozen index)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_framework_using_python_spark.operators.ann_index import (
    _hamming_ball,
    build_lsh_index,
    lsh_probe_index_batch,
    lsh_topk_indexed,
)
from map_reduce_framework_using_python_spark.operators.similarity import (
    cosine_topk_bruteforce,
    hamming_masks,
    lsh_probe_batch,
)
from map_reduce_framework_using_python_spark.sources.io import load_table
from tests.conftest import SF_SMOKE

_QIDS = (0, 5, 11)


def _query_vec(emb, vid):
    return [float(x) for x in emb.filter(F.col("vec_id") == vid).head()["embedding"]]


def test_hamming_masks_enumerate_the_ball():
    masks = hamming_masks(8, 2)
    assert len(masks) == 1 + 8 + 28
    for center in (0, 0b1010, 0xFF):
        assert sorted(center ^ m for m in masks) == sorted(
            set(_hamming_ball(center, 8, 2))
        )


def test_write_meta_crash_mid_dump_keeps_previous_meta(tmp_path, monkeypatch):
    """A crash while ``_ann_meta.json`` is rewritten must leave the
    previous sidecar loadable, not a truncated file that fails every
    later probe, append and compaction of the index."""
    import json

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        _read_meta,
        _write_meta,
    )

    path = str(tmp_path / "idx")
    before = {"kind": "ivf", "id_col": "vec_id", "src": {"table": "t"}}
    _write_meta(path, before)

    def dump_then_crash(obj, fh, *args, **kwargs):
        fh.write('{"kind": "iv')
        raise OSError("crash mid-dump")

    monkeypatch.setattr(json, "dump", dump_then_crash)
    with pytest.raises(OSError, match="crash mid-dump"):
        _write_meta(path, {"kind": "ivf", "id_col": "vec_id"})
    monkeypatch.undo()
    assert _read_meta(path) == before


def test_index_batch_probe_matches_per_query_indexed(spark, tmp_path):
    """Each q_id's rows (in rn order) must be EXACTLY the single-query
    lsh_topk_indexed answer — same ids, labels, cosines, same order."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "lsh_idx")
    build_lsh_index(emb, path, n_planes=8, seed=42)
    queries = emb.filter(F.col("vec_id").isin(list(_QIDS)))
    batch = lsh_probe_index_batch(spark, queries, path, k=5, probe_hamming=2)
    rows = batch.collect()
    assert {r["q_id"] for r in rows} == set(_QIDS)
    for qid in _QIDS:
        got = [
            (r["vec_id"], r["label"], r["cosine"])
            for r in sorted(
                (r for r in rows if r["q_id"] == qid), key=lambda r: r["rn"]
            )
        ]
        want = [
            tuple(r)
            for r in lsh_topk_indexed(
                spark, path, _query_vec(emb, qid), k=5, probe_hamming=2,
                exclude_id=qid,
            ).collect()
        ]
        assert got == want
        assert len(got) == 5


def test_inline_batch_full_probe_equals_brute_force(spark):
    """radius = n_planes probes every bucket → the approximate batch op
    must return the exact brute-force neighbor ids, per query."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(list(_QIDS)))
    full = lsh_probe_batch(
        emb, queries, dim=64, k=5, n_planes=8, seed=42, probe_hamming=8
    ).collect()
    for qid in _QIDS:
        got = [
            r["vec_id"]
            for r in sorted(
                (r for r in full if r["q_id"] == qid), key=lambda r: r["rn"]
            )
        ]
        want = [
            r["vec_id"]
            for r in cosine_topk_bruteforce(emb, query_vec_id=qid, k=5).collect()
        ]
        assert got == want


def test_probe_stream_equals_one_shot_batch(spark, tmp_path):
    """Drained stream == one-shot batch probe over the same vectors."""
    from map_reduce_framework_using_python_spark.streaming.ann_ingest import (
        probe_stream,
        read_embeddings_stream,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "lsh_idx")
    build_lsh_index(emb, path, n_planes=8, seed=42)
    pred = F.col("vec_id") % 13 == 5
    streamed = probe_stream(
        read_embeddings_stream(spark, SF_SMOKE).filter(pred),
        path,
        out_dir=str(tmp_path / "neighbors"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        k=5,
        probe_hamming=2,
    )
    got = {tuple(r) for r in streamed.collect()}
    want = {
        tuple(r)
        for r in lsh_probe_index_batch(
            spark, emb.filter(pred), path, k=5, probe_hamming=2
        ).collect()
    }
    assert got == want
    assert got


def test_probe_stream_empty_batch_yields_empty_frame(spark, tmp_path):
    from map_reduce_framework_using_python_spark.streaming.ann_ingest import (
        probe_stream,
        read_embeddings_stream,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "lsh_idx")
    build_lsh_index(emb, path, n_planes=8, seed=42)
    streamed = probe_stream(
        read_embeddings_stream(spark, SF_SMOKE).filter(F.col("vec_id") < 0),
        path,
        out_dir=str(tmp_path / "neighbors"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert streamed.columns == ["q_id", "vec_id", "label", "cosine", "rn"]
    assert streamed.count() == 0


def test_append_commutes_with_build(spark, tmp_path):
    """build(corpus) + append(batch) must hold exactly the rows of
    build(corpus ∪ batch) — bucketing is row-local — and probes against
    either index must answer identically."""
    from map_reduce_framework_using_python_spark.operators.ann_index import (
        append_to_lsh_index,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)

    full_path = str(tmp_path / "full")
    build_lsh_index(emb, full_path, n_planes=8, seed=42)
    grown_path = str(tmp_path / "grown")
    build_lsh_index(half_a, grown_path, n_planes=8, seed=42)
    append_to_lsh_index(half_b, grown_path)

    full_rows = {
        (r["vec_id"], r["bucket"]) for r in spark.read.parquet(full_path).collect()
    }
    grown_rows = {
        (r["vec_id"], r["bucket"]) for r in spark.read.parquet(grown_path).collect()
    }
    assert grown_rows == full_rows

    queries = emb.filter(F.col("vec_id").isin(list(_QIDS)))
    got = {
        tuple(r)
        for r in lsh_probe_index_batch(
            spark, queries, grown_path, k=5, probe_hamming=2
        ).collect()
    }
    want = {
        tuple(r)
        for r in lsh_probe_index_batch(
            spark, queries, full_path, k=5, probe_hamming=2
        ).collect()
    }
    assert got == want


def test_extend_index_retrieves_across_batches(spark, tmp_path):
    """Continuous-similarity semantics: with extend_index=True, batch 2
    retrieves batch 1's vectors (appended after batch 1 was probed),
    not just the original corpus."""
    import os
    import time

    from map_reduce_framework_using_python_spark.streaming.ann_ingest import (
        _EMB_SCHEMA,
        probe_stream,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(100)
    path = str(tmp_path / "idx")
    build_lsh_index(emb, path, n_planes=8, seed=42)

    # Two nearly-identical planted vectors, far from the corpus cloud:
    # v2's true nearest neighbor is v1, which lives in NO corpus — only
    # the extended index can produce it.
    base = [10.0 if i % 2 == 0 else -10.0 for i in range(64)]
    near = [x + (0.001 if i == 0 else 0.0) for i, x in enumerate(base)]
    land = tmp_path / "landing"
    land.mkdir()
    now = time.time()
    for name, row, ts in (
        ("b1.parquet", (900001, base, 7), now - 60),
        ("b2.parquet", (900002, near, 7), now),
    ):
        d = tmp_path / f"_w_{name}"
        spark.createDataFrame([row], _EMB_SCHEMA).coalesce(1).write.parquet(str(d))
        part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        os.rename(str(d / part), str(land / name))
        os.utime(str(land / name), (ts, ts))
    stream = (
        spark.readStream.schema(_EMB_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    got = probe_stream(
        stream,
        path,
        out_dir=str(tmp_path / "out" / "neighbors"),
        checkpoint_dir=str(tmp_path / "out" / "ckpt"),
        k=5,
        probe_hamming=2,
        extend_index=True,
    )
    rows = got.collect()
    top = {
        r["q_id"]: r["vec_id"]
        for r in rows
        if r["rn"] == 1
    }
    assert top.get(900002) == 900001


def test_ivf_probe_stream_equals_one_shot_batch(spark, tmp_path):
    """IVF twin of the LSH stream pin: drained stream == one-shot batch
    probe over the same vectors."""
    from map_reduce_framework_using_python_spark.operators.ann_index import (
        build_ivf_index,
        ivf_probe_index_batch,
    )
    from map_reduce_framework_using_python_spark.streaming.ann_ingest import (
        ivf_probe_stream,
        read_embeddings_stream,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf_idx")
    build_ivf_index(emb, path, n_centroids=16, seed=42)
    pred = F.col("vec_id") % 13 == 5
    streamed = ivf_probe_stream(
        read_embeddings_stream(spark, SF_SMOKE).filter(pred),
        path,
        out_dir=str(tmp_path / "neighbors"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        k=5,
        n_probe=4,
    )
    got = {tuple(r) for r in streamed.collect()}
    want = {
        tuple(r)
        for r in ivf_probe_index_batch(
            spark, emb.filter(pred), path, k=5, n_probe=4
        ).collect()
    }
    assert got == want
    assert got


def test_ivf_extend_index_retrieves_across_batches(spark, tmp_path):
    """With extend_index=True on the IVF stream, batch 2 retrieves
    batch 1's appended vector (frozen-quantizer continuous
    similarity)."""
    import os
    import time

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        build_ivf_index,
    )
    from map_reduce_framework_using_python_spark.streaming.ann_ingest import (
        _EMB_SCHEMA,
        ivf_probe_stream,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(100)
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_centroids=8, seed=42)

    base = [10.0 if i % 2 == 0 else -10.0 for i in range(64)]
    near = [x + (0.001 if i == 0 else 0.0) for i, x in enumerate(base)]
    land = tmp_path / "landing"
    land.mkdir()
    now = time.time()
    for name, row, ts in (
        ("b1.parquet", (900001, base, 7), now - 60),
        ("b2.parquet", (900002, near, 7), now),
    ):
        d = tmp_path / f"_w_{name}"
        spark.createDataFrame([row], _EMB_SCHEMA).coalesce(1).write.parquet(str(d))
        part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        os.rename(str(d / part), str(land / name))
        os.utime(str(land / name), (ts, ts))
    stream = (
        spark.readStream.schema(_EMB_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    got = ivf_probe_stream(
        stream,
        path,
        out_dir=str(tmp_path / "out" / "neighbors"),
        checkpoint_dir=str(tmp_path / "out" / "ckpt"),
        k=5,
        n_probe=4,
        extend_index=True,
    )
    top = {r["q_id"]: r["vec_id"] for r in got.collect() if r["rn"] == 1}
    assert top.get(900002) == 900001


def test_ivf_replayed_extend_probe_excludes_own_batch(spark, tmp_path):
    """IVF twin of the LSH replay-determinism pin: a batch probing an
    index that already holds its own vectors answers exactly as against
    the pristine index when exclude_query_ids is on."""
    from map_reduce_framework_using_python_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_probe_index_batch,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 7 != 0)
    batch = emb.filter(F.col("vec_id") % 7 == 0)

    pristine = str(tmp_path / "pristine")
    build_ivf_index(corpus, pristine, n_centroids=16, seed=42)
    replayed = str(tmp_path / "replayed")
    import shutil

    shutil.copytree(pristine, replayed)  # same centroids, same layout
    append_to_ivf_index(batch, replayed)

    want = {
        tuple(r)
        for r in ivf_probe_index_batch(
            spark, batch, pristine, k=5, exclude_query_ids=True
        ).collect()
    }
    got = {
        tuple(r)
        for r in ivf_probe_index_batch(
            spark, batch, replayed, k=5, exclude_query_ids=True
        ).collect()
    }
    assert got == want
    assert want


@pytest.mark.parametrize("n_centroids", [16, 40])
def test_ivf_batch_probe_matches_per_query_indexed(spark, tmp_path, n_centroids):
    """IVF twin of the LSH pin: each q_id's rows (in rn order) must be
    EXACTLY the single-query ivf_topk_indexed answer, whose centroid
    ranking is driver-side Python, at 16 and at 40 centroids."""
    from map_reduce_framework_using_python_spark.operators.ann_index import (
        build_ivf_index,
        ivf_probe_index_batch,
        ivf_topk_indexed,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf_idx")
    build_ivf_index(emb, path, n_centroids=n_centroids, seed=42)
    queries = emb.filter(F.col("vec_id").isin(list(_QIDS)))
    rows = ivf_probe_index_batch(spark, queries, path, k=5, n_probe=4).collect()
    assert {r["q_id"] for r in rows} == set(_QIDS)
    for qid in _QIDS:
        got = [
            (r["vec_id"], r["label"], r["cosine"])
            for r in sorted(
                (r for r in rows if r["q_id"] == qid), key=lambda r: r["rn"]
            )
        ]
        want = [
            tuple(r)
            for r in ivf_topk_indexed(
                spark, path, _query_vec(emb, qid), k=5, n_probe=4, exclude_id=qid
            ).collect()
        ]
        assert got == want
        assert len(got) == 5


def test_append_invalidates_source_fingerprint(tmp_path, spark):
    """An appended index is no longer build(source): append must drop
    the meta 'src' fingerprint so the shared query cache rebuilds
    instead of serving a mutated layout as pristine."""
    import json
    import os

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        append_to_lsh_index,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "idx")
    build_lsh_index(emb.filter(F.col("vec_id") < 50), path, n_planes=8, seed=42)
    meta_path = os.path.join(path, "_ann_meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["src"] = "some-source-fingerprint"
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    append_to_lsh_index(emb.filter(F.col("vec_id").between(50, 59)), path)
    with open(meta_path) as fh:
        assert "src" not in json.load(fh)


def test_compact_lsh_index_one_file_per_bucket(spark, tmp_path):
    """After many appends, compaction leaves one parquet file per
    bucket directory with content, meta, and probe answers unchanged."""
    import os

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        append_to_lsh_index,
        compact_lsh_index,
        lsh_probe_index_batch,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "idx")
    build_lsh_index(emb.filter(F.col("vec_id") % 4 == 0), path, n_planes=8, seed=42)
    for rem in (1, 2, 3):
        append_to_lsh_index(emb.filter(F.col("vec_id") % 4 == rem), path)

    queries = emb.filter(F.col("vec_id").isin(list(_QIDS)))
    before_rows = {
        (r["vec_id"], r["bucket"]) for r in spark.read.parquet(path).collect()
    }
    before_probe = {
        tuple(r)
        for r in lsh_probe_index_batch(spark, queries, path, k=5).collect()
    }
    with open(os.path.join(path, "_ann_meta.json")) as fh:
        before_meta = fh.read()

    compact_lsh_index(spark, path)

    for d in os.listdir(path):
        if d.startswith("bucket="):
            files = [
                f for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, f"{d}: {len(files)} files"
    after_rows = {
        (r["vec_id"], r["bucket"]) for r in spark.read.parquet(path).collect()
    }
    assert after_rows == before_rows
    after_probe = {
        tuple(r)
        for r in lsh_probe_index_batch(spark, queries, path, k=5).collect()
    }
    assert after_probe == before_probe
    with open(os.path.join(path, "_ann_meta.json")) as fh:
        assert fh.read() == before_meta


def test_compact_lsh_index_recovers_from_crashed_swap(spark, tmp_path):
    """A crash between the two renames leaves the live dir missing and
    the previous copy at __old; the next call must roll back first."""
    import os

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        compact_lsh_index,
        lsh_probe_index_batch,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "idx")
    build_lsh_index(emb, path, n_planes=8, seed=42)
    queries = emb.filter(F.col("vec_id").isin(list(_QIDS)))
    want = {
        tuple(r)
        for r in lsh_probe_index_batch(spark, queries, path, k=5).collect()
    }
    # simulate the crash window: live dir renamed away, new dir not yet in
    os.rename(path, path + "__old")
    compact_lsh_index(spark, path)
    got = {
        tuple(r)
        for r in lsh_probe_index_batch(spark, queries, path, k=5).collect()
    }
    assert got == want


def test_crashed_swap_recovery_drops_src_when_racer_folded(spark, tmp_path):
    """Sentinel crash recovery that folds a racer's appended data files
    into the restored copy must drop the 'src' fingerprint (ADVICE r6):
    the restored index is no longer a pristine build(source), so a
    cache-reuse caller (ann_queries._ensure_*) must not match it. A
    recovery with NOTHING to fold keeps the meta verbatim."""
    import json
    import os
    import shutil

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        compact_lsh_index,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "idx")
    build_lsh_index(emb.filter(F.col("vec_id") < 100), path, n_planes=8, seed=42)
    with open(os.path.join(path, "_ann_meta.json")) as fh:
        m = json.load(fh)
    m["src"] = "pristine-build-fingerprint"
    with open(os.path.join(path, "_ann_meta.json"), "w") as fh:
        json.dump(m, fh)
    before = {
        r["vec_id"] for r in spark.read.parquet(path).select("vec_id").collect()
    }
    # Shape of a crash mid-swap with a racer append after it: __old is
    # the complete sentinel-marked copy; a recreated live dir holds one
    # appended part file.
    racer_src = str(tmp_path / "racer_src")
    (
        emb.filter(F.col("vec_id").between(100, 104))
        .withColumn("bucket", F.lit(3))
        .coalesce(1)
        .write.partitionBy("bucket")
        .parquet(racer_src)
    )
    os.rename(path, path + "__old")
    open(os.path.join(path + "__old", "_swap_pending"), "w").close()
    os.makedirs(os.path.join(path, "bucket=3"))
    part = next(
        p
        for p in os.listdir(os.path.join(racer_src, "bucket=3"))
        if p.endswith(".parquet")
    )
    shutil.copy(
        os.path.join(racer_src, "bucket=3", part),
        os.path.join(path, "bucket=3", "racer-part.parquet"),
    )
    compact_lsh_index(spark, path)  # recovers, folds, then compacts
    after = {
        r["vec_id"] for r in spark.read.parquet(path).select("vec_id").collect()
    }
    assert after == before | set(range(100, 105))
    with open(os.path.join(path, "_ann_meta.json")) as fh:
        meta = json.load(fh)
    assert "src" not in meta  # folded racer rows → fingerprint dropped
    assert "planes" in meta

    # Control: sentinel recovery with NO recreated live dir keeps src.
    path2 = str(tmp_path / "idx2")
    build_lsh_index(emb.filter(F.col("vec_id") < 100), path2, n_planes=8, seed=42)
    with open(os.path.join(path2, "_ann_meta.json")) as fh:
        m2 = json.load(fh)
    m2["src"] = "pristine-build-fingerprint"
    with open(os.path.join(path2, "_ann_meta.json"), "w") as fh:
        json.dump(m2, fh)
    os.rename(path2, path2 + "__old")
    open(os.path.join(path2 + "__old", "_swap_pending"), "w").close()
    compact_lsh_index(spark, path2)
    with open(os.path.join(path2, "_ann_meta.json")) as fh:
        meta2 = json.load(fh)
    assert meta2.get("src") == "pristine-build-fingerprint"


def test_replayed_append_cannot_displace_neighbors(spark, tmp_path):
    """foreachBatch appends are at-least-once: a batch appended TWICE
    (replay) must not change any probe answer — duplicates dedup on
    (query, vector) before ranking, so the k-th true neighbor stays."""
    from map_reduce_framework_using_python_spark.operators.ann_index import (
        append_to_lsh_index,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id").isin(list(_QIDS)))

    clean = str(tmp_path / "clean")
    build_lsh_index(half_a, clean, n_planes=8, seed=42)
    append_to_lsh_index(half_b, clean)
    replayed = str(tmp_path / "replayed")
    build_lsh_index(half_a, replayed, n_planes=8, seed=42)
    append_to_lsh_index(half_b, replayed)
    append_to_lsh_index(half_b, replayed)  # the replay

    want = {
        tuple(r)
        for r in lsh_probe_index_batch(spark, queries, clean, k=5).collect()
    }
    got_rows = lsh_probe_index_batch(spark, queries, replayed, k=5).collect()
    got = {tuple(r) for r in got_rows}
    assert got == want
    pairs = [(r["q_id"], r["vec_id"]) for r in got_rows]
    assert len(pairs) == len(set(pairs))  # no duplicate neighbor rows


def test_static_filter_fallback_matches_static_path(spark, tmp_path):
    """The bucket IN-list is an access-path optimization only: forcing
    the fallback (cap below the Hamming-ball size) must return exactly
    the statically-pruned answer."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "idx")
    build_lsh_index(emb, path, n_planes=8, seed=42)
    queries = emb.filter(F.col("vec_id").isin(list(_QIDS)))
    static = {
        tuple(r)
        for r in lsh_probe_index_batch(spark, queries, path, k=5).collect()
    }
    fallback = {
        tuple(r)
        for r in lsh_probe_index_batch(
            spark, queries, path, k=5, max_static_buckets=1
        ).collect()
    }
    assert fallback == static
    assert fallback


def test_large_batch_probe_is_bounded_and_exact(spark, tmp_path):
    """A ≥10⁴-query batch: the driver-side bucket collect is capped
    (LIMIT cap+1) and the join-only fallback answers identically to the
    statically-pruned path — the large-ingest-batch cliff the static
    IN-list would otherwise hit (huge batch × Hamming ball → unbounded
    literal list in the plan)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "idx")
    build_lsh_index(emb.filter(F.col("vec_id") < 500), path, n_planes=8, seed=42)
    # 20 offset replicas of the 500-vector table = 10⁴ query vectors
    # with distinct q_ids (offsets keep them out of the index id space).
    replicas = [
        emb.select(
            (F.col("vec_id") + F.lit(1_000_000 * (i + 1))).alias("vec_id"),
            "embedding",
            "label",
        )
        for i in range(20)
    ]
    queries = replicas[0]
    for r in replicas[1:]:
        queries = queries.unionByName(r)
    assert queries.count() == 10_000
    static = {
        tuple(r)
        for r in lsh_probe_index_batch(spark, queries, path, k=3).collect()
    }
    fallback = {
        tuple(r)
        for r in lsh_probe_index_batch(
            spark, queries, path, k=3, max_static_buckets=1
        ).collect()
    }
    assert fallback == static
    assert len(static) >= 3 * 500  # every replica of every vector answered


def test_replayed_extend_probe_excludes_own_batch(spark, tmp_path):
    """extend_index replay determinism: a batch probing an index that
    ALREADY holds its own vectors (crash between append and checkpoint
    commit → foreachBatch replay) must answer exactly as against the
    pristine index — exclude_query_ids anti-joins the batch's ids out
    of the candidate set, so same-batch cross-matches cannot appear and
    existing pairs' cosine/rn cannot shift."""
    from map_reduce_framework_using_python_spark.operators.ann_index import (
        append_to_lsh_index,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 7 != 0)
    batch = emb.filter(F.col("vec_id") % 7 == 0)

    pristine = str(tmp_path / "pristine")
    build_lsh_index(corpus, pristine, n_planes=8, seed=42)
    replayed = str(tmp_path / "replayed")
    build_lsh_index(corpus, replayed, n_planes=8, seed=42)
    append_to_lsh_index(batch, replayed)  # the batch already landed

    want = {
        tuple(r)
        for r in lsh_probe_index_batch(
            spark, batch, pristine, k=5, exclude_query_ids=True
        ).collect()
    }
    got = {
        tuple(r)
        for r in lsh_probe_index_batch(
            spark, batch, replayed, k=5, exclude_query_ids=True
        ).collect()
    }
    assert got == want
    assert want
    # and without exclusion the replayed index DOES leak batch vectors
    # (the bug the ADVICE described) — proving the anti-join is load-bearing
    leaked = lsh_probe_index_batch(spark, batch, replayed, k=5)
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    assert any(r["vec_id"] in batch_ids for r in leaked.collect())


def test_compact_rolls_back_when_append_lands_in_swap_window(spark, tmp_path):
    """A part file landing between the pre-swap listing check and the
    rename-aside must NOT be dropped: the post-rename re-check detects
    it, rolls the live dir back (landed file intact), and raises."""
    import os

    import pytest

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        append_to_lsh_index,
        compact_lsh_index,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "idx")
    build_lsh_index(emb.filter(F.col("vec_id") < 100), path, n_planes=8, seed=42)
    late = emb.filter(F.col("vec_id").between(100, 109))

    def racing_append() -> None:
        append_to_lsh_index(late, path)

    before = {(r["vec_id"]) for r in spark.read.parquet(path).select("vec_id").collect()}
    with pytest.raises(RuntimeError, match="swap window"):
        compact_lsh_index(spark, path, _test_hook_pre_swap=racing_append)
    after = {(r["vec_id"]) for r in spark.read.parquet(path).select("vec_id").collect()}
    assert after == before | {r["vec_id"] for r in late.select("vec_id").collect()}
    assert not os.path.isdir(path + "__old")
    assert not os.path.isdir(path + "__compact")


def test_compact_survives_live_dir_recreated_during_swap(spark, tmp_path):
    """The destructive edge of the swap race: an appender that read the
    index meta BEFORE the swap recreates the live dir after the
    rename-aside. The final rename must not ENOTEMPTY-crash into a
    state where the next call deletes the only complete copy — instead
    the racer's files are folded into the complete copy, the live dir
    is restored, and a RuntimeError reports the abort."""
    import json
    import os
    import shutil

    import pytest

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        _compact_partitioned_index,
        lsh_probe_index_batch,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "idx")
    build_lsh_index(emb.filter(F.col("vec_id") < 100), path, n_planes=8, seed=42)
    # Simulate a cache-reuse fingerprint from ann_queries._ensure_*:
    # after the racer's rows are folded in, the restored meta must NOT
    # carry it (ADVICE r6 — an appended-to index is not build(src)).
    with open(os.path.join(path, "_ann_meta.json")) as fh:
        _m = json.load(fh)
    _m["src"] = "pristine-build-fingerprint"
    with open(os.path.join(path, "_ann_meta.json"), "w") as fh:
        json.dump(_m, fh)
    before = {
        r["vec_id"] for r in spark.read.parquet(path).select("vec_id").collect()
    }

    # Pre-write the racer's append as parquet, to be dropped into a
    # recreated live dir inside the swap window (simulating an appender
    # whose lsh_bucket write lands after the rename-aside).
    racer_src = str(tmp_path / "racer_src")
    (
        emb.filter(F.col("vec_id").between(100, 109))
        .withColumn("bucket", F.lit(3))
        .coalesce(1)
        .write.partitionBy("bucket")
        .parquet(racer_src)
    )

    def racer_recreates_live_dir() -> None:
        # Shape of a REAL Spark append: data part file + top-level
        # _SUCCESS + the meta sidecar append_to_lsh_index rewrites —
        # the recovery must fold in the data and SKIP the metadata
        # (a disambiguation-renamed _SUCCESS would stop being hidden
        # and poison every later parquet read).
        os.makedirs(os.path.join(path, "bucket=3"), exist_ok=True)
        src_dir = os.path.join(racer_src, "bucket=3")
        part = next(p for p in os.listdir(src_dir) if p.endswith(".parquet"))
        shutil.copy(
            os.path.join(src_dir, part),
            os.path.join(path, "bucket=3", "racer-part.parquet"),
        )
        open(os.path.join(path, "_SUCCESS"), "w").close()
        with open(os.path.join(path, "_ann_meta.json"), "w") as fh:
            fh.write("{}")  # the racer's own meta rewrite

    with pytest.raises(RuntimeError, match="recreated during the swap"):
        _compact_partitioned_index(
            spark, path, "bucket", 8, None, "compact_lsh_index",
            _test_hook_post_aside=racer_recreates_live_dir,
        )

    after = {
        r["vec_id"] for r in spark.read.parquet(path).select("vec_id").collect()
    }
    assert after == before | set(range(100, 110))  # nothing lost, racer kept
    assert not os.path.isdir(path + "__old")
    assert not os.path.isdir(path + "__compact")
    with open(os.path.join(path, "_ann_meta.json")) as fh:
        meta = json.load(fh)
    assert "planes" in meta  # the ORIGINAL meta survived, not the racer's
    assert "src" not in meta  # folded-in racer rows → fingerprint dropped
    # no disambiguation-renamed metadata file anywhere (would read as
    # fake parquet data and poison the scan)
    for root, _dirs, files in os.walk(path):
        for f in files:
            assert not (f.startswith("racer") and "_" in f.split("-", 1)[-1][:1]), f
            if not f.startswith(("_", ".")):
                assert f.endswith(".parquet"), f
    # and the restored index still probes
    queries = emb.filter(F.col("vec_id").isin(list(_QIDS)))
    assert lsh_probe_index_batch(spark, queries, path, k=3).count() > 0


def test_ivf_batch_probe_dedups_duplicate_index_rows(spark, tmp_path):
    """Duplicate rows in an IVF layout (repeated source ids) must not
    occupy multiple top-k slots: the probe's post-scoring (q_id, id)
    max-cosine dedup keeps each neighbor once, so answers match the
    duplicate-free index exactly."""
    from map_reduce_framework_using_python_spark.operators.ann_index import (
        build_ivf_index,
        ivf_probe_index_batch,
    )

    import shutil

    emb = load_table(spark, SF_SMOKE, "embeddings")
    clean = str(tmp_path / "clean")
    build_ivf_index(emb, clean, n_centroids=16, seed=42)
    # Same layout + meta, every row twice (same centroids — only the
    # row multiplicity differs, isolating the dedup behavior).
    doubled = str(tmp_path / "doubled")
    shutil.copytree(clean, doubled)
    spark.read.parquet(clean).write.mode("append").partitionBy(
        "centroid_id"
    ).parquet(doubled)

    queries = emb.filter(F.col("vec_id").isin(list(_QIDS)))
    want = {
        tuple(r)
        for r in ivf_probe_index_batch(spark, queries, clean, k=5).collect()
    }
    got_rows = ivf_probe_index_batch(spark, queries, doubled, k=5).collect()
    assert {tuple(r) for r in got_rows} == want
    pairs = [(r["q_id"], r["vec_id"]) for r in got_rows]
    assert len(pairs) == len(set(pairs))


@pytest.mark.parametrize("n_centroids", [16, 40])
def test_ivf_append_assigns_with_frozen_centroids(spark, tmp_path, n_centroids):
    """Appended vectors route to the nearest PERSISTED centroid (frozen
    quantizer, lowest-cid tie-break) — checked against a driver-side
    Python argmin over the same meta centroids, at 16 and at 40
    centroids, and the meta src fingerprint is dropped like the LSH
    append."""
    import json
    import os

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1).limit(50)
    path = str(tmp_path / "ivf")
    build_ivf_index(half_a, path, n_centroids=n_centroids, seed=42)
    meta_path = os.path.join(path, "_ann_meta.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["src"] = "fp"
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)

    append_to_ivf_index(half_b, path)

    with open(meta_path) as fh:
        meta = json.load(fh)
    assert "src" not in meta
    centroids = meta["centroids"]
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in spark.read.parquet(path)
        .filter(F.col("vec_id") % 2 == 1)
        .select("vec_id", "centroid_id")
        .collect()
    }
    for row in half_b.collect():
        v = [float(x) for x in row["embedding"]]
        want = min(
            range(len(centroids)),
            key=lambda i: (sum((a - b) ** 2 for a, b in zip(v, centroids[i])), i),
        )
        assert got[row["vec_id"]] == want, row["vec_id"]


def test_ivf_append_probe_finds_planted_neighbor(spark, tmp_path):
    """Continuous-similarity semantics on the IVF path: a vector
    appended after build must be retrievable as the top-1 neighbor of a
    near-identical query."""
    from map_reduce_framework_using_python_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_probe_index_batch,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(200)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8, seed=42)
    base = [10.0 if i % 2 == 0 else -10.0 for i in range(64)]
    near = [x + (0.001 if i == 0 else 0.0) for i, x in enumerate(base)]
    planted = spark.createDataFrame(
        [(900001, base, 7)], "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    )
    append_to_ivf_index(planted, path)
    query = spark.createDataFrame(
        [(900002, near, 7)], "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    )
    rows = ivf_probe_index_batch(spark, query, path, k=3, n_probe=2).collect()
    top = {r["q_id"]: r["vec_id"] for r in rows if r["rn"] == 1}
    assert top.get(900002) == 900001


def test_ivf_replayed_append_cannot_displace_neighbors(spark, tmp_path):
    """An IVF batch appended twice (foreachBatch replay) must not change
    any probe answer — the post-scoring max-cosine dedup keeps each
    (query, vector) once."""
    from map_reduce_framework_using_python_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_probe_index_batch,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id").isin(list(_QIDS)))

    once = str(tmp_path / "once")
    build_ivf_index(half_a, once, n_centroids=16, seed=42)
    append_to_ivf_index(half_b, once)
    twice = str(tmp_path / "twice")
    build_ivf_index(half_a, twice, n_centroids=16, seed=42)
    append_to_ivf_index(half_b, twice)
    append_to_ivf_index(half_b, twice)  # the replay

    want = {
        tuple(r)
        for r in ivf_probe_index_batch(spark, queries, once, k=5).collect()
    }
    got_rows = ivf_probe_index_batch(spark, queries, twice, k=5).collect()
    assert {tuple(r) for r in got_rows} == want
    pairs = [(r["q_id"], r["vec_id"]) for r in got_rows]
    assert len(pairs) == len(set(pairs))


def test_compact_ivf_index_one_file_per_centroid(spark, tmp_path):
    """IVF compaction: one parquet file per centroid directory, rows /
    meta / probe answers unchanged, replay duplicates shed."""
    import os

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        ivf_probe_index_batch,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") % 3 == 0), path, n_centroids=8, seed=42)
    for rem in (1, 2, 2):  # second rem=2 = replay duplicate
        append_to_ivf_index(emb.filter(F.col("vec_id") % 3 == rem), path)

    queries = emb.filter(F.col("vec_id").isin(list(_QIDS)))
    before_rows = {
        (r["vec_id"], r["centroid_id"])
        for r in spark.read.parquet(path).select("vec_id", "centroid_id").collect()
    }
    before_probe = {
        tuple(r)
        for r in ivf_probe_index_batch(spark, queries, path, k=5).collect()
    }
    with open(os.path.join(path, "_ann_meta.json")) as fh:
        before_meta = fh.read()

    compact_ivf_index(spark, path)

    for d in os.listdir(path):
        if d.startswith("centroid_id="):
            files = [
                f for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, f"{d}: {len(files)} files"
    after_rows = {
        (r["vec_id"], r["centroid_id"])
        for r in spark.read.parquet(path).select("vec_id", "centroid_id").collect()
    }
    assert after_rows == before_rows
    after_probe = {
        tuple(r)
        for r in ivf_probe_index_batch(spark, queries, path, k=5).collect()
    }
    assert after_probe == before_probe
    with open(os.path.join(path, "_ann_meta.json")) as fh:
        assert fh.read() == before_meta


def test_auc_ignores_null_truth_and_ranks_nan_last(spark):
    from map_reduce_framework_using_python_spark.operators.quality_model import (
        auc,
    )

    # NULL-truth rows are excluded outright: AUC over the
    # labeled 4 rows is the known 3/4 case from test_quality_model.
    df = spark.createDataFrame(
        [(0.9, True), (0.8, False), (0.7, True), (0.1, False),
         (0.5, None), (0.95, None)],
        "s double, y boolean",
    )
    assert abs(auc(df, "s", "y") - 0.75) < 1e-9
    # NaN scores sort last (Spark double order): a NaN-scored positive
    # outranks everything → perfect separation stays perfect.
    nan = spark.createDataFrame(
        [(float("nan"), True), (0.8, True), (0.2, False)],
        "s double, y boolean",
    )
    assert abs(auc(nan, "s", "y") - 1.0) < 1e-9


def test_ann_compact_committed_crash_does_not_remerge(spark, tmp_path):
    """VERDICT r6 item 7, ANN side: crash between the final rename and
    the sentinel retire leaves (live dir + _swap_committed, __old +
    _swap_pending). Recovery must keep the committed copy and DELETE
    the stale aside copy — count unchanged, no duplicate rows."""
    import os
    import shutil

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        compact_lsh_index,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "idx")
    build_lsh_index(emb.filter(F.col("vec_id") < 100), path, n_planes=8, seed=42)
    compact_lsh_index(spark, path)
    before_count = spark.read.parquet(path).count()
    before = {
        r["vec_id"] for r in spark.read.parquet(path).select("vec_id").collect()
    }
    shutil.copytree(path, path + "__old")
    open(os.path.join(path + "__old", "_swap_pending"), "w").close()
    open(os.path.join(path, "_swap_committed"), "w").close()
    compact_lsh_index(spark, path)
    after_df = spark.read.parquet(path)
    assert {r["vec_id"] for r in after_df.select("vec_id").collect()} == before
    assert after_df.count() == before_count  # no re-merge duplicates
    assert not os.path.isdir(path + "__old")
    assert not os.path.exists(os.path.join(path, "_swap_committed"))


def test_lloyd_ivf_index_matches_kmeans_fit_assignments(spark, tmp_path):
    """build_ivf_index_lloyd must persist EXACTLY the deterministic
    Lloyd model: per-vector partition assignments equal kmeans_fit's
    (same k/iterations/init), and the persisted centroid meta equals
    the fit's rounded centroids — the property the ns_ivf_probe_batch
    DuckDB oracle (which replays the chain in SQL) stands on."""
    import json
    import os

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        build_ivf_index_lloyd,
    )
    from map_reduce_framework_using_python_spark.operators.clustering import (
        kmeans_fit,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "lloyd_idx")
    build_ivf_index_lloyd(emb, path, k=8, n_iter=2)
    assigned, centroids = kmeans_fit(emb, k=8, n_iter=2)
    want = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in spark.read.parquet(path).select("vec_id", "centroid_id").collect()
    }
    assert got == want
    with open(os.path.join(path, "_ann_meta.json")) as fh:
        meta = json.load(fh)
    assert meta["centroids"] == centroids
    assert meta["quantizer"] == "lloyd8x2"


@pytest.mark.parametrize("bad", [float("nan"), float("inf")])
def test_ivf_non_finite_centroid_fails_at_plan_build(spark, tmp_path, bad):
    """A persisted centroid with a NaN or infinite coordinate cannot
    enter the centroid constant (JSON has neither): both the batch
    probe and the append raise ValueError while building the plan,
    before any job reads the index."""
    import json
    import os

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        append_to_ivf_index,
        ivf_probe_index_batch,
    )

    path = str(tmp_path / "ivf")
    os.makedirs(path)
    with open(os.path.join(path, "_ann_meta.json"), "w") as fh:
        json.dump(
            {"kind": "ivf", "n_centroids": 2, "vec_col": "embedding",
             "id_col": "vec_id", "centroids": [[0.0, 1.0], [bad, 0.0]]},
            fh,
        )
    batch = spark.createDataFrame(
        [(1, [0.5, 0.5], 0)], "vec_id long, embedding array<float>, label int"
    )
    with pytest.raises(ValueError, match="non-finite centroid"):
        ivf_probe_index_batch(spark, batch, path, k=1, n_probe=1)
    with pytest.raises(ValueError, match="non-finite centroid"):
        append_to_ivf_index(batch, path)
    assert os.listdir(path) == ["_ann_meta.json"]


def test_maintain_every_preserves_answers_and_bounds_layout(spark, tmp_path):
    """The self-maintaining ingest loop (r12): maintenance between
    micro-batches is LAYOUT-ONLY — the drained neighbor lists are
    identical with and without maintain_every — while the maintained
    layout ends compaction-clean (planner: noop) and the unmaintained
    one has accumulated append fan-out (planner: compact)."""
    import os
    import shutil
    import time

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        plan_maintenance,
    )
    from map_reduce_framework_using_python_spark.streaming.ann_ingest import (
        _EMB_SCHEMA,
        probe_stream,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(100)
    plain = str(tmp_path / "plain")
    build_lsh_index(emb, plain, n_planes=4, seed=42)
    maintained = str(tmp_path / "maintained")
    shutil.copytree(plain, maintained)

    # four single-row batches, deterministic arrival order
    land = tmp_path / "landing"
    land.mkdir()
    now = time.time()
    base = [10.0 if i % 2 == 0 else -10.0 for i in range(64)]
    for j in range(4):
        vec = [x + 0.001 * j * (i == 0) for i, x in enumerate(base)]
        d = tmp_path / f"_w_{j}"
        spark.createDataFrame(
            [(900001 + j, vec, 7)], _EMB_SCHEMA
        ).coalesce(1).write.parquet(str(d))
        part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        os.rename(str(d / part), str(land / f"b{j}.parquet"))
        os.utime(str(land / f"b{j}.parquet"), (now - 60 + j, now - 60 + j))

    def drain(path, out, maintain_every):
        stream = (
            spark.readStream.schema(_EMB_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land))
        )
        return sorted(
            map(
                tuple,
                probe_stream(
                    stream, path,
                    out_dir=str(tmp_path / out / "neighbors"),
                    checkpoint_dir=str(tmp_path / out / "ckpt"),
                    k=5, probe_hamming=2, extend_index=True,
                    maintain_every=maintain_every,
                    maintain_thresholds=dict(max_files_per_partition=1.1),
                ).collect(),
            )
        )

    got_plain = drain(plain, "out_plain", None)
    got_maint = drain(maintained, "out_maint", 1)
    assert got_maint == got_plain and got_plain

    # the four appends all hash to one bucket (near-identical planted
    # vectors), so fan-out concentrates there: compare layouts at a
    # threshold between the two states
    from map_reduce_framework_using_python_spark.operators.ann_index import (
        index_stats,
    )

    n_plain = index_stats(plain)["n_data_files"]
    n_maint = index_stats(maintained)["n_data_files"]
    assert n_maint < n_plain  # compaction actually merged files
    thresholds = dict(max_files_per_partition=1.1)
    assert plan_maintenance({"i": plain}, **thresholds)[0]["decision"] == "compact"
    assert plan_maintenance({"i": maintained}, **thresholds)[0]["decision"] == "noop"


def test_ivfpq_maintain_every_preserves_answers(spark, tmp_path):
    """Composed-lane twin of the LSH self-maintenance pin: the IVF-PQ
    ingest loop with maintain_every drains to the SAME neighbor lists
    as without, and ends with a compaction-clean layout."""
    import os
    import shutil
    import time

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        plan_maintenance,
    )
    from map_reduce_framework_using_python_spark.operators.ivfpq import (
        build_ivfpq_index,
    )
    from map_reduce_framework_using_python_spark.streaming.ann_ingest import (
        _EMB_SCHEMA,
        ivfpq_probe_stream,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(200)
    plain = str(tmp_path / "plain")
    build_ivfpq_index(emb, plain, n_centroids=4, m=8, k=8, seed=42)
    maintained = str(tmp_path / "maintained")
    shutil.copytree(plain, maintained)

    land = tmp_path / "landing"
    land.mkdir()
    now = time.time()
    base = [10.0 if i % 2 == 0 else -10.0 for i in range(64)]
    for j in range(3):
        vec = [x + 0.001 * j * (i == 0) for i, x in enumerate(base)]
        d = tmp_path / f"_w_{j}"
        spark.createDataFrame(
            [(900001 + j, vec, 7)], _EMB_SCHEMA
        ).coalesce(1).write.parquet(str(d))
        part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        os.rename(str(d / part), str(land / f"b{j}.parquet"))
        os.utime(str(land / f"b{j}.parquet"), (now - 60 + j, now - 60 + j))

    def drain(path, out, maintain_every):
        stream = (
            spark.readStream.schema(_EMB_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land))
        )
        return sorted(
            map(
                tuple,
                ivfpq_probe_stream(
                    stream, path, emb,
                    out_dir=str(tmp_path / out / "neighbors"),
                    checkpoint_dir=str(tmp_path / out / "ckpt"),
                    k=5, n_probe=4, shortlist=250, extend_index=True,
                    maintain_every=maintain_every,
                    maintain_thresholds=dict(max_files_per_partition=1.1),
                ).collect(),
            )
        )

    got_plain = drain(plain, "out_plain", None)
    got_maint = drain(maintained, "out_maint", 1)
    assert got_maint == got_plain and got_plain

    from map_reduce_framework_using_python_spark.operators.ann_index import (
        index_stats,
    )

    assert index_stats(maintained)["n_data_files"] < index_stats(plain)["n_data_files"]
    thresholds = dict(max_files_per_partition=1.1)
    assert plan_maintenance({"i": maintained}, **thresholds)[0]["decision"] == "noop"
