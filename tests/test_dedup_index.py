"""Persisted MinHash-LSH dedup index: the incremental batch↔corpus
probe must return EXACTLY the cross pairs of the one-shot operator —
the index changes the access path, never the answer (same contract as
the ANN index)."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_framework_using_python_spark.operators.dedup import minhash_lsh_pairs
from map_reduce_framework_using_python_spark.operators.dedup_index import (
    append_to_index,
    build_minhash_index,
    compact_index,
    incremental_dedup_pairs,
    read_meta,
)
from map_reduce_framework_using_python_spark.sources.io import load_table
from tests.conftest import SF_SMOKE

MOD, REM = 16, 7


def _split(docs):
    return (
        docs.filter(F.col("doc_id") % MOD == REM),
        docs.filter(F.col("doc_id") % MOD != REM),
    )


def test_incremental_equals_oneshot_cross_pairs(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents")
    batch, corpus = _split(docs)
    path = build_minhash_index(
        corpus, str(tmp_path / "idx"), n=3, num_hashes=32, bands=16
    )
    inc = {
        (min(r["batch_doc"], r["corpus_doc"]),
         max(r["batch_doc"], r["corpus_doc"]),
         r["jaccard"])
        for r in incremental_dedup_pairs(
            spark, batch, corpus, path, threshold=0.6
        ).collect()
    }
    oneshot = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_lsh_pairs(
            docs, num_hashes=32, bands=16, threshold=0.6
        ).collect()
        # cross pairs only: exactly one side in the batch
        if (r["doc_a"] % MOD == REM) != (r["doc_b"] % MOD == REM)
    }
    assert inc == oneshot
    assert inc  # the split must actually produce near-dup pairs to pin


def test_witness_cap_above_bucket_sizes_is_exact(spark, tmp_path):
    """A cap larger than every bucket keeps the exact pinned answer —
    the capped probe is the SAME operator until a bucket overflows."""
    docs = load_table(spark, SF_SMOKE, "documents")
    batch, corpus = _split(docs)
    path = build_minhash_index(
        corpus, str(tmp_path / "idx"), n=3, num_hashes=32, bands=16
    )
    exact = {
        tuple(r)
        for r in incremental_dedup_pairs(
            spark, batch, corpus, path, threshold=0.6
        ).collect()
    }
    capped = {
        tuple(r)
        for r in incremental_dedup_pairs(
            spark, batch, corpus, path, threshold=0.6, witness_cap=1_000_000
        ).collect()
    }
    assert capped == exact
    assert exact


def test_witness_cap_bounds_hot_bucket_and_still_screens(spark, tmp_path):
    """Ingest-path hot-bucket bound: a corpus with 500 identical
    template docs probed by template batch docs. With witness_cap=4
    every batch template doc is still flagged (any representative of a
    duplicate-cluster bucket verifies at jaccard 1.0), but candidates
    per batch doc are bounded by bands × cap — not |bucket|."""
    template = "the same boilerplate sentence repeated across the whole corpus"
    corpus = spark.createDataFrame(
        [(i, template) for i in range(2, 502)]
        + [(600, "a genuinely unique document with its own words")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(1001, template), (1002, template),
         (1003, "nothing like anything indexed here at all ok")],
        ["doc_id", "text"],
    )
    path = build_minhash_index(
        corpus, str(tmp_path / "idx"), n=3, num_hashes=32, bands=16
    )
    rows = incremental_dedup_pairs(
        spark, batch, corpus, path, threshold=0.6, witness_cap=4
    ).collect()
    by_batch: dict[int, set[int]] = {}
    for r in rows:
        by_batch.setdefault(r["batch_doc"], set()).add(r["corpus_doc"])
        assert abs(r["jaccard"] - 1.0) < 1e-9
    # both template batch docs flagged, the unique one clean
    assert set(by_batch) == {1001, 1002}
    for witnesses in by_batch.values():
        # bounded: at most cap distinct witnesses (all bands share the
        # same 4 min-id representatives for an identical-doc cluster)
        assert 1 <= len(witnesses) <= 4
        assert witnesses <= set(range(2, 6))  # the min-id representatives


def test_pruned_index_probe_equals_capped_probe(spark, tmp_path):
    """probe(pruned layout) == probe(full layout, witness_cap=K) — the
    materialized cap and the per-probe cap are the same operator; the
    pruned meta records the cap so it can't masquerade as exact."""
    from map_reduce_framework_using_python_spark.operators.dedup_index import (
        prune_index_witnesses,
    )

    template = "the same boilerplate sentence repeated across the whole corpus"
    corpus = spark.createDataFrame(
        [(i, template) for i in range(2, 302)]
        + [(600, "a genuinely unique document with its own words")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(1001, template), (1002, "nothing like anything indexed at all ok")],
        ["doc_id", "text"],
    )
    full = build_minhash_index(
        corpus, str(tmp_path / "full"), n=3, num_hashes=32, bands=16
    )
    pruned = prune_index_witnesses(spark, full, str(tmp_path / "pruned"), cap=4)
    want = {
        tuple(r)
        for r in incremental_dedup_pairs(
            spark, batch, corpus, full, threshold=0.6, witness_cap=4
        ).collect()
    }
    got = {
        tuple(r)
        for r in incremental_dedup_pairs(
            spark, batch, corpus, pruned, threshold=0.6
        ).collect()
    }
    assert got == want
    assert want  # the template batch doc must be flagged
    assert read_meta(pruned)["witness_cap"] == 4
    # pruned layout is physically bounded: ≤ cap rows per (band, key)
    rows = spark.read.parquet(str(tmp_path / "pruned" / "buckets"))
    over = (
        rows.groupBy("band", "key").count().filter(F.col("count") > 4).count()
    )
    assert over == 0


def test_index_persists_params_and_layout(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").limit(200)
    path = build_minhash_index(docs, str(tmp_path / "idx"), num_hashes=32, bands=16)
    meta = read_meta(path)
    assert meta["num_hashes"] == 32 and meta["bands"] == 16 and meta["n"] == 3
    # band-partitioned layout: probing a band subset prunes directories
    idx = spark.read.parquet(str(tmp_path / "idx" / "buckets"))
    assert set(idx.columns) == {"doc_id", "key", "band"}
    assert idx.select("band").distinct().count() == 16


def test_probe_plan_broadcasts_batch_side(spark, tmp_path):
    """Scale shape: the corpus-side index scan must join the batch via
    broadcast — no Exchange of the corpus buckets for the probe join."""
    docs = load_table(spark, SF_SMOKE, "documents")
    batch, corpus = _split(docs)
    path = build_minhash_index(corpus, str(tmp_path / "idx"), num_hashes=32, bands=16)
    plan = incremental_dedup_pairs(
        spark, batch, corpus, path
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_empty_corpus_index_probes_to_zero_pairs(spark, tmp_path):
    """An index over an empty corpus must probe cleanly (explicit-schema
    read: no band directories exist for inference)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    empty = docs.filter(F.lit(False))
    path = build_minhash_index(empty, str(tmp_path / "idx"), num_hashes=32, bands=16)
    out = incremental_dedup_pairs(spark, docs.limit(5), empty, path)
    assert out.columns == ["batch_doc", "corpus_doc", "jaccard"]
    assert out.count() == 0


def test_empty_corpus_index_compacts_cleanly(spark, tmp_path):
    """MinHash and paragraph indexes over an empty corpus have no
    partition directories: compaction must read them with the fixed
    schema (inference fails on the bare dir) and leave no side dir."""
    import os

    from map_reduce_framework_using_python_spark.operators.dedup_index import (
        build_paragraph_index,
        compact_paragraph_index,
    )

    empty = load_table(spark, SF_SMOKE, "documents").filter(F.lit(False))
    mh = build_minhash_index(empty, str(tmp_path / "mh"), num_hashes=32, bands=16)
    para = build_paragraph_index(empty, str(tmp_path / "para"))
    compact_index(spark, mh)
    compact_paragraph_index(spark, para)
    for live in (os.path.join(mh, "buckets"), os.path.join(para, "digests")):
        assert os.path.isdir(live)
        assert not os.path.exists(live + "__old")
        assert not os.path.exists(live + "__compact")


def test_append_commutes_with_build(spark, tmp_path):
    """build(corpus) + append(batch) must contain exactly the bucket
    rows of build(corpus ∪ batch) — the band table is row-local."""
    docs = load_table(spark, SF_SMOKE, "documents").limit(120)
    batch, corpus = _split(docs)
    p1 = build_minhash_index(corpus, str(tmp_path / "i1"), num_hashes=32, bands=16)
    append_to_index(batch, p1)
    p2 = build_minhash_index(docs, str(tmp_path / "i2"), num_hashes=32, bands=16)
    rows = lambda p: {
        tuple(r)
        for r in spark.read.parquet(str(p) + "/buckets")
        .select("doc_id", "band", "key")
        .collect()
    }
    assert rows(p1) == rows(p2)


def test_compact_index_single_file_per_band_same_rows(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents").limit(120)
    batch, corpus = _split(docs)
    path = build_minhash_index(corpus, str(tmp_path / "idx"), num_hashes=32, bands=16)
    append_to_index(batch, path)            # second file in each band
    def state():
        df = spark.read.parquet(str(tmp_path / "idx" / "buckets"))
        return {tuple(r) for r in df.select("doc_id", "band", "key").collect()}
    import glob
    before = state()
    assert any(
        len(glob.glob(f"{tmp_path}/idx/buckets/band={b}/*.parquet")) > 1
        for b in range(16)
    )
    compact_index(spark, path)
    assert state() == before
    for b in range(16):
        files = glob.glob(f"{tmp_path}/idx/buckets/band={b}/*.parquet")
        assert len(files) <= 1


def test_compact_index_survives_racer_recreating_buckets(spark, tmp_path):
    """Racer-recreated live dir during the dedup-index compaction swap:
    the final rename must abort with rollback (racer's data folded in,
    metadata skipped) — never leave a state whose next-call cleanup
    deletes the only complete copy."""
    import os
    import shutil

    import pytest

    docs = load_table(spark, SF_SMOKE, "documents").limit(80)
    path = build_minhash_index(docs, str(tmp_path / "idx"), num_hashes=32, bands=16)
    buckets = str(tmp_path / "idx" / "buckets")
    before = {
        tuple(r)
        for r in spark.read.parquet(buckets).select("doc_id", "band", "key").collect()
    }
    # Craft the racer's append content up front (one band-3 part file).
    racer_src = str(tmp_path / "racer")
    spark.createDataFrame(
        [(999_001, 12345, 3)], "doc_id BIGINT, key BIGINT, band INT"
    ).coalesce(1).write.partitionBy("band").parquet(racer_src)

    real_rename = os.rename
    fired = {"done": False}

    def racing_rename(src, dst):
        # Intercept ONLY the rename-aside (buckets -> buckets__old):
        # recreate the live dir right after it, like an appender whose
        # write lands mid-swap.
        real_rename(src, dst)
        if not fired["done"] and dst.endswith("__old"):
            fired["done"] = True
            os.makedirs(os.path.join(buckets, "band=3"), exist_ok=True)
            part = next(
                p
                for p in os.listdir(os.path.join(racer_src, "band=3"))
                if p.endswith(".parquet")
            )
            shutil.copy(
                os.path.join(racer_src, "band=3", part),
                os.path.join(buckets, "band=3", "racer-part.parquet"),
            )
            open(os.path.join(buckets, "_SUCCESS"), "w").close()

    import map_reduce_framework_using_python_spark.operators.dedup_index as di

    orig = di.os.rename
    di.os.rename = racing_rename
    try:
        with pytest.raises(RuntimeError, match="recreated during the swap"):
            compact_index(spark, path)
    finally:
        di.os.rename = orig

    after = {
        tuple(r)
        for r in spark.read.parquet(buckets).select("doc_id", "band", "key").collect()
    }
    assert after == before | {(999_001, 3, 12345)}  # nothing lost, racer kept
    assert not os.path.isdir(buckets + "__old")
    assert not os.path.isdir(buckets + "__compact")
    # a later quiesced compaction completes and sheds nothing
    compact_index(spark, path)
    final = {
        tuple(r)
        for r in spark.read.parquet(buckets).select("doc_id", "band", "key").collect()
    }
    assert final == after


def test_compact_index_recovers_from_crashed_swap(spark, tmp_path):
    """A crash between the two swap renames leaves buckets missing and
    the previous copy at __old; the next compaction must roll back and
    proceed."""
    import os

    docs = load_table(spark, SF_SMOKE, "documents").limit(80)
    path = build_minhash_index(docs, str(tmp_path / "idx"), num_hashes=32, bands=16)
    buckets = str(tmp_path / "idx" / "buckets")
    before = {
        tuple(r)
        for r in spark.read.parquet(buckets).select("doc_id", "band", "key").collect()
    }
    os.rename(buckets, buckets + "__old")  # simulate the crash window
    compact_index(spark, path)
    after = {
        tuple(r)
        for r in spark.read.parquet(buckets).select("doc_id", "band", "key").collect()
    }
    assert after == before
    assert not os.path.exists(buckets + "__old")


def test_compact_index_detects_append_landed_before_aside(spark, tmp_path):
    """ADVICE r6 (medium): a part file appended between the compaction
    read and the rename-aside must NOT travel into buckets__old and die
    with it. The ported two-stage snapshot guard detects the extra file
    after the rename-aside, rolls the rename back (appended file stays
    live), and aborts with the quiesce message — row loss impossible."""
    import os
    import shutil

    import pytest

    docs = load_table(spark, SF_SMOKE, "documents").limit(80)
    path = build_minhash_index(docs, str(tmp_path / "idx"), num_hashes=32, bands=16)
    buckets = str(tmp_path / "idx" / "buckets")
    before = {
        tuple(r)
        for r in spark.read.parquet(buckets).select("doc_id", "band", "key").collect()
    }
    racer_src = str(tmp_path / "racer")
    spark.createDataFrame(
        [(888_001, 54321, 5)], "doc_id BIGINT, key BIGINT, band INT"
    ).coalesce(1).write.partitionBy("band").parquet(racer_src)
    part = next(
        p for p in os.listdir(os.path.join(racer_src, "band=5"))
        if p.endswith(".parquet")
    )

    real_rename = os.rename
    fired = {"done": False}

    def appending_rename(src, dst):
        # Drop the appended file into the LIVE dir just before the
        # rename-aside fires — the classic lost-append window.
        if not fired["done"] and dst.endswith("__old"):
            fired["done"] = True
            shutil.copy(
                os.path.join(racer_src, "band=5", part),
                os.path.join(src, "band=5", "appended-part.parquet"),
            )
        real_rename(src, dst)

    import map_reduce_framework_using_python_spark.operators.dedup_index as di

    orig = di.os.rename
    di.os.rename = appending_rename
    try:
        with pytest.raises(RuntimeError, match="append landed during the swap"):
            compact_index(spark, path)
    finally:
        di.os.rename = orig

    after = {
        tuple(r)
        for r in spark.read.parquet(buckets).select("doc_id", "band", "key").collect()
    }
    assert after == before | {(888_001, 5, 54321)}  # appended row survived, live
    assert not os.path.isdir(buckets + "__old")
    assert not os.path.isdir(buckets + "__compact")
    # a later quiesced compaction completes with the appended row kept
    compact_index(spark, path)
    final = {
        tuple(r)
        for r in spark.read.parquet(buckets).select("doc_id", "band", "key").collect()
    }
    assert final == after


def test_compact_index_sheds_duplicate_rows(spark, tmp_path):
    """ADVICE r6 (low): compact_index now applies dropDuplicates, so
    exact duplicate rows left by a recovery re-merge (simulated here by
    appending the same batch twice) are shed by compaction — storage
    heals as the docstring claims, and the row SET is unchanged."""
    import glob

    docs = load_table(spark, SF_SMOKE, "documents").limit(80)
    batch, corpus = _split(docs)
    path = build_minhash_index(corpus, str(tmp_path / "idx"), num_hashes=32, bands=16)
    append_to_index(batch, path)
    append_to_index(batch, path)  # exact duplicate rows
    buckets = str(tmp_path / "idx" / "buckets")
    df = spark.read.parquet(buckets)
    assert df.count() > df.distinct().count()
    before_set = {tuple(r) for r in df.select("doc_id", "band", "key").collect()}
    compact_index(spark, path)
    after_df = spark.read.parquet(buckets)
    assert after_df.count() == after_df.distinct().count()  # healed
    after_set = {
        tuple(r) for r in after_df.select("doc_id", "band", "key").collect()
    }
    assert after_set == before_set
    for b in range(16):
        assert len(glob.glob(f"{buckets}/band={b}/*.parquet")) <= 1


def test_compact_index_committed_crash_does_not_remerge(spark, tmp_path):
    """VERDICT r6 item 7: a crash in the retire window (after the final
    rename, before the sentinel removal) used to re-merge the stale
    aside copy — duplicate rows. The _swap_committed marker makes the
    state self-describing: recovery deletes the stale copy and keeps
    the committed one, byte-identical, no duplicates."""
    import glob
    import os
    import shutil

    docs = load_table(spark, SF_SMOKE, "documents").limit(80)
    path = build_minhash_index(docs, str(tmp_path / "idx"), num_hashes=32, bands=16)
    buckets = str(tmp_path / "idx" / "buckets")
    compact_index(spark, path)  # a clean compacted state to start from
    before = {
        tuple(r)
        for r in spark.read.parquet(buckets).select("doc_id", "band", "key").collect()
    }
    # Craft the exact crash state: buckets = committed compacted copy
    # (marker present), __old = stale complete copy (sentinel present).
    shutil.copytree(buckets, buckets + "__old")
    open(os.path.join(buckets + "__old", "_swap_pending"), "w").close()
    open(os.path.join(buckets, "_swap_committed"), "w").close()
    compact_index(spark, path)
    after_df = spark.read.parquet(buckets)
    after = {
        tuple(r) for r in after_df.select("doc_id", "band", "key").collect()
    }
    assert after == before
    assert after_df.count() == len(before)  # NO duplicate rows
    assert not os.path.isdir(buckets + "__old")
    assert not os.path.exists(os.path.join(buckets, "_swap_committed"))
    for b in range(16):
        assert len(glob.glob(f"{buckets}/band={b}/*.parquet")) <= 1


def test_appends_and_recovery_folds_drop_src_fingerprint(spark, tmp_path):
    """ADVICE-style r7 review fix: any mutation of a dedup index —
    append_to_index, append_paragraphs_to_index, or a compaction
    recovery that folds a racer's files — must drop the 'src'
    cache-reuse fingerprint so fingerprint-keyed callers
    (_ensure_dedup_index / _ensure_paragraph_index) rebuild instead of
    serving the mutated layout as build(corpus). A clean compaction
    keeps it (content is set-equivalent)."""
    import json
    import os
    import shutil

    from map_reduce_framework_using_python_spark.operators.dedup_index import (
        append_paragraphs_to_index,
        build_paragraph_index,
        compact_paragraph_index,
    )

    docs = load_table(spark, SF_SMOKE, "documents").limit(80)
    batch, corpus = _split(docs)

    def set_src(path):
        mp = os.path.join(path, "_dedup_meta.json")
        with open(mp) as fh:
            m = json.load(fh)
        m["src"] = "fingerprint"
        with open(mp, "w") as fh:
            json.dump(m, fh)

    def src_of(path):
        with open(os.path.join(path, "_dedup_meta.json")) as fh:
            return json.load(fh).get("src")

    # MinHash append drops src
    mh = build_minhash_index(corpus, str(tmp_path / "mh"), num_hashes=32, bands=16)
    set_src(mh)
    append_to_index(batch, mh)
    assert src_of(mh) is None

    # Paragraph append drops src
    pa = build_paragraph_index(corpus, str(tmp_path / "pa"))
    set_src(pa)
    append_paragraphs_to_index(batch, pa)
    assert src_of(pa) is None

    # Clean compaction KEEPS src (set-equivalent rewrite)
    set_src(pa)
    compact_paragraph_index(spark, pa)
    assert src_of(pa) == "fingerprint"

    # Crashed-swap recovery with a folded racer file drops src
    live = os.path.join(pa, "digests")
    racer_src = str(tmp_path / "racer")
    spark.createDataFrame(
        [(777_001, 3, "aa" * 16, 5)], "doc_id BIGINT, g BIGINT, h STRING, pb INT"
    ).coalesce(1).write.partitionBy("pb").parquet(racer_src)
    os.rename(live, live + "__old")
    open(os.path.join(live + "__old", "_swap_pending"), "w").close()
    os.makedirs(os.path.join(live, "pb=5"))
    part = next(
        f for f in os.listdir(os.path.join(racer_src, "pb=5"))
        if f.endswith(".parquet")
    )
    shutil.copy(
        os.path.join(racer_src, "pb=5", part),
        os.path.join(live, "pb=5", "racer-part.parquet"),
    )
    compact_paragraph_index(spark, pa)  # recovers, folds racer, compacts
    assert src_of(pa) is None
    rows = {
        tuple(r)
        for r in spark.read.parquet(live).select("doc_id", "g", "h").collect()
    }
    assert (777_001, 3, "aa" * 16) in rows  # racer's row survived


def test_pruned_layout_guards(spark, tmp_path):
    """r7 dedup review: a witness-capped DERIVED layout must (a) not
    carry the pristine-build 'src' fingerprint, (b) refuse appends, and
    (c) refuse probes asking for a larger cap than it stores."""
    import pytest

    from map_reduce_framework_using_python_spark.operators.dedup_index import (
        append_to_index,
        build_minhash_index,
        incremental_dedup_pairs,
        prune_index_witnesses,
        read_meta,
        _write_meta,
    )
    from map_reduce_framework_using_python_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE

    corpus = load_table(spark, SF_SMOKE, "documents").limit(50)
    full = str(tmp_path / "full")
    pruned = str(tmp_path / "pruned")
    build_minhash_index(corpus, full)
    # simulate an ensure-style cache fingerprint on the exact index
    _write_meta(full, {**read_meta(full), "src": "fingerprint"})
    prune_index_witnesses(spark, full, pruned, cap=2)
    meta = read_meta(pruned)
    assert "src" not in meta and meta["witness_cap"] == 2
    batch = corpus.limit(3)
    with pytest.raises(ValueError, match="DERIVED layout"):
        append_to_index(batch, pruned)
    with pytest.raises(ValueError, match="cannot be honored"):
        incremental_dedup_pairs(spark, batch, corpus, pruned, witness_cap=5)
    # cap <= stored cap IS honorable: top-K of the stored top-C rows
    incremental_dedup_pairs(spark, batch, corpus, pruned, witness_cap=1).count()


def test_build_rejects_non_bigint_ids(spark, tmp_path):
    """r7 dedup review: a string-id index would build fine and die at
    first probe with an opaque parquet error — builds now fail fast."""
    import pytest
    from pyspark.sql import functions as F

    from map_reduce_framework_using_python_spark.operators.dedup_index import (
        build_minhash_index,
        build_paragraph_index,
    )

    bad = spark.createDataFrame(
        [("a", "some text here")], "doc_id string, text string"
    )
    with pytest.raises(ValueError, match="BIGINT"):
        build_minhash_index(bad, str(tmp_path / "x"))
    with pytest.raises(ValueError, match="BIGINT"):
        build_paragraph_index(bad, str(tmp_path / "y"))


def test_probe_id_col_mismatch_diagnosed(spark, tmp_path):
    """r7 dedup review: a probe under the wrong id_col raises the same
    clear ValueError as append, not an unresolved-column mid-plan."""
    import pytest

    from map_reduce_framework_using_python_spark.operators.dedup_index import (
        build_minhash_index,
        incremental_dedup_pairs,
    )
    from map_reduce_framework_using_python_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE

    corpus = load_table(spark, SF_SMOKE, "documents").limit(20)
    path = str(tmp_path / "idx")
    build_minhash_index(corpus, path)
    with pytest.raises(ValueError, match="id_col"):
        incremental_dedup_pairs(
            spark, corpus.limit(2), corpus, path, id_col="other_id"
        )
