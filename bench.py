"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The driver runs this per-round and records BENCH_r{N}.json against
BASELINE.md's 2× envelope. Each query is timed end-to-end (plan + execute
+ count) after a warm-up query primes the JVM/session.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
# tools/ on the path once for the scale/curation probe imports below
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))

from map_reduce_framework_using_python_spark.plans import REGISTRY
from map_reduce_framework_using_python_spark.session import get_spark

#: Headline set: the flagship agg, the heaviest joins, windows, and the
#: north-star ops — the queries whose plans matter most at 100 TB.
HEADLINE = (
    "q01_pricing_summary",
    "q05_local_supplier",
    "q03_shipping_priority",
    "q18_large_orders",
    "q_join_broadcast",
    "q_topk_per_group",
    "q_window_running",
    "q_event_sessionize",
    "ns_dedup_exact",
    "ns_minhash_lsh_pairs",
    "ns_cosine_topk",
    "ns_wordcount",
    # round 3: bucketed big×big range join and the Gopher repetition
    # signals — the two new data-path shapes worth tracking per-round
    "q_join_range_bigbig",
    "ns_repetition_signals",
    # round 4: the two heaviest new pipeline shapes (map-only
    # quantization; vocabulary-bounded bigram LM scoring)
    "ns_int8_quantize",
    "ns_bigram_lm_score",
    # round 5: the ingest-lane probe (fingerprint-cached index build —
    # first run pays it, steady state is the probe), the vocabulary-free
    # text embedder, and the fixed-point entropy gate
    "ns_incremental_dedup",
    "ns_hash_embed",
    "ns_token_entropy",
    # round 5, part 7: DSIR importance weights (256-row broadcast
    # model) and the CCNet stratification stacked on the shuffle-join
    # LM — since round 6 the benched headline is the production
    # histogram-threshold form; the exact NTILE form is the parity
    # fixture (VERDICT r5 item 2)
    "ns_dsir_weights",
    "ns_ccnet_buckets_scaled",
    # round 5, closing: batched multi-query ANN probe (broadcast
    # exploded Hamming-ball, one corpus scan, partial WindowGroupLimit)
    "ns_ann_probe_batch",
    # round 6: sub-document boilerplate stats — the digest-frequency
    # shuffle-hash join is a new heavy data-path shape worth tracking
    "ns_paragraph_dedup",
    # round 8: the end-to-end training capstone (screen → cut → plan →
    # realize → pack in ONE plan, corpus scans confined to the cached
    # curated-table build) — the composed cost is the number users pay
    "ns_training_capstone",
    # round 10: variable-length ExactSubstr span finder — the stride-1
    # shingle fan-out plus two digest/doc exchanges is a new heavy
    # data-path shape; count() is honest here (the islands and both
    # windows must fully run to count spans). The APPLY form is not a
    # headline row for the ns_paragraph_trim reason (count() prunes
    # the clean_text rebuild).
    "ns_exact_substring_spans",
    # (ns_paragraph_trim is deliberately NOT a headline row: the bench
    # times .count(), which column-prunes the clean_text rewrite away
    # and would understate the query 3–6× — the honest rewrite-forced
    # numbers live in NOTES: 0.92/2.58/4.61 s at sf0.1/10×/100×-docs.)
)

#: Round-3 per-query times (BENCH_r03.json, sf0.1) — the soft regression
#: floor. A query slower than 1.5× its r3 time gets flagged in the
#: output so later-round churn can't silently give the gains back.
#:
#: r13 RE-SEED (VERDICT r12 item 2): entries tagged "r13 re-seed" in
#: this and the later floor dicts were re-based to the post-pre-touch
#: WARM best-of-two isolated runs on the continuation box (env: the
#: ~1.3× slower VM the r11 close bisected; buff/cache pre-touched).
#: The old values were recorded on a faster box and sat at 1.3–1.46×
#: warm-best — one load wobble from a false flag (the r12 close's
#: minhash/capstone/q05-scale flaps, every flagged module
#: byte-identical). Re-based entries keep the full 1.5× headroom ON
#: THIS BOX; untouched entries still bind at their original values
#: (all ≤1.28× warm-best in the same runs).
R3_FLOOR: dict[str, float] = {
    "q01_pricing_summary": 0.337,
    "q05_local_supplier": 0.711,
    "q03_shipping_priority": 0.59,
    "q18_large_orders": 0.437,
    "q_join_broadcast": 0.379,
    "q_topk_per_group": 0.363,
    "q_window_running": 0.122,
    "q_event_sessionize": 0.37,
    "ns_dedup_exact": 0.188,
    # r15 re-seed (was 1.705): the clearCache-per-rep methodology fix
    # (r14 verdict item 2) ended cross-rep reuse of the candidate-table
    # persist that rep 2 previously enjoyed — the honest warm best is
    # 2.325 on this box; the query itself is unchanged this round.
    "ns_minhash_lsh_pairs": 2.325,
    "ns_cosine_topk": 0.314,
    "ns_wordcount": 0.23,
    "q_join_range_bigbig": 0.187,
    "ns_repetition_signals": 0.456,
}

#: Round-4 per-query times (BENCH_r04.json) for queries that first
#: appeared in the r4 headline — same 1.5× soft-floor contract, kept
#: in a separate dict/output key so `regressions_vs_r3` stays
#: comparable across rounds. (ns_bigram_lm_score's r4 number timed the
#: broadcast-model plan; r5's registered default is the 100 TB-safe
#: shuffle join, which is FASTER at sf0.1, so the floor still binds.)
R4_FLOOR: dict[str, float] = {
    "ns_int8_quantize": 0.128,  # r13 re-seed
    "ns_bigram_lm_score": 1.03,
}

#: Round-5 per-query times (BENCH_r05.json) for queries that first
#: appeared in the r5 headline — same 1.5× soft-floor contract.
#: (ns_ccnet_buckets_scaled has no r5 number: it replaced the exact
#: NTILE form as the benched headline in round 6; its first recorded
#: round seeds the next floor.)
R5_FLOOR: dict[str, float] = {
    # r15 re-seed (was 0.889): clearCache-per-rep (the old best rode
    # rep-1's persisted candidate table), plus the r15 distinct-text
    # verification adds ~0.16 s at sf0.1 where texts are distinct
    # (A/B old 1.44 / new 1.60 isolated) in exchange for 2.2-2.7 s per
    # batch in the replica/boilerplate regime the screen exists for.
    "ns_incremental_dedup": 1.671,
    "ns_hash_embed": 0.573,
    # r15 re-seed (was 0.439): the designated churn detector flapped
    # across box eras for nine rounds (r11/r13/r14 verdicts; module
    # byte-identical since r5). Re-based to the current box's observed
    # warm band (post-pre-touch best-of-2: 0.518 this session, 0.818 in
    # the driver's r14 run) — the r12-verdict treatment that retired
    # the r3/r8 flaps. 0.60 keeps 1.5× headroom over the band's middle
    # while still catching a REAL 2× regression from today's 0.52.
    "ns_token_entropy": 0.60,
    "ns_dsir_weights": 0.715,  # r13 re-seed
    "ns_ann_probe_batch": 1.47,
}

#: Round-5 scale10x per-query times (BENCH_r05.json "scale10x") — the
#: same 1.5× soft floor extended to the 10×-replica section, so the
#: bucketed/semdedup/index-probe rows can no longer regress silently
#: (previously only headline queries had a floor).
R5_SCALE_FLOOR: dict[str, float] = {
    # r15 re-seed (was 0.27): same box-era flap class as
    # ns_token_entropy (r14 verdict item 9) — observed 0.276 warm this
    # session vs 0.459 in the driver's r14 run with byte-identical
    # modules. 0.31 keeps the driver-run band inside 1.5×.
    "q01_pricing_summary": 0.31,
    "q05_local_supplier": 1.036,  # r13 re-seed
    "q05_local_supplier_smj": 1.023,
    "q05_local_supplier_bucketed": 0.751,
    "q18_large_orders": 1.047,
    "q18_large_orders_bucketed": 0.401,
    "ns_dedup_exact": 0.235,
    "ns_minhash_lsh_pairs": 7.309,  # r15 re-seed (was 5.702): clearCache-per-rep, see R3_FLOOR note
    "ns_bigram_lm_score": 1.524,
    "ns_bigram_lm_score_broadcast": 1.937,  # r13 re-seed
    "ns_semdedup_scaled_sqrtk": 5.644,
    "ns_semdedup_scaled_samplefit": 4.372,
    # r15 re-seed (was 1.283): clearCache-per-rep + distinct-text verify
    "ns_incremental_dedup": 2.952,
}

#: Round-8 per-query times (BENCH_r08.json) — floors for headline
#: queries that had none (first benched after r5's floor snapshot).
R8_FLOOR: dict[str, float] = {
    # r15 re-seeds (were 1.275 / 2.118): clearCache-per-rep — both rows
    # lazily persist bounded intermediates (ccnet score proxy + bigram
    # c12; capstone tokc), so the old best-of-2 credited rep-1's cache
    # to rep 2 (BENCH_r14 rep1 column: ccnet 1.606, capstone 3.061 —
    # the honest per-run numbers all along).
    "ns_ccnet_buckets_scaled": 1.425,
    "ns_paragraph_dedup": 0.222,
    "ns_training_capstone": 3.518,
}

#: Round-8 scale10x floors for rows recorded since r5 (the ccnet pair
#: joined the section in r6 with no floor). ns_training_capstone and
#: the IVF k=256 probe first record in r9 and seed the next snapshot.
R8_SCALE_FLOOR: dict[str, float] = {
    "ns_ccnet_buckets_scaled": 1.715,
    "ns_ccnet_buckets": 1.673,  # r13 re-seed
}

#: Round-9 scale10x floors (BENCH_r09.json "scale10x") for rows first
#: recorded in r9 — the composed training capstone joined the scale
#: section that round. Same 1.5× soft-floor contract.
R9_SCALE_FLOOR: dict[str, float] = {
    # r15 re-seed (was 2.381): clearCache-per-rep, see R8_FLOOR note
    "ns_training_capstone": 3.999,
}

#: Round-9 floors over the standing guard SECTIONS (dicts in the bench
#: output outside `queries`/`scale10x`) first recorded in BENCH_r09:
#: the IVF k=256 probe pair (the r8 k-independence fix's latency
#: guard). Keyed (section, field); same 1.5× contract, reported under
#: `regressions_vs_r9_sections`. The r9 curation10x_alllegs.stream_drain
#: floor (4.31) was RETIRED in r11: the row gained the ExactSubstr span
#: leg (sixth verdict class), so its work changed and the old floor no
#: longer measures the same drain — BENCH_r11 re-seeds it.
R9_SECTION_FLOOR: dict[tuple[str, str], float] = {
    ("scale10x_ivf256", "probe_plan_build"): 2.177,  # r13 re-seed
    ("scale10x_ivf256", "probe_exec"): 1.518,  # r13 re-seed
}

#: Round-10 headline floor (BENCH_r10 / the r10 closing measurements —
#: recorded 0.58–0.74 s; the floor pins the high end) for the query
#: that first appeared in the r10 headline. Same 1.5× soft-floor
#: contract, reported under `regressions_vs_r10`.
R10_FLOOR: dict[str, float] = {
    "ns_exact_substring_spans": 0.74,
}

#: Round-10 scale10x floor (BENCH_r10 "scale10x") for the span finder's
#: first scale record (~2M stride-1 shingles).
R10_SCALE_FLOOR: dict[str, float] = {
    "ns_exact_substring_spans": 1.36,
}

#: Round-10 section floors: the semantic-decontamination triple first
#: recorded in BENCH_r10 (driver values). Reported under
#: `regressions_vs_r10_sections`.
R10_SECTION_FLOOR: dict[tuple[str, str], float] = {
    ("scale10x_semdecon", "exact_exec"): 4.026,
    ("scale10x_semdecon", "kmeans_exec"): 5.797,
    ("scale10x_semdecon", "kmeans_indexed_exec"): 4.421,
}

#: Round-11-era section floors, seeded in r12 from warm-isolated
#: best-of-two-runs on the continuation box AFTER the pre-touch fix
#: (the driver's BENCH_r11 record carried the cold-IO tax the r11
#: close bisected, so those firsts are not a like-for-like floor;
#: these values match the r11 close's isolated measurements —
#: ivfpq plan 1.48/exec 0.92, retract tombstoned/clean ≈ 1.08).
#: Reported under `regressions_vs_r11_sections`.
R11_SECTION_FLOOR: dict[tuple[str, str], float] = {
    ("scale10x_ivfpq", "probe_plan_build"): 1.403,
    ("scale10x_ivfpq", "probe_exec"): 0.861,
    ("scale10x_retract", "clean_exec"): 0.954,
    ("scale10x_retract", "tombstoned_exec"): 0.974,
}

#: Round-12 section floors: the REBUILD and SDC sections first recorded
#: in r12 (warm-isolated best-of-two). rebuild_sec pins the refit cost
#: (two quantizer programs + full re-encode at 10×); pairs_exec pins
#: SDC mining's wall-clock edge over the kmeans-bucketed full-vector
#: form. Reported under `regressions_vs_r12_sections`.
R12_SECTION_FLOOR: dict[tuple[str, str], float] = {
    ("scale10x_rebuild", "rebuild_sec"): 33.342,
    ("scale10x_rebuild", "append_sec"): 1.879,
    ("scale10x_rebuild", "compact_sec"): 1.142,
    ("scale10x_sdc", "pairs_plan_build"): 0.431,
    ("scale10x_sdc", "pairs_exec"): 3.178,
}

#: Round-13 section floor: the HIER (two-level) SDC section first
#: recorded in r13 (BENCH_r13: plan 0.589 / exec 11.2; build 33.2 is
#: cold-only, fingerprint-cached, so it takes no floor). Caveat from
#: the r13 close: at 10× the hier exec is ~3.4× the flat scale10x_sdc
#: BECAUSE its 625 leaf cells recall ~31% more true pairs than the
#: flat k=16 cells — its advantage is the 100× regime where a flat
#: corpus-proportional fit is unaffordable (the right way to read the
#: number). Reported under `regressions_vs_r13_sections`.
R13_SECTION_FLOOR: dict[tuple[str, str], float] = {
    ("scale10x_sdc_hier", "pairs_plan_build"): 0.589,
    ("scale10x_sdc_hier", "pairs_exec"): 11.2,
}


def _page_cache_mb() -> int | None:
    """Buffers+Cached from /proc/meminfo, in MiB — the reclaiming-VM
    detector. The r11 five-run flap traced to the OS page cache being
    reclaimed (buff/cache ~2 GB on a 125 GB box), so every run read
    COLD from the virtio disk while the r3–r10 floors were recorded
    warm; emitting the number makes that state visible in the record."""
    try:
        with open("/proc/meminfo") as fh:
            mem = {
                line.split(":")[0]: int(line.split()[1]) for line in fh
            }
        return (mem.get("Buffers", 0) + mem.get("Cached", 0)) // 1024
    except Exception:  # noqa: BLE001 — diagnostics must never fail the bench
        return None


def _touch_files(path: str) -> float:
    """Read every byte under ``path`` once (→ OS page cache) and return
    the wall-clock spent — the COLD cost, paid OUTSIDE the timed reps.

    The old "prime" pass ran ``load_table(...).count()`` per table, but
    a parquet count() is satisfied from footer metadata and never
    touches the data pages — so on a reclaimed page cache the timed
    reps still paid cold virtio reads (the r11 flap's mechanism). A raw
    byte read is the only pre-touch that actually warms the cache, and
    its duration IS the measured cold-read tax for the dataset."""
    t0 = time.perf_counter()
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                with open(os.path.join(root, f), "rb") as fh:
                    while fh.read(1 << 22):
                        pass
            except OSError:
                pass
    return round(time.perf_counter() - t0, 3)


def _ivf_probe(spark, dst: str, reps: int) -> dict[str, float]:
    """IVF batch probe at k=256 centroids — the standing latency guard
    for centroid routing at large k (operators/ann_index.py: every
    routing site ranks the centroid list folded into ONE plan constant,
    so plan size does not grow as k×d expression trees). Index
    over the 10× embeddings replica (vectors rolled per replica so
    k-means sees distinct points), built once and fingerprint-guarded
    like the skew probe; the recurring numbers are plan-build (call →
    DataFrame, the r7 measurement discipline) and execution of a
    64-query batch.
    """
    import time as _time

    from pyspark.sql import functions as F

    from map_reduce_framework_using_python_spark.operators import ann_index
    from map_reduce_framework_using_python_spark.sources.io import (
        read_json_guarded,
        source_fingerprint,
        write_json_atomic,
    )

    idx_path = os.path.join(dst, "ivf256_index")
    meta_path = os.path.join(dst, "ivf256_probe_meta.json")
    src = source_fingerprint(os.path.join(dst, "embeddings.parquet"))
    have = read_json_guarded(meta_path)
    out: dict[str, float] = {}
    emb = spark.read.parquet(os.path.join(dst, "embeddings.parquet"))
    if not (have is not None and have.get("src") == src):
        # Replicated embeddings are identical coordinates at offset ids;
        # roll each replica's vector by its replica index so the k=256
        # fit sees distinct points instead of 2k points duplicated 10×.
        r = (F.col("vec_id") / 10_000_000).cast("int")
        rolled = emb.select(
            "vec_id",
            F.concat(
                F.slice(F.col("embedding"), (r % 64) + 1, 64),
                F.slice(F.col("embedding"), 1, r % 64),
            ).alias("embedding"),
            "label",
        )
        t0 = _time.perf_counter()
        ann_index.build_ivf_index(rolled, idx_path, n_centroids=256, seed=42)
        out["index_build"] = round(_time.perf_counter() - t0, 3)
        write_json_atomic(meta_path, {"src": src})
    queries = emb.filter(F.col("vec_id") < 64)
    best_plan, best_exec = float("inf"), float("inf")
    n = 0
    for _ in range(reps):
        t0 = _time.perf_counter()
        df = ann_index.ivf_probe_index_batch(spark, queries, idx_path, k=10, n_probe=8)
        best_plan = min(best_plan, _time.perf_counter() - t0)
        t0 = _time.perf_counter()
        n = df.count()
        best_exec = min(best_exec, _time.perf_counter() - t0)
    out["probe_plan_build"] = round(best_plan, 3)
    out["probe_exec"] = round(best_exec, 3)
    out["rows"] = n
    print(
        f"# scale10x_ivf256 plan_build={out['probe_plan_build']:.3f}s "
        f"exec={out['probe_exec']:.3f}s ({n} rows)",
        file=sys.stderr,
    )
    return out


def _ivfpq_probe(spark, dst: str, reps: int) -> dict[str, float]:
    """IVF-PQ (IVFADC) batched probe at the 10× replica — the composed
    index lane's standing scale row (r11). Index: 64 coarse centroids
    over the rolled replica embeddings (the _ivf_probe roll, so k-means
    sees distinct points), m=16/k=16 PQ codes — the layout a 100 TB ANN
    actually ships (16 B/vector × partition-pruned cells). Built once,
    fingerprint-guarded; the recurring numbers are plan-build (call →
    DataFrame, the r7 discipline) and execution of a 64-query batch
    (n_probe=8/64 cells, shortlist=100, exact rerank against the
    full-vector table). First recorded r11; seeds the next floor."""
    import time as _time

    from pyspark.sql import functions as F

    from map_reduce_framework_using_python_spark.operators import ivfpq
    from map_reduce_framework_using_python_spark.sources.io import (
        read_json_guarded,
        source_fingerprint,
        write_json_atomic,
    )

    idx_path = os.path.join(dst, "ivfpq64_index")
    meta_path = os.path.join(dst, "ivfpq64_probe_meta.json")
    src = source_fingerprint(os.path.join(dst, "embeddings.parquet"))
    have = read_json_guarded(meta_path)
    out: dict[str, float] = {}
    emb = spark.read.parquet(os.path.join(dst, "embeddings.parquet"))
    # The rolled replica frame is what the index STORES, so it must
    # also be the rerank vectors table — ADC-shortlisting the rolled
    # vector and reranking the raw one would score two different
    # vectors per id (r11 review). Shared with the rebuild/SDC probes.
    rolled = _ivfpq_rolled(spark, dst)
    if not (have is not None and have.get("src") == src):
        t0 = _time.perf_counter()
        ivfpq.build_ivfpq_index(
            rolled, idx_path, n_centroids=64, m=16, k=16, seed=42
        )
        out["index_build"] = round(_time.perf_counter() - t0, 3)
        write_json_atomic(meta_path, {"src": src})
    queries = emb.filter(F.col("vec_id") < 64)
    best_plan, best_exec = float("inf"), float("inf")
    n = 0
    for _ in range(reps):
        t0 = _time.perf_counter()
        df = ivfpq.ivfpq_probe_index_batch(
            spark, queries, idx_path, rolled, k=10, n_probe=8, shortlist=100
        )
        best_plan = min(best_plan, _time.perf_counter() - t0)
        t0 = _time.perf_counter()
        n = df.count()
        best_exec = min(best_exec, _time.perf_counter() - t0)
    out["probe_plan_build"] = round(best_plan, 3)
    out["probe_exec"] = round(best_exec, 3)
    out["rows"] = n
    print(
        f"# scale10x_ivfpq plan_build={out['probe_plan_build']:.3f}s "
        f"exec={out['probe_exec']:.3f}s ({n} rows)",
        file=sys.stderr,
    )
    return out


def _ivfpq_rolled(spark, dst: str):
    """The rolled replica embedding frame the ivfpq64 index stores —
    shared by the probe, rebuild, and SDC sections (must stay the
    index's authoritative vector table, r11 review)."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(dst, "embeddings.parquet"))
    r = (F.col("vec_id") / 10_000_000).cast("int")
    return emb.select(
        "vec_id",
        F.concat(
            F.slice(F.col("embedding"), (r % 64) + 1, 64),
            F.slice(F.col("embedding"), 1, r % 64),
        ).alias("embedding"),
        "label",
    )


def _rebuild_probe(spark, dst: str, reps: int) -> dict[str, float]:
    """REBUILD vs append+compact at the 10× replica (r12, VERDICT
    item 5): the maintenance-verb cost model. Rebuild refits BOTH
    quantizers and re-encodes the corpus (O(corpus) + two k-means
    programs); append+compact pays O(batch) encode plus an O(corpus)
    rewrite with NO fit. The gap is the price of quantizer freshness —
    the planner input for "when is drift bad enough to refit".
    Runs against COPIES of the fingerprint-cached ivfpq64 index
    (_ivfpq_probe builds it), so the standing probe rows never see a
    mutated layout. Single rep: both paths are fit/rewrite-dominated
    and stable. First recorded r12; seeds the floor snapshot."""
    import shutil
    import time as _time

    from pyspark.sql import functions as F

    from map_reduce_framework_using_python_spark.operators import ivfpq

    idx_path = os.path.join(dst, "ivfpq64_index")
    rolled = _ivfpq_rolled(spark, dst)
    out: dict[str, float] = {}

    work = os.path.join(dst, "rebuild_probe_idx")
    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(idx_path, work)
    t0 = _time.perf_counter()
    ivfpq.rebuild_ivfpq_index(rolled, work)  # knobs inherited from meta
    out["rebuild_sec"] = round(_time.perf_counter() - t0, 3)
    shutil.rmtree(work, ignore_errors=True)

    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(idx_path, work)
    batch = rolled.filter(F.col("vec_id") % 97 == 1)  # ~1% re-delivery
    t0 = _time.perf_counter()
    ivfpq.append_to_ivfpq_index(batch, work)
    out["append_sec"] = round(_time.perf_counter() - t0, 3)
    t0 = _time.perf_counter()
    ivfpq.compact_ivfpq_index(spark, work)
    out["compact_sec"] = round(_time.perf_counter() - t0, 3)
    shutil.rmtree(work, ignore_errors=True)
    print(
        f"# scale10x_rebuild rebuild={out['rebuild_sec']:.3f}s "
        f"append={out['append_sec']:.3f}s compact={out['compact_sec']:.3f}s",
        file=sys.stderr,
    )
    return out


def _sdc_probe(spark, dst: str, reps: int) -> dict[str, float]:
    """SDC pair mining over the ivfpq64 PQ codes at 10× (r12, VERDICT
    item 5) vs the kmeans-bucketed full-vector form
    (ns_semdedup_scaled_sqrtk, recorded in the scale10x section): the
    codes table is ~16 B/vector vs ~512 B for float32×128, and the SDC
    margin screen prunes the within-cell quadratic before any
    full-vector read — the wall-clock twin of the claimed byte
    advantage. Same τ=0.4 as the semdedup rows."""
    import time as _time

    from map_reduce_framework_using_python_spark.operators.ivfpq import (
        sdc_near_pairs,
    )

    idx_path = os.path.join(dst, "ivfpq64_index")
    rolled = _ivfpq_rolled(spark, dst)
    out: dict[str, float] = {}
    best_plan, best_exec = float("inf"), float("inf")
    n = 0
    for _ in range(reps):
        t0 = _time.perf_counter()
        df = sdc_near_pairs(spark, idx_path, rolled, tau=0.4, margin=0.2)
        best_plan = min(best_plan, _time.perf_counter() - t0)
        t0 = _time.perf_counter()
        n = df.count()
        best_exec = min(best_exec, _time.perf_counter() - t0)
    out["pairs_plan_build"] = round(best_plan, 3)
    out["pairs_exec"] = round(best_exec, 3)
    out["rows"] = n
    print(
        f"# scale10x_sdc plan_build={out['pairs_plan_build']:.3f}s "
        f"exec={out['pairs_exec']:.3f}s ({n} pairs)",
        file=sys.stderr,
    )
    return out


def _sdc_hier_probe(spark, dst: str, reps: int) -> dict[str, float]:
    """SDC pair mining at CORPUS-PROPORTIONAL cell count via the
    two-level coarse quantizer (r13, VERDICT item 1): n/312 ≈ 625 leaf
    cells for the 10× replica set, fit as 25 × 25 stacked sampled
    k-means (build_ivfpq_index_hier — the inverted-multi-index
    composition; a FLAT spark.ml fit at 625 centroids is the shape the
    r12 probe documented as the SDC scale ceiling). Mining runs the
    byte-identical sdc_near_pairs over the leaf cells — the within-cell
    quadratic is ~n·312/2 candidate pairs regardless of corpus size,
    which is the whole point. Index fingerprint-cached like ivfpq64;
    ``build`` records on the first (cold) build only."""
    import time as _time

    from map_reduce_framework_using_python_spark.operators import ivfpq
    from map_reduce_framework_using_python_spark.sources.io import (
        read_json_guarded,
        source_fingerprint,
        write_json_atomic,
    )

    idx_path = os.path.join(dst, "ivfpq_hier_index")
    meta_path = os.path.join(dst, "ivfpq_hier_probe_meta.json")
    src = source_fingerprint(os.path.join(dst, "embeddings.parquet"))
    have = read_json_guarded(meta_path)
    rolled = _ivfpq_rolled(spark, dst)
    out: dict[str, float] = {}
    if not (have is not None and have.get("src") == src):
        t0 = _time.perf_counter()
        ivfpq.build_ivfpq_index_hier(
            rolled, idx_path, n_cells_l1=25, n_cells_l2=25,
            m=16, k=16, seed=42, fit_fraction=0.2,
        )
        out["build"] = round(_time.perf_counter() - t0, 3)
        write_json_atomic(meta_path, {"src": src})
    best_plan, best_exec = float("inf"), float("inf")
    n = 0
    for _ in range(reps):
        t0 = _time.perf_counter()
        df = ivfpq.sdc_near_pairs(spark, idx_path, rolled, tau=0.4, margin=0.2)
        best_plan = min(best_plan, _time.perf_counter() - t0)
        t0 = _time.perf_counter()
        n = df.count()
        best_exec = min(best_exec, _time.perf_counter() - t0)
    out["pairs_plan_build"] = round(best_plan, 3)
    out["pairs_exec"] = round(best_exec, 3)
    out["rows"] = n
    print(
        f"# scale10x_sdc_hier plan_build={out['pairs_plan_build']:.3f}s "
        f"exec={out['pairs_exec']:.3f}s ({n} pairs)",
        file=sys.stderr,
    )
    return out


def _semdecon_probe(spark, dst: str, reps: int) -> dict[str, float]:
    """Semantic-decontamination lane at 10× corpus with a FIXED-size
    benchmark, fold FORCED.

    Two measurement rules learned the hard way: (a) ``.count()``
    column-prunes the max-cosine aggregate away (the ns_paragraph_trim
    lesson), so rows time ``agg(sum(max_cosine), sum(contaminated))``;
    (b) the 10× replica grows BOTH slices of the registry query, but a
    real decontamination run's benchmark is a fixed eval suite — the
    first r10 draft timed exact-vs-10×-bench at 17 s/153 s, measuring
    a workload no deployment runs. So the probe holds the benchmark at
    the ORIGINAL replica's slice (vec_id < 10M ∧ %16==7, 125 vectors)
    and scales only the corpus (~20k vectors): ``exact_exec`` is the
    production exact path (broadcast bench, map-side fold, one narrow
    exchange), ``kmeans_exec`` the centroid-routed scale path at the
    registry setting (k=6, n_probe=4 — single rep: the spark.ml fit
    dominates and is part of the cost). Expect exact < kmeans HERE: at
    a 125-item bench the fit outweighs the 2× scoring cut (measured
    3.2 s vs 8.4 s cold), which is exactly why the exact form is the
    registered production path for eval-suite-sized benchmarks — the
    row holds the routed path's latency and recall at the registry
    knobs (flags ratio ≈ 0.92 here) and catches fit-cost regressions,
    not a race it is meant to win. First recorded r10; seeds the next
    floor snapshot.
    """
    import time as _time

    from pyspark.sql import functions as F

    from map_reduce_framework_using_python_spark.operators.similarity import (
        benchmark_max_cosine,
        benchmark_max_cosine_kmeans,
    )

    emb = spark.read.parquet(os.path.join(dst, "embeddings.parquet"))
    bench = emb.filter((F.col("vec_id") < 10_000_000) & (F.col("vec_id") % 16 == 7))
    corpus = emb.exceptAll(bench)
    forced = lambda df: df.agg(  # noqa: E731
        F.sum("max_cosine").alias("s"),
        F.sum(F.col("contaminated").cast("long")).alias("c"),
    ).collect()[0]

    out: dict[str, float] = {}
    best, flags = float("inf"), 0
    for _ in range(reps):
        t0 = _time.perf_counter()
        r = forced(benchmark_max_cosine(corpus, bench, 300_000))
        best = min(best, _time.perf_counter() - t0)
        flags = int(r["c"] or 0)
    out["exact_exec"] = round(best, 3)
    out["exact_flags"] = flags
    t0 = _time.perf_counter()
    r = forced(
        benchmark_max_cosine_kmeans(corpus, bench, 300_000, k=6, n_probe=4)
    )
    out["kmeans_exec"] = round(_time.perf_counter() - t0, 3)
    out["kmeans_flags"] = int(r["c"] or 0)
    # The DEPLOYMENT path: quantizer persisted at benchmark-freeze time
    # (one-off, fingerprint-cached like the IVF index), probe with NO
    # fit — beats exact even at this bench size (measured 1.7 s vs
    # 3.2–4.3 s), which is the whole point of the artifact.
    from map_reduce_framework_using_python_spark.operators.similarity import (
        benchmark_max_cosine_kmeans_indexed,
        build_semdecon_kmeans_bench,
    )
    from map_reduce_framework_using_python_spark.sources.io import (
        read_json_guarded,
        source_fingerprint,
        write_json_atomic,
    )

    kb_path = os.path.join(dst, "semdecon_kmeans_bench")
    kb_meta = os.path.join(dst, "semdecon_kmeans_bench_meta.json")
    src = source_fingerprint(os.path.join(dst, "embeddings.parquet"))
    have = read_json_guarded(kb_meta)
    if not (have is not None and have.get("src") == src):
        t0 = _time.perf_counter()
        build_semdecon_kmeans_bench(bench, kb_path, k=6)
        out["kmeans_bench_build"] = round(_time.perf_counter() - t0, 3)
        write_json_atomic(kb_meta, {"src": src})
    best_ix, flags_ix = float("inf"), 0
    for _ in range(reps):
        t0 = _time.perf_counter()
        r = forced(
            benchmark_max_cosine_kmeans_indexed(corpus, kb_path, 300_000, n_probe=4)
        )
        best_ix = min(best_ix, _time.perf_counter() - t0)
        flags_ix = int(r["c"] or 0)
    out["kmeans_indexed_exec"] = round(best_ix, 3)
    out["kmeans_indexed_flags"] = flags_ix
    print(
        f"# scale10x_semdecon exact={out['exact_exec']:.3f}s "
        f"({out['exact_flags']} flags) kmeans={out['kmeans_exec']:.3f}s "
        f"({out['kmeans_flags']} flags) "
        f"indexed={out['kmeans_indexed_exec']:.3f}s ({flags_ix} flags)",
        file=sys.stderr,
    )
    return out


def _skew_probe(spark, dst: str, reps: int) -> dict[str, float]:
    """Hot-key join wall clock, plain vs AQE-skew-split vs salted.

    Builds (once, cached under the scale-probe dir) a fact table whose
    key is 'hot' for 90% of the 10× lineitem rows and unique otherwise,
    plus a dim of all keys. Broadcast is disabled during the probe so
    the join actually shuffles — the hot partition is the straggler the
    salt spreads over 32 reducers.
    """
    import time as _time

    from pyspark.sql import functions as F

    from map_reduce_framework_using_python_spark.operators.skew import salted_join
    from map_reduce_framework_using_python_spark.sources.io import (
        load_table,
        read_json_guarded,
        source_fingerprint,
        write_json_atomic,
    )

    fact_path = os.path.join(dst, "skew_fact.parquet")
    dim_path = os.path.join(dst, "skew_dim.parquet")
    # Same refresh-hazard guard as the ANN/Z-order/partitioned layouts:
    # reuse only if the probe tables were derived from THIS lineitem —
    # a regenerated replica dir must not serve stale probe tables.
    # Shared read/write helpers: a truncated meta is STALE, not a
    # JSONDecodeError that kills the scale section (r7 tools review).
    meta_path = os.path.join(dst, "skew_probe_meta.json")
    src = source_fingerprint(os.path.join(dst, "lineitem.parquet"))
    have = read_json_guarded(meta_path)
    fresh = (
        os.path.isdir(fact_path)
        and os.path.isdir(dim_path)
        and have is not None
        and have.get("src") == src
    )
    if not fresh:
        li = load_table(spark, dst, "lineitem")
        fact = li.select(
            F.when(F.col("l_orderkey") % 10 != 0, F.lit("hot"))
            .otherwise(F.concat(F.lit("k"), F.col("l_orderkey")))
            .alias("k"),
            F.col("l_quantity").cast("double").alias("v"),
        )
        fact.write.mode("overwrite").parquet(fact_path)
        (
            spark.read.parquet(fact_path)
            .select("k")
            .distinct()
            .select("k", F.length("k").cast("double").alias("attr"))
            .write.mode("overwrite")
            .parquet(dim_path)
        )
        write_json_atomic(meta_path, {"src": src})

    def run(mode: str) -> None:
        f = spark.read.parquet(fact_path)
        d = spark.read.parquet(dim_path)
        j = (
            salted_join(f, d, "k", n_salts=32)
            if mode == "salted"
            else f.join(d, "k")
        )
        j.agg(F.sum(F.col("v") * F.col("attr"))).collect()

    def best_of(mode: str) -> float:
        best = float("inf")
        for _ in range(reps):
            t0 = _time.perf_counter()
            run(mode)
            best = min(best, _time.perf_counter() - t0)
        return round(best, 3)

    conf = spark.conf
    prev_bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_skew = conf.get("spark.sql.adaptive.skewJoin.enabled")
    out: dict[str, float] = {}
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        out["join_hotkey_plain"] = best_of("plain")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        out["join_hotkey_aqe_skewsplit"] = best_of("plain")
        out["join_hotkey_salted"] = best_of("salted")
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        conf.set("spark.sql.adaptive.skewJoin.enabled", prev_skew)
    for k, v in out.items():
        print(f"# scale10x_skew {k}: {v:.3f}s", file=sys.stderr)
    return out


def _retract_probe(spark, dst: str, reps: int) -> dict[str, float]:
    """Tombstoned-probe overhead at the 10× replica (r11): the
    ns_incremental_dedup screen against a COPY of the cached MinHash
    index with every doc_id ≡ 1 (mod 10) retracted (~10% of the
    corpus — a deliberately oversized takedown log; real ones compact
    long before this). The delta vs the clean probe is the cost of one
    broadcast-anti-join over the distinct tombstone set — the number
    that justifies "deletes are O(|deleted|), probes stay flat".
    First recorded r11; seeds the next floor snapshot."""
    import shutil
    import time as _time

    from pyspark.sql import functions as F

    from map_reduce_framework_using_python_spark.operators.dedup_index import (
        incremental_dedup_pairs,
        retract_docs_from_index,
    )
    from map_reduce_framework_using_python_spark.plans.northstar import (
        _BATCH_MOD,
        _BATCH_REM,
        _ensure_dedup_index,
    )

    src_idx = _ensure_dedup_index(spark, dst)
    work = os.path.join(dst, "retract_probe_idx")
    shutil.rmtree(work, ignore_errors=True)
    shutil.copytree(src_idx, work)
    d = spark.read.parquet(os.path.join(dst, "documents.parquet"))
    batch = d.filter(F.col("doc_id") % _BATCH_MOD == _BATCH_REM)
    corpus = d.filter(F.col("doc_id") % _BATCH_MOD != _BATCH_REM)
    rx = corpus.filter(F.col("doc_id") % 10 == 1).select("doc_id")
    t0 = _time.perf_counter()
    retract_docs_from_index(rx, work)
    retract_sec = round(_time.perf_counter() - t0, 3)
    out: dict[str, float] = {"retract_sec": retract_sec}

    def best(path):
        b, n = float("inf"), 0
        for _ in range(reps):
            t0 = _time.perf_counter()
            n = incremental_dedup_pairs(
                spark, batch, corpus, path, threshold=0.6
            ).count()
            b = min(b, _time.perf_counter() - t0)
        return round(b, 3), n

    out["clean_exec"], n_clean = best(src_idx)
    out["tombstoned_exec"], n_tomb = best(work)
    out["rows_clean"], out["rows_tombstoned"] = n_clean, n_tomb
    shutil.rmtree(work, ignore_errors=True)
    print(
        f"# scale10x_retract clean={out['clean_exec']:.3f}s "
        f"tombstoned={out['tombstoned_exec']:.3f}s "
        f"retract={retract_sec:.3f}s "
        f"({n_clean}->{n_tomb} pairs)",
        file=sys.stderr,
    )
    return out


def _dup_probe(spark, dst: str, reps: int) -> dict[str, float]:
    """Hot-bucket LSH wall clock: MinHash-LSH over a boilerplate-heavy
    corpus — the 10× documents replica with 30% of docs overwritten by
    ONE template (≈15k identical docs). Every band bucket of the
    template blows past max_bucket, so this row exercises the
    round-6 anchor-star short-circuit; without it the same input
    generates ~10⁸ candidate pairs from a single bucket. Built once,
    fingerprint-guarded like the skew probe."""
    import time as _time

    from pyspark.sql import functions as F

    from map_reduce_framework_using_python_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from map_reduce_framework_using_python_spark.sources.io import (
        read_json_guarded,
        source_fingerprint,
        write_json_atomic,
    )

    dup_path = os.path.join(dst, "dup_documents.parquet")
    meta_path = os.path.join(dst, "dup_probe_meta.json")
    src = source_fingerprint(os.path.join(dst, "documents.parquet"))
    have = read_json_guarded(meta_path)
    fresh = os.path.isdir(dup_path) and have is not None and have.get("src") == src
    if not fresh:
        template = (
            "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
            "eiusmod tempor incididunt ut labore et dolore magna aliqua ut "
            "enim ad minim veniam quis nostrud exercitation ullamco laboris"
        )
        (
            spark.read.parquet(os.path.join(dst, "documents.parquet"))
            .withColumn(
                "text",
                F.when(F.col("doc_id") % 10 < 3, F.lit(template)).otherwise(
                    F.col("text")
                ),
            )
            .write.mode("overwrite")
            .parquet(dup_path)
        )
        write_json_atomic(meta_path, {"src": src})

    best, n = float("inf"), 0
    for _ in range(reps):
        t0 = _time.perf_counter()
        n = minhash_lsh_pairs(spark.read.parquet(dup_path)).count()
        best = min(best, _time.perf_counter() - t0)
    out = {"minhash_hot_bucket": round(best, 3), "pairs": n}
    print(
        f"# scale10x_dup minhash_hot_bucket: {best:.3f}s ({n} pairs)",
        file=sys.stderr,
    )
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")

    # Warm-up: run every headline query once against the tiny sf0.001
    # data first — primes whole-stage-codegen compilation, the Python
    # worker pool, and scan/shuffle paths, so the timed runs measure
    # steady-state query latency at the target SF rather than one-time
    # JIT cost (the 32-aggregate MinHash signature plan alone costs
    # ~1.5 s of codegen on first execution).
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    # count(), not collect(): when the sf0.001 warm set is absent the
    # warm-up runs at the TARGET SF, and collecting full result sets
    # (e.g. the MinHash pair list) onto the driver could OOM the bench
    # (r7 tools review). count() primes codegen/workers identically.
    for name in ("q00_scan_count", *HEADLINE):
        try:
            REGISTRY[name].fn(spark, warm_dir).count()
        except Exception:  # noqa: BLE001 — warm-up must never fail the bench
            pass
    # Prime the target-SF parquet footers/schemas (driver-side decode).
    try:
        from map_reduce_framework_using_python_spark.sources.io import TABLES, load_table

        for name in TABLES:
            load_table(spark, sf_dir, name).count()
    except Exception:  # noqa: BLE001
        pass
    # Cold/warm split (r11 close finding): count() never touches data
    # pages, so on a page-cache-reclaiming VM the timed reps read COLD
    # from the virtio disk and flap random floors 1.5–3×. Pre-touch the
    # bytes so the timed reps measure the QUERY (the regime every
    # r3–r10 floor was recorded in); the touch duration is the recorded
    # cold-read tax, and buff/cache before/after makes a reclaiming VM
    # visible in the record.
    env: dict = {"cpus": os.environ.get("SPARK_GRAFT_CPUS", "32")}
    env["buff_cache_mb_start"] = _page_cache_mb()
    env["pretouch_sf_dir_sec"] = _touch_files(sf_dir)
    env["buff_cache_mb_after_touch"] = _page_cache_mb()

    # Best-of-N timing (default 2): single-pass numbers on a shared box
    # swing ±40% from GC pauses / page-cache state (round-2's phantom
    # "+21% minhash regression" was exactly this — isolated re-runs were
    # FASTER than round 1). The min of two passes measures the query,
    # not the noise.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))

    rep1: dict[str, float] = {}

    def best_of(name: str, data_dir: str) -> tuple[float, int]:
        best, n = float("inf"), 0
        for i in range(reps):
            # Fresh CacheManager per rep (r14 verdict): queries that
            # lazily persist a bounded intermediate (bigram c12, ccnet
            # score proxy, capstone tokc) would otherwise hit rep-1's
            # already-materialized cache on rep 2 — Spark's CacheManager
            # matches a rebuilt identical plan to the existing
            # InMemoryRelation, nothing unpersists between fn() calls —
            # and best-of-N would credit cross-rep cache reuse instead
            # of the query. Clearing OUTSIDE the timed region keeps the
            # rep itself honest; rep1-vs-best spread now isolates box
            # churn (GC, CPU contention) only.
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            n = REGISTRY[name].fn(spark, data_dir).count()
            dt = time.perf_counter() - t0
            if i == 0:
                # First rep recorded separately: after the pre-touch
                # both reps are warm-cache, so a big rep1/best spread
                # now points at box churn (GC, CPU contention), not
                # cold IO — the two-rep record the r11 flap asked for.
                rep1[name] = round(dt, 3)
            best = min(best, dt)
        return round(best, 3), n

    times: dict[str, float] = {}
    for name in HEADLINE:
        times[name], n = best_of(name, sf_dir)
        print(f"# {name}: {times[name]:.3f}s ({n} rows)", file=sys.stderr)

    total = round(sum(times.values()), 3)
    result = {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_rep1": dict(rep1),
        "env": env,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }

    # Soft regression floor vs round 3 (only meaningful at the default
    # sf0.1 the floor was recorded at).
    if sf == "0.1":
        regressions = {
            name: {"now": times[name], "r3": floor}
            for name, floor in R3_FLOOR.items()
            if name in times and times[name] > 1.5 * floor
        }
        result["regressions_vs_r3"] = regressions
        for name, v in regressions.items():
            print(
                f"# REGRESSION {name}: {v['now']:.3f}s vs r3 {v['r3']:.3f}s "
                f"({v['now'] / v['r3']:.2f}x)",
                file=sys.stderr,
            )
        regressions_r4 = {
            name: {"now": times[name], "r4": floor}
            for name, floor in R4_FLOOR.items()
            if name in times and times[name] > 1.5 * floor
        }
        result["regressions_vs_r4"] = regressions_r4
        for name, v in regressions_r4.items():
            print(
                f"# REGRESSION {name}: {v['now']:.3f}s vs r4 {v['r4']:.3f}s "
                f"({v['now'] / v['r4']:.2f}x)",
                file=sys.stderr,
            )
        regressions_r5 = {
            name: {"now": times[name], "r5": floor}
            for name, floor in R5_FLOOR.items()
            if name in times and times[name] > 1.5 * floor
        }
        result["regressions_vs_r5"] = regressions_r5
        for name, v in regressions_r5.items():
            print(
                f"# REGRESSION {name}: {v['now']:.3f}s vs r5 {v['r5']:.3f}s "
                f"({v['now'] / v['r5']:.2f}x)",
                file=sys.stderr,
            )
        regressions_r8 = {
            name: {"now": times[name], "r8": floor}
            for name, floor in R8_FLOOR.items()
            if name in times and times[name] > 1.5 * floor
        }
        result["regressions_vs_r8"] = regressions_r8
        for name, v in regressions_r8.items():
            print(
                f"# REGRESSION {name}: {v['now']:.3f}s vs r8 {v['r8']:.3f}s "
                f"({v['now'] / v['r8']:.2f}x)",
                file=sys.stderr,
            )
        regressions_r10 = {
            name: {"now": times[name], "r10": floor}
            for name, floor in R10_FLOOR.items()
            if name in times and times[name] > 1.5 * floor
        }
        result["regressions_vs_r10"] = regressions_r10
        for name, v in regressions_r10.items():
            print(
                f"# REGRESSION {name}: {v['now']:.3f}s vs r10 {v['r10']:.3f}s "
                f"({v['now'] / v['r10']:.2f}x)",
                file=sys.stderr,
            )

    # Scale section: replicate sf0.1 10× (~6M lineitem rows, cached in
    # /tmp) and time the shuffle-heavy joins scan-based vs bucketed —
    # the regression our 50× probe surfaced and the bucketed warehouse
    # fixes. Skippable (SPARK_GRAFT_BENCH_SCALE=0) and never fatal.
    replicas = int(os.environ.get("SPARK_GRAFT_BENCH_SCALE", "10"))
    if replicas > 1:
        try:
            from scale_probe import DST, build

            build(spark, replicas)
            # Same cold/warm split for the replica dir (it is 10× the
            # bytes of sf_dir, so reclaim hits it hardest).
            env["pretouch_scale_dir_sec"] = _touch_files(DST)
            env["buff_cache_mb_after_scale_touch"] = _page_cache_mb()
            rep1.clear()
            # Bucketed-warehouse build is write-time cost, amortized over
            # every later query — timed separately, not inside any query.
            from map_reduce_framework_using_python_spark.sources.warehouse import (
                ensure_bucketed_facts,
            )

            t0 = time.perf_counter()
            ensure_bucketed_facts(spark, DST)
            result["scale10x_bucket_build_sec"] = round(time.perf_counter() - t0, 3)
            scale: dict[str, float] = {}
            for name in (
                "q01_pricing_summary",
                "q05_local_supplier",
                "q05_local_supplier_smj",
                "q05_local_supplier_bucketed",
                "q18_large_orders",
                "q18_large_orders_bucketed",
                "ns_dedup_exact",
                # round 5: the dedup flagship and the bigram-LM pair —
                # shuffle-model (scale-safe registered default) vs
                # broadcast-model (small-model opt-in) on the same data
                "ns_minhash_lsh_pairs",
                "ns_bigram_lm_score",
                "ns_bigram_lm_score_broadcast",
                # round 6: CCNet production (histogram thresholds) vs
                # exact NTILE fixture on the same data — a standing
                # measurement of the structural trade (the scaled form
                # pays a small constant; its window is grid-bounded
                # instead of corpus-bounded)
                "ns_ccnet_buckets_scaled",
                "ns_ccnet_buckets",
                # round 9: the end-to-end training capstone at 10× — every
                # stage has its own scale row; this one proves the
                # COMPOSITION (screen → cut → plan → realize → pack in one
                # plan) holds off sf0.1 with no superlinear surprise
                "ns_training_capstone",
                # round 10: the variable-length ExactSubstr finder at 10×
                # (~2M stride-1 shingles) — the digest-window + island
                # shape's scale row; first record seeds the next floor
                "ns_exact_substring_spans",
            ):
                scale[name], n = best_of(name, DST)
                print(f"# scale10x {name}: {scale[name]:.3f}s ({n} rows)", file=sys.stderr)

            # SemDeDup: the registered k=8 query is the ORACLE fixture
            # (DuckDB unrolls its Lloyd run); at 10× its fixed k makes
            # within-cluster pairing quadratic — measured 80.3 s, the
            # exact blow-up the paper's bucketing avoids. The scale path
            # (operators/clustering.py:semdedup_pairs_scaled) grows
            # k ≈ √n via spark.ml KMeans; THAT is what belongs in the
            # 10× bench. k passed explicitly (√n of replicas×2000
            # embeddings) so the build stays job-free.
            from map_reduce_framework_using_python_spark.operators.clustering import (
                semdedup_pairs_scaled,
            )
            from map_reduce_framework_using_python_spark.sources.io import load_table

            emb = load_table(spark, DST, "embeddings")
            k_sqrt = int((replicas * 2000) ** 0.5)
            # Warm spark.ml first (r8 root-cause of the r6→r7 uptick on
            # these rows): the FIRST KMeans fit in a session pays ~4 s
            # of one-off MLlib class-loading/codegen — measured via the
            # tools/semdedup_split.py build/exec split (fit 5.10 s cold
            # → 1.12 s warm, identical pairing) — so whether an earlier
            # bench row had already touched spark.ml decided ±1.8 s of
            # these numbers. A 100-row k=2 fit eats the warm-up outside
            # the timed region; the rows then measure the OPERATOR.
            from pyspark.ml.clustering import KMeans as _KM
            from pyspark.ml.functions import array_to_vector as _a2v
            from pyspark.sql import functions as F

            _KM(k=2, seed=1, maxIter=1, featuresCol="f").fit(
                emb.limit(100).select(
                    _a2v(F.col("embedding").cast("array<double>")).alias("f")
                )
            )
            # Single rep: the warm run is KMeans-fit-dominated and
            # stable; best-of-2 would double bench wall-clock for noise
            # reduction the fit cost doesn't need.
            t0 = time.perf_counter()
            n = semdedup_pairs_scaled(emb, threshold=0.4, k=k_sqrt).count()
            best = time.perf_counter() - t0
            scale["ns_semdedup_scaled_sqrtk"] = round(best, 3)
            print(
                f"# scale10x ns_semdedup_scaled_sqrtk(k={k_sqrt}): {best:.3f}s "
                f"({n} rows)",
                file=sys.stderr,
            )
            # Sample-fit twin: quantizer trained on a 15% hash-sample
            # (≈20×k vectors), everything assigned. At THIS n the
            # pairing join dominates and the twins tie (NOTES); the row
            # exists to measure the crossover where fit cost takes over.
            # Soundness is pytest-pinned.
            t0 = time.perf_counter()
            n = semdedup_pairs_scaled(
                emb, threshold=0.4, k=k_sqrt, fit_fraction=0.15
            ).count()
            best = time.perf_counter() - t0
            scale["ns_semdedup_scaled_samplefit"] = round(best, 3)
            print(
                f"# scale10x ns_semdedup_scaled_samplefit(k={k_sqrt}, f=0.15): "
                f"{best:.3f}s ({n} rows)",
                file=sys.stderr,
            )
            # Incremental dedup: index build is write-time cost (one-off,
            # fingerprint-cached like the bucketed facts); the per-ingest
            # probe is the number to hold against the one-shot
            # ns_minhash_lsh_pairs row above — the probe re-sketches only
            # the ~6% batch and scans the fixed-width index, not the text.
            from map_reduce_framework_using_python_spark.plans.northstar import (
                _ensure_dedup_index,
            )

            t0 = time.perf_counter()
            _ensure_dedup_index(spark, DST)
            result["scale10x_dedup_index_build_sec"] = round(
                time.perf_counter() - t0, 3
            )
            scale["ns_incremental_dedup"], n = best_of("ns_incremental_dedup", DST)
            print(
                f"# scale10x ns_incremental_dedup: {scale['ns_incremental_dedup']:.3f}s"
                f" ({n} rows)",
                file=sys.stderr,
            )
            result["scale10x"] = scale
            result["scale10x_rep1"] = dict(rep1)
            result["scale10x_lineitem_rows"] = replicas * 600_572
            # Soft floor over the scale section too (r5 values; only
            # meaningful at the default 10× the floor was recorded at).
            if replicas == 10:
                scale_reg = {
                    name: {"now": scale[name], "r5": floor}
                    for name, floor in R5_SCALE_FLOOR.items()
                    if name in scale and scale[name] > 1.5 * floor
                }
                result["regressions_vs_r5_scale10x"] = scale_reg
                for name, v in scale_reg.items():
                    print(
                        f"# REGRESSION scale10x {name}: {v['now']:.3f}s vs r5 "
                        f"{v['r5']:.3f}s ({v['now'] / v['r5']:.2f}x)",
                        file=sys.stderr,
                    )
                scale_reg8 = {
                    name: {"now": scale[name], "r8": floor}
                    for name, floor in R8_SCALE_FLOOR.items()
                    if name in scale and scale[name] > 1.5 * floor
                }
                result["regressions_vs_r8_scale10x"] = scale_reg8
                for name, v in scale_reg8.items():
                    print(
                        f"# REGRESSION scale10x {name}: {v['now']:.3f}s vs r8 "
                        f"{v['r8']:.3f}s ({v['now'] / v['r8']:.2f}x)",
                        file=sys.stderr,
                    )
                scale_reg9 = {
                    name: {"now": scale[name], "r9": floor}
                    for name, floor in R9_SCALE_FLOOR.items()
                    if name in scale and scale[name] > 1.5 * floor
                }
                result["regressions_vs_r9_scale10x"] = scale_reg9
                for name, v in scale_reg9.items():
                    print(
                        f"# REGRESSION scale10x {name}: {v['now']:.3f}s vs r9 "
                        f"{v['r9']:.3f}s ({v['now'] / v['r9']:.2f}x)",
                        file=sys.stderr,
                    )
                scale_reg10 = {
                    name: {"now": scale[name], "r10": floor}
                    for name, floor in R10_SCALE_FLOOR.items()
                    if name in scale and scale[name] > 1.5 * floor
                }
                result["regressions_vs_r10_scale10x"] = scale_reg10
                for name, v in scale_reg10.items():
                    print(
                        f"# REGRESSION scale10x {name}: {v['now']:.3f}s vs r10 "
                        f"{v['r10']:.3f}s ({v['now'] / v['r10']:.2f}x)",
                        file=sys.stderr,
                    )

            # Hot-bucket LSH guard: the boilerplate-heavy corpus row.
            result["scale10x_dup"] = _dup_probe(spark, DST, reps)

            # Takedown overhead guard (r11): the same incremental dedup
            # probe with ~10% of the corpus tombstoned must cost about
            # what the clean probe does — the tombstone set rides ONE
            # broadcast anti-join.
            result["scale10x_retract"] = _retract_probe(spark, DST, reps)

            # IVF k=256 join-form guard: the plan-build number is the
            # one the r8 fix bounded (k-independent); the r9 record
            # seeded the floor (R9_SECTION_FLOOR).
            result["scale10x_ivf256"] = _ivf_probe(spark, DST, reps)

            # IVF-PQ composed lane (r11): ADC over partition-pruned
            # 16-byte codes + exact rerank — first record seeds the
            # next floor snapshot.
            result["scale10x_ivfpq"] = _ivfpq_probe(spark, DST, reps)

            # REBUILD vs append+compact (r12, VERDICT item 5): the
            # maintenance cost model behind the planner's refit
            # decision. Needs the ivfpq64 index the row above built.
            result["scale10x_rebuild"] = _rebuild_probe(spark, DST, reps)

            # SDC pair mining over PQ codes at 10× (r12, VERDICT
            # item 5) — wall-clock twin of the codes-vs-vectors byte
            # advantage; hold against ns_semdedup_scaled_sqrtk above.
            result["scale10x_sdc"] = _sdc_probe(spark, DST, reps)

            # SDC at CORPUS-PROPORTIONAL cells via the two-level coarse
            # quantizer (r13, VERDICT item 1): ~625 leaf cells from two
            # 25-centroid fits — the scale path the flat k=64 row above
            # cannot take (a flat fit at n/312 cells is the documented
            # ceiling). First recorded r13; seeds the next floor.
            result["scale10x_sdc_hier"] = _sdc_hier_probe(spark, DST, reps)

            # Semantic-decontamination lane at 10×, fold forced (the
            # .count() prune makes a headline row dishonest for it).
            result["scale10x_semdecon"] = _semdecon_probe(spark, DST, reps)

            # Skew evidence with a wall clock (the reference's myHash
            # lesson, Worker/shuffler.py:6-10): a 90%-hot-key fact
            # joined to a deliberately non-broadcast dim. Partial agg
            # hides skew in sum-style groupBys — the shuffle JOIN is
            # where one overloaded partition actually bleeds time. Three
            # variants: plain SMJ with AQE skew-split off (the naive
            # plan), plain with AQE skew-split on (runtime re-plan), and
            # the explicit salted join (operators/skew.py).
            result["scale10x_skew"] = _skew_probe(spark, DST, reps)
        except Exception as exc:  # noqa: BLE001 — scale probe must never fail the bench
            result["scale10x_error"] = str(exc)[:200]

    # Curation capstone at 50×: the composed end-to-end ingest pipeline
    # (dedup screen + DSIR gate + drift, 3 sinks) against a 250k-doc
    # corpus — index/model builds are one-off corpus cost, stream_drain
    # is the recurring per-batch number. Skippable and never fatal.
    cur_replicas = int(os.environ.get("SPARK_GRAFT_BENCH_CURATION", "50"))
    if cur_replicas > 1:
        try:
            from curation_probe import run as curation_run

            result[f"curation{cur_replicas}x"] = curation_run(spark, cur_replicas)
            print(
                f"# curation{cur_replicas}x: {result[f'curation{cur_replicas}x']}",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001
            result["curation_error"] = str(exc)[:200]

    # Curation at 100× (500k docs) against the witness-capped PRUNED
    # index layout — the steady-state 100 TB configuration; the `prune`
    # stage amortizes like the build. Skippable and never fatal.
    cur100 = int(os.environ.get("SPARK_GRAFT_BENCH_CURATION_100X", "100"))
    if cur100 > 1:
        try:
            from curation_probe import run as curation_run

            result[f"curation{cur100}x_pruned"] = curation_run(
                spark, cur100, prune_cap=8
            )
            print(
                f"# curation{cur100}x_pruned: {result[f'curation{cur100}x_pruned']}",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001
            result[f"curation{cur100}x_pruned_error"] = str(exc)[:200]

    # Curation with the PARAGRAPH leg active at 10× (r8: the standing
    # rows above run it off — paragraph_index_path defaults None — so
    # n_boilerplate was 0 and the sub-document screen had no scale
    # evidence). Batch = original slice + 200 injected template-heavy
    # docs (tools/curation_probe._inject_boilerplate); the row proves
    # the leg fires (n_boilerplate ≥ 200) without a drain blow-up.
    cur_para = int(os.environ.get("SPARK_GRAFT_BENCH_CURATION_PARA", "10"))
    if cur_para > 1:
        try:
            from curation_probe import run as curation_run

            result[f"curation{cur_para}x_paragraph"] = curation_run(
                spark, cur_para, paragraph=True
            )
            print(
                f"# curation{cur_para}x_paragraph: "
                f"{result[f'curation{cur_para}x_paragraph']}",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001
            result[f"curation{cur_para}x_paragraph_error"] = str(exc)[:200]

    # ALL-legs curation at 10× (r9; +span r11): dedup + DSIR + paragraph
    # + contamination + the ExactSubstr span leg in one drain — the
    # SIX-verdict partition with every leg firing on its own plants
    # (n_boilerplate=206, n_contaminated=100, n_span_duplicate≈50 at
    # the defaults). The number to hold against the single-leg rows:
    # the composed drain must not blow up. The r9 stream_drain floor
    # was retired with the span-leg addition; BENCH_r11 re-seeds it.
    cur_all = int(os.environ.get("SPARK_GRAFT_BENCH_CURATION_ALLLEGS", "10"))
    if cur_all > 1:
        try:
            from curation_probe import run as curation_run

            result[f"curation{cur_all}x_alllegs"] = curation_run(
                spark, cur_all, paragraph=True, decon=True, span=True
            )
            print(
                f"# curation{cur_all}x_alllegs: "
                f"{result[f'curation{cur_all}x_alllegs']}",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001
            result[f"curation{cur_all}x_alllegs_error"] = str(exc)[:200]

    # ALL-legs curation at 100× against the pruned layout (r11, VERDICT
    # item 5): every reject leg active at the SAME corpus scale as the
    # steady-state 100 TB configuration — hold its drain against the
    # legless curation100x_pruned row (expect ≤ ~1.2×: the added legs
    # are batch-sized probes of fixed-width indexes, never corpus
    # rescans).
    cur100a = int(os.environ.get("SPARK_GRAFT_BENCH_CURATION_100X_ALLLEGS", "100"))
    if cur100a > 1:
        try:
            from curation_probe import run as curation_run

            result[f"curation{cur100a}x_alllegs"] = curation_run(
                spark, cur100a, prune_cap=8, paragraph=True, decon=True,
                span=True,
            )
            print(
                f"# curation{cur100a}x_alllegs: "
                f"{result[f'curation{cur100a}x_alllegs']}",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001
            result[f"curation{cur100a}x_alllegs_error"] = str(exc)[:200]

    # Paragraph leg at 100× against the pruned layout (r9: the 10× row
    # above proves the leg fires; this one measures the sub-document
    # screen's index-probe cost at the SAME corpus scale as the
    # dedup/DSIR legs — hold its drain against curation100x_pruned's).
    cur100p = int(os.environ.get("SPARK_GRAFT_BENCH_CURATION_100X_PARA", "100"))
    if cur100p > 1:
        try:
            from curation_probe import run as curation_run

            result[f"curation{cur100p}x_pruned_paragraph"] = curation_run(
                spark, cur100p, prune_cap=8, paragraph=True
            )
            print(
                f"# curation{cur100p}x_pruned_paragraph: "
                f"{result[f'curation{cur100p}x_pruned_paragraph']}",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001
            result[f"curation{cur100p}x_pruned_paragraph_error"] = str(exc)[:200]

    # Soft floor over the standing guard sections (each key only fires
    # when its section actually ran this invocation).
    def _section_floors(floors: dict, tag: str) -> dict:
        reg: dict[str, dict[str, float]] = {}
        for (sec, field), floor in floors.items():
            section = result.get(sec)
            now = section.get(field) if isinstance(section, dict) else None
            if isinstance(now, (int, float)) and now > 1.5 * floor:
                reg[f"{sec}.{field}"] = {"now": now, tag: floor}
                print(
                    f"# REGRESSION {sec}.{field}: {now:.3f}s vs {tag} "
                    f"{floor:.3f}s ({now / floor:.2f}x)",
                    file=sys.stderr,
                )
        return reg

    result["regressions_vs_r9_sections"] = _section_floors(
        R9_SECTION_FLOOR, "r9"
    )
    result["regressions_vs_r10_sections"] = _section_floors(
        R10_SECTION_FLOOR, "r10"
    )
    result["regressions_vs_r11_sections"] = _section_floors(
        R11_SECTION_FLOOR, "r11"
    )
    result["regressions_vs_r12_sections"] = _section_floors(
        R12_SECTION_FLOOR, "r12"
    )
    result["regressions_vs_r13_sections"] = _section_floors(
        R13_SECTION_FLOOR, "r13"
    )

    print(json.dumps(result))


if __name__ == "__main__":
    main()
