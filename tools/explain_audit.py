"""Plan audit: dump physical plans for the headline queries and check
the scale-critical properties (predicate pushdown, column pruning,
broadcast joins, partial aggregation, codegen). Writes EXPLAINS.md —
committed evidence that the plans are the ones you'd want at 100 TB.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

from map_reduce_framework_using_python_spark.plans import REGISTRY  # noqa: E402
from map_reduce_framework_using_python_spark.session import get_spark  # noqa: E402

AUDIT = (
    "q01_pricing_summary",
    "q02_filter_project",
    "q06_forecast_revenue",
    "q05_local_supplier",
    "q03_shipping_priority",
    "q_join_broadcast",
    "q_join_asof",
    "q_topk_per_group",
    "ns_dedup_exact",
    "ns_cosine_topk",
    "ns_lsh_topk_indexed",
    "ns_ivf_topk_indexed",
    "q05_local_supplier_smj",
    "q05_local_supplier_bucketed",
    "q18_large_orders_bucketed",
    "q08_market_share",
    "ns_seeded_shuffle",
    "q_funnel",
    "q_retention",
    "ns_decontaminate",
    "ns_chunk_documents",
    "ns_tfidf",
    "q_sql_lateral_topk",
    "q_incremental_agg",
    "q_time_weighted_avg",
    "q_join_asof_forward",
    "ns_word_cooccurrence",
    "ns_event_transitions",
    "ns_corpus_build",
    "q_variant_extract",
    # round 3
    "q_window_ntile",
    "q_equidepth_histogram",
    "q_funnel_latency",
    "q_skew_salted",
    "q_join_range_bigbig",
    "ns_repetition_signals",
    "q_session_dynamic_gap",
    # round 3, second half: analytics batch
    "q_triangle_count",
    "q_attribution_last_touch",
    "q_assoc_rules",
    "q_mad_outliers",
    "q_rolling_ewma",
    "q_fuzzy_match",
    "ns_bm25_topk",
    "ns_span_dedup",
    "ns_pagerank_events",
    "q_dpp_partitioned",
    "q_profile_stats",
    "q_data_quality",
    "q_spearman",
    "ns_pps_sample",
    "q_wau_rolling",
    # round 4: quantization (map-only), bigram LM (vocab-bounded),
    # containment (digest shuffle + broadcast), Gini (per-source
    # windows), nearest as-of (single Exchange for both passes)
    "ns_int8_quantize",
    "ns_bigram_lm_score",
    "ns_shingle_containment",
    "ns_source_gini",
    "q_join_asof_nearest",
    "ns_weighted_sample",
    "q_scd2_point_in_time",
    # round 5: the costliest headline query (banded LSH self-join) and
    # its k-means-bucketed semantic twin finally get plan evidence; the
    # bigram-LM broadcast twin documents the small-model alternative to
    # the registered shuffle-hash default
    "ns_minhash_lsh_pairs",
    "ns_semdedup_pairs",
    "ns_bigram_lm_score_broadcast",
    # round 5: incremental ingest-vs-index dedup — the probe join must
    # broadcast the batch side (corpus bucket scan shuffle-free) — and
    # the feature-hashing embedder (one doc-keyed exchange, no model)
    "ns_incremental_dedup",
    "ns_hash_embed",
    "ns_token_entropy",
    "ns_source_overlap",
    # round 5, part 7: DSIR (256-row broadcast model, one doc-keyed
    # exchange) and the CCNet terciles (per-lang window over the
    # shuffle-join LM — the documented exact-parity form)
    "ns_dsir_weights",
    "ns_ccnet_buckets_scaled",
    "ns_dsir_resample",
    "ns_temperature_mixture",
    "ns_corpus_drift",
    # round 5, closing: batched multi-query ANN probe — the corpus must
    # scan once, equi-join the broadcast exploded Hamming-ball probe
    # table on bucket, and top-k via partial WindowGroupLimit before
    # the single q_id exchange
    "ns_ann_probe_batch",
    # round 6: paragraph dedup (digest-only decision flow; the apply
    # form pays exactly one doc_id exchange of text to rebuild output)
    # and the realized CCNet cut over the histogram-threshold assignment
    "ns_paragraph_dedup",
    "ns_paragraph_dedup_apply",
    "ns_ccnet_sample",
    "ns_ivf_probe_batch",
    # round 7: epoch-plan realization — one broadcast of the
    # ≤|sources|-row plan, map-side explode, no corpus shuffle
    "ns_epoch_realize",
    # round 7: paragraph ingest screen — index scan semi-pruned by the
    # broadcast batch digest set; one batch-sized window exchange
    "ns_paragraph_screen",
    # round 7: shard packing — bucketed global cumsum (NO unpartitioned
    # window) over the realized epoch stream
    "ns_epoch_shards",
    # round 9: the end-to-end training capstone — the heaviest headline
    # query; the plan must show the curated token table cached once
    # (InMemoryTableScan), all corpus FileScans inside that subtree,
    # and no corpus-sized exchange past the screen stage
    "ns_training_capstone",
    # round 9: semantic decontamination — benchmark side must be a
    # BroadcastExchange (never plan literals, never a cartesian), and
    # the only shuffle is the one narrow per-vector max row
    "ns_semantic_decontaminate",
    # round 9: intra-doc paragraph trim — digests-only (doc_id, h) agg
    # plus the one doc_id text join-back; NO window (the corpus-wide
    # apply's frequency window is replaced by min(g) in the agg)
    "ns_paragraph_trim",
    # round 9: document-text decon — two embed aggs (one per slice),
    # benchmark side broadcast, the shared partial-max tail
    "ns_doc_decontaminate",
    # round 9: ties-inclusive top-k — rank-mode WindowGroupLimit must
    # appear (partial+final), same pushdown as the row_number form
    "q_topk_with_ties",
    # round 10: variable-length ExactSubstr — one corpus scan, two
    # digest/doc exchanges, final group-by reuses the doc partitioning
    "ns_exact_substring_spans",
    # round 10: its keep-one rewrite — digests decide, ONE doc_id text
    # join-back, map-side array-filter rebuild (2 corpus scans total)
    "ns_exact_substring_apply",
    # round 10: the ingest screen — index scan semi-pruned by the
    # broadcast batch digest set; one batch-sized digest window
    "ns_span_screen",
    # round 10: tokenizer apply — vocabulary-bounded UDF, vocab-keyed
    # shuffle-hash join, ONE doc_id assembly exchange (no window)
    "ns_bpe_encode",
    # round 10: k-means-routed decon — map-side centroid routing off a
    # broadcast one-row struct-array (the KMeans fit runs at plan build,
    # a bounded model action), broadcast candidate ball, one narrow
    # per-vector max exchange like the exact form
    "ns_semantic_decontaminate_kmeans",
    # round 11: composed IVF-PQ — the codes scan must plan with
    # PartitionFilters on centroid_id (probed cells only), the ADC fold
    # over ONE broadcast table row, a TakeOrdered shortlist, and a
    # broadcast join-back for the exact rerank (both fits run at plan
    # build, bounded model actions)
    "ns_ivfpq_topk",
    "ns_ivfpq_filtered_lloyd",
    "ns_ann_delete_probe",
    "ns_paragraph_retract_screen",
    "ns_semdedup_sdc",
    # round 14: the hier-LLOYD SDC lane under the hash gate — the plan
    # must show map-side routing through both frozen levels (no
    # shuffle before the within-cell pair join), the broadcast SDC
    # table, and the grid-screened candidate filter ahead of the
    # exact-verify joins; the flat-PQ lloyd probe must keep the
    # TakeOrdered shortlist + broadcast rerank join-back shape
    "ns_semdedup_sdc_hier_lloyd",
    "ns_pq_topk_lloyd",
    # round 12: DataFrame lateral join — Catalyst must rewrite the
    # per-row ORDER BY/LIMIT into partial+final WindowGroupLimit with
    # the filtered driving side broadcast (verified: BroadcastHashJoin
    # BuildLeft + two WindowGroupLimit around one Exchange), and the
    # acctbal predicate must reach the customer scan as PushedFilters
    "q_lateral_join_api",
    # round 12: session-variable threshold — the plan must carry the
    # RESOLVED literal (pushdown sees 150000.0, not a variable ref)
    "q_sql_variables",
    # round 12: hybrid RRF — each leg a TakeOrdered top-50, bounded
    # 50-row rank windows, tiny full outer fusion; the posting scan's
    # term filter and the broadcast of df/corpus must survive
    "ns_hybrid_rrf",
    # round 12: the fourth join strategy — ShuffledHashJoin, no sorts
    "q_join_shuffle_hash",
)


#: Queries ALLOWED to plan a partitionless Window (the `WindowExec: No
#: Partition Defined` warning — a single-partition sort, which at 100 TB
#: is a scale bug UNLESS the windowed frame is bounded by construction).
#: Each entry documents the bound; the audit marks these EXEMPT and
#: flags any other audited query that grows one (r13, VERDICT r12
#: "what's wrong" item 2 — the warning kept reading as a scale bug in
#: audits because the bounded-frame justification lived nowhere).
PARTITIONLESS_WINDOW_OK: dict[str, str] = {
    # Each RRF leg is TakeOrderedAndProject top-50 BEFORE the global
    # rank window — the windowed frame is ≤ 50 rows per leg by
    # construction, never corpus-sized (plans/pipeline4.py:472).
    "ns_hybrid_rrf": "rank windows over per-leg top-50 frames (≤50 rows each)",
}


def _partitionless_windows(plan: str) -> int:
    """Count windowspecdefinition()s whose FIRST argument is an ORDER
    expression (``col ASC/DESC ...``) — i.e. no partition columns
    precede the ordering. Global row_number/rank shapes print this way;
    partitioned specs lead with bare partition columns."""
    n = 0
    for args in re.findall(r"windowspecdefinition\(([^()]*)", plan):
        first = args.split(",")[0].strip()
        if re.search(r"\s(ASC|DESC)\b", first):
            n += 1
    return n


def audit(name: str, spark, sf_dir: str) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    formatted = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    tree = formatted.split("\n\n")[0]
    full = qe.executedPlan().toString()
    checks = []
    # Expression ids (``col#8209``) depend on how many plans the session
    # analysed before, not on the plan: strip them from the check
    # captures so a re-audit rewrites only lines whose plan changed.
    no_ids = re.sub(r"#\d+", "", formatted)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", no_ids)
    if any(p.strip() for p in pushed):
        checks.append(f"- predicate pushdown: `{[p for p in pushed if p.strip()][0][:90]}`")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", formatted)
    if schemas:
        ncols = len(schemas[0].split(","))
        checks.append(f"- column pruning: scan reads {ncols} column(s)")
    n_bhj = full.count("BroadcastHashJoin")
    n_smj = full.count("SortMergeJoin")
    if n_bhj or n_smj:
        checks.append(f"- joins: {n_bhj} broadcast-hash, {n_smj} sort-merge")
    part_filters = re.findall(r"PartitionFilters: \[([^\]]+)\]", no_ids)
    # "Real" pruning = at least one per-entry predicate that is not a
    # bare isnotnull(col) (r7 tools review: the old whole-capture
    # equality never matched real filter text, so the guard was dead).
    real_pf = [
        p
        for p in part_filters
        if any(
            e.strip() and not re.fullmatch(r"isnotnull\([^)]*\)", e.strip())
            for e in p.split(",")
        )
    ]
    if real_pf:
        checks.append(f"- partition pruning: `PartitionFilters: [{real_pf[0][:90]}]`")
    # Count only SHUFFLE exchanges: "Exchange" also substring-matches
    # BroadcastExchange/ReusedExchange, which inflated the committed
    # shuffle evidence for every broadcast join (r7 tools review).
    # DISTINCT node ids: the formatted tree re-prints a cached
    # InMemoryRelation subtree at every InMemoryTableScan read, so a
    # raw match count would bill the cached subtree's exchanges once
    # per consumer (r9: surfaced by the capstone's 6-reader cache).
    n_exchange = len(set(re.findall(r"(?<![A-Za-z])Exchange \((\d+)\)", tree)))
    checks.append(f"- shuffles (distinct shuffle Exchange nodes): {n_exchange}")
    n_imts = len(set(re.findall(r"InMemoryTableScan \((\d+)\)", tree)))
    if n_imts:
        n_scans = len(set(re.findall(r"Scan parquet\s+\((\d+)\)", tree)))
        checks.append(
            f"- cache reuse: {n_imts} distinct InMemoryTableScan read(s), "
            f"{n_scans} distinct parquet FileScan(s)"
        )
    if "HashAggregate" in full:
        checks.append("- partial+final hash aggregation (map-side combine)")
    if "TakeOrderedAndProject" in full:
        checks.append("- top-k via TakeOrderedAndProject (no global sort)")
    if "WholeStageCodegen" in full:
        checks.append("- whole-stage codegen active")
    n_pw = _partitionless_windows(full)
    if n_pw:
        why = PARTITIONLESS_WINDOW_OK.get(name)
        if why:
            checks.append(
                f"- partitionless window: {n_pw} node(s) — EXEMPT ({why})"
            )
        else:
            checks.append(
                f"- WARNING: {n_pw} partitionless Window node(s) — a"
                " single-partition sort at scale; add to"
                " PARTITIONLESS_WINDOW_OK only with a bounded-row"
                " justification"
            )
    return f"## {name}\n\n" + "\n".join(checks) + "\n\n```\n" + tree + "\n```\n"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="explain_audit")
    sections = [audit(n, spark, sf_dir) for n in AUDIT]
    doc = (
        "# Plan audit (generated by tools/explain_audit.py)\n\n"
        f"Physical plans at `{sf_dir}`, with the scale-critical properties\n"
        "extracted per query. Regenerate after plan-affecting changes.\n\n"
        + "\n".join(sections)
    )
    with open("/root/repo/EXPLAINS.md", "w") as fh:
        fh.write(doc)
    print(f"wrote EXPLAINS.md ({len(doc)} bytes, {len(AUDIT)} queries)")


if __name__ == "__main__":
    main()
