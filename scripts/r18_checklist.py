#!/usr/bin/env python
"""Emit the OPTIMIZATION_r18.md checklist table: one row per declared
query with its r18 disposition, this round's bench median, and the r16
recording (the last healthy-window 32-core prior) for context.

Statuses: CHANGED (optimized this round, evidence in OPTIMIZATION_r18),
CLEAN (examined this round, left alone deliberately — reason inline),
CARRIED (prior-round measured optimum re-verified via plan shape /
PLANS.md; bench time at the per-query overhead floor).
"""
from __future__ import annotations

import json
import os

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHANGED = {
    "ann_recall": "r18: pinned one-pass base (12→0 scans) + ONE shared ranking window for the 3 faces (§2) + training reads the pinned assignment (§3); plans/r18 7→2 exchanges",
    "simhash_clusters": "r18: one setup pipeline — groups/rep_sig projected from pinned band_rows, lazy sigs (§1); A/B 0.87×",
    "simhash_near_dup": "r18: first-agreeing-band emission, output-sized distinct removed (earlier r18 session); A/B 0.91×",
    "minhash_lsh": "r18: first-agreeing-band emission in the uncapped pair pipeline (§4); A/B 0.90×, plan 4→3 exchanges",
    "dedup_clusters": "r18: rides the §4 pipeline win; CC loop traced — 2 rounds, already minimal (jump prototype rejected)",
    "dedup_canonical": "r18: rides the §4 pipeline win (A/B 0.88×); anti-join tail carried",
    "source_overlap": "r18: rides the §4 pipeline win; attach joins examined — scalable shape, left alone",
    "minhash_lsh_incremental": "r18: normalized index layout (§5, VERDICT item 7) — measured sf10 spot-check; honest ~1.25× at sf0.1",
    "minhash_lsh_maintained": "r18: normalized layout + lockstep hsets maintenance (§5); same trade",
    "ann_topk_maintained": "r18: one pinned corpus pass for both indexes + shared probe window (§6); flat sf0.1, scans/norms halved",
    "segment_dedup_maintained": "r18: lazy frozen-pairs pin (§7b, A/B 0.91×) on top of the r17 state pinning",
}

CLEAN = {
    "join_trace": "examined §7a: 13 action jobs are distinct required exchanges; adaptive-width bucketed interval SMJ is the measured at-scale join (SCALE.md r9)",
    "ngram_jaccard": "examined §7a: 2 shuffles, single tokenize pass, irreducible pair-keyed count aggregate",
    "bloom_filter": "examined §7a: checkpoint variant measured slower (2.07 vs 1.75 s); two pruned 8-byte scans kept",
    "image_features": "examined §7a: 2 action jobs; time is the real PNG decode in one Arrow mapInPandas stage",
    "ann_topk": "examined: both exact faces already single-pipeline; pandas face capped driver transfer; window per face is the library brute_force_topk — shared-window not applicable across differing schemas",
}

# CARRIED one-liners, keyed by PLANS.md shape or the round that measured
# the current form.  Everything not in CHANGED/CLEAN gets its entry here;
# queries sharing a family share the rationale.
CARRIED_FAMILIES = [
    (
        {"latest_by_key", "one_to_many_snapshot", "car_moves", "arrive_leave",
         "zone_occupancy", "incremental_snapshot", "zone_history",
         "zone_pollution_full", "asof_prior_purchase"},
        "reference-core operator: broadcast 1-side, single window/shuffle shape (PLANS.md row; r0x-optimized, no repeated subtree)",
    ),
    (
        {"orders_with_customer", "fanout_per_customer", "pricing_summary",
         "top_revenue_orders", "nation_revenue", "top_orders_per_customer",
         "returnflag_grouping", "customers_with_orders", "avg_order_by_segment",
         "customer_order_totals", "orders_by_month", "promo_q19_revenue",
         "brand_price_rank", "max_order_per_customer", "big_orders",
         "segment_order_matrix", "quality_score_udf", "late_shipment_priority",
         "order_gap_days", "volume_shipping", "linestatus_priority",
         "wealthy_low_activity", "pareto_customers", "customer_distribution",
         "top_supplier_revenue", "monthly_orders_growth", "cube_returnflag",
         "segment_priority_matrix", "customer_order_presence",
         "grouping_sets_segments", "union_filter"},
        "relational surface: 0-2 exchanges, broadcast dims, decimal money sums (PLANS.md row); at the per-query overhead floor (<1 s)",
    ),
    (
        {"events_hourly", "sessionization", "props_extract", "props_map_entries",
         "props_surface", "event_type_stats", "rolling_avg_value",
         "daily_click_purchase", "click_purchase_funnel",
         "click_purchase_segments", "curation_funnel", "customer_features",
         "hll_distinct", "quantile_sketch", "cms_token_counts"},
        "events/sketch surface: single-agg or SMJ-required full-outer shapes recorded in PLANS.md; sub-second floor",
    ),
    (
        {"dedup_exact", "doc_fingerprint", "winnowing", "text_stats", "lang_id",
         "simhash", "top_tokens", "doc_length_histogram", "shingle_novelty",
         "vocab_growth", "token_count_modes", "top_token_zipf",
         "unigram_logprob", "doc_repetition", "doc_profile", "corpus_stats",
         "gopher_quality", "quality_classifier", "pii_redaction",
         "bigram_pmi", "tfidf_top_terms", "posting_lists", "segment_dedup",
         "contamination_check", "split_leakage", "shard_assignment",
         "mixture_weights", "sequence_pack", "sequence_pack_text",
         "token_chunks", "bpe_merge_step", "stratified_sample",
         "weighted_sample", "sample_splits", "deterministic_sample",
         "train_val_split", "source_percentiles"},
        "text/curation pipeline: lazily-pinned single tokenize pass where diamonds exist (r17 audit), measured checkpoint-vs-diamond decisions recorded in docstrings; sub-second floor",
    ),
    (
        {"ann_topk_lsh", "ann_topk_ivf", "ann_topk_pandas", "kmeans_step",
         "embedding_near_dup", "embedding_normalize", "embedding_stats",
         "label_centroids"},
        "ANN/embedding surface: one-evaluation argmax plans (ivf_cell fold), broadcast query sides, materialized-dots fixes from r8-r11 (PLANS.md row)",
    ),
    (
        {"audio_features", "frame_sample", "asset_metadata"},
        "multimodal: Arrow mapInPandas decode stages, iterator form, pruned columns (guide §4 shape, r15 audit)",
    ),
]


def main() -> None:
    with open(os.path.join(HERE, "BENCH_FULL.json")) as f:
        now = json.load(f)["queries"]
    with open(os.path.join(HERE, "history", "BENCH_FULL_r16.json")) as f:
        r16 = json.load(f)["queries"]
    carried = {}
    for names, why in CARRIED_FAMILIES:
        for n in names:
            carried[n] = why
    rows = []
    for name in sorted(now, key=lambda n: -now[n]):
        if name in CHANGED:
            st, why = "CHANGED", CHANGED[name]
        elif name in CLEAN:
            st, why = "CLEAN", CLEAN[name]
        elif name in carried:
            st, why = "CARRIED", carried[name]
        else:
            st, why = "UNCLASSIFIED", "!!"
        rows.append(
            f"| `{name}` | {now[name]:.2f} | {r16.get(name, float('nan')):.2f} "
            f"| {st} | {why} |"
        )
    print("| query | r18 s | r16 s | status | evidence / reason |")
    print("|---|---|---|---|---|")
    print("\n".join(rows))
    missing = [n for n in now if n not in CHANGED and n not in CLEAN and n not in carried]
    if missing:
        print("\nUNCLASSIFIED:", missing)


if __name__ == "__main__":
    main()
