"""Driver gate window: which catalog entries the driver verifies.

The driver verifies exactly the first ``GATE_WINDOW`` entries of
``queries()`` each round. ``GATE_FIRST`` pins that head; ``rotate`` puts
it in front of a catalog mapping and keeps every other entry in
registration order.
"""

from __future__ import annotations

GATE_WINDOW = 50

# Gate-window rotation: the driver verifies exactly the FIRST 50 entries
# of queries() each round. Rotation policy (formalized round 6, VERDICT
# r5 items 1-2):
#   1. every query that has NEVER had a driver CORRECTNESS row leads;
#   2. then every query whose code, oracle, or CALLED OPERATOR changed
#      this round;
#   3. shared-helper-churn rule: any round that touches qcommon.py,
#      functions/scalar.py, or tools/check.py must also seat one
#      sentinel query per table type — events / lineitem / documents /
#      embeddings — even if no query changed;
#   4. remaining slots go to the queries with the OLDEST banked row.
#
# ROUND-19 HEAD: proof debt enters at 0/148; last-green histogram
# entering: r15×19, r16×33, r17×46, r18×50. Rule 1 seats nothing (no
# query lacks a driver row). Rule 2 seats nothing: this round moved the
# catalog into one registry (catalog.py) and the gate into this module,
# and the unchanged QUERIES/ORACLE hashes and `tools/explain.py
# --summary` plans show that no query changed. Rule 3 applies
# (tools/check.py changed) and the head already covers it: events
# (enrich_events, spatial_join), lineitem (pricing_summary), documents
# (lang_id), embeddings (cosine_topk).
# (1) the carried seats: plans changed in 0ab62c4, not yet re-verified
#     by the driver;
# (2) rule 4: the rest of the r15 bank, then the r16 bank alphabetically
#     until the window fills (cosine_topk..weighted_sample);
#     zone_skipping, zorder_skipping and zscore_outliers roll to r20.
GATE_FIRST = [
    # (1) carried seats (3):
    "equidepth_histogram", "approx_quality_bins", "top_p_select",
    # (2) the r15 bank, retired in full (18 more rows):
    "enrich_events", "eval_overlap", "exact_substring_dup",
    "expectations_report", "fact_fact_join", "fact_reconciliation",
    "fuzzy_blocked_join", "heavy_hitters", "high_water_mark",
    "incremental_join_view", "lang_id", "length_batching",
    "ngram_containment", "ngram_jaccard", "pack_sequences",
    "spatial_join", "token_stats", "winnow_fingerprint",
    # the r16 bank alphabetically through weighted_sample (29 rows):
    "cosine_topk", "embedding_near_dup", "exact_dedup",
    "histogram_drift", "in_list_case_sort", "incremental_agg",
    "inverted_index", "join_explosion", "k_anonymity", "max_per_group",
    "merge_anti_join", "mp4_probe", "pagerank_tokens",
    "pareto_frontier", "pii_redact", "pivot_status", "pricing_summary",
    "range_join", "ranking_suite", "region_rollup", "rollup_agg",
    "severity_buckets", "simhash", "snapshot_diff", "split_assignment",
    "stats_per_decade", "union_dedup", "upsert_merge",
    "weighted_sample",
]

assert len(GATE_FIRST) == GATE_WINDOW, len(GATE_FIRST)


def rotate(d: dict) -> dict:
    head = {k: d[k] for k in GATE_FIRST if k in d}
    head.update((k, v) for k, v in d.items() if k not in head)
    return head
