"""NaN-bearing mirror sweep — thirteenth hostile axis (round 13).

Every gate scale is NaN-free, so the catalog's behavior on NaN input
has only ever been reasoned about, never swept. Engine NaN semantics
differ in DOCUMENTED ways — Spark and DuckDB both order NaN after
+inf and group NaNs as one key, but they part ways at the decimal
boundary: ``CAST(NaN AS DECIMAL)`` is silently NULL in Spark EVEN
UNDER ANSI (the probe-pinned fact in test_functions.py — the session
default here is ANSI on) while DuckDB raises — and a silently-nulled
addend DISAPPEARS from a sum. A 100 TB lake
carries NaN in measurement columns as a fact of life; what must never
happen is a SILENT number shift. The axis therefore classifies every
catalog query against a NaN-bearing mirror of sf0.001 into:

- ``match``      — both engines produce identical results (NaN-safe);
- ``loud_both``  — both engines refuse (fail-loud is a CONTRACT here:
                   NaN must be filtered at ingest for these queries,
                   and the error says so — this is documented-safe);
- a FINDING      — anything asymmetric: Spark errors where DuckDB
                   answers (``spark_error``), DuckDB errors where Spark
                   answers (``oracle_error``), or both answer and the
                   values differ (``divergence``, the silent-wrong
                   class this axis exists to catch).

Mirror mutations (deterministic, no RNG):

- ``events.value``: every 20th row by event_id becomes NaN; offset
  10 becomes -0.0 (the sign-zero grouping/ordering twin — Spark
  normalizes -0.0 in group keys, DuckDB compares equal; both must
  land in the same group with the same aggregate); offsets 5 and 15
  become +Inf / -Inf (r13 extension: CAST(Inf AS DECIMAL) is ALSO
  silently NULL in Spark — isnan(Inf) is false, hence
  qcommon.nonfinite_flag, and floor(Inf) SATURATES to Long.MAX —
  test-pinned in test_functions.py).
- ``embeddings.embedding``: rows with vec_id % 31 == 0 get one NaN
  component (index vec_id % dim); rows with vec_id % 37 == 0 get one
  +Inf component — the similarity/ANN/clustering family's
  poisoned-vector cases.

Expectation table: ``KNOWN_NAN_BEHAVIOR`` maps ``query`` →
``loud_both`` (with the reason documented inline). Anything not
matching its entry (or ``match`` when it has none) is a finding —
including an entry that now matches (stale).

Usage: python tools/nan_mirror_check.py [query ...]
"""

from __future__ import annotations

import math
import os
import sys

from check import TABLES, oracle, sweep

_MIRROR = "/tmp/edps-nan-sf"
_SRC = "/root/testdata/sf0.001"

# query -> expected non-match outcome, filled by the r13 triage.
# Values are tools/check.py outcome kinds: "loud_both",
# "spark_error"/"oracle_error", "divergence". Policy:
#   - "loud_both" entries are DOCUMENTED-SAFE (both engines refuse;
#     the contract says filter NaN at ingest for these).
#   - the one-sided and "divergence" entries are PENDING FIXES, each
#     pre-committed to land with its host's gate seat (r14) using the
#     r13 pattern: NaN POISONS a decimal-accumulated sum/avg exactly
#     like the native float aggregate (qcommon.nonfinite_flag +
#     bool_or(isnan(..)) in the oracle); non-double outputs go NULL;
#     non-finite vectors are EXCLUDED from similarity candidates
#     (embedding_near_dup_pairs_lsh precedent).
# Queries fixed in r13 (sessionization, json_extract, label_centroids,
# range_frame, robust_scaling, trimmed_mean, embedding_near_dup_lsh)
# carry no entry: they must MATCH.
KNOWN_NAN_BEHAVIOR: dict[str, str] = {
    # documented-safe: both engines fail loud at the cents/centroid
    # boundary; NaN is contract-invalid for these inputs
    "kcenter_select": "loud_both",
    "zscore_outliers": "loud_both",
    # Every other first-sweep flag was FIXED mid-r13 and must MATCH:
    # decimal-sum poison (stream_window_counts, stream_running_totals,
    # incremental_agg), rank/OLS/ntile poison (mad_outliers,
    # rfm_segments, trend_fit), NULL drift bin / NULL curve block
    # (histogram_drift, zorder_layout), and the finite_vectors
    # exclusion family (cosine_topk, ann_lsh, ann_ivf, kmeans_clusters,
    # cluster_purity, semdedup_prune).
    # cluster_purity / kmeans_clusters / semdedup_prune and cosine_topk
    # / ann_lsh / ann_ivf: FIXED mid-r13 (finite_vectors exclusion, the
    # embedding_near_dup_pairs_lsh pattern generalized family-wide) —
    # they now carry no entry and must MATCH.
}


def make_mirror() -> str:
    # pure pyarrow column rebuilds — NOT Table.from_pandas, whose
    # pandas missing-value semantics silently turn every injected NaN
    # into a NULL (the first sweep of this axis tested nulls by
    # accident; that accident found the robust_scale/trimmed_mean
    # null-rank divergence, but the designed NaN question needs REAL
    # NaN bits in the parquet)
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(_MIRROR, exist_ok=True)
    for t in TABLES:
        tbl = pq.read_table(os.path.join(_SRC, f"{t}.parquet"))
        if t == "events":
            ids = tbl["event_id"].to_pylist()
            vals = tbl["value"].to_pylist()  # None for genuine NULLs
            for i, eid in enumerate(ids):
                if eid % 20 == 0:
                    vals[i] = math.nan
                elif eid % 20 == 10:
                    vals[i] = -0.0
                elif eid % 20 == 5:
                    vals[i] = math.inf
                elif eid % 20 == 15:
                    vals[i] = -math.inf
            col = pa.array(vals, type=pa.float64())
            assert col.null_count == sum(
                1 for i, v in enumerate(vals)
                if v is None
            ), "NaN must stay NaN, not become NULL"
            tbl = tbl.set_column(
                tbl.schema.get_field_index("value"), "value", col
            )
        elif t == "embeddings":
            ids = tbl["vec_id"].to_pylist()
            emb = tbl["embedding"].to_pylist()
            for i, vid in enumerate(ids):
                if vid % 31 == 0 and emb[i]:
                    v = list(emb[i])
                    v[int(vid) % len(v)] = math.nan
                    emb[i] = v
                if vid % 37 == 0 and emb[i]:
                    v = list(emb[i])
                    v[int(vid) % len(v)] = math.inf
                    emb[i] = v
            col = pa.array(emb, type=tbl.schema.field("embedding").type)
            tbl = tbl.set_column(
                tbl.schema.get_field_index("embedding"), "embedding", col
            )
        pq.write_table(tbl, os.path.join(_MIRROR, f"{t}.parquet"))
    return _MIRROR


def main() -> int:
    from earthquake_data_pipeline_spark.session import get_spark

    sf_dir = make_mirror()
    spark = get_spark(app_name="edps-nan-sweep", cpus=8,
                      shuffle_partitions=8)
    n_ok, findings = sweep(spark, oracle(sf_dir), sf_dir, sys.argv[1:],
                           expected=KNOWN_NAN_BEHAVIOR)
    print(f"\n{n_ok}/{n_ok + len(findings)} as documented", *findings, sep="\n")
    return 1 if findings else 0


if __name__ == "__main__":
    raise SystemExit(main())
