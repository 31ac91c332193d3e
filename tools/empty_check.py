"""Empty-input robustness axis (round-10): the full catalog swept
against ZERO-ROW tables with the production schemas.

Production pipelines hit empty inputs constantly — an incremental run
with no new data, a filter that eliminates a partition, a cold-start
table — and the failure modes are specific: driver-side
``.collect()``-fed constants become empty literal lists (``F.array()``
/ ``F.create_map()`` with zero args type as VOID and crash at plan
time), and aggregate outputs diverge between engines (a SQL ROLLUP
emits its grand-total row over the empty set; Spark emits nothing).

This harness generates a zero-row parquet mirror of the sf0.001
schemas, runs every catalog query against it, compares to the DuckDB
oracle, and judges the result against a pinned expectation table:

- queries in ``KNOWN_EMPTY_DIVERGENCES`` must fail with the RECORDED
  class (a divergence silently becoming a pass means the operator
  changed — re-audit it);
- every other query must MATCH the oracle on empty input.

Exit 0 = the empty axis is exactly as documented; any drift names the
query. Run: ``python tools/empty_check.py``.
"""

from __future__ import annotations

import os

from check import TABLES, oracle, sweep

_EMPTY_DIR = "/tmp/edps-empty-sf"
_SCHEMA_SRC = "/root/testdata/sf0.001"

# The documented empty-input findings (DESIGN.md, round-10 audit;
# round 11 fixed the four crash-on-empty rows — assign_clusters and
# q_approx_stats now build typed null literals instead of zero-arg
# array()/create_map() VOID literals, so those queries match the
# oracle's empty result and any regression shows up as NEW drift).
# class "divergence": engines disagree on empty-input semantics or the
# oracle SQL synthesizes rows the operator correctly does not.
KNOWN_EMPTY_DIVERGENCES: dict[str, str] = {
    "kcenter_select": "divergence",  # oracle synthesizes k seed rows
    "rollup_agg": "divergence",  # SQL grand-total row over empty set
    "cube_agg": "divergence",  # same super-aggregate semantics
    "expectations_report": "divergence",  # spark coalesces 0/True; SQL nulls
    "bloom_prune": "divergence",  # null boolean vs NaN dtype on empty
}


def make_empty_mirror() -> str:
    import pyarrow.parquet as pq

    os.makedirs(_EMPTY_DIR, exist_ok=True)
    for t in TABLES:
        src = os.path.join(_SCHEMA_SRC, f"{t}.parquet")
        dst = os.path.join(_EMPTY_DIR, f"{t}.parquet")
        schema = pq.read_schema(src)
        pq.write_table(schema.empty_table(), dst)
    return _EMPTY_DIR


def main() -> int:
    from earthquake_data_pipeline_spark.session import get_spark

    sf_dir = make_empty_mirror()
    spark = get_spark(app_name="edps-empty-check", cpus=8, shuffle_partitions=8)
    n_ok, drift = sweep(spark, oracle(sf_dir), sf_dir,
                        expected=KNOWN_EMPTY_DIVERGENCES)
    print(f"\n{n_ok}/{n_ok + len(drift)} as documented")
    for d in drift:
        print("DRIFT:", d)
    return 1 if drift else 0


if __name__ == "__main__":
    raise SystemExit(main())
