"""Shuffle-partition-count invariance axis (tenth adversarial axis,
round 12).

`spark.sql.shuffle.partitions` is the deployment knob every cluster
sets differently (32 here, 2000+ on a real 100 TB cluster, AQE coalesce
on top) — results must be BIT-IDENTICAL at any setting. What breaks
engines here: order-dependent float accumulation (different partition
counts → different merge order), first()/head-of-partition picks,
partition-index-dependent logic (spark_partition_id, monotonically
increasing ids leaking into output), and hidden assumptions that a
frame fits one partition.

This axis runs the FULL catalog against the DuckDB oracles twice — at
shuffle.partitions=3 (fewer partitions than keys almost everywhere:
maximal per-partition merging) and 257 (prime, more partitions than
most frames have rows: maximal fragmentation, empty partitions
everywhere) — on sf0.001. The repo's decimal-accumulation discipline
should make every float path order-free; the expectation table is
EMPTY by design, and a new entry is a FINDING.

Usage: python tools/partition_sweep_check.py [n_partitions ...]
"""

from __future__ import annotations

import sys

from check import oracle, sweep

_SRC = "/root/testdata/sf0.001"

# Documented divergences per partition setting. Empty by design.
KNOWN_PARTITION_DIVERGENCES: dict[str, str] = {}


def main() -> int:
    from earthquake_data_pipeline_spark.session import get_spark

    settings = [int(a) for a in sys.argv[1:]] or [3, 257]
    spark = get_spark(app_name="edps-partition-sweep", cpus=8)
    con = oracle(_SRC)
    n_ok, findings = 0, []
    for nparts in settings:
        spark.conf.set("spark.sql.shuffle.partitions", str(nparts))
        n, f = sweep(spark, con, _SRC, expected=KNOWN_PARTITION_DIVERGENCES,
                     tag=f"@{nparts}")
        n_ok, findings = n_ok + n, findings + f
    print(f"\n{n_ok}/{n_ok + len(findings)} as documented", *findings, sep="\n")
    return 1 if findings else 0


if __name__ == "__main__":
    raise SystemExit(main())
