"""Input-split sensitivity axis (eleventh adversarial axis, round 12) —
the SCAN-side twin of the shuffle-partition axis.

`spark.sql.files.maxPartitionBytes` / `openCostInBytes` decide how file
bytes become scan partitions; a 100 TB lake is read under every
combination (small-file packing, huge-file splitting, AQE on top).
Results must be bit-identical whether a table arrives as ONE scan
partition or as dozens of row-group splits. What breaks engines here:
per-partition head/first picks, scan-order-dependent float
accumulation, partition-index leakage, and empty-split handling.

The sf testdata parquet files are single-row-group, which a byte-split
cannot actually divide — so this axis builds a MIRROR re-written with
tiny row groups (200 rows) and runs the full catalog against its
DuckDB oracle on the same mirror at two extremes:

- maxPartitionBytes=16KB + openCostInBytes=0: dozens of real splits
  per table (maximal scan fragmentation);
- maxPartitionBytes=512MB + openCostInBytes=64MB: everything packed
  into the fewest possible scan partitions.

Expectation table EMPTY by design; a new entry is a FINDING.

Usage: python tools/input_split_check.py
"""

from __future__ import annotations

import os

from check import TABLES, oracle, sweep

_MIRROR = "/tmp/edps-splits-sf"
_SRC = "/root/testdata/sf0.001"

KNOWN_SPLIT_DIVERGENCES: dict[str, str] = {}

SETTINGS = [
    ("fragmented", {"spark.sql.files.maxPartitionBytes": str(16 * 1024),
                    "spark.sql.files.openCostInBytes": "0"}),
    ("packed", {"spark.sql.files.maxPartitionBytes": str(512 * 1024 * 1024),
                "spark.sql.files.openCostInBytes": str(64 * 1024 * 1024)}),
]


def make_mirror() -> str:
    import pyarrow.parquet as pq

    os.makedirs(_MIRROR, exist_ok=True)
    for t in TABLES:
        tbl = pq.read_table(os.path.join(_SRC, f"{t}.parquet"))
        pq.write_table(
            tbl, os.path.join(_MIRROR, f"{t}.parquet"), row_group_size=200
        )
    return _MIRROR


def main() -> int:
    from earthquake_data_pipeline_spark.session import get_spark

    sf_dir = make_mirror()
    spark = get_spark(app_name="edps-split-sweep", cpus=8,
                      shuffle_partitions=8)
    con = oracle(sf_dir)
    n_ok, findings = 0, []
    for label, confs in SETTINGS:
        for key, val in confs.items():
            spark.conf.set(key, val)
        n, f = sweep(spark, con, sf_dir, expected=KNOWN_SPLIT_DIVERGENCES,
                     tag=f"@{label}")
        n_ok, findings = n_ok + n, findings + f
    print(f"\n{n_ok}/{n_ok + len(findings)} as documented", *findings, sep="\n")
    return 1 if findings else 0


if __name__ == "__main__":
    raise SystemExit(main())
