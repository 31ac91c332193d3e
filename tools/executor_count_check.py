"""Executor-count sensitivity sweep — twelfth hostile axis (round 13).

The multi-JVM axis (``multijvm_check.py``) proved the catalog across
process boundaries, but at ONE topology: ``local-cluster[2,4,2048]``.
Executor COUNT changes things partition count does not: scan splits
are assigned to different hosts (merge order of partial aggregates
follows locality), broadcast joins materialize once per executor, and
anything accidentally keyed on executor identity (partition-index
leakage, per-executor state, ``SparkFiles`` paths) diverges. This axis
is the scan/merge-order twin of the round-12 shuffle-partition-count
axis (``partition_sweep_check.py``): that one varied
``spark.sql.shuffle.partitions`` at {3, 257}; this one varies the
EXECUTOR GRID at the two extremes a 1000-node cluster brackets —

- ``local-cluster[1,8,4096]``: one fat executor (all cores co-located,
  every exchange is process-local after the first);
- ``local-cluster[8,1,1024]``: eight thin executors (maximal process
  fan-out, every shuffle crosses a process boundary, 8 broadcast
  copies).

Full catalog vs the DuckDB oracles at each topology. Expectation
table EMPTY by design; a new entry is a FINDING.

Usage: python tools/executor_count_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

from check import oracle, sweep
from multijvm_check import cluster_session

KNOWN_TOPOLOGY_DIVERGENCES: dict[str, str] = {}

TOPOLOGIES = ["local-cluster[1,8,4096]", "local-cluster[8,1,1024]"]


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    con = oracle(sf_dir)
    total_fail = 0
    for master in TOPOLOGIES:
        print(f"== {master} ==")
        spark = cluster_session(master, "edps-executor-count-check")
        n_ok, failures = sweep(spark, con, sf_dir, args[1:],
                               expected=KNOWN_TOPOLOGY_DIVERGENCES)
        spark.stop()
        print(f"{master}: {n_ok} pass / {len(failures)} fail", *failures,
              sep="\n")
        total_fail += len(failures)
    return 1 if total_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
