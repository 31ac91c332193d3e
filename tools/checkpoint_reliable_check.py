"""Reuse-flavor end-to-end exercise — fifteenth hostile axis (round 14).

``qcommon.reuse`` pins every multiply-referenced subtree in the engine,
and its FLAVOR is a deployment property (``SPARK_GRAFT_REUSE``): the
default on a bare ``local[n]`` is ``localCheckpoint``, which every gate
sweep has exercised thousands of times — but the two flavors a real
1000-executor deployment would actually run have only ever been unit-
tested in isolation:

- ``reliable``: persist → ``Dataset.checkpoint(eager=True)`` into the
  cluster checkpoint dir → unpersist. This is the flavor the r10-r13
  ledger pre-committed the raw ``localCheckpoint`` sites toward, and
  round 14 migrates the last six sites onto it — this axis proves the
  whole catalog end to end in exactly that flavor, with real checkpoint
  FILES on disk (the sweep fails if none were written: an axis that
  silently exercised the default flavor would prove nothing).
- ``persist``: MEMORY_AND_DISK cache, lineage kept. The documented
  long-lived-driver contract is ``spark.catalog.clearCache()`` between
  jobs (qcommon.reuse docstring); the sweep replays that contract
  per query.

Full catalog vs the DuckDB oracles in each flavor. Expectation table
EMPTY by design; a new entry is a FINDING.

Usage: python tools/checkpoint_reliable_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

from check import oracle, outcome

KNOWN_FLAVOR_DIVERGENCES: dict[str, str] = {}

FLAVORS = ["reliable", "persist"]


def _count_checkpoints(ckpt_dir: str) -> int:
    """Number of rdd-* checkpoint directories ever materialized.

    ContextCleaner removes them asynchronously on RDD GC (with
    cleanCheckpoints=true), so the count is a lower bound — but a
    sweep in which EVERY reuse() call took the reliable path leaves
    plenty on disk at the moment the sweep ends."""
    n = 0
    for root, dirs, _files in os.walk(ckpt_dir):
        n += sum(1 for d in dirs if d.startswith("rdd-"))
    return n


def run_flavor(flavor: str, sf_dir: str, names: list[str]) -> list[str]:
    """Sweep ``names`` (default: the catalog) in one reuse() flavor; its
    per-query hook replays the flavor's contract (``clearCache`` for
    persist, checkpoint-dir sampling for reliable). Returns findings."""
    os.environ["SPARK_GRAFT_REUSE"] = flavor
    from earthquake_data_pipeline_spark.driver_queries import QUERIES
    from earthquake_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name=f"edps-reuse-{flavor}", cpus=8,
                      shuffle_partitions=8)
    ckpt_dir = None
    if flavor == "reliable":
        ckpt_dir = tempfile.mkdtemp(prefix="edps-ckpt-")
        spark.sparkContext.setCheckpointDir(ckpt_dir)
    con = oracle(sf_dir)
    max_ckpt = 0  # sampled per query: end-of-sweep count is 0 whenever
    # ContextCleaner GC'd every checkpoint RDD during a slow sweep
    # (observed r15 on a ghost-contended host — 148/148 pass, real
    # rdd-* dirs written, 0 left at the end)
    n_ok, findings = 0, []
    for name in names or QUERIES:
        kind, detail = outcome(spark, con, name, sf_dir)
        want = KNOWN_FLAVOR_DIVERGENCES.get(name, "match")
        if kind == want:
            n_ok += 1
            print(f"ok   {name}: {kind}", flush=True)
        else:
            findings.append(f"{name}: expected {want}, got {kind}: {detail}")
            print(f"FAIL {findings[-1]}", flush=True)
        if flavor == "persist":
            # the documented long-lived-driver contract: drop cache
            # entries between jobs so the CacheManager never grows
            spark.catalog.clearCache()
        elif ckpt_dir is not None:
            max_ckpt = max(max_ckpt, _count_checkpoints(ckpt_dir))
    if ckpt_dir is not None:
        n_ckpt = max(max_ckpt, _count_checkpoints(ckpt_dir))
        print(f"  checkpoint dirs materialized (max sampled): {n_ckpt}")
        if n_ckpt == 0 and not names:
            # a full sweep that wrote no checkpoint files silently
            # exercised some other flavor — the axis proved nothing
            findings.append("__no_checkpoints_written__")
        shutil.rmtree(ckpt_dir, ignore_errors=True)
    spark.stop()
    con.close()
    os.environ.pop("SPARK_GRAFT_REUSE", None)
    print(f"{flavor}: {n_ok} pass / {len(findings)} fail", *findings, sep="\n")
    return findings


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    failures = []
    for flavor in FLAVORS:
        print(f"== SPARK_GRAFT_REUSE={flavor} ==")
        failures += run_flavor(flavor, sf_dir, args[1:])
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
