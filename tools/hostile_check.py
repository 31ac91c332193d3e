"""Hostile-driver sweep: run EVERY oracle-paired query on a vanilla
SparkSession with a non-UTC timezone (the driver's session is not ours)
and compare against DuckDB — the strongest local approximation of the
driver's gate.

``--weird-confs`` goes further: a prime shuffle-partition count (7) and
AQE off, probing that every query's RESULT is partition-count-invariant
(deterministic ops, total orders, no rand()/monotonic-id leakage) —
the other axis on which the driver's session can differ from ours.

``--ansi-off`` is the third axis: spark.sql.ansi.enabled=false (the
legacy permissive mode a driver session may run). The engine leans on
ANSI only for LOUD failure on out-of-envelope inputs — on in-envelope
data every result must be bit-identical with ANSI off (no expression
silently relies on ANSI cast/division semantics for its VALUE).

``--no-codegen`` is the fourth axis: whole-stage codegen disabled
(spark.sql.codegen.wholeStage=false), forcing the interpreted
expression evaluator — results must be identical; a divergence would
mean an expression whose compiled and interpreted paths disagree.

``--aqe-off`` is the fifth axis (VERDICT r09 item 9): adaptive
execution disabled AND the full catalog swept twice, once with
spark.sql.shuffle.partitions=1 (everything through a single reducer —
exposes ops that accidentally rely on partition parallelism for
semantics) and once with 512 (massive over-partitioning — exposes
ops that rely on co-location or small partition counts). AQE normally
papers over both extremes by coalescing/splitting at runtime; with it
off, the static plan must still be CORRECT at either extreme (slower
is fine, wrong is not).

Usage: python tools/hostile_check.py [--weird-confs] [--ansi-off]
       [--no-codegen] [--aqe-off] [sf_dir] [tz]
"""

from __future__ import annotations

import sys

from check import oracle, sweep


def main() -> int:
    flags = {"--weird-confs", "--ansi-off", "--no-codegen", "--aqe-off"}
    args = [a for a in sys.argv[1:] if a not in flags]
    weird = "--weird-confs" in sys.argv[1:]
    ansi_off = "--ansi-off" in sys.argv[1:]
    no_codegen = "--no-codegen" in sys.argv[1:]
    aqe_off = "--aqe-off" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    tz = args[1] if len(args) > 1 else "America/New_York"

    from pyspark.sql import SparkSession

    # vanilla session: no engine configs beyond master + the hostile TZ
    builder = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", tz)
    )
    if weird:
        builder = (
            builder.config("spark.sql.shuffle.partitions", "7")
            .config("spark.sql.adaptive.enabled", "false")
        )
    if ansi_off:
        builder = builder.config("spark.sql.ansi.enabled", "false")
    if no_codegen:
        builder = builder.config("spark.sql.codegen.wholeStage", "false")
    if aqe_off:
        builder = builder.config("spark.sql.adaptive.enabled", "false")
    spark = builder.getOrCreate()
    con = oracle(sf_dir)

    # --aqe-off sweeps the catalog once per shuffle-partition extreme
    # (runtime conf — applies to every job the query triggers)
    n_ok, failures = 0, []
    for parts in ["1", "512"] if aqe_off else [None]:
        if parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            print(f"--- shuffle.partitions={parts}, AQE off ---")
        n, f = sweep(spark, con, sf_dir, tag="" if parts is None else f"@p{parts}")
        n_ok, failures = n_ok + n, failures + f
    label = (
        tz
        + ("+weird-confs" if weird else "")
        + ("+ansi-off" if ansi_off else "")
        + ("+no-codegen" if no_codegen else "")
        + ("+aqe-off-p1-p512" if aqe_off else "")
    )
    print(f"\nhostile[{label}]: {n_ok} ok, {len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
