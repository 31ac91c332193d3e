"""Multi-executor (multi-JVM) oracle sweep — ninth hostile axis.

Every other sweep runs ``local[n]``: one JVM, zero serialization
boundaries between "executors". A real cluster crosses process
boundaries — closures actually pickle, Python workers import the
package by MODULE (cloudpickle serializes module-level helpers by
reference, not by value), broadcasts actually transfer, and shuffle
blocks actually move. ``local-cluster[2,4,2048]`` spawns two real
worker JVMs, so the whole catalog can be proven across process
boundaries without a cluster.

Found on first run (round 11): the mapInPandas operators that
reference module-level helpers (spatial ray-cast, country regex table,
codec kernels, USGS fetchers) died on the workers with
ModuleNotFoundError — the DEPLOYMENT contract this axis makes
explicit: the package must be importable on executors
(pip-install it into the executor image, ship a zip via
``--py-files``, or set ``spark.executorEnv.PYTHONPATH``). This harness
uses the env-var form; the engine code itself needs nothing special
(the closure-only operators ran fine either way).

Usage: python tools/multijvm_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

from check import REPO, oracle, sweep


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = cluster_session("local-cluster[2,4,2048]", "edps-multijvm-check")
    n_ok, failures = sweep(spark, oracle(sf_dir), sf_dir, args[1:])
    print(f"\n{n_ok} passed, {len(failures)} failed")
    spark.stop()
    return 1 if failures else 0


def cluster_session(master: str, app_name: str):
    """A vanilla session on a ``local-cluster`` master: real executor
    JVMs, each importing the package from this checkout."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the deployment contract under test: the package must be
        # importable on the executors' python workers
        .config("spark.executorEnv.PYTHONPATH", REPO)
        .getOrCreate()
    )


if __name__ == "__main__":
    raise SystemExit(main())
