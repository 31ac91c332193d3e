"""Catalog integrity: every driver query is registered correctly and
produces a stable, explicitly-named schema — guards future additions."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

import __spark_entry__ as entry

TZ = "spark.sql.session.timeZone"


def test_every_query_has_an_oracle():
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert set(qs) == set(oracles), (
        f"queries without oracle: {set(qs) - set(oracles)}; "
        f"oracles without queries: {set(oracles) - set(qs)}"
    )


def test_schemas_are_explicitly_named(spark):
    # auto-generated column names (round(x, 6), count(1), …) would break
    # the driver's name-sorted value hash; every column must be aliased.
    # The driver's session has its own timezone: every entry must leave
    # the session pinned to UTC (the registry's contract), starting from
    # a non-UTC one.
    bad, unpinned = {}, []
    original = spark.conf.get(TZ)
    for name, fn in entry.queries().items():
        spark.conf.set(TZ, "America/New_York")
        try:
            cols = fn(spark, "/root/testdata/sf0.001").columns
            if spark.conf.get(TZ) != "UTC":
                unpinned.append(name)
        finally:
            spark.conf.set(TZ, original)
        ugly = [c for c in cols if re.search(r"[(),]| ", c)]
        if ugly:
            bad[name] = ugly
    assert not bad, f"unaliased output columns: {bad}"
    assert not unpinned, f"entries that leave the session timezone unpinned: {unpinned}"


def test_registry_rejects_a_name_registered_twice():
    from earthquake_data_pipeline_spark.catalog import register

    def q(spark, sf_dir):
        raise AssertionError("registration must not run the query")

    queries, oracle = register([("a", q, "SELECT 1")], [("b", q, "SELECT 2")])
    assert list(queries) == ["a", "b"] and oracle == {"a": "SELECT 1", "b": "SELECT 2"}
    assert queries["a"].__wrapped__ is q
    with pytest.raises(ValueError, match="'a' is registered twice"):
        register([("a", q, "SELECT 1")], [("a", q, "SELECT 2")])
    with pytest.raises(ValueError, match="'a' is registered twice"):
        register([("a", q, "SELECT 1"), ("a", q, "SELECT 1")])


def test_gate_head_invariants():
    """The driver proves exactly the first 50 queries(): the pinned
    rotation must be 50 unique names, every one registered with BOTH a
    query and an oracle, and the rotation must actually lead the
    catalog's iteration order (a typo'd GATE_FIRST name would silently
    shrink the proven window)."""
    from earthquake_data_pipeline_spark.gate import GATE_FIRST, GATE_WINDOW

    qs, oracles = entry.queries(), entry.oracle_sql()
    assert GATE_WINDOW == 50
    assert len(GATE_FIRST) == 50
    assert len(set(GATE_FIRST)) == 50
    unknown = [n for n in GATE_FIRST if n not in qs]
    assert not unknown, f"GATE_FIRST names not in queries(): {unknown}"
    assert list(qs)[:50] == GATE_FIRST
    no_oracle = [n for n in GATE_FIRST if n not in oracles]
    assert not no_oracle, f"head entries without oracle: {no_oracle}"


def test_proof_debt_accounting_matches_artifacts():
    """tools/check.py --never-proven derives the proof debt from the
    CORRECTNESS_r*.json union; the parser must count only fully-green
    rows and every debt entry must be seated in the current gate head
    (the round-6 invariant: nothing ships outside the proven window)."""
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from check import GATE_WINDOW, driver_proven

    proven = driver_proven()
    assert proven, "no CORRECTNESS artifacts parsed"
    # spot-pin one row per round family that is known fully-green
    assert proven.get("yearly_stats") is not None
    qs = list(entry.queries())
    debt = [q for q in qs if q not in proven]
    head = set(qs[:GATE_WINDOW])
    outside = [q for q in debt if q not in head]
    assert not outside, f"proof-debt queries outside the gate head: {outside}"


def test_bench_load_noise_guard():
    """VERDICT r07 item 7: the bench artifact is load-aware — the
    threshold that marks a sweep inadmissible for drift adjudication is
    mechanical, and the stdout line carries the flag only when set."""
    import json

    import bench

    cpus = 32
    assert not bench.load_noisy(0.0, cpus)
    assert not bench.load_noisy(4.0, cpus)  # exactly at ratio: quiet
    assert bench.load_noisy(4.1, cpus)  # r06/r07 false-alarm territory
    assert bench.load_noisy(9.0, cpus)
    assert bench.load_noisy(1.0, 0)  # degenerate cpu count stays safe

    quiet = json.loads(bench._compact_line({"q": 1.0}, 1.0, 0.1, False))
    loud = json.loads(bench._compact_line({"q": 1.0}, 1.0, 0.1, True))
    assert "noisy" not in quiet and loud["noisy"] is True


def test_bench_parallel_calibration_probe():
    """r17 optimization round: the N-process throughput probe must
    return a positive wall-ms or None on failure, and must never raise
    (it is advisory). ADVICE r17: no serial-relative bounds — the test
    previously compared one noisy measurement against another and could
    flake on a contended CI host for reasons unrelated to the code.
    r18: the probe also feeds the noisy gate, so the ratio constant
    must be a sane >1 bound shared with tools/bench_compare.py."""
    import bench

    par = bench._calibrate_par_ms(procs=2)
    assert par is None or (isinstance(par, float) and par > 0)
    # the child spin is deterministic (same accumulator every call)
    assert bench._spin_child(0) == bench._spin_child(1)
    assert 1.0 < bench._PAR_NOISY_RATIO < 2.0
    import importlib.util as _iu
    import os as _os

    spec = _iu.spec_from_file_location(
        "bench_compare",
        _os.path.join(_os.path.dirname(bench.__file__), "tools",
                      "bench_compare.py"),
    )
    bc = _iu.module_from_spec(spec)
    spec.loader.exec_module(bc)
    assert bc.PAR_NOISY_RATIO == bench._PAR_NOISY_RATIO
    # the re-derivation helper applies the same bar to old artifacts
    assert bc._par_noisy({"calibration_par_ms": [100.0, 150.0]})
    assert not bc._par_noisy({"calibration_par_ms": [100.0, 110.0]})
    assert not bc._par_noisy({"calibration_par_ms": [None, 110.0]})
    assert not bc._par_noisy({})
