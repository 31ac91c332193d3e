"""The shared oracle-sweep harness in tools/check.py: one query's outcome
classification and the expectation-table accounting every axis tool
relies on, on tiny in-test parquet."""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import check  # noqa: E402
from earthquake_data_pipeline_spark import driver_queries  # noqa: E402

_OK_SQL = "SELECT k FROM region"
_BAD_SQL = "SELECT no_such_column FROM region"


def _scan(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/region.parquet")


def _plus_one(spark, sf_dir):
    from pyspark.sql import functions as F

    return _scan(spark, sf_dir).select((F.col("k") + 1).alias("k"))


def _broken(spark, sf_dir):
    return _scan(spark, sf_dir).select("no_such_column")


CASES = {
    "h_match": (_scan, _OK_SQL, "match"),
    "h_divergence": (_plus_one, _OK_SQL, "divergence"),
    "h_spark_error": (_broken, _OK_SQL, "spark_error"),
    "h_oracle_error": (_scan, _BAD_SQL, "oracle_error"),
    "h_loud_both": (_broken, _BAD_SQL, "loud_both"),
}


@pytest.fixture()
def tiny(tmp_path, monkeypatch):
    """An sf dir with a 3-row parquet per catalog table, and the CASES
    registered as catalog queries with their oracles."""
    for t in check.TABLES:
        pq.write_table(pa.table({"k": pa.array([3, 1, 2], pa.int64())}),
                       tmp_path / f"{t}.parquet")
    for name, (fn, sql, _) in CASES.items():
        monkeypatch.setitem(driver_queries.QUERIES, name, fn)
        monkeypatch.setitem(driver_queries.ORACLE, name, sql)
    return str(tmp_path)


def test_outcome_classifies_each_kind(spark, tiny):
    con = check.oracle(tiny)
    for name, (_, _, kind) in CASES.items():
        got, detail = check.outcome(spark, con, name, tiny)
        assert got == kind, (name, got, detail)
        assert detail
    assert check.outcome(spark, con, "h_match", tiny)[1] == "3 rows"


def test_sweep_counts_against_the_expectation_table(spark, tiny, capsys):
    con = check.oracle(tiny)
    expected = {
        "h_divergence": "divergence",  # documented: ok
        "h_loud_both": "loud_both",  # documented: ok
        "h_match": "divergence",  # stale: now matches, a finding
        # h_spark_error / h_oracle_error: no entry, must match — findings
    }
    n_ok, findings = check.sweep(spark, con, tiny, list(CASES), expected)
    assert n_ok == 2
    by_name = {f.split(":")[0]: f for f in findings}
    assert set(by_name) == {"h_match", "h_spark_error", "h_oracle_error"}
    assert "stale expectation entry" in by_name["h_match"]
    assert "expected match, got spark_error" in by_name["h_spark_error"]
    assert "expected match, got oracle_error" in by_name["h_oracle_error"]
    out = capsys.readouterr().out
    assert "ok   h_divergence: divergence" in out
    assert "FAIL h_match: expected divergence, got match" in out


def test_sweep_tags_expectation_keys(spark, tiny):
    con = check.oracle(tiny)
    n_ok, findings = check.sweep(
        spark, con, tiny, ["h_divergence"],
        expected={"h_divergence@p7": "divergence"}, tag="@p7",
    )
    assert (n_ok, findings) == (1, [])
    n_ok, findings = check.sweep(spark, con, tiny, ["h_divergence"])
    assert n_ok == 0 and findings[0].startswith("h_divergence: expected match")
