"""Local correctness harness mimicking the driver's DuckDB-oracle gate.

Runs every ``queries()`` entry against its ``oracle_sql()`` on the same
parquet tables: compares row count, column names/types, and an
order-insensitive value hash (rows sorted, columns sorted by name).

The same comparison is the shared harness of the adversarial axis tools
(``tools/*_check.py``): ``oracle`` opens the DuckDB side over an sf dir,
``outcome`` classifies one query, and ``sweep`` runs a list of queries
against an expectation table (absent entry = must ``match``; any other
outcome, including a stale entry that now matches, is a finding).

Usage: python tools/check.py [sf_dir] [query ...]
       python tools/check.py --head [sf_dir]   # exactly the driver's gate:
                                               # the first 50 queries() only
       python tools/check.py --never-proven [sf_dir]
           # proof-debt mode: diff queries() against the union of green
           # rows across every CORRECTNESS_r*.json and run exactly the
           # catalog entries that have NEVER had a driver row — makes the
           # debt visible every round instead of judge-reconstructed
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
import pandas as pd

from earthquake_data_pipeline_spark.gate import GATE_WINDOW

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def value_repr(df: pd.DataFrame) -> list[tuple]:
    # Type-sensitive, like the driver's hasher (round-2 lesson: values were
    # bit-identical but DuckDB HUGEINT landed as float64 while Spark emitted
    # int64, and Python's int == float masked it locally for two rounds).
    # Compare per-column pandas dtype alongside the values.
    dtypes = tuple(str(t) for t in df.dtypes)
    out = [dtypes]
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                # EXACT bits (round-1 lesson: a 9-dp-rounded local gate
                # passed queries the driver failed).
                # NaN != NaN would flag aligned nulls as a mismatch.
                vals.append(None if v != v else v)
            else:
                vals.append(v)
        out.append(tuple(vals))
    return out


def driver_proven() -> dict[str, str]:
    """Latest driver round with a fully-green row, per query, from every
    CORRECTNESS_r*.json at the repo root."""
    import glob
    import json

    latest: dict[str, str] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = os.path.basename(path)[len("CORRECTNESS_"):-len(".json")]
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                latest[name] = rnd
    return latest


def oracle(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per catalog table over ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _diff(s: pd.DataFrame, d: pd.DataFrame) -> str:
    """Why two normalized frames differ ("" when they are equal)."""
    problems = []
    if len(s) != len(d):
        problems.append(f"rowcount spark={len(s)} duck={len(d)}")
    if list(s.columns) != list(d.columns):
        problems.append(f"columns spark={list(s.columns)} duck={list(d.columns)}")
    elif len(s) == len(d) and value_repr(s) != value_repr(d):
        diff = s.compare(d) if s.shape == d.shape else None
        problems.append(
            "value mismatch"
            + (f" first diffs:\n{diff.head(5)}" if diff is not None and not diff.empty else "")
        )
    return "; ".join(problems)


def outcome(spark, con, name: str, sf_dir: str) -> tuple[str, str]:
    """Run catalog query ``name`` on Spark over ``sf_dir`` and its oracle on
    ``con``. Returns (kind, detail), kind one of ``match``,
    ``divergence``, ``spark_error``, ``oracle_error``, ``loud_both``."""
    from earthquake_data_pipeline_spark.driver_queries import ORACLE, QUERIES

    errs = {}
    try:
        got = normalize(QUERIES[name](spark, sf_dir).toPandas())
    except Exception as e:  # noqa: BLE001 - the harness classifies all
        errs["spark"] = f"{type(e).__name__}: {str(e)[:160]}"
    try:
        want = normalize(con.execute(ORACLE[name]).df())
    except Exception as e:  # noqa: BLE001
        errs["oracle"] = f"{type(e).__name__}: {str(e)[:160]}"
    if len(errs) == 2:
        return "loud_both", f"spark {errs['spark']}; oracle {errs['oracle']}"
    if errs:
        side, err = next(iter(errs.items()))
        return f"{side}_error", err
    problems = _diff(got, want)
    return ("divergence", problems) if problems else ("match", f"{len(got)} rows")


def sweep(spark, con, sf_dir: str, names=None, expected=None, tag: str = ""
          ) -> tuple[int, list[str]]:
    """Run ``names`` (default: the whole catalog, in order) and judge each
    against ``expected`` (keyed ``name + tag``; absent = ``match``).
    Prints one line per query; returns (number as expected, findings)."""
    from earthquake_data_pipeline_spark.driver_queries import QUERIES

    expected = expected or {}
    n_ok, findings = 0, []
    for name in names or QUERIES:
        key = name + tag
        t0 = time.time()
        kind, detail = outcome(spark, con, name, sf_dir)
        want = expected.get(key, "match")
        if kind == want:
            n_ok += 1
            print(f"ok   {key}: {kind} ({time.time() - t0:.1f}s)", flush=True)
        else:
            stale = " (stale expectation entry)" if kind == "match" else ""
            findings.append(f"{key}: expected {want}, got {kind}{stale}: {detail}")
            print(f"FAIL {findings[-1]}", flush=True)
    return n_ok, findings


def main() -> int:
    flags = {"--head", "--never-proven"}
    args = [a for a in sys.argv[1:] if a not in flags]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    names = args[1:]

    from earthquake_data_pipeline_spark.driver_queries import QUERIES
    from earthquake_data_pipeline_spark.session import get_spark

    if "--head" in sys.argv[1:]:
        names = list(QUERIES)[:GATE_WINDOW]
    if "--never-proven" in sys.argv[1:]:
        proven = driver_proven()
        names = [k for k in QUERIES if k not in proven]
        in_head = set(list(QUERIES)[:GATE_WINDOW])
        print(
            f"proof debt: {len(names)}/{len(QUERIES)} catalog "
            f"queries have no driver CORRECTNESS row; "
            f"{len(set(names) - in_head)} of them are OUTSIDE the current "
            f"{GATE_WINDOW}-slot gate head"
        )
        if not names:
            print("0/0 passed")
            return 0

    spark = get_spark(cpus=8)
    n_ok, findings = sweep(spark, oracle(sf_dir), sf_dir, names)
    print(f"\n{n_ok}/{n_ok + len(findings)} passed")
    return 1 if findings else 0


if __name__ == "__main__":
    raise SystemExit(main())
