"""Schema-drift tolerance axis (eighth adversarial axis, round 11).

At 100 TB the input lake drifts under the engine: upstream teams APPEND
columns, writers REORDER them (parquet has no canonical column order
across files), and nullability flags flip when a different writer
produces a partition. An engine that selects positionally, pattern-
matches full schemas, or assumes a column count breaks silently on the
first drifted partition.

This axis builds a drifted MIRROR of the sf0.001 tables — every table
gets (a) one appended ``__drift_extra`` int32 column, (b) its column
order REVERSED, (c) all fields forced nullable — and runs the full
catalog on the mirror against its DuckDB oracle on the undrifted
source tables. The drift changes no value, so any divergence or error
is an engine-side tolerance bug, not a data problem. Name-based
projection should make all of this invisible: the expectation table
is EMPTY.

Usage: python tools/schema_drift_check.py
"""

from __future__ import annotations

import os

from check import TABLES, oracle, sweep

_DRIFT_DIR = "/tmp/edps-drift-sf"
_SCHEMA_SRC = "/root/testdata/sf0.001"

# Documented divergences on the drifted mirror. Empty by design: every
# catalog query projects by NAME, so added/reordered/renullabled
# columns must be invisible. A new entry here is a FINDING, not a fact.
KNOWN_DRIFT_DIVERGENCES: dict[str, str] = {}


def make_drift_mirror() -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(_DRIFT_DIR, exist_ok=True)
    for t in TABLES:
        src = os.path.join(_SCHEMA_SRC, f"{t}.parquet")
        dst = os.path.join(_DRIFT_DIR, f"{t}.parquet")
        tbl = pq.read_table(src)
        # (a) appended column a reader must ignore
        extra = pa.array(range(tbl.num_rows), type=pa.int32())
        tbl = tbl.append_column("__drift_extra", extra)
        # (b) reversed column order
        tbl = tbl.select(list(reversed(tbl.column_names)))
        # (c) every field nullable
        fields = [f.with_nullable(True) for f in tbl.schema]
        tbl = tbl.cast(pa.schema(fields))
        pq.write_table(tbl, dst)
    return _DRIFT_DIR


def main() -> int:
    from earthquake_data_pipeline_spark.session import get_spark

    sf_dir = make_drift_mirror()
    spark = get_spark(app_name="edps-drift-check", cpus=8, shuffle_partitions=8)
    n_ok, drift = sweep(spark, oracle(_SCHEMA_SRC), sf_dir,
                        expected=KNOWN_DRIFT_DIVERGENCES)
    print(f"\n{n_ok}/{n_ok + len(drift)} as documented", *drift, sep="\n")
    return 1 if drift else 0


if __name__ == "__main__":
    raise SystemExit(main())
