"""Value-skew mirror axis (ninth adversarial axis, round 12).

The round-11 window-skew audit classified every window/join site
ANALYTICALLY against a hypothetical 90%-one-key corpus. This axis turns
those per-site verdicts into MEASURED evidence at gate scale: it builds
a skewed MIRROR of the sf0.001 tables — duplicate-mass documents and
embeddings, hot-key events/users/orders — and runs the full catalog
against its DuckDB oracle on the same mirror. Because both engines read
the same skewed files, any divergence or error is an engine-side bug
(typically a tie-break the uniform testdata never exercised, or a
star-guard/argmin path that changes SURVIVORS under duplicate mass),
not a data problem.

Skew spec (deterministic, position-based — no RNG):
- events:     90% of rows get user_id 7 (the bot key), 80% get
              event_type 'click' (hot window/groupBy key), 80% get
              value 13.37 (duplicate mass for the by-counts/median
              family's histograms).
- documents:  80% of rows carry the BYTE-IDENTICAL text of row 0 (the
              hot page — MinHash/SimHash/fingerprint/prefix buckets all
              collapse onto one star); n_chars kept consistent.
- embeddings: 80% of rows carry row 0's exact vector (ANN/LSH bucket
              collapse; cosine ties everywhere).
- lineitem:   50% of rows get row 0's l_orderkey (hot join key into
              orders; AQE skew-join territory).
- orders:     50% of rows get row 0's o_custkey (hot customer).

Expectation table: EMPTY by design — every catalog operator breaks ties
deterministically and its oracle replays the same rule, so duplicate
mass must not change engine-vs-oracle equality. A new entry here is a
FINDING, not a fact.

Usage: python tools/value_skew_check.py [query ...]
"""

from __future__ import annotations

import os
import sys

from check import TABLES, oracle, sweep

_SKEW_DIR = "/tmp/edps-skew-sf"
_SRC = "/root/testdata/sf0.001"

# Documented divergences on the skewed mirror. Empty by design (see
# module docstring). A new entry is a FINDING, not a fact.
KNOWN_SKEW_DIVERGENCES: dict[str, str] = {}


def make_skew_mirror() -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(_SKEW_DIR, exist_ok=True)

    def rewrite(t, fn):
        tbl = pq.read_table(os.path.join(_SRC, f"{t}.parquet"))
        pq.write_table(fn(tbl), os.path.join(_SKEW_DIR, f"{t}.parquet"))

    def replace(tbl, col, mask_fn, hot_value_fn):
        """Set column to a hot value on rows where mask_fn(i) is True."""
        arr = tbl.column(col).to_pylist()
        hot = hot_value_fn(arr)
        out = [hot if mask_fn(i) else v for i, v in enumerate(arr)]
        field = tbl.schema.field(col)
        idx = tbl.column_names.index(col)
        return tbl.set_column(idx, field, pa.array(out, type=field.type))

    def ev(tbl):
        tbl = replace(tbl, "user_id", lambda i: i % 10 < 9, lambda a: 7)
        tbl = replace(
            tbl, "event_type", lambda i: i % 5 < 4, lambda a: "click"
        )
        tbl = replace(tbl, "value", lambda i: i % 5 < 4, lambda a: 13.37)
        return tbl

    def docs(tbl):
        texts = tbl.column("text").to_pylist()
        hot_text = texts[0]
        tbl = replace(tbl, "text", lambda i: i % 5 < 4, lambda a: hot_text)
        # keep the derived length column consistent with the hot text
        tbl = replace(
            tbl, "n_chars", lambda i: i % 5 < 4, lambda a: len(hot_text)
        )
        return tbl

    def emb(tbl):
        vecs = tbl.column("embedding").to_pylist()
        hot = vecs[0]
        return replace(tbl, "embedding", lambda i: i % 5 < 4, lambda a: hot)

    def li(tbl):
        keys = tbl.column("l_orderkey").to_pylist()
        hot = keys[0]
        return replace(tbl, "l_orderkey", lambda i: i % 2 == 0, lambda a: hot)

    def orders(tbl):
        keys = tbl.column("o_custkey").to_pylist()
        hot = keys[0]
        return replace(tbl, "o_custkey", lambda i: i % 2 == 0, lambda a: hot)

    rewriters = {
        "events": ev,
        "documents": docs,
        "embeddings": emb,
        "lineitem": li,
        "orders": orders,
    }
    for t in TABLES:
        rewrite(t, rewriters.get(t, lambda x: x))
    return _SKEW_DIR


def main() -> int:
    from earthquake_data_pipeline_spark.session import get_spark

    sf_dir = make_skew_mirror()
    spark = get_spark(app_name="edps-skew-check", cpus=8, shuffle_partitions=8)
    n_ok, findings = sweep(spark, oracle(sf_dir), sf_dir, sys.argv[1:],
                           expected=KNOWN_SKEW_DIVERGENCES)
    print(f"\n{n_ok}/{n_ok + len(findings)} as documented", *findings, sep="\n")
    return 1 if findings else 0


if __name__ == "__main__":
    raise SystemExit(main())
