"""Timestamp-domain mirror sweep — fourteenth hostile axis (round 13).

Every gate scale confines ``events.ts`` to a well-behaved 2024 window,
so the catalog's behavior on pre-1970, epoch-zero, fractional-negative
and far-future timestamps has only ever been REASONED about. The
hazard is specific and engine-asymmetric: Spark's ``div`` (and long
casts of a quotient) truncate TOWARD ZERO, while DuckDB's ``//`` and
``floor(epoch(ts)/86400)`` FLOOR — identical for the positive epochs
the testdata generates, off by one whole day-bucket for every
negative epoch. Several operators disclose the assumption in comments
("div truncation == floor: epochs are positive in this domain"); a
100 TB lake carries 1970-01-01 sentinel rows and bad-clock epochs as
a fact of life, so the assumption must be either proven harmless,
fixed, or enforced loudly — never silent.

Mirror mutations of sf0.001 (deterministic, event_id-keyed):

- ``event_id % 40 == 0``  → ts shifted −120 years (pre-1970, ~1904);
- ``event_id % 40 == 20`` → ts = epoch 0 exactly (1970-01-01T00:00:00Z
  — the classic sentinel);
- ``event_id % 40 == 21`` → ts = epoch −0.5 s (negative AND
  fractional: unix_timestamp/epoch() floor-vs-truncate twin);
- ``event_id % 40 == 30`` → ts = epoch −86399.5 s (1969-12-31T00:00:00.5Z
  — INSIDE the 1-second window after a pre-1970 UTC day boundary,
  where truncate-seconds-then-truncate-days and floor-then-divide
  land on DIFFERENT days even though both quotient steps agree on
  the rest of the axis; the self-review found cumulative_reach
  divergent exactly here);
- ``event_id % 40 == 10`` → ts shifted +250 years (~2274: past any
  2038-style int32-seconds envelope);
- one deterministic pin user (smallest user_id with both a view and a
  click) has every view moved to epoch −172800.5 s and every click to
  epoch 0 — exactly the funnel ``within_s=172800`` bound across a
  pre-1970 second boundary, where floor-exact second semantics exclude
  the click and truncate-toward-zero semantics admit it (r14,
  VERDICT r13 item 7: makes funnel_windowed's within_s pin
  axis-enforced).

Outcome classes are the shared harness's (tools/check.py): ``match`` /
``loud_both`` / ``spark_error`` / ``oracle_error`` / ``divergence``,
with ``KNOWN_TS_BEHAVIOR`` as the triaged expectation table.

Usage: python tools/ts_domain_check.py [query ...]
"""

from __future__ import annotations

import os
import sys

from check import TABLES, oracle, sweep

_MIRROR = "/tmp/edps-ts-sf"
_SRC = "/root/testdata/sf0.001"

_SHIFT_BACK_US = 120 * 365 * 86_400_000_000  # ~120 years
_SHIFT_FWD_US = 250 * 365 * 86_400_000_000  # ~250 years

# query -> expected non-match outcome (triage results, r13
# continuation session). Values are tools/check.py outcome kinds,
# exactly like KNOWN_NAN_BEHAVIOR. An absent entry means the query
# must MATCH.
# EMPTY since the same-session close: the 12 first-sweep flags (the
# unix_timestamp truncation class + the trend_fit oracle int64
# overflow) were all fixed with seats — see DESIGN.md's fourteenth-
# axis section; the known-consistent leftovers (cumulative_reach's
# both-engines-truncate day bucket, golden_record's latent ts_s)
# MATCH on this mirror by construction and are pre-committed to
# convert with their seats.
KNOWN_TS_BEHAVIOR: dict[str, str] = {}


def make_mirror() -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(_MIRROR, exist_ok=True)
    for t in TABLES:
        tbl = pq.read_table(os.path.join(_SRC, f"{t}.parquet"))
        if t == "events":
            ids = tbl["event_id"].to_pylist()
            ts_type = tbl.schema.field("ts").type
            micros = tbl["ts"].cast(pa.int64()).to_pylist()
            for i, eid in enumerate(ids):
                if micros[i] is None:
                    continue
                m = eid % 40
                if m == 0:
                    micros[i] = micros[i] - _SHIFT_BACK_US
                elif m == 20:
                    micros[i] = 0
                elif m == 21:
                    micros[i] = -500_000  # −0.5 s: negative + fractional
                elif m == 30:
                    # 1 s window past a pre-1970 day boundary
                    micros[i] = -86_400_000_000 + 500_000
                elif m == 10:
                    micros[i] = micros[i] + _SHIFT_FWD_US
            # within_s boundary pin (r14, VERDICT r13 item 7): ONE
            # deterministic user's funnel straddles the 48 h bound
            # across a pre-1970 second boundary — every view lands at
            # epoch −172800.5 s, every click at epoch 0, everything
            # else at +1 s. Floor-exact second semantics EXCLUDE the
            # click (floor(−172800.5) + 172800 = −1 < 0), a
            # truncate-toward-zero regression (unix_timestamp) ADMITS
            # it (−172800 + 172800 = 0 ≥ 0) — so funnel_windowed's c1
            # now pins its within_s comparison to floor-exact on the
            # axis instead of doc-enforced consistent-both-sides.
            users = tbl["user_id"].to_pylist()
            etypes = tbl["event_type"].to_pylist()
            funnel_sets: dict[int, set[str]] = {}
            for u, et in zip(users, etypes):
                if u is not None and et in ("view", "click"):
                    funnel_sets.setdefault(u, set()).add(et)
            pin_user = min(
                (u for u, s in funnel_sets.items() if len(s) == 2),
                default=None,
            )
            if pin_user is not None:
                for i, u in enumerate(users):
                    if u != pin_user or micros[i] is None:
                        continue
                    if etypes[i] == "view":
                        micros[i] = -172_800_500_000
                    elif etypes[i] == "click":
                        micros[i] = 0
                    else:
                        micros[i] = 1_000_000
            col = pa.array(micros, type=pa.int64()).cast(ts_type)
            tbl = tbl.set_column(
                tbl.schema.get_field_index("ts"), "ts", col
            )
        pq.write_table(tbl, os.path.join(_MIRROR, f"{t}.parquet"))
    return _MIRROR


def main() -> int:
    from earthquake_data_pipeline_spark.session import get_spark

    sf_dir = make_mirror()
    spark = get_spark(app_name="edps-ts-sweep", cpus=8,
                      shuffle_partitions=8)
    n_ok, findings = sweep(spark, oracle(sf_dir), sf_dir, sys.argv[1:],
                           expected=KNOWN_TS_BEHAVIOR)
    print(f"\n{n_ok}/{n_ok + len(findings)} as documented", *findings, sep="\n")
    return 1 if findings else 0


if __name__ == "__main__":
    raise SystemExit(main())
