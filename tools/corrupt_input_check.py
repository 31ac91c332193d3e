"""Corrupted-input loudness sweep — seventeenth hostile axis (round 14).

A 100 TB lake WILL contain a truncated object (interrupted multipart
upload) or a bit-flipped page (storage rot) eventually. The only
acceptable engine behavior is LOUD failure naming the problem — never
an empty result, never PARTIAL rows silently missing the corrupted
split (the silent-wrong shape: a daily aggregate that quietly lost one
file's worth of events). Spark's default is loud
(``spark.sql.files.ignoreCorruptFiles=false``); this axis pins that
the engine actually rides the default and that corruption is
contained PER FILE:

- ``truncated``: the last 1 KiB of events.parquet removed — kills the
  footer, so even schema resolution must fail;
- ``bitflip``: 64 bytes XOR-flipped mid-file — footer intact, page
  decode / CRC fails at EXECUTION time (the sneakier case: the plan
  builds fine);
- control: the same corrupt directory's NON-events tables stay
  readable — lineitem queries succeed, proving the blast radius is
  the corrupted file, not the directory.

Outcome classes (tools/check.py's, against the DuckDB oracle on the
pristine source tables): every events-reading probe must raise
(``spark_error``), the control must ``match``. Expectation table EMPTY
by design.

Usage: python tools/corrupt_input_check.py
"""

from __future__ import annotations

import os
import shutil

from check import TABLES, oracle, sweep

_SRC = "/root/testdata/sf0.001"
_MIRROR = "/tmp/edps-corrupt-sf"

# events-reading probes spanning the read paths: plain scan+clean,
# window, stream (availableNow), python-stage. (First draft used
# yearly_stats here and its SILENT verdict was the AXIS's bug — that
# query reads lineitem, which the mirror leaves intact; the probes
# must actually read the corrupted table.)
EVENTS_PROBES = ["clean_events", "sessionization", "stream_window_counts",
                 "token_bucket"]
# control probes that never read events
CONTROL_PROBES = ["pricing_summary", "top_k_orders"]

KNOWN_CORRUPT_BEHAVIOR: dict[str, str] = {}


def make_mirror(mode: str) -> str:
    d = f"{_MIRROR}-{mode}"
    if os.path.isdir(d):
        shutil.rmtree(d)
    os.makedirs(d)
    for t in TABLES:
        shutil.copyfile(
            os.path.join(_SRC, f"{t}.parquet"), os.path.join(d, f"{t}.parquet")
        )
    target = os.path.join(d, "events.parquet")
    size = os.path.getsize(target)
    if mode == "truncated":
        with open(target, "r+b") as f:
            f.truncate(max(size - 1024, 16))
    elif mode == "bitflip":
        with open(target, "r+b") as f:
            f.seek(size // 2)
            chunk = bytearray(f.read(64))
            f.seek(size // 2)
            f.write(bytes(b ^ 0xFF for b in chunk))
    else:  # pragma: no cover - guarded by caller
        raise ValueError(mode)
    return d


def main() -> int:
    from earthquake_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="edps-corrupt-sweep", cpus=8,
                      shuffle_partitions=8)
    # the oracle reads the pristine tables: a corrupted events file must
    # make Spark fail loud, and every other table must still match
    con = oracle(_SRC)
    expected = {p: "spark_error" for p in EVENTS_PROBES}
    expected.update(KNOWN_CORRUPT_BEHAVIOR)
    n_ok, findings = 0, []
    for mode in ("truncated", "bitflip"):
        print(f"== {mode} events.parquet ==")
        n, f = sweep(spark, con, make_mirror(mode), EVENTS_PROBES + CONTROL_PROBES,
                     expected=expected)
        n_ok, findings = n_ok + n, findings + [f"{mode}/{x}" for x in f]
    print(f"\n{n_ok}/{n_ok + len(findings)} as documented", *findings, sep="\n")
    return 1 if findings else 0


if __name__ == "__main__":
    raise SystemExit(main())
