"""Driver-facing Structured Streaming queries (SURVEY.md §2.9 gate proof).

The streaming operators in ``streaming/incremental.py`` have been
unit-tested since round 1 but never driver-proven: the DuckDB oracle gate
compares batch DataFrames, and a streaming query's output normally depends
on micro-batch boundaries (watermark drops, append timing). These three
queries close that gap by running REAL streaming plans — file-source
``readStream``, ``Trigger.AvailableNow``, memory sink — whose final output
is mathematically independent of how the data is split into micro-batches,
so a plain batch SQL oracle applies:

- ``stream_window_counts``  — tumbling-window agg in COMPLETE mode. The
  complete-mode state holds every window, so the last emitted result set
  equals the batch group-by no matter the batch boundaries.
- ``stream_running_totals`` — custom stateful operator via
  ``applyInPandasWithState`` in UPDATE mode. Per-key counts are strictly
  monotonic across emissions, so max-by-count per key recovers the final
  state; totals are integer cents, so the sum is batch-split-invariant
  (no float reassociation).
- ``stream_dedup_days``     — streaming ``dropDuplicates`` in APPEND mode
  projected to the dedup key alone, so the emitted set is exactly the
  batch DISTINCT regardless of which arrival "won" each key.

Reference parity: the reference's incremental loads are batch-shaped
(dbt high-water mark + MERGE — ``dbt/models/*incremental*`` per SURVEY
§2.9); these are the streaming faces of I1–I3 made gate-checkable.

Scale notes: the file source lists and partitions files exactly like the
batch reader; stateful shuffles are keyed by the group hash across
executors. The memory sink is the TEST harness (driver-resident results
of already-aggregated, small cardinality); production sinks are
``foreach_batch_merge`` / parquet append in ``streaming/incremental.py``.
State partition count is pinned small here because the gate's key
cardinality is tiny (~50 users); a real deployment sizes
``spark.sql.shuffle.partitions`` to the key space instead.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .qcommon import _table_schema, _utc, epoch_s, normalize_events_ts

_SINK_IDS = itertools.count()


def _read_stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming face of qcommon._table('events'): same ts normalization
    (see ``qcommon.normalize_events_ts``), via the file stream source
    (directory + glob, because the file source requires a directory
    basePath). A batch read probes the schema (the stream source needs it
    declared up front), then the stream applies the identical
    normalization — since the round-6 retirement of the nanosAsLong
    legacy branch both paths support exactly the one timestamp[us]
    layout the testdata contract pins, so batch and stream can no longer
    diverge on layout support.
    """
    _utc(spark)
    # r17 optimization: the schema probe rides the qcommon raw-schema
    # memo (file-identity keyed) instead of paying a fresh ~100 ms
    # reader resolution per stream query build.
    schema = _table_schema(spark, sf_dir, "events")
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw)


def _run_to_memory(df: DataFrame, mode: str, prefix: str, partitions: int = 8):
    """Start df as a streaming query into a memory sink, drain it with
    AvailableNow, and return the sink table name.

    Pins the state-store partition count for the query's lifetime: the
    gate data has tiny key cardinality and each state partition costs a
    Python-worker/state-store spin per micro-batch (round-3 lesson from
    codec_roundtrip: worker spins dominate tiny inputs). r18 (VERDICT
    r17 item 8) instrumented the replay and MEASURED 8 vs 2 partitions:
    start()/temp-dir setup is ~0.07 s warm (nothing to share), the
    complete-mode agg's await drops 0.94 → 0.71 s at 2, but the
    applyInPandasWithState query REGRESSES 1.5 → 2.3-3.3 s at 2 (the
    Python stateful stage wants the parallel workers), and the
    append-dedup build is a wash — so the pin stays 8; the residual
    ~0.7-1.5 s per build is the one micro-batch's offset-log/state-
    store/commit machinery, not shareable without touching replay
    semantics."""
    spark = df.sparkSession
    name = f"{prefix}_{next(_SINK_IDS)}"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        q = (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return name


def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day windows × event_type: count + exact money sum,
    computed by a streaming complete-mode aggregation (I2's streaming
    face, ``streaming/incremental.py::windowed_event_counts``).

    Complete mode keeps all windows in state, so the final table equals
    the batch group-by for ANY micro-batch split. The window start is
    emitted as epoch seconds (BIGINT) to stay timezone-proof, and the
    money sum goes through decimal so both engines add exactly.

    Non-finite values (r13 discipline): the decimal cast silently
    DROPS a NaN/±Inf addend, so a boolean max flag rides the same
    streaming state (max is merge-able — batch-split-invariant like
    the sum) and poisons the emitted sum to NaN, the native float
    answer's visible marker.
    """
    from .qcommon import nonfinite_flag

    ev = _read_stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("dec_sum"),
            F.max(nonfinite_flag("value")).alias("nf"),
        )
    )
    name = _run_to_memory(agg, "complete", "swc")
    return spark.table(name).select(
        # epoch_s, not unix_timestamp (family convention, r14): window
        # starts are second-aligned so truncate == floor today, but the
        # floor form can never drift if the window grid gains fractions
        epoch_s(F.col("win.start")).alias("window_start_s"),
        "event_type",
        "n_events",
        F.when(F.col("nf"), F.lit(float("nan")))
        .otherwise(F.col("dec_sum").cast("double"))
        .alias("sum_value"),
    )


SQL_STREAM_WINDOW_COUNTS = """
SELECT (epoch_us(date_trunc('day', ts)) // 1000000) AS window_start_s,
       event_type,
       count(*) AS n_events,
       CASE WHEN bool_or(isnan(value) OR isinf(value)) THEN 'NaN'::DOUBLE
            ELSE CAST(sum(CAST(CASE WHEN isnan(value) OR isinf(value)
                               THEN NULL ELSE value END
                          AS DECIMAL(18,2))) AS DOUBLE)
       END AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running (count, total) via ``applyInPandasWithState`` —
    the arbitrary-state API (``streaming/incremental.py::
    running_user_totals``), driven end-to-end and reduced to its final
    state.

    Update mode emits one row per touched key per micro-batch; the
    per-key count is strictly increasing across emissions, so
    max-by-count recovers the final state under any batch split. Values
    are summed as integer cents (exact decimal → long), so the total has
    no float-order dependence.

    Non-finite values (r13 discipline): a NaN/±Inf value cents-casts
    to a silent NULL (pandas sees NaN, ``.sum()`` skips it) — a sticky
    boolean rides the state and the emitted rows, and the final
    total_cents goes NULL for poisoned keys; n_events stays the real
    row count. The flag is monotone (false→true only), so it is as
    batch-split-invariant as the count.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .qcommon import nonfinite_flag

    ev = _read_stream_events(spark, sf_dir).select(
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        nonfinite_flag("value").alias("nf"),
    )

    def update(key: tuple, pdfs, state: GroupState):
        n, total, nf = state.get if state.exists else (0, 0, False)
        for pdf in pdfs:
            n += len(pdf)
            total += int(pdf["cents"].sum())
            nf = bool(nf or pdf["nf"].any())
        state.update((n, total, nf))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_cents": [total],
                "nf": [nf],
            }
        )

    upd = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, n_events long, total_cents long, nf boolean"
        ),
        stateStructType="n long, total long, nf boolean",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = _run_to_memory(upd, "update", "srt")
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_cents", "nf")).alias("s"))
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.when(~F.col("s.nf"), F.col("s.total_cents")).alias(
                "total_cents"
            ),
        )
    )


SQL_STREAM_RUNNING_TOTALS = """
SELECT user_id,
       count(*) AS n_events,
       CASE WHEN bool_or(isnan(value) OR isinf(value)) THEN NULL
            ELSE CAST(sum(CAST(CAST(CASE WHEN isnan(value) OR isinf(value)
                                    THEN NULL ELSE value END
                     AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
       END AS total_cents
FROM events
GROUP BY 1
"""


def q_stream_dedup_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ``dropDuplicates`` on (event_type, day): the emitted set
    is the batch DISTINCT because only the dedup key is projected —
    whichever physical row reaches the state store first, the output row
    is identical.

    This is the unbounded-state test face; the production face is
    ``streaming/incremental.py::streaming_dedup``, whose watermark bounds
    state at the declared lateness horizon. Day buckets FLOOR (r13
    ts-domain axis): the old ``div`` truncation shifted every pre-1970
    event one day late vs the oracle's floor — the axis's founding
    divergence.
    """
    from .qcommon import epoch_s

    ded = (
        _read_stream_events(spark, sf_dir)
        .select(
            "event_type",
            (F.floor(epoch_s("ts") / F.lit(86400)) * 86400)
            .cast("long")
            .alias("day_s"),
        )
        .dropDuplicates(["event_type", "day_s"])
    )
    name = _run_to_memory(ded, "append", "sdd")
    return spark.table(name).select("event_type", "day_s")


SQL_STREAM_DEDUP_DAYS = """
SELECT DISTINCT event_type,
       (epoch_us(date_trunc('day', ts)) // 1000000) AS day_s
FROM events
"""


CATALOG = [
    ("stream_window_counts", q_stream_window_counts, SQL_STREAM_WINDOW_COUNTS),
    ("stream_running_totals", q_stream_running_totals, SQL_STREAM_RUNNING_TOTALS),
    ("stream_dedup_days", q_stream_dedup_days, SQL_STREAM_DEDUP_DAYS),
]
