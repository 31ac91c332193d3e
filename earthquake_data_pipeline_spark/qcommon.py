"""Shared helpers for the driver-facing query catalogs.

Kept in a leaf module so both driver_queries and driver_queries_ext can
import them without a cycle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TimestampType (UTC instant).

    The current testdata layout is parquet ``timestamp[us]`` with
    isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ. The
    session timezone is pinned to UTC (``_utc``) before the NTZ cast so
    the instant equals DuckDB's naive TIMESTAMP exactly. The round-4
    int64-epoch-nanos legacy branch (``nanosAsLong`` session conf) was
    retired in round 6 after two consecutive rounds on this layout;
    ``tests/test_testdata_contract.py`` pins ``ts`` to the timestamp
    family and fails by name if the generator ever drifts again.
    """
    t = df.schema["ts"].dataType
    if isinstance(t, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Session-scoped table-reader memo (r17 optimization, guide §6): every
# ``spark.read.parquet(path)`` pays ~90-120 ms of driver-side work
# (DataSource resolution, file listing, footer schema inference) EVEN
# when the same path was read moments earlier — per-query re-derivation
# a real deployment avoids with a catalog (schema known up front, no
# per-query inference). The memo caches the resolved base DataFrame —
# METADATA/PLAN ONLY, never rows: each action still scans the parquet
# files, so every bench/oracle invocation computes from the inputs.
# Keyed on (applicationId, path, mtime_ns, size): a new SparkContext or
# a rewritten file gets a fresh read (the adversarial-axis tools that
# mutate mirror dirs mid-process stay correct).
_TABLE_MEMO: dict[str, dict[tuple, DataFrame]] = {}


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # The NTZ→timestamp cast in normalize_events_ts reads the session
        # tz at plan time; pin UTC first so the instant is timezone-proof.
        _utc(spark)
    app = spark.sparkContext.applicationId
    per_app = _TABLE_MEMO.get(app)
    if per_app is None:
        _TABLE_MEMO.clear()  # drop readers of dead sessions
        per_app = _TABLE_MEMO.setdefault(app, {})
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = (path, -1, -1)  # nonexistent/remote: let Spark raise or list
    df = per_app.get(key)
    if df is None:
        df = spark.read.parquet(path)
        if name == "events":
            # memoize POST-normalization: the NTZ→timestamp cast was
            # planned under the UTC pin above, so the memoized plan is
            # timezone-proof by construction (and the ~20 ms withColumn
            # re-analysis per call disappears with the reader cost)
            df = normalize_events_ts(df)
        per_app[key] = df
    return df


_RAW_SCHEMA_MEMO: dict[tuple, "object"] = {}


def _table_schema(spark: SparkSession, sf_dir: str, name: str):
    """RAW parquet schema of a table (r17 optimization): the streaming
    file source requires the schema declared up front, and each
    ``spark.read.parquet(path).schema`` probe pays the same ~90-120 ms
    reader resolution the ``_table`` memo eliminates for batch reads.
    Memoized on (path, mtime_ns, size) — a plain value, not a plan, so
    no session key is needed; a rewritten file invalidates. NOTE: this
    is the PRE-normalization schema (events ``ts`` stays TIMESTAMP_NTZ),
    which is exactly what ``readStream.schema(...)`` must declare so the
    stream-side ``normalize_events_ts`` applies the identical cast.
    """
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return spark.read.parquet(path).schema
    schema = _RAW_SCHEMA_MEMO.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _RAW_SCHEMA_MEMO[key] = schema
    return schema


def _utc(spark: SparkSession) -> None:
    # The driver owns the SparkSession; pin UTC at runtime so parquet
    # timestamps collate identically to DuckDB's UTC-naive timestamps.
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _fanout(df: DataFrame) -> DataFrame:
    """Widen a narrow scan before CPU-heavy per-row work (hashing, regex,
    vector math).

    A file smaller than maxPartitionBytes scans as ONE partition, which
    serializes the expensive expression chain on one core no matter how
    many the session has. On a real cluster the scan is already wide, the
    guard is false, and no shuffle is added — so this never becomes a
    100-TB repartition; it only fires for small inputs where the shuffle
    is trivially cheap.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def reuse(df: DataFrame, eager: bool = False) -> DataFrame:
    """Pin a multiply-referenced derived subtree so it evaluates ONCE.

    Catalyst reuses exchanges, not arbitrary subtrees: a frame fed to
    both sides of a self-join (or to a df-aggregate AND the verification
    join that consumes it) re-runs its whole plan per reference unless
    something pins the intermediate. Every operator that fans a derived
    frame out more than once routes through this helper; the flavor of
    pinning is a DEPLOYMENT property, selected by ``SPARK_GRAFT_REUSE``:

    - ``auto`` (default): ``df.checkpoint()`` — a RELIABLE checkpoint,
      written to the cluster's checkpoint directory and recoverable
      after executor loss — when the SparkContext has one configured
      (production clusters should: ``sc.setCheckpointDir("hdfs://…")``);
      otherwise ``localCheckpoint()``. Local checkpoint blocks live in
      executor storage with lineage TRUNCATED, so losing one executor
      mid-job (spot preemption, dynamic deallocation, OOM kill) fails
      the whole job — acceptable on ``local[n]`` where executor loss
      cannot happen, fatal-by-design never silent-wrong on a static
      cluster, and the reason a 1000-executor deployment should set a
      checkpoint dir and get the reliable flavor with no code change.
    - ``local`` / ``reliable``: force either checkpoint flavor
      (``reliable`` without a checkpoint dir fails loudly at action
      time, by Spark contract).
    - ``persist``: ``MEMORY_AND_DISK`` cache — keeps lineage, so tasks
      recompute after executor loss instead of failing the job. The
      trade: columnar encode cost per build, and Dataset cache entries
      are held by the CacheManager until explicitly unpersisted — a
      long-lived driver must ``spark.catalog.clearCache()`` between
      jobs, which is why this is an opt-in, not the default.

    Reliable-flavor mechanics (ADVICE r10): ``Dataset.checkpoint`` does
    NOT cache before checkpointing — the checkpoint job RECOMPUTES the
    subtree, so an unpinned reliable checkpoint pays the plan twice.
    This helper therefore persists (MEMORY_AND_DISK) before a reliable
    checkpoint, materializes EAGERLY (ignoring ``eager=False`` — a lazy
    reliable pin would strand its staging cache until session cleanup,
    one entry per call in iterative drivers like connected_components),
    and unpersists as soon as the checkpoint files exist. Reliable
    checkpoint FILES are cleaned by the ContextCleaner only when
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (set in
    session.get_spark); on a foreign session without it, a long-lived
    driver leaks checkpoint-dir storage per pin and should clean its
    checkpoint dir itself.

    Local/persist flavors are lazy unless ``eager=True`` (first action
    materializes the pin); results are identical across flavors — only
    recovery semantics, storage residency, and materialization timing
    differ.
    """
    mode = os.environ.get("SPARK_GRAFT_REUSE", "auto")
    if mode == "persist":
        from pyspark.storagelevel import StorageLevel

        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        if eager:
            out.count()
        return out
    if mode == "auto":
        has_dir = df.sparkSession.sparkContext.getCheckpointDir() is not None
        mode = "reliable" if has_dir else "local"
    if mode == "reliable":
        from pyspark.storagelevel import StorageLevel

        # respect a caller-held pin: persist() returns the same
        # plan-keyed cache entry, so unconditionally unpersisting here
        # would silently drop the CALLER's cache (review finding r11) —
        # stage our own only when the frame is not already persisted
        already_pinned = df.storageLevel != StorageLevel.NONE
        cached = df if already_pinned else df.persist(StorageLevel.MEMORY_AND_DISK)
        # always eager: the checkpoint job fills the cache, writes the
        # files from it, and the staging cache is dropped immediately —
        # a lazy pin could not unpersist (its checkpoint job would not
        # have run yet) and would strand one cache entry per call
        out = cached.checkpoint(eager=True)
        if not already_pinned:
            cached.unpersist(blocking=False)
        return out
    return df.localCheckpoint(eager=eager)


def let(expr, body):
    """Bind ``expr`` as a lambda VARIABLE so ``body`` can reference it
    any number of times at the cost of ONE evaluation per row:
    ``element_at(transform(array(expr), x -> body(x)), 1)``.

    Why this exists (round-6 trap → round-10 scan → round-11 unification):
    higher-order functions bind only their lambda variable — an ARGUMENT
    subtree referenced inside a lambda re-evaluates per element (O(m²)
    for an O(m) subtree), and CollapseProject/pushdown substitute an
    aliased expression into every downstream reference while codegen's
    subexpression elimination rescues plain expressions but NOT
    lambda-bearing ones. This helper is the engine's one named fix for
    both; measured wins range from −26% (language_id) to 20× (the
    winnowing hash array). For MANY outputs off one bound struct, pair
    it with ``F.inline(F.array(struct))`` (single evaluation, columns
    exploded) — but measure first: Generate is interpreted row
    machinery and LOSES on cheap duplicate work (quality_score inline
    measured +49%; DESIGN.md round-11 shape table).

    ``body`` receives the bound Column and returns a Column; the result
    type is whatever ``body`` returns. NULL-safe: ``array(expr)`` always
    has exactly one element, so element_at(…, 1) is total.
    """
    return F.element_at(F.transform(F.array(expr), body), 1)


def round6x(col):
    """Engine-neutral 6-dp rounding for a double that is BIT-IDENTICAL in
    both engines (per-row expressions, int/int divisions — NOT raw float
    sums, which need decimal accumulation first).

    Plain round(double, 6) diverges between engines when the value sits
    on a 7+-dp tie (Spark rounds the shortest decimal representation,
    DuckDB the scaled binary value) — and small-integer ratios hit such
    ties SYSTEMATICALLY (x/128 always ends in ...5 at its 7th digit).
    Routing through decimal makes it deterministic: the double→
    decimal(18,12) cast is tie-free in practice (a ratio's binary
    expansion does not terminate on a 1e-12 grid), and rounding an exact
    decimal is HALF_UP in Spark and half-away-from-zero in DuckDB —
    identical for non-negative values.

    The DuckDB twin is: CAST(round(CAST(x AS DECIMAL(18,12)), 6) AS DOUBLE).
    """
    return F.round(col.cast("decimal(18,12)"), 6).cast("double")


def nonfinite_flag(col) -> "F.Column":
    """Per-row "is NaN or ±Infinity", FALSE for NULL — the building
    block of the r13 non-finite-poisoning discipline.

    Why it exists (r13 NaN-mirror axis): ``CAST(NaN AS DECIMAL)`` AND
    ``CAST(Infinity AS DECIMAL)`` are silently NULL in Spark — EVEN
    UNDER ANSI — so every decimal-accumulated sum silently DROPS
    non-finite addends, and ``floor(NaN)`` casts to 0; DuckDB raises
    on all of these (both probes test-pinned in test_functions.py).
    A non-finite value reaching a money/measurement aggregate must
    therefore be made VISIBLE, not absorbed: aggregate sites compute
    ``F.max(nonfinite_flag(v))`` beside the decimal sum (a boolean
    map-side-combined aggregate, free) and poison the emitted double
    with ``float('nan')`` when set, engine-equal because the oracle
    replays ``bool_or(isnan(v) OR isinf(v))``. Non-double outputs
    (ppm longs, rank picks) go NULL instead, pinned per site.

    Deliberate deviation from native float sums on Infinity: native
    ``sum(+inf)`` is ``+inf``, but the poison emits NaN for ANY
    non-finite input — one marker, "this aggregate saw non-finite
    input", never sign-dependent arithmetic over a dropped-addend
    decimal sum. NULL-safety: ``isnan(NULL)`` is engine-inconsistent
    territory; the coalesce pins NULL → FALSE.
    """
    c = col if not isinstance(col, str) else F.col(col)
    return F.coalesce(
        F.isnan(c) | (F.abs(c) == F.lit(float("inf"))), F.lit(False)
    )


def epoch_s(col) -> "F.Column":
    """FLOOR-exact epoch seconds of a timestamp — use instead of
    ``F.unix_timestamp`` at every second-truncation site (r13
    timestamp-domain mirror axis).

    Engine fact (test-pinned in test_functions.py): ``unix_timestamp``
    TRUNCATES TOWARD ZERO on pre-1970 fractional timestamps
    (1969-12-31T23:59:59.5 → 0), while ``CAST(ts AS LONG)`` floor-
    divides the microseconds (→ −1) — matching BOTH the oracles' exact
    ``epoch_us(date_trunc('second', ts)) // 1000000`` floor (r14
    ADVICE fix: the old ``floor(epoch(ts))`` rode a DOUBLE whose
    granularity passes 2 us beyond ~year 2242) and the calendar
    meaning of "the second this event occurred in". The two agree on every non-negative epoch and
    differ by exactly one second on every negative fractional one —
    a silent day/second-bucket shift class on a lake that carries
    bad-clock and sentinel timestamps. Exact over the full timestamp
    range (integer floorDiv — no double division involved).
    """
    c = col if not isinstance(col, str) else F.col(col)
    return c.cast("long")


def round6u(col):
    """Engine-identical 6-dp HALF_UP rounding for a NON-NEGATIVE double
    of corpus-growing magnitude: floor(x·1e6 + 0.5)/1e6 in float64.

    round6x's decimal(18,12) route bounds |x| < 1e6 and overflows loudly
    beyond — wrong for statistics that GROW with corpus size (chi2, PMI
    lift). The micro-unit form has no 1e6 bound: *1e6, +0.5 and floor
    are correctly-rounded IEEE ops on the identical input double, so
    both engines agree bit-for-bit. Spark's floor yields BIGINT — exact,
    and double-round-trip-identical to DuckDB's double-typed floor, up
    to 2^63 micro-units (x ≈ 9.2e12); past that Spark fails ANSI-loud,
    never silently. Same discipline assign_clusters' argmin uses
    (operators/clustering.py:77-85).

    Envelope note (round-10, Hypothesis-found): the ENGINE-IDENTITY
    claim above holds over the whole range, but "equals round-half-up
    to 6 dp" only holds while x·1e6 < 2^52 (x ≲ 4.5e9). Past that,
    double spacing at x·1e6 is ≥ 1, so x·1e6 is already an integer N
    and +0.5 creates an exact tie that rounds HALF-EVEN: odd N bumps
    one micro-unit above DuckDB's round(x, 6). That is a semantic
    quirk, not an oracle hazard — both engines run the identical
    micro-unit expression and still agree bit-for-bit (6-dp resolution
    does not exist in a double there anyway).

    The DuckDB twin is: floor(x*1e6 + 0.5)/1e6.
    """
    return F.floor(col * F.lit(1e6) + F.lit(0.5)).cast("double") / F.lit(1e6)


# ---------------------------------------------------------------------------
# Shared DuckDB oracle fragments: the MinHash-LSH pair replay is nested
# inside several oracles across the catalog modules, so it lives here.
# ---------------------------------------------------------------------------

_TOKS_SQL = r"regexp_split_to_array(lower(trim(text)), '\s+')"

MINHASH_SEEDS = 12
LSH_BANDS = 4


def _minhash_sql() -> str:
    from .operators.fuzzy_dedup import MINHASH_PRIME, minhash_coeffs

    a, b = minhash_coeffs(MINHASH_SEEDS)
    mins = ",\n         ".join(
        f"list_min(list_transform(xs, x -> ({a[s]} * x + {b[s]}) % {MINHASH_PRIME})) AS h{s}"
        for s in range(MINHASH_SEEDS)
    )
    rows = MINHASH_SEEDS // LSH_BANDS
    bands = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({key}) AS band_key FROM mh".format(
            b=b,
            key=" || '|' || ".join(f"h{b * rows + r}::VARCHAR" for r in range(rows)),
        )
        for b in range(LSH_BANDS)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
             generate_series(1, len(t) - 2),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [] END AS sh
  FROM toks
), xs AS (
  SELECT doc_id,
         list_transform(sh, g ->
             ('0x' || substring(md5(g), 1, 15))::BIGINT % {MINHASH_PRIME}) AS xs
  FROM sh
), mh AS (
  SELECT doc_id,
         {mins}
  FROM xs
), bands AS (
{bands}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""
