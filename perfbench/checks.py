"""Untimed output checks and the write/seam/model numbers of the traced
ELT run.

Catalog ops are compared with the DuckDB oracle SQL on the same parquet,
using the repository's own order-insensitive, type-sensitive comparison
(``tools/check.py``'s ``normalize``/``value_repr``). ELT months are
checked against an independent replay of the synthetic source and
against a full refresh over the same months.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
from datetime import date, timedelta

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _repo_check_module():
    spec = importlib.util.spec_from_file_location(
        "repo_tools_check", os.path.join(ROOT, "tools", "check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def frames_equal(check, a, b) -> bool:
    s, d = check.normalize(a), check.normalize(b)
    return (
        len(s) == len(d)
        and list(s.columns) == list(d.columns)
        and check.value_repr(s) == check.value_repr(d)
    )


def _oracle_frame(con, check, sf_dir: str, name: str, sql: str, cache_dir: str):
    """The oracle's rows for one query, cached per (SQL, input files): the
    heaviest oracles take 10-20 s in DuckDB and never change between runs."""
    import pandas as pd

    h = hashlib.sha256(sql.encode())
    for t in check.TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            st = os.stat(path)
            h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    cached = os.path.join(cache_dir, f"{name}-{h.hexdigest()[:16]}.pkl")
    if os.path.exists(cached):
        return pd.read_pickle(cached)
    df = con.execute(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{cached}.{os.getpid()}.tmp"
    df.to_pickle(tmp)
    os.replace(tmp, cached)
    return df


def oracle_mismatches(sf_dir: str, outputs: dict, cache_dir: str) -> list[str]:
    """Names of queries whose collected rows differ from the oracle's."""
    import duckdb

    from earthquake_data_pipeline_spark.driver_queries import ORACLE

    check = _repo_check_module()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in check.TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    bad = []
    for name, got in outputs.items():
        try:
            want = _oracle_frame(con, check, sf_dir, name, ORACLE[name], cache_dir)
        except Exception:
            bad.append(name)
            continue
        if not frames_equal(check, got, want):
            bad.append(name)
    con.close()
    return bad


def synthetic_events(first: date, end: date, rows_per_day: int) -> list[tuple[str, int]]:
    """The (place, epoch-ms) key of every event the synthetic USGS source
    generates for [first, end): an independent replay of its md5 rule."""
    out = []
    d = first
    while d < end:
        base = (d - date(1970, 1, 1)).days * 86_400_000
        for i in range(rows_per_day):
            h = hashlib.md5(f"{d}:{i}".encode()).digest()
            out.append((f"{h[1] % 300} km E of Synthville {h[2]}", base + (h[0] % 24) * 3_600_000))
        d += timedelta(days=1)
    return out


def digests(frames: dict) -> dict:
    """Per frame: an order-insensitive hash of all its rows and its row
    count, all computed in a single Spark collect."""
    from functools import reduce

    from pyspark.sql import functions as F

    keys = list(frames)
    parts = [
        df.agg(
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).select(F.lit(i).alias("i"), "h", "n")
        for i, df in enumerate(frames.values())
    ]
    rows = reduce(lambda a, b: a.unionAll(b), parts).collect()
    return {keys[r["i"]]: (r["h"], r["n"]) for r in rows}


def elt_mismatches(wl) -> tuple[list[str], list[str]]:
    """Check the measured table against the generated events and a full
    refresh over the same months.

    Returns (wrong, ambiguous): ``wrong`` names failed checks;
    ``ambiguous`` lists the (place, time) keys the source generated more
    than once. ``clean_events`` keeps any one event of such a key, so
    which one survives depends on the physical plan, and the incremental
    and full-refresh results may differ through those events alone.

    Checks: the fact's key set equals the generated one, exactly. Then,
    with the ambiguous keys dropped, the incremental fact and the
    full-refresh fact and each of the 9 views over them must hash-equal.
    Both facts are first put into one partition in key order, so that
    sums of doubles add in the same order on both sides.
    """
    from collections import Counter

    from pyspark.sql import functions as F

    from earthquake_data_pipeline_spark.driver_queries import (
        GEO_COUNTRY_LOOKUP, GEO_POLYGONS,
    )
    from earthquake_data_pipeline_spark.operators.cleaning import clean_events
    from earthquake_data_pipeline_spark.operators.enrichment import enrich_events
    from earthquake_data_pipeline_spark.plans.models import (
        ANALYTICS_MODELS, fact_earthquake_data, stg_earthquake,
    )

    spark = wl.spark
    generated = Counter()
    for first, end in wl.months:
        generated.update(synthetic_events(first, end, wl.rows_per_day))
    got = wl._fact.select("place", F.unix_millis("event_datetime").alias("ms")).toPandas()
    wrong = []
    if len(got) != len(generated) or set(zip(got.place, got.ms)) != set(generated):
        wrong.append("elt_monthly:fact_keys")

    first, end = wl.months[0][0], wl.months[-1][1]
    refreshed = clean_events(
        enrich_events(wl._raw(first, end, wl.rows_per_day), GEO_POLYGONS, GEO_COUNTRY_LOOKUP)
    )
    full = fact_earthquake_data(stg_earthquake(refreshed))
    ambiguous = [(p, ms) for (p, ms), n in generated.items() if n > 1]
    amb = spark.createDataFrame(ambiguous or [("", 0)], "place string, ms long")

    def canonical(fact):
        keyed = fact.withColumn("ms", F.unix_millis("event_datetime"))
        return (
            keyed.join(F.broadcast(amb), ["place", "ms"], "left_anti")
            .drop("ms")
            .coalesce(1)
            .sortWithinPartitions("place", "event_datetime")
            .localCheckpoint()
        )

    frames = {}
    for side, fact in (("incremental", wl._fact), ("refresh", full)):
        c = canonical(fact)
        frames[(side, "fact")] = c
        frames.update({(side, n): fn(c) for n, fn in ANALYTICS_MODELS.items()})
    got = digests(frames)
    names = ["fact", *ANALYTICS_MODELS]
    wrong += [f"elt_monthly:{n}" for n in names if got[("incremental", n)] != got[("refresh", n)]]
    return wrong, ambiguous


def elt_layer_numbers(wl, rec: dict, enriched, first: date, end: date) -> dict:
    """Write, model and enrichment numbers of one traced month, taken
    after the op's spans closed and its Spark work was harvested."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from earthquake_data_pipeline_spark.driver_queries import GEO_POLYGONS
    from earthquake_data_pipeline_spark.operators.enrichment import spatial_join
    from earthquake_data_pipeline_spark.sources import txnlog

    table = wl.table
    version = txnlog.latest_version(table)
    added = txnlog._read_manifest(table, version)["added"]
    paths = [os.path.join(table, "data", f) for f in added]
    rows_written = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
    month_rows = len(set(synthetic_events(first, end, wl.rows_per_day)))
    n, enriched_hits = enriched.agg(F.count("*"), F.count("country")).first()
    spatial_hits = spatial_join(
        wl._raw(first, end, wl.rows_per_day), GEO_POLYGONS
    ).agg(F.count("country")).first()[0]
    misses = n - spatial_hits
    ph = rec["phases"]
    return {
        "enrich.call_s": ph["enrich"]["wall_s"],
        "enrich.spatial_hit_ratio": spatial_hits / n if n else 0.0,
        "enrich.fallback_hit_ratio": (enriched_hits - spatial_hits) / misses if misses else 0.0,
        "merge.call_s": ph["merge"]["wall_s"],
        "merge.bytes_written": sum(os.path.getsize(p) for p in paths),
        "merge.files_written": len(paths),
        "merge.write_amp": rows_written / month_rows if month_rows else 0.0,
        "txnlog.versions": version + 1,
        "model.tables_s": ph["model_tables"]["wall_s"],
        "model.views_s": ph["views"]["wall_s"],
        "model.fact_rows": wl._fact.count(),
    }
