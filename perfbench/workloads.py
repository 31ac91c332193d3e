"""The closed-loop workloads (one client, one op at a time).

Each workload takes the seed when it is made and exposes ``warmup()``
(untimed, folded into ``setup_s``), ``rounds()`` (the seeded op
sequence, one list of ops per round), ``run_op(tracer, op, round_no)``
and ``check(cache_dir)`` (untimed output checks: the names of wrong
outputs, and the keys the check had to leave out). The program only
ever sees the generated inputs; the seed stays in this file.
"""

from __future__ import annotations

import os
import random
import shutil
from datetime import date

# Catalog queries that run only in the JVM and spend most of their time
# executing (joins, aggregation, shuffle, AQE skew handling); none has a
# Python node. A per-run time budget keeps this to the cheaper half of
# the exec-bound catalog (README.md lists what was left out).
OLAP_VIEWS = [
    "pricing_summary", "region_rollup", "fact_fact_join", "severity_buckets",
    "max_per_group", "conditional_ratio", "salted_join", "cube_agg", "window_running",
]

# Catalog queries whose driver runs Spark actions while building the plan
# (pins, partition probes, iterative loops, a stream run to completion).
# Two queries, so that a run fits two warm-up passes and two measured
# rounds of them: the MinHash-LSH pairs and iterative connected
# components of ``dedup_components`` run inside ``dedup_keep_list`` too,
# and ``kmeans_clusters``' Lloyd loop is the same kind of driver loop of
# collects (README.md lists what was left out and why).
ITERATIVE_BUILD = ["dedup_keep_list", "stream_running_totals"]

MERGE_KEYS = ["place", "earthquake_datetime"]


def query_rounds(names: list[str], seed: int):
    """Endless rounds over ``names``, each in a fresh seeded permutation."""
    rng = random.Random(seed)
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order


def start_month(seed: int) -> date:
    """The seeded first month of the ELT run, 2000-01 to 2019-12."""
    rng = random.Random(seed)
    return date(2000 + rng.randrange(20), 1 + rng.randrange(12), 1)


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


class CatalogWorkload:
    """One op = one catalog query: ``build`` is ``fn(spark, sf_dir)``,
    ``exec`` runs the returned plan to the noop sink. The seed permutes
    the query order in every round."""

    def __init__(self, spark, sf_dir: str, queries: list[str], seed: int,
                 min_rounds: int = 1, warm_passes: int = 1):
        from earthquake_data_pipeline_spark.driver_queries import QUERIES

        self.spark = spark
        self.min_rounds = min_rounds
        self.warm_passes = warm_passes
        self.seed = seed
        self.sf_dir = sf_dir
        self.names = list(queries)
        self.fns = {n: QUERIES[n] for n in self.names}
        self.outputs: dict = {}

    def rounds(self):
        return query_rounds(self.names, self.seed)

    def warmup(self) -> None:
        """Untimed passes in the first round's order, so no query runs
        twice back to back where the warm-up meets the loop. The first
        collects every query's result: it compiles each plan and keeps
        the rows for the oracle check. Each further pass runs the ops as
        the loop does; a query's second run is still 20-30% slower than
        its third while the JIT compiles."""
        order = next(self.rounds())
        for name in order:
            self.outputs[name] = self.fns[name](self.spark, self.sf_dir).toPandas()
        for _ in range(self.warm_passes - 1):
            for name in order:
                self.fns[name](self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()

    def run_op(self, tracer, name: str, round_no: int) -> dict:
        pins0 = _persistent_rdd_ids(self.spark) if tracer.enabled else set()
        with tracer.op(name, round_no) as rec:
            with tracer.phase(rec, "build", "build"):
                df = self.fns[name](self.spark, self.sf_dir)
            with tracer.phase(rec, "exec", "run"):
                df.write.format("noop").mode("overwrite").save()
        if tracer.enabled:
            rec["pins"] = len(_persistent_rdd_ids(self.spark) - pins0)
            tracer.harvest(rec)
        return rec

    def check(self, cache_dir: str) -> tuple[list[str], list[str]]:
        from perfbench.checks import oracle_mismatches

        return oracle_mismatches(self.sf_dir, self.outputs, cache_dir), []


class EltMonthly:
    """One op = one monthly increment of the paper's pipeline:
    synthetic USGS extract → enrich → clean → MERGE into a versioned
    table → stg/fact tables and the 9 analytics views, each executed to
    the noop sink. The seed picks the start month.

    The warm-up runs the first month into the same table (an overwrite),
    so every measured op is a MERGE into a table that grows by one month
    per op. A month costs about 45 Spark jobs; two per run halve the
    run-to-run spread of one and still fit the run budget beside the
    warm-up and the output check."""

    min_rounds = 2
    warmup_months = 1
    rows_per_day = 500

    def __init__(self, spark, work_dir: str, seed: int):
        from earthquake_data_pipeline_spark.sources.usgs import UsgsDataSource

        spark.dataSource.register(UsgsDataSource)
        self.spark = spark
        self.start = start_month(seed)
        self.table = os.path.join(work_dir, "events")
        shutil.rmtree(self.table, ignore_errors=True)
        self.months: list[tuple[date, date]] = []
        self._fact = None

    @staticmethod
    def month_span(start: date, k: int) -> tuple[date, date]:
        y, m = divmod(start.month - 1 + k, 12)
        first = date(start.year + y, m + 1, 1)
        y2, m2 = divmod(first.month, 12)
        return first, date(first.year + y2, m2 + 1, 1)

    def rounds(self):
        """One month per round, continuing after the months already in
        the table."""
        while True:
            yield [self.month_span(self.start, len(self.months))]

    def _raw(self, first: date, end: date, rows_per_day: int):
        return (
            self.spark.read.format("usgs_fdsn")
            .option("mode", "synthetic")
            .option("rows_per_day", str(rows_per_day))
            .option("start_date", str(first))
            .option("end_date", str(end))
            .load()
        )

    def _registry(self, source_df, warehouse: str | None):
        from earthquake_data_pipeline_spark.plans.models import (
            ANALYTICS_MODELS, fact_earthquake_data, stg_earthquake,
        )
        from earthquake_data_pipeline_spark.plans.registry import ModelRegistry

        reg = ModelRegistry(self.spark, warehouse_dir=warehouse)
        reg.source("cleaned", source_df)
        reg.model("stg_earthquake", stg_earthquake, ["cleaned"], materialization="table")
        reg.model("fact_earthquake_data", fact_earthquake_data, ["stg_earthquake"],
                  materialization="table")
        for name, fn in ANALYTICS_MODELS.items():
            reg.model(name, fn, ["fact_earthquake_data"], materialization="view")
        return reg, list(ANALYTICS_MODELS)

    def _month(self, tracer, rec, first, end):
        from earthquake_data_pipeline_spark.driver_queries import (
            GEO_COUNTRY_LOOKUP, GEO_POLYGONS,
        )
        from earthquake_data_pipeline_spark.operators.cleaning import clean_events
        from earthquake_data_pipeline_spark.operators.enrichment import enrich_events
        from earthquake_data_pipeline_spark.sources import txnlog

        with tracer.phase(rec, "enrich", "build"):
            enriched = enrich_events(
                self._raw(first, end, self.rows_per_day), GEO_POLYGONS, GEO_COUNTRY_LOOKUP
            )
        with tracer.phase(rec, "clean", "build"):
            cleaned = clean_events(enriched)
        with tracer.phase(rec, "merge", "run"):
            if self.months:
                txnlog.merge_commit(cleaned, self.table, MERGE_KEYS)
            else:
                txnlog.commit_overwrite(cleaned, self.table)
        with tracer.phase(rec, "model_tables", "run"):
            reg, views = self._registry(
                txnlog.read_snapshot(self.spark, self.table), self.table + "_wh"
            )
            results = reg.run()
        with tracer.phase(rec, "views", "run"):
            for name in views:
                results[name].write.format("noop").mode("overwrite").save()
        self.months.append((first, end))
        self._fact = results["fact_earthquake_data"]
        return enriched

    def warmup(self) -> None:
        from perfbench.tracing import Tracer

        quiet = Tracer(self.spark, "warmup", enabled=False)
        for k in range(self.warmup_months):
            first, end = self.month_span(self.start, k)
            with quiet.op("warmup", k) as rec:
                self._month(quiet, rec, first, end)

    def run_op(self, tracer, op, round_no: int) -> dict:
        first, end = op
        with tracer.op(f"month {first:%Y-%m}", round_no) as rec:
            enriched = self._month(tracer, rec, first, end)
        if tracer.enabled:
            from perfbench.checks import elt_layer_numbers

            tracer.harvest(rec)
            rec.update(elt_layer_numbers(self, rec, enriched, first, end))
            tracer.skip_executions()
        return rec

    def check(self, cache_dir: str) -> tuple[list[str], list[str]]:
        from perfbench.checks import elt_mismatches

        return elt_mismatches(self)
