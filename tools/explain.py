"""Plan auditor: print the formatted physical plan of catalog queries
plus a one-line summary of the properties the 100 TB design cares about
(exchanges, Python stages, scans, joins, pushdown).

Usage: python tools/explain.py <query> [query ...] [--sf-dir D] [--full]
       python tools/explain.py --summary          # one line per query

--summary over the whole catalog is the round-start audit: any query
whose exchange/Python/scan counts moved since the last round deserves a
look at the full plan before the bench does.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Plan-only tooling escape hatch (ADVICE r15): the *_adaptive catalog
# entries run a sampled skew probe (a Spark ACTION) at plan-construction
# time, which would make this auditor launch jobs and make the printed
# plan depend on the sample. Pin the dispatch to the window face so
# plan audits are action-free and deterministic; the pre-split twins
# have their own named catalog/test coverage.
os.environ.setdefault("SPARK_GRAFT_DISPATCH", "window")


def summarize(plan: str) -> str:
    marks = {
        "hashX": plan.count("Exchange hashpartitioning"),
        "rangeX": plan.count("Exchange rangepartitioning"),
        "singleX": plan.count("Exchange SinglePartition"),
        "scan": plan.count("FileScan"),
        "bcastJ": plan.count("BroadcastHashJoin"),
        "smJ": plan.count("SortMergeJoin"),
        "win": plan.count("Window"),
        "py": plan.count("BatchEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        "cart": plan.count("CartesianProduct"),
    }
    return " ".join(f"{k}={v}" for k, v in marks.items() if v)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--full", action="store_true", help="formatted plan, not summary")
    ap.add_argument("--summary", action="store_true", help="whole catalog, one line each")
    args = ap.parse_args()

    from earthquake_data_pipeline_spark.driver_queries import QUERIES
    from earthquake_data_pipeline_spark.session import get_spark

    spark = get_spark(cpus=8)
    names = list(QUERIES) if args.summary else args.names
    if not names:
        ap.error("give query names or --summary")
    for name in names:
        if name not in QUERIES:
            print(f"{name}: UNKNOWN")
            continue
        df = QUERIES[name](spark, args.sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if args.full:
            print(f"===== {name} =====")
            df.explain("formatted")
        else:
            print(f"{name}: {summarize(plan)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
