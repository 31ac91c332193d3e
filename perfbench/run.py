"""Layered benchmark runner.

    python3 perfbench/run.py --workload elt_monthly --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 10

One run: start the session, warm up (untimed, reported as ``setup_s``),
run the workload's ops in a closed loop with one client for ``--seconds``
(whole rounds, at least the workload's minimum), check every output in
an untimed pass, and print the end-to-end metrics (``--trace 0``) or the
per-layer metrics of a traced run (``--trace 1``) as the last stdout line.
``--all`` runs every workload in its own process and prints a table.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "earthquake_data_pipeline_spark"
# The benchmark's workloads (BENCHMARK.json). ``olap_views`` runs only on
# request: a benchmark session makes 22 runs of every workload within one
# time budget, and on four cores a third workload does not fit.
WORKLOADS = ("elt_monthly", "iterative_build")
EXTRA_WORKLOADS = ("olap_views",)
DEFAULT_SF_DIR = "/root/testdata/sf0.1"
DEFAULT_DRIVER_MEM = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}

# Per-op layer numbers summarised by their median; every other per-op
# number counts work and is summarised by its per-op mean, so that a
# single op's Python or write traffic is not hidden by a median of zero.
_MEDIAN_METRICS = {
    "build.wall_s", "build.self_s", "build.share", "exec.wall_s", "exec.busy_share",
    "exec.task_skew", "enrich.call_s", "merge.call_s", "model.tables_s", "model.views_s",
    "enrich.spatial_hit_ratio", "enrich.fallback_hit_ratio",
}
LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "build.wall_s": "s", "build.self_s": "s", "build.jobs": "count",
    "build.sql_execs": "count", "build.pins": "count", "build.share": "ratio",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_busy_s": "s", "exec.busy_share": "ratio", "exec.sched_gap_s": "s",
    "exec.shuffle_write_bytes": "B", "exec.shuffle_read_bytes": "B", "exec.spill_bytes": "B",
    "exec.task_skew": "ratio", "exec.peak_exec_mem_bytes": "B",
    "seam.python_rows": "rows", "seam.bytes_to_python": "B", "seam.bytes_from_python": "B",
    "seam.python_run_s": "s",
    "enrich.call_s": "s", "enrich.spatial_hit_ratio": "ratio", "enrich.fallback_hit_ratio": "ratio",
    "merge.call_s": "s", "merge.bytes_written": "B", "merge.files_written": "count",
    "merge.write_amp": "ratio", "txnlog.versions": "count",
    "model.tables_s": "s", "model.views_s": "s", "model.fact_rows": "rows",
    "trace.overhead_ratio": "ratio", "trace.complete_share": "ratio",
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _process_start_epoch() -> float:
    """Wall-clock time this process was started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _git_sha() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _prepare_env(work_dir: str) -> int:
    """Environment the JVM and its Python workers inherit; returns cores."""
    cores = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM)
    # Python workers (mapInPandas, the Python data source) must import the
    # package from the checkout, whatever directory they start in.
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    return int(os.environ["SPARK_GRAFT_CPUS"])


def _session(cores: int, work_dir: str):
    from earthquake_data_pipeline_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    return get_spark(
        app_name="perfbench",
        cpus=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        },
    )


def _make_workload(name: str, spark, sf_dir: str, work_dir: str, seed: int):
    from perfbench import workloads as w

    if name == "elt_monthly":
        return w.EltMonthly(spark, work_dir, seed)
    if name == "olap_views":
        return w.CatalogWorkload(spark, sf_dir, w.OLAP_VIEWS, seed)
    # two warm-up passes and two measured rounds: op_tail_s is then the
    # slower query's median over two runs, each after two warm-up runs
    return w.CatalogWorkload(spark, sf_dir, w.ITERATIVE_BUILD, seed,
                             min_rounds=2, warm_passes=2)


def _settle(spark) -> None:
    """Start every op from a collected heap: garbage and unreferenced
    pins left by the previous op (or the warm-up) are cleaned here, not
    inside whichever op happens to follow it in the seeded order."""
    gc.collect()
    spark._jvm.System.gc()
    # The ContextCleaner drops the freed pins, shuffles and broadcasts
    # asynchronously; measured, it is done within 0.15 s of the GC.
    time.sleep(0.3)


def run_loop(wl, tracer, seconds: float) -> tuple[list[dict], int]:
    """Closed loop, one client, whole rounds: at least ``wl.min_rounds``,
    then another only while the mean round time says it ends within
    ``seconds``. Returns the op records and the number of ops that
    raised."""
    records, failed = [], 0
    t0 = time.perf_counter()
    for round_no, ops in enumerate(wl.rounds()):
        elapsed = time.perf_counter() - t0
        if round_no >= wl.min_rounds and elapsed * (round_no + 1) / round_no > seconds:
            break
        for op in ops:
            _settle(wl.spark)
            try:
                records.append(wl.run_op(tracer, op, round_no))
            except Exception as e:  # a failed op is counted, never retried
                print(f"perfbench: op {op!r} failed: {e}", file=sys.stderr)
                failed += 1
    return records, failed


def end_to_end(records: list[dict], failed: int, wrong: int, setup_s: float,
               rss_mb: float) -> tuple[dict, dict]:
    from perfbench.stats import median, op_tail

    lat = [r["wall_s"] for r in records]
    attempted = len(records) + failed
    rule, tail = op_tail([(r["name"], r["wall_s"]) for r in records])
    values = {
        "setup_s": setup_s,
        # the runner's pause between ops is think time, not system time
        "ops_per_s": len(records) / sum(lat),
        "op_p50_s": median(lat),
        "op_tail_s": tail,
        "peak_rss_mb": rss_mb,
        "ok_ratio": 1.0 - min(failed + wrong, attempted) / attempted,
    }
    detail = {"op_tail_rule": rule, "ops": len(lat), "attempted": attempted,
              "error_rate": 1.0 - values["ok_ratio"]}
    return values, detail


def layer_metrics(records: list[dict], cores: int, session_start_s: float,
                  warmup_s: float) -> dict:
    """Per-layer metrics of a traced run. ``trace.overhead_ratio`` is the
    median op wall over the median op wall without the tracer's own work
    inside the op (span bookkeeping, job-id reads, accumulator grabs);
    harvesting happens after each op and is not part of its wall time."""
    from perfbench.stats import mean, median
    from perfbench.tracing import op_layer_numbers

    bare = median([r["wall_s"] - r["trace_s"] for r in records])
    overhead_ratio = median([r["wall_s"] for r in records]) / bare if bare > 0 else 1.0
    per_op = []
    for r in records:
        nums = op_layer_numbers(r, cores)
        nums.update({k: v for k, v in r.items() if k in LAYER_UNITS})
        per_op.append(nums)
    out = {"session.start_s": session_start_s, "session.warmup_s": warmup_s,
           "trace.overhead_ratio": overhead_ratio}
    for name in LAYER_UNITS:
        if name not in out:
            vals = [n.get(name, 0.0) for n in per_op]
            out[name] = median(vals) if name in _MEDIAN_METRICS else mean(vals)
    return out


def run_one(args) -> int:
    proc_start = _process_start_epoch()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        _fail(f"{PACKAGE}/ not found next to perfbench/ — run from a full checkout")
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        _fail(f"test data not found at {sf_dir} (set SPARK_GRAFT_SF_DIR)")
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    cores = _prepare_env(work_dir)
    sys.path.insert(0, ROOT)

    spark = None
    try:
        import pyspark

        from perfbench.tracing import Tracer

        spark = _session(cores, work_dir)
        session_start_s = time.time() - proc_start
        wl = _make_workload(args.workload, spark, sf_dir, work_dir, args.seed)
        t_warm = time.time()
        wl.warmup()
        setup_s = time.time() - proc_start
        warmup_s = time.time() - t_warm

        tracer = Tracer(spark, args.workload, enabled=bool(args.trace))
        records, failed = run_loop(wl, tracer, args.seconds)
        tracer.finish()

        wrong_names, ambiguous = wl.check(os.path.join(out_dir, "oracle"))
        wrong = sum(1 for r in records
                    if args.workload == "elt_monthly" and wrong_names
                    or r["name"] in wrong_names)
        jvm = _jvm_pid(spark)
        rss_mb = (_vm_hwm_kb("self") + (_vm_hwm_kb(jvm) if jvm else 0)) / 1024.0
        manifest = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": os.cpu_count(), "cores": cores,
            "master": spark.sparkContext.master,
            "env": {k: os.environ.get(k) for k in
                    ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_REUSE", "SPARK_GRAFT_DRIVER_MEM")},
            "sf_dir": sf_dir, "pyspark": pyspark.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "git_sha": _git_sha(), "wrong": wrong_names, "ambiguous_keys": len(ambiguous),
            "loadavg": os.getloadavg(),
        }
        values, detail = end_to_end(records, failed, wrong, setup_s, rss_mb)
        manifest.update(detail)
        if args.trace:
            values = layer_metrics(records, cores, session_start_s, warmup_s)
        units = LAYER_UNITS if args.trace else END_TO_END_UNITS
        metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
        stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        with open(os.path.join(out_dir, f"{stamp}.json"), "w") as f:
            json.dump({
                "manifest": manifest, "metrics": metrics,
                "ops": [{"name": r["name"], "round": r["round"], "wall_s": r["wall_s"],
                         "phases": {k: p["wall_s"] for k, p in r["phases"].items()}}
                        for r in records],
                "spans": tracer.spans,
            }, f, default=str)
        print(json.dumps({"manifest": manifest}, default=str))
        for k, m in metrics.items():
            print(f"{args.workload:16s} {k:28s} {m['value']:.6g} {m['unit']}")
        correct = not wrong_names
        print(json.dumps({
            "correct": correct,
            "attempted": detail["attempted"],
            "failed": failed + wrong,
            "metrics": metrics,
        }))
        sys.stdout.flush()
        return 0 if correct else 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work_dir, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit: it exits when its
    stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_all(args) -> int:
    """Every workload in its own process; one table of all metrics."""
    status = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        if out.returncode != 0 or result is None or not result["correct"]:
            status = 1
        if result is None:
            print(f"{name:16s} FAILED (exit {out.returncode})")
            continue
        for k, m in result["metrics"].items():
            print(f"{name:16s} {k:28s} {m['value']:.6g} {m['unit']}")
        print(f"{name:16s} {'correct':28s} {result['correct']}")
    return status


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS + EXTRA_WORKLOADS)
    p.add_argument("--all", action="store_true", help="run every workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.all:
        return run_all(args)
    if not args.workload:
        p.error("--workload or --all is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
