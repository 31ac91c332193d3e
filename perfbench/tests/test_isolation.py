"""Workload isolation on the engine as it is: the catalog workloads reach
neither the write layer nor (with one named exception) the Python seam.

Runs every catalog op of the benchmark once, traced, at the small scale
factor (about two minutes on four cores):

    python3 -m pytest perfbench/tests/test_isolation.py -q
"""

from __future__ import annotations

import os
import shutil

import pytest

from perfbench import run
from perfbench.tracing import Tracer, op_layer_numbers
from perfbench.workloads import ITERATIVE_BUILD, OLAP_VIEWS, CatalogWorkload

SF_DIR = os.environ.get(
    "PERFBENCH_TEST_SF_DIR", os.path.join(os.path.dirname(run.DEFAULT_SF_DIR), "sf0.01")
)
# applyInPandasWithState: the one catalog op of the benchmark with a
# Python node, so its seam numbers are the only non-zero ones.
PYTHON_OPS = {"stream_running_totals"}

pytestmark = pytest.mark.skipif(
    not os.path.isfile(os.path.join(SF_DIR, "lineitem.parquet")),
    reason=f"no test data at {SF_DIR}",
)


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(run.ROOT, ".perfbench_work", f"isolation-{os.getpid()}")
    run._prepare_env(work)
    session = run._session(2, work)
    yield session
    run._stop(session)
    shutil.rmtree(work, ignore_errors=True)


@pytest.mark.parametrize("names", [OLAP_VIEWS, ITERATIVE_BUILD], ids=["olap_views", "iterative_build"])
def test_catalog_ops_bypass_seam_and_write(spark, names):
    wl = CatalogWorkload(spark, SF_DIR, names, seed=0)
    tracer = Tracer(spark, "isolation", enabled=True)
    records = [wl.run_op(tracer, name, 0) for name in names]
    for rec in records:
        nums = op_layer_numbers(rec, 2)
        seam = [nums[k] for k in ("seam.python_rows", "seam.bytes_to_python",
                                  "seam.bytes_from_python")]
        if rec["name"] in PYTHON_OPS:
            assert seam[0] > 0, rec["name"]  # rows returned by the Python node
        else:
            assert seam == [0, 0, 0], rec["name"]
        assert nums["trace.complete_share"] == 1.0, rec["name"]
    layer = run.layer_metrics(records, 2, 0.0, 0.0)
    assert all(v == 0 for k, v in layer.items() if k.split(".")[0] in ("merge", "txnlog"))
