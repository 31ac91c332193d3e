"""Interleaved A/B adjudication of the dedup_components drift
(VERDICT r11 item 4: r10 certified 1.91/2.06 s → r11 2.39–2.46/2.14 s —
forward +25%, reverse +4%, noise-leaning but unresolved).

Protocol (bench-noise rules): ONE session, warmup run excluded
(cold-codegen), then strict A/B/A/B... interleaving so host drift hits
both variants equally; loadavg sampled before and after; only
within-session ratios are meaningful.

A = r10 fuzzy_dedup (minhash_lsh_pairs BEFORE the shingles_of
    let-binding), extracted AT RUNTIME from commit 9a254fa into a
    temporary module inside the package (relative imports need the
    package context) and deleted afterward — never a committed file.
B = current fuzzy_dedup.

Both feed the SAME connected_components (unchanged since r10) and run
at sf0.1 like the bench. Usage: python tools/ab_dedup_components.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


_TMP_MOD = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "earthquake_data_pipeline_spark",
    "operators",
    "_fuzzy_dedup_r10_tmp.py",
)


def main() -> int:
    import subprocess

    src = subprocess.run(
        ["git", "show", "9a254fa:earthquake_data_pipeline_spark/operators/fuzzy_dedup.py"],
        capture_output=True,
        text=True,
        check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ).stdout
    with open(_TMP_MOD, "w") as f:
        f.write(src)

    from earthquake_data_pipeline_spark import qcommon
    from earthquake_data_pipeline_spark.qcommon import LSH_BANDS, MINHASH_SEEDS
    from earthquake_data_pipeline_spark.operators import _fuzzy_dedup_r10_tmp as old
    from earthquake_data_pipeline_spark.operators import fuzzy_dedup as new
    from earthquake_data_pipeline_spark.operators.dedup import (
        connected_components,
    )
    from earthquake_data_pipeline_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="edps-ab-dedup", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))

    def build(mod):
        docs = qcommon._fanout(
            qcommon._table(spark, sf_dir, "documents").select("doc_id", "text")
        )
        pairs = mod.minhash_lsh_pairs(
            docs, num_hashes=MINHASH_SEEDS, num_bands=LSH_BANDS, star_over=2
        )
        return connected_components(pairs).orderBy("doc_id")

    def run(mod):
        t0 = time.time()
        n = build(mod).count()
        return time.time() - t0, n

    try:
        print("loadavg_pre:", open("/proc/loadavg").read().split()[:3])
        warm_t, warm_n = run(new)
        print(f"warmup (B, excluded): {warm_t:.2f}s rows={warm_n}")
        results = {"A_r10": [], "B_r11": []}
        for i in range(4):
            ta, na = run(old)
            tb, nb = run(new)
            assert na == nb, (na, nb)
            results["A_r10"].append(ta)
            results["B_r11"].append(tb)
            print(f"round {i}: A={ta:.2f}s  B={tb:.2f}s")
        print("loadavg_post:", open("/proc/loadavg").read().split()[:3])
        a = sorted(results["A_r10"])
        b = sorted(results["B_r11"])
        print(f"A_r10 best/med: {a[0]:.2f}/{a[len(a)//2]:.2f}  "
              f"B_r11 best/med: {b[0]:.2f}/{b[len(b)//2]:.2f}  "
              f"B/A best ratio: {b[0]/a[0]:.3f}")
        return 0
    finally:
        if os.path.exists(_TMP_MOD):
            os.remove(_TMP_MOD)


if __name__ == "__main__":
    raise SystemExit(main())
