"""Round-10 fixed-constant scale audit (VERDICT r09 item 10).

Synthetic 2k -> 128k sweep over the three remaining fixed constants,
mirroring the round-8 LSH/IVF auto-sizing audit (DESIGN.md):

1. cms_sketch depth=3, width=64 (sketches.py): the sketch never grows,
   so the question is ERROR growth — measure mean/max relative
   overestimate of in-domain point queries as distinct keys scale past
   the 192-cell grid, at width 64 vs sqrt-scaled width.
2. fingerprint_match_pairs k=8, w=4, cap=200, max_df=20
   (fingerprint.py): cap truncates fingerprinting to the first 200
   chars — measure candidate-pair growth vs corpus size on a
   template-heavy corpus (the adversarial case: shared prefixes) and
   whether the max_df guard keeps it near-linear.
3. split_oversized_clusters cap (clustering.py): within-cluster pair
   mass with one mega-cluster, capped vs uncapped — the documented
   linear-vs-quadratic claim, measured. NOTE: the mega-cluster is
   deliberately ALL-EVEN ids — this is the setup that caught the
   original `id % n_subs` sub key silently not splitting at all
   (ratio 1.0; fixed round 10 to an md5 bucket). Keep the stride: it
   is the adversarial case sharded id schemes produce at scale.

Results + conclusions: DESIGN.md "Round-10 — fixed-constants sweep".

Usage: python tools/constants_sweep.py [--sizes 2000,8000,32000,128000]
Prints one markdown table per constant (paste into DESIGN.md).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sizes = [2_000, 8_000, 32_000, 128_000]
    for a in sys.argv[1:]:
        if a.startswith("--sizes"):
            sizes = [int(x) for x in a.split("=", 1)[1].split(",")]

    from pyspark.sql import functions as F

    from earthquake_data_pipeline_spark.session import get_spark

    spark = get_spark(cpus=32)

    # ---- 1. CMS error growth at fixed 3x64 vs sqrt-scaled width ----
    from earthquake_data_pipeline_spark.operators.sketches import (
        cms_point_estimates,
        cms_sketch,
    )

    print("\n### cms_sketch: width=64 fixed vs width=next_pow2(>=distinct)")
    print("| N rows | distinct keys | width | mean rel err | max rel err | t(s) |")
    print("|---|---|---|---|---|---|")
    for n in sizes:
        # zipf-ish key mix: key j appears ~ n/(j+1) times, ~sqrt(n) distinct
        df = (
            spark.range(n)
            .select(
                F.floor(
                    F.sqrt(F.col("id").cast("double"))
                ).cast("long").cast("string").alias("k")
            )
            .localCheckpoint()
        )
        truth = df.groupBy("k").agg(F.count("*").alias("true_n"))
        n_distinct = truth.count()
        width_scaled = 1 << max(6, (int(n_distinct) - 1).bit_length())
        for width in (64, width_scaled):
            t0 = time.time()
            sk = cms_sketch(df, "k", depth=3, width=width).localCheckpoint()
            est = cms_point_estimates(
                sk, truth.select("k"), "k", depth=3, width=width
            )
            row = (
                est.join(truth, "k")
                .agg(
                    F.avg(
                        (F.col("cms_est") - F.col("true_n"))
                        / F.col("true_n")
                    ).alias("mean_rel"),
                    F.max(
                        (F.col("cms_est") - F.col("true_n"))
                        / F.col("true_n")
                    ).alias("max_rel"),
                )
                .collect()[0]
            )
            print(
                f"| {n} | {n_distinct} | {width} | {row['mean_rel']:.3f} "
                f"| {row['max_rel']:.3f} | {time.time()-t0:.1f} |"
            )

    # ---- 2. winnowing candidate-pair growth, template corpus ----
    from earthquake_data_pipeline_spark.operators.fingerprint import (
        fingerprint_match_pairs,
    )

    print("\n### fingerprint_match_pairs: k=8 w=4 cap=200 max_df=20, template corpus")
    print("| docs | candidate pairs | pairs/doc | t(s) |")
    print("|---|---|---|---|")
    for n in sizes:
        # 1% template families of 5 near-identical docs + 95% unique docs
        docs = (
            spark.range(n)
            .select(
                F.col("id").alias("doc_id"),
                F.when(
                    F.col("id") % 100 < 5,
                    F.concat(
                        F.lit("shared template preamble common to the family "),
                        (F.col("id") / 5).cast("long").cast("string"),
                        F.lit(" then boilerplate text that goes on and on "),
                        F.lit("with enough length to pass the char cap easily "),
                        F.lit("and a tiny per doc suffix "),
                        F.col("id").cast("string"),
                    ),
                ).otherwise(
                    F.concat(
                        F.lit("unique document body "),
                        F.md5(F.col("id").cast("string")),
                        F.lit(" "),
                        F.md5((F.col("id") + 1).cast("string")),
                        F.lit(" "),
                        F.md5((F.col("id") + 2).cast("string")),
                    )
                ).alias("text"),
            )
            .repartition(32)
            .localCheckpoint()
        )
        t0 = time.time()
        n_pairs = fingerprint_match_pairs(docs).count()
        print(f"| {n} | {n_pairs} | {n_pairs/n:.2f} | {time.time()-t0:.1f} |")

    # ---- 3. split_oversized_clusters pair mass, one mega-cluster ----
    print("\n### split_oversized_clusters: pair mass with a mega-cluster (cap=512)")
    print("| points | uncapped pairs | capped pairs | ratio | t(s) |")
    print("|---|---|---|---|---|")
    from earthquake_data_pipeline_spark.operators.clustering import (
        split_oversized_clusters,
    )

    for n in sizes:
        # 50% of points in one mega-cluster, rest uniform over n/100 clusters
        pts = (
            spark.range(n)
            .select(
                F.col("id"),
                F.when(F.col("id") % 2 == 0, F.lit(0))
                .otherwise((F.col("id") % (n // 100)) + 1)
                .cast("long")
                .alias("cluster_id"),
            )
            .localCheckpoint()
        )
        t0 = time.time()
        unc = (
            pts.groupBy("cluster_id")
            .agg(F.count("*").alias("c"))
            .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("p"))
            .collect()[0]["p"]
        )
        capped = split_oversized_clusters(pts, 512)
        cp = (
            capped.groupBy("cluster_id", "sub")
            .agg(F.count("*").alias("c"))
            .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("p"))
            .collect()[0]["p"]
        )
        print(
            f"| {n} | {int(unc)} | {int(cp)} | {cp/unc:.4f} "
            f"| {time.time()-t0:.1f} |"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
