"""Round-17 1M-row scale sweep for the dedup/ANN quadratic guards
(VERDICT r16 item 3).

The r08/r10 constants sweeps (DESIGN.md) stop at 128k rows; this sweep
extends the measured evidence for the three guarded candidate
generators to ~1M docs on a corpus with >=20% byte-identical duplicate
mass — the adversarial shape web-scale dedup actually sees, and the one
that cliques quadratically without the guards:

1. minhash_lsh_pairs(star_over=64): identical mass collides in EVERY
   band at any banding, so the hot buckets must take the O(m) hub-star
   path, never C(m,2).
2. embedding_near_dup_pairs_lsh(auto-banded, star_over=64): same mass
   hazard for identical vectors; auto-banding additionally keeps
   distinct-vector buckets O(1) as n grows.
3. fingerprint_match_pairs (k=8 w=4 cap=200 max_df=20): the max_df
   guard drops shingle-hashes shared by too many docs, bounding the
   join fan-out on template-heavy corpora.

Bounds asserted (exit 1 on breach, naming the guard):
- pairs/doc at every size <= PAIRS_PER_DOC_MAX (absolute) — candidate
  growth is linear in corpus size, not quadratic;
- wall(n_max)/wall(n_min) <= (n_max/n_min) * SUPERLINEAR_TOL — wall
  time stays near-linear (2x tolerance absorbs shuffle constants and
  host noise; a quadratic cliff at 8x rows would read ~64x).

Corpus: 20% of docs are byte-identical copies in families of ~1000
(200 families at 1M — each family a guaranteed hot bucket), 80% unique
bodies. Embeddings mirror the shape with deterministic sin-derived
vectors (dim 16), 20% identical mass in 200-vector families.

Results + conclusions: DESIGN.md "Round-17 — 1M-row guard sweep".

Usage: python tools/scale_sweep_1m.py [--sizes 125000,250000,500000,1000000]
Prints one markdown table per guard (paste into DESIGN.md).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PAIRS_PER_DOC_MAX = 4.0
SUPERLINEAR_TOL = 2.0
DUP_FRACTION = 100  # id % 100 < 20 -> 20% duplicate mass
STAR_OVER = 64


def _check_linear(name: str, rows: list[tuple[int, int, float]]) -> list[str]:
    """rows: (n, pairs, wall_s) per size. Returns breach messages."""
    breaches = []
    for n, pairs, _ in rows:
        ppd = pairs / n
        if ppd > PAIRS_PER_DOC_MAX:
            breaches.append(
                f"{name}: pairs/doc {ppd:.2f} at n={n} exceeds "
                f"{PAIRS_PER_DOC_MAX} — candidate growth not linear"
            )
    (n0, _, t0), (n1, _, t1) = rows[0], rows[-1]
    allowed = (n1 / n0) * SUPERLINEAR_TOL
    if t1 / t0 > allowed:
        breaches.append(
            f"{name}: wall grew {t1 / t0:.1f}x over a {n1 / n0:.0f}x "
            f"size step (allowed {allowed:.0f}x) — superlinear cliff"
        )
    return breaches


def main() -> int:
    sizes = [125_000, 250_000, 500_000, 1_000_000]
    for a in sys.argv[1:]:
        if a.startswith("--sizes"):
            sizes = [int(x) for x in a.split("=", 1)[1].split(",")]

    from pyspark.sql import functions as F

    from earthquake_data_pipeline_spark.operators.fingerprint import (
        fingerprint_match_pairs,
    )
    from earthquake_data_pipeline_spark.operators.fuzzy_dedup import (
        minhash_lsh_pairs,
    )
    from earthquake_data_pipeline_spark.operators.similarity import (
        embedding_near_dup_pairs_lsh,
    )
    from earthquake_data_pipeline_spark.session import get_spark

    spark = get_spark(cpus=32)
    breaches: list[str] = []

    def text_corpus(n: int):
        # 20% byte-identical duplicate mass in families of n/(0.2*n/families):
        # family count scales with n so family SIZE stays ~1000 at 1M
        # (and ~125 at 125k) — hot buckets well past star_over at the top.
        n_families = max(20, n // 5000)
        return (
            spark.range(n)
            .select(
                F.col("id").alias("doc_id"),
                F.when(
                    F.col("id") % DUP_FRACTION < 20,
                    F.concat(
                        F.lit("identical duplicate body shared by the whole "
                              "family with plenty of shingle length to band "
                              "on and a family tag "),
                        (F.col("id") % n_families).cast("string"),
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

    def embedding_corpus(n: int, dim: int = 16):
        n_families = max(20, n // 5000)
        # deterministic pseudo-random vectors without Python UDFs or
        # rand()'s partitioning dependence: component j hashes
        # (base, j) INDEPENDENTLY. Every-component-from-one-scalar
        # constructions (sin(base*c_j)) put the corpus on a 1-D curve
        # in R^dim, whose fixed-threshold near-pair count is GENUINELY
        # quadratic in n (measured on the first cut of this tool:
        # 41k->122k "unique" verified pairs on a 2x size step) —
        # independent components make distinct-base near-dups
        # vanishingly rare, so the guard, not the corpus, is under test.
        base = F.when(
            F.col("id") % DUP_FRACTION < 20, F.col("id") % n_families
        ).otherwise(F.col("id") + 1_000_000_000)
        vec = F.array(
            *[
                F.xxhash64(base, F.lit(j)).cast("double") / F.lit(2.0**63)
                for j in range(dim)
            ]
        )
        return (
            spark.range(n)
            .select(F.col("id").alias("vec_id"), vec.alias("embedding"))
            .repartition(32)
            .localCheckpoint()
        )

    # ---- 1. minhash_lsh_pairs with the star guard ----
    print(f"\n### minhash_lsh_pairs(star_over={STAR_OVER}), 20% identical mass")
    print("| docs | candidate pairs | pairs/doc | t(s) |")
    print("|---|---|---|---|")
    rows = []
    for n in sizes:
        docs = text_corpus(n)
        t0 = time.time()
        pairs = minhash_lsh_pairs(docs, star_over=STAR_OVER).count()
        dt = time.time() - t0
        rows.append((n, pairs, dt))
        print(f"| {n} | {pairs} | {pairs / n:.2f} | {dt:.1f} |")
        docs.unpersist()
    breaches += _check_linear("minhash_lsh_pairs", rows)

    # ---- 2. fingerprint_match_pairs (max_df guard) ----
    print("\n### fingerprint_match_pairs (k=8 w=4 cap=200 max_df=20), "
          "20% identical mass")
    print("| docs | candidate pairs | pairs/doc | t(s) |")
    print("|---|---|---|---|")
    rows = []
    for n in sizes:
        docs = text_corpus(n)
        t0 = time.time()
        pairs = fingerprint_match_pairs(docs).count()
        dt = time.time() - t0
        rows.append((n, pairs, dt))
        print(f"| {n} | {pairs} | {pairs / n:.2f} | {dt:.1f} |")
        docs.unpersist()
    breaches += _check_linear("fingerprint_match_pairs", rows)

    # ---- 3. embedding_near_dup_pairs_lsh, auto-banded + star guard ----
    print(f"\n### embedding_near_dup_pairs_lsh(auto, star_over={STAR_OVER}), "
          "dim=16, 20% identical mass")
    print("| vectors | verified pairs | pairs/vec | t(s) |")
    print("|---|---|---|---|")
    rows = []
    for n in sizes:
        vecs = embedding_corpus(n)
        t0 = time.time()
        pairs = embedding_near_dup_pairs_lsh(
            vecs, threshold=0.95, star_over=STAR_OVER
        ).count()
        dt = time.time() - t0
        rows.append((n, pairs, dt))
        print(f"| {n} | {pairs} | {pairs / n:.2f} | {dt:.1f} |")
        vecs.unpersist()
    breaches += _check_linear("embedding_near_dup_pairs_lsh", rows)

    print()
    if breaches:
        for b in breaches:
            print("BREACH:", b)
        return 1
    print(f"OK: all three guards linear to {sizes[-1]} rows "
          f"(pairs/doc <= {PAIRS_PER_DOC_MAX}, wall within "
          f"{SUPERLINEAR_TOL}x of linear)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
