"""Round-6 driver-facing queries: behavioral analytics (cohort
retention, funnels, outlier census), score-driven curation (deciles,
nucleus selection), winnowing fingerprints, URL canonicalization, and
sketched distinct counts.

Same contract as driver_queries / driver_queries_ext: every query runs
under the UTC pin of its catalog registration (catalog.py), reads via
qcommon._table, aliases every output column identically
to its DuckDB oracle, and ends in a total ORDER BY. Reference parity
notes: the analytics trio generalizes the reference's analytics-model
family (dbt_files/models/analytics/*.sql — group-by rollups over one
fact table) to the window-function shapes those models stop short of;
the curation/fingerprint/URL ops extend the north-star training-data
surface (BASELINE.json) alongside the round-1..5 dedup/sampling stack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .qcommon import (
    LSH_BANDS,
    MINHASH_SEEDS,
    _fanout,
    _minhash_sql,
    _table,
)


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (operators/analytics.py::cohort_retention):
    users bucketed by first-seen DAY (the testdata spans one calendar
    month, so daily cohorts are the informative granularity; the
    operator's default is monthly), counted per day offset. One events
    scan, one user-keyed window, one (cohort, offset) aggregate —
    integer day indices keep the calendar math exactly replayable.
    """
    from .operators.analytics import cohort_retention

    ev = _table(spark, sf_dir, "events").select("user_id", "ts")
    return cohort_retention(ev, granularity="day")


SQL_COHORT_RETENTION = """
WITH um AS (
  SELECT user_id AS u,
         (epoch_us(date_trunc('day', ts)) // 86400000000) AS mi
  FROM events
), c AS (
  SELECT u, mi, min(mi) OVER (PARTITION BY u) AS ci FROM um
)
SELECT CAST(ci * 86400 AS BIGINT) AS cohort_day_s,
       CAST(mi - ci AS INT) AS offset_days,
       count(DISTINCT u) AS n_users
FROM c GROUP BY 1, 2 ORDER BY 1, 2
"""


FUNNEL = ["view", "click", "purchase"]


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel view→click→purchase (operators/analytics.py::
    funnel_steps): step k counts users whose first qualifying event is
    at-or-after their step-(k-1) time.

    r13 ran the UNBOUNDED-funnel pre-split twin (per-(user, day)
    conditional-min cascades, VERDICT r12 item 1; 2.8× at 90% bot
    skew); r15 upgrades to the skew-ADAPTIVE dispatch (family-wide
    rollout of VERDICT r14 item 5) — uniform corpora take the window
    face, skewed take the twin, faces parity-pinned bit-identical.
    The bounded ``within_s`` variant (``funnel_windowed``) stays on
    the window face by the documented not-bucket-summarizable proof.
    """
    from .operators.analytics import funnel_steps_adaptive

    ev = _table(spark, sf_dir, "events")
    return funnel_steps_adaptive(ev, FUNNEL)


SQL_FUNNEL_STEPS = """
WITH w1 AS (
  SELECT user_id, event_type, ts,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t0
  FROM events
), w2 AS (
  SELECT user_id, event_type, ts, t0,
         min(CASE WHEN event_type = 'click' AND ts >= t0 THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM w1
), w3 AS (
  SELECT user_id, t0, t1,
         min(CASE WHEN event_type = 'purchase' AND ts >= t1 THEN ts END)
           OVER (PARTITION BY user_id) AS t2
  FROM w2
), agg AS (
  SELECT count(DISTINCT CASE WHEN t0 IS NOT NULL THEN user_id END) AS c0,
         count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS c1,
         count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS c2
  FROM w3
)
SELECT 1 AS step_idx, 'view' AS step, c0 AS n_users FROM agg
UNION ALL SELECT 2, 'click', c1 FROM agg
UNION ALL SELECT 3, 'purchase', c2 FROM agg
ORDER BY step_idx
"""


def q_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score outlier census (operators/analytics.py::
    zscore_outlier_stats): |z| > 2 in EXACT integer arithmetic — the
    predicate (n·v−S)² > 4·(n·SS−S²) clears division and floats
    entirely, so the boolean replays bit-for-bit in any engine. Stats
    pass is map-side combined to k rows; the flag pass broadcasts them.
    """
    from .operators.analytics import zscore_outlier_stats

    ev = _table(spark, sf_dir, "events").select("event_type", "value")
    return zscore_outlier_stats(ev)


SQL_ZSCORE_OUTLIERS = """
WITH c AS (
  SELECT event_type AS k,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
), st AS (
  SELECT k, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s,
         CAST(sum(cents * cents) AS BIGINT) AS ss
  FROM c GROUP BY 1
), f AS (
  SELECT c.k, c.cents,
         CASE WHEN (st.n * c.cents - st.s) * (st.n * c.cents - st.s)
                   > 4 * (st.n * st.ss - st.s * st.s)
              THEN 1 ELSE 0 END AS o
  FROM c JOIN st USING (k)
)
SELECT f.k AS event_type,
       count(*) AS n_events,
       CAST(sum(o) AS BIGINT) AS n_outliers,
       CAST(round(CAST(st.s / (st.n * 100) AS DECIMAL(18,12)), 6) AS DOUBLE)
         AS mean_value
FROM f JOIN st USING (k)
GROUP BY f.k, st.s, st.n ORDER BY 1
"""


def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality deciles (operators/curation.py::
    quality_decile_stats_by_counts) keyed on document length — the
    audit table behind bin-weighted mixture sampling. Migrated r12
    (straggler audit): ntile bin boundaries composed from the
    (lang, n_chars) value-count histogram — O(distinct scores) per
    stratum instead of one AQE-opaque whole-stratum sort task; the
    ntile window form stays as the test-pinned parity face.
    """
    from .operators.curation import quality_decile_stats_by_counts

    docs = _table(spark, sf_dir, "documents").select("lang", "n_chars")
    return quality_decile_stats_by_counts(docs)


SQL_QUALITY_DECILES = """
WITH b AS (
  SELECT lang, n_chars, doc_id,
         CAST(ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
              AS INT) AS bin
  FROM documents
)
SELECT lang, bin, count(*) AS n_docs,
       min(n_chars) AS min_score, max(n_chars) AS max_score,
       CAST(sum(n_chars) AS BIGINT) AS total_score
FROM b GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_top_p_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p) selection per language (operators/curation.py::
    top_p_select): keep best-first documents while the kept mass stays
    under 80% of the stratum total, boundary decided in exact integers.
    One window exchange per stratum + a k-row audit aggregate.
    """
    from .operators.curation import top_p_select

    docs = _table(spark, sf_dir, "documents").select("lang", "n_chars", "doc_id")
    return top_p_select(docs, p_pct=80)


SQL_TOP_P_SELECT = """
WITH d AS (
  SELECT lang, n_chars, doc_id,
         sum(n_chars) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(n_chars) OVER (PARTITION BY lang) AS total
  FROM documents
), k AS (
  SELECT lang, n_chars,
         CASE WHEN (cum - n_chars) * 100 < 80 * total THEN 1 ELSE 0 END AS keep
  FROM d
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(keep) AS BIGINT) AS n_kept,
       CAST(sum(keep * n_chars) AS BIGINT) AS kept_score,
       CAST(sum(n_chars) AS BIGINT) AS total_score
FROM k GROUP BY 1 ORDER BY 1
"""


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (operators/fingerprint.py):
    k-gram rolling hashes + window minima (SIGMOD'03), the shared-
    substring-guarantee dedup primitive. Pure per-row Column
    expressions — no shuffle; the output carries the fingerprint-set
    size and an order-free BIGINT checksum so set equality is
    hash-checkable.
    """
    from .operators.fingerprint import winnow_fingerprints

    docs = _fanout(_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return winnow_fingerprints(docs, k=8, w=4, cap=200).orderBy("doc_id")


SQL_WINNOW_FINGERPRINT = """
WITH d AS (
  SELECT doc_id, lower(substring(text, 1, 200)) AS t FROM documents
), g AS (
  SELECT doc_id, t, length(t) - 7 AS m FROM d
), h AS (
  SELECT doc_id, m,
         CASE WHEN m >= 4 THEN
           list_transform(generate_series(1, m),
             i -> ('0x' || substring(md5(substring(t, i, 8)), 1, 8))::BIGINT)
         ELSE CAST([] AS BIGINT[]) END AS hashes
  FROM g
), s AS (
  SELECT doc_id,
         CASE WHEN m >= 4 THEN
           list_distinct(list_transform(generate_series(1, m - 3),
             j -> list_aggregate(hashes[j:j + 3], 'min')))
         ELSE CAST([] AS BIGINT[]) END AS fps
  FROM h
)
SELECT doc_id,
       CAST(len(fps) AS INT) AS n_fingerprints,
       CAST(coalesce(list_sum(fps), 0) AS BIGINT) AS fp_checksum
FROM s ORDER BY doc_id
"""


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup (operators/text.py::canonical_url):
    four deterministic spelling variants per synthetic URL (case, www,
    :443, trailing slash, fragment, utm query) collapse to one
    canonical form; groups report variant counts and the canonical doc.
    The corpus has no URLs, so they are seeded deterministically —
    the url_domains pattern.
    """
    from .operators.text import canonical_url

    # _fanout removed (r18, guide §2.4): A/B 0.74 s -> 0.38 s at sf0.1
    # — string seeding + one hash aggregate never needed the widening.
    docs = _table(spark, sf_dir, "documents").select("doc_id")
    g = (F.col("doc_id") / 4).cast("long")
    host = F.concat(F.lit("site"), (g % 50).cast("string"))
    base = F.concat(host, F.lit(".com/page/"), g.cast("string"))
    v = F.col("doc_id") % 4
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), base))
        .when(v == 1, F.upper(F.concat(F.lit("https://www."), base)))
        .when(v == 2, F.concat(F.lit("https://"), host, F.lit(".com:443/page/"), g.cast("string"), F.lit("/")))
        .otherwise(F.concat(F.lit("https://"), base, F.lit("?utm_source=feed#frag")))
    )
    seeded = docs.select("doc_id", url.alias("raw_url"))
    return (
        seeded.groupBy(canonical_url("raw_url").alias("canonical_url"))
        .agg(
            F.count("*").alias("n_variants"),
            F.count_distinct("raw_url").alias("n_raw_forms"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .orderBy("canonical_url")
    )


SQL_URL_CANONICAL = r"""
WITH seeded AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'https://site' || CAST((doc_id // 4) % 50 AS VARCHAR)
                       || '.com/page/' || CAST(doc_id // 4 AS VARCHAR)
           WHEN 1 THEN upper('https://www.site' || CAST((doc_id // 4) % 50 AS VARCHAR)
                       || '.com/page/' || CAST(doc_id // 4 AS VARCHAR))
           WHEN 2 THEN 'https://site' || CAST((doc_id // 4) % 50 AS VARCHAR)
                       || '.com:443/page/' || CAST(doc_id // 4 AS VARCHAR) || '/'
           ELSE 'https://site' || CAST((doc_id // 4) % 50 AS VARCHAR)
                       || '.com/page/' || CAST(doc_id // 4 AS VARCHAR)
                       || '?utm_source=feed#frag'
         END AS raw_url
  FROM documents
), canon AS (
  SELECT doc_id, raw_url,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(lower(raw_url), '#[^#]*$', ''),
                     '\?utm_[^&?]*$', ''),
                   '^https://www\.', 'https://'),
                 '^http://www\.', 'http://'),
               ':443/', '/'),
             ':80/', '/'),
           '/$', '') AS canonical_url
  FROM seeded
)
SELECT canonical_url, count(*) AS n_variants,
       count(DISTINCT raw_url) AS n_raw_forms,
       min(doc_id) AS canonical_doc
FROM canon GROUP BY 1 ORDER BY 1
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketched cardinality under the guarantee-oracle pattern
    (heavy_hitters' shape): per-type HyperLogLog++ distinct-user
    estimate (rsd 0.05) checked against the exact count in the SAME
    single aggregation pass. The output carries the exact count plus
    the bound boolean — never the engine-specific estimate. Scale
    story: the HLL sketch is a few KB, merged map-side — the
    100 TB-safe replacement for a full distinct shuffle when ±5% is
    acceptable; the exact twin here is what makes the gate proof
    possible.
    """
    ev = _table(spark, sf_dir, "events").select("event_type", "user_id")
    agg = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", 0.05).alias("apx"),
    )
    # 5-sigma-ish bound, floored at 5: deterministic for a fixed input
    # set (HLL++ is deterministic), astronomically safe for a sound
    # implementation, and still a REAL check — a broken sketch fails it
    bound = F.greatest(F.ceil(F.col("n_exact") * 0.25), F.lit(5))
    return agg.select(
        "event_type",
        "n_exact",
        (F.abs(F.col("apx") - F.col("n_exact")) <= bound).alias("within_bound"),
    ).orderBy("event_type")


SQL_APPROX_DISTINCT = """
SELECT event_type, count(DISTINCT user_id) AS n_exact,
       TRUE AS within_bound
FROM events GROUP BY 1 ORDER BY 1
"""


def q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-join dedup (operators/fingerprint.py::
    fingerprint_match_pairs): the downstream consumer of the winnowing
    fingerprints — candidate near-dup pairs by plain equi-join on
    selected hashes, counted per pair. Guarantee-carrying (any shared
    ≥ w+k−1 = 17-char substring in the cap window produces a match)
    and containment-capable, unlike ratio-based LSH. Hot boilerplate
    fingerprints are dropped by the max_df=10 document-frequency guard;
    min_shared=4 suppresses single-hash coincidences.
    """
    from .operators.fingerprint import fingerprint_match_pairs

    docs = _fanout(_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return fingerprint_match_pairs(
        docs, k=12, w=6, cap=200, max_df=10, min_shared=4
    ).orderBy("id_a", "id_b")


SQL_FINGERPRINT_DEDUP = """
WITH d AS (
  SELECT doc_id, lower(substring(text, 1, 200)) AS t FROM documents
), g AS (
  SELECT doc_id, t, length(t) - 11 AS m FROM d
), h AS (
  SELECT doc_id, m,
         CASE WHEN m >= 6 THEN
           list_transform(generate_series(1, m),
             i -> ('0x' || substring(md5(substring(t, i, 12)), 1, 8))::BIGINT)
         ELSE CAST([] AS BIGINT[]) END AS hashes
  FROM g
), s AS (
  SELECT doc_id,
         CASE WHEN m >= 6 THEN
           list_distinct(list_transform(generate_series(1, m - 5),
             j -> list_aggregate(hashes[j:j + 5], 'min')))
         ELSE CAST([] AS BIGINT[]) END AS fps
  FROM h
), e AS (
  SELECT doc_id AS doc, unnest(fps) AS fp FROM s
), keepfp AS (
  SELECT fp FROM e GROUP BY fp HAVING count(*) BETWEEN 2 AND 10
), p AS (
  SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_shared
  FROM e a JOIN keepfp USING (fp) JOIN e b USING (fp)
  WHERE a.doc < b.doc
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= 4 ORDER BY id_a, id_b
"""


_TOKS_R6 = r"regexp_split_to_array(lower(trim(text)), '\s+')"

# the winnowing-candidate CTE chain shared by fingerprint_dedup's oracle
# (min_shared applied in the outer filter there) and ngram_containment's
# (min_shared=2 HAVING here): k=12, w=6, cap=200, max_df=10
_FP_PAIRS_SQL = """
  d AS (
    SELECT doc_id, lower(substring(text, 1, 200)) AS t FROM documents
  ), g AS (
    SELECT doc_id, t, length(t) - 11 AS m FROM d
  ), h AS (
    SELECT doc_id, m,
           CASE WHEN m >= 6 THEN
             list_transform(generate_series(1, m),
               i -> ('0x' || substring(md5(substring(t, i, 12)), 1, 8))::BIGINT)
           ELSE CAST([] AS BIGINT[]) END AS hashes
    FROM g
  ), s AS (
    SELECT doc_id,
           CASE WHEN m >= 6 THEN
             list_distinct(list_transform(generate_series(1, m - 5),
               j -> list_aggregate(hashes[j:j + 5], 'min')))
           ELSE CAST([] AS BIGINT[]) END AS fps
    FROM h
  ), e AS (
    SELECT doc_id AS doc, unnest(fps) AS fp FROM s
  ), keepfp AS (
    SELECT fp FROM e GROUP BY fp HAVING count(*) BETWEEN 2 AND 10
  ), p AS (
    SELECT a.doc AS id_a, b.doc AS id_b
    FROM e a JOIN keepfp USING (fp) JOIN e b USING (fp)
    WHERE a.doc < b.doc
    GROUP BY 1, 2 HAVING count(*) >= 2
  )
"""


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document duplicate detection (operators/fuzzy_dedup.py::
    ngram_containment_pairs): asymmetric |A∩B|/|A| 3-gram containment
    over fingerprint-join candidates. The composed pipeline is the
    containment analog of lsh_jaccard_refine — candidates from the
    winnowing equi-join (whose substring guarantee keeps recall when
    one doc is much larger), exact set arithmetic only on the bounded
    candidate set, never all-pairs.
    """
    from .operators.fingerprint import fingerprint_match_pairs
    from .operators.fuzzy_dedup import ngram_containment_pairs

    docs = _fanout(_table(spark, sf_dir, "documents").select("doc_id", "text"))
    cand = fingerprint_match_pairs(
        docs, k=12, w=6, cap=200, max_df=10, min_shared=2
    )
    return ngram_containment_pairs(docs, cand, threshold=0.3).orderBy(
        "id_a", "id_b"
    )


SQL_NGRAM_CONTAINMENT = rf"""
WITH {_FP_PAIRS_SQL}, sh AS (
  SELECT doc_id,
         CASE WHEN len({_TOKS_R6}) >= 3 THEN list_distinct(list_transform(
             generate_series(1, len({_TOKS_R6}) - 2),
             i -> {_TOKS_R6}[i] || ' ' || {_TOKS_R6}[i+1] || ' ' || {_TOKS_R6}[i+2]))
              ELSE [] END AS sh
  FROM documents
), c AS (
  SELECT p.id_a, p.id_b,
         CAST(round(CAST(len(list_intersect(a.sh, b.sh))
              / greatest(len(a.sh), 1) AS DECIMAL(18,12)), 6) AS DOUBLE)
           AS containment_a,
         CAST(round(CAST(len(list_intersect(a.sh, b.sh))
              / greatest(len(b.sh), 1) AS DECIMAL(18,12)), 6) AS DOUBLE)
           AS containment_b
  FROM p JOIN sh a ON a.doc_id = p.id_a JOIN sh b ON b.doc_id = p.id_b
)
SELECT id_a, id_b, containment_a, containment_b
FROM c WHERE greatest(containment_a, containment_b) >= 0.3
ORDER BY id_a, id_b
"""


def q_approx_quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-first scale path of quality_deciles (operators/
    curation.py::approx_bins_audit): percentile_approx boundaries per
    stratum (map-side-merged sketch — no single-task stratum sort),
    audited against the rank guarantee in the same pass. Tie-proof
    one-sided rank checks; only the guarantee boolean leaves the plan,
    never the engine-specific boundary values — the heavy_hitters /
    approx_distinct guarantee-oracle pattern.
    """
    from .operators.curation import approx_bins_audit

    docs = _table(spark, sf_dir, "documents").select("lang", "n_chars")
    return approx_bins_audit(docs, accuracy=100)


SQL_APPROX_QUALITY_BINS = """
SELECT lang, CAST(q.q_pct AS INT) AS q_pct, TRUE AS within_bound, n_total
FROM (SELECT lang, count(*) AS n_total FROM documents GROUP BY 1) t,
     (SELECT unnest(generate_series(10, 90, 10)) AS q_pct) q
ORDER BY lang, q_pct
"""


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (operators/layout.py::
    compaction_plan): documents stand in for the file inventory
    (source = table partition, n_chars = file bytes). Closed-form
    next-fit-decreasing bin packing — one exchange, two windows, all
    integer arithmetic — summarized per (partition, bin).
    """
    from .operators.layout import compaction_plan

    docs = _table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    plan = compaction_plan(
        docs, partition_col="source", id_col="doc_id",
        size_col="n_chars", target_bytes=4096,
    )
    return (
        plan.groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("n_chars").alias("total_bytes"),
            F.max("n_chars").alias("max_file_bytes"),
            F.min("doc_id").alias("first_file"),
        )
        .orderBy("source", "bin_id")
    )


SQL_COMPACTION_PLAN = """
WITH f AS (
  SELECT source, doc_id, n_chars,
         sum(n_chars) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_chars AS cum_before
  FROM documents
), b AS (
  SELECT source, doc_id, n_chars,
         CAST(cum_before // 4096 AS BIGINT) AS raw_bin
  FROM f
), d AS (
  SELECT source, doc_id, n_chars,
         CAST(dense_rank() OVER (PARTITION BY source ORDER BY raw_bin)
              AS INT) AS bin_id
  FROM b
)
SELECT source, bin_id, count(*) AS n_files,
       CAST(sum(n_chars) AS BIGINT) AS total_bytes,
       max(n_chars) AS max_file_bytes,
       min(doc_id) AS first_file
FROM d GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates (operators/sketches.py::
    cms_sketch + cms_point_estimates) for the probe set user_id < 100,
    alongside exact counts and the one-sided guarantee boolean
    (est ≥ true, overshoot ≤ 3N/width + 1). The sketch rows use
    deterministic md5 bucketing, so unlike engine-native sketches the
    ESTIMATE ITSELF replays bit-identically in the SQL oracle — this is
    an exact-value row, not a guarantee-only row.
    """
    from .operators.sketches import cms_point_estimates, cms_sketch

    ev = _table(spark, sf_dir, "events").select("user_id")
    sketch = cms_sketch(ev, "user_id", depth=3, width=64)
    probes = ev.filter(F.col("user_id") < 100).distinct()
    est = cms_point_estimates(sketch, probes, "user_id", depth=3, width=64)
    true_n = (
        ev.filter(F.col("user_id") < 100)
        .groupBy("user_id")
        .agg(F.count("*").alias("true_n"))
    )
    total = ev.agg(F.count("*").alias("n_total"))
    bound = (F.col("n_total") * 3 / F.lit(64)).cast("long") + 1
    return (
        true_n.join(est, "user_id")
        .crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "true_n",
            "cms_est",
            (
                (F.col("cms_est") >= F.col("true_n"))
                & (F.col("cms_est") <= F.col("true_n") + bound)
            ).alias("within_bound"),
        )
        .orderBy("user_id")
    )


SQL_CMS_FREQUENCY = """
WITH js AS (
  SELECT unnest(generate_series(0, 2)) AS j
), cells AS (
  SELECT j,
         ('0x' || substring(md5('cms' || CAST(j AS VARCHAR) || '|'
             || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS bucket
  FROM events, js
), grid AS (
  SELECT j, bucket, count(*) AS n FROM cells GROUP BY 1, 2
), probes AS (
  SELECT DISTINCT user_id FROM events WHERE user_id < 100
), coords AS (
  SELECT user_id, j,
         ('0x' || substring(md5('cms' || CAST(j AS VARCHAR) || '|'
             || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS bucket
  FROM probes, js
), est AS (
  SELECT user_id, min(n) AS cms_est
  FROM coords JOIN grid USING (j, bucket) GROUP BY 1
), tr AS (
  SELECT user_id, count(*) AS true_n FROM events
  WHERE user_id < 100 GROUP BY 1
), tot AS (
  SELECT count(*) AS n_total FROM events
)
SELECT t.user_id, t.true_n, e.cms_est,
       (e.cms_est >= t.true_n
        AND e.cms_est <= t.true_n + n_total * 3 // 64 + 1) AS within_bound
FROM tr t JOIN est e USING (user_id), tot
ORDER BY t.user_id
"""


def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-join pruning audit (operators/scale.py::
    bloom_filter_build / bloom_might_contain): a word-packed md5 Bloom
    filter of the dim keys (customers with custkey % 7 = 0) probes the
    orders fact map-only, before any shuffle. The audit row proves the
    two structural guarantees — zero false negatives, false positives
    counted exactly — plus a checksum of the true semi-join. The filter
    is deterministic md5, so every number replays exactly in SQL.
    """
    from .operators.scale import bloom_filter_build, bloom_might_contain

    dim = (
        _table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 7 == 0)
        .select("c_custkey")
    )
    bloom = bloom_filter_build(dim, "c_custkey", m_bits=65536, k_hashes=3)
    # _fanout ADDED (r18, the converse of this round's removals): the
    # probe is md5×3 per fact row on a single-partition local scan —
    # exactly the CPU-heavy map work the widening exists for (A/B
    # 1.7 s -> 0.7-1.4 s at sf0.1; no-op on a wide cluster scan).
    orders = _fanout(
        _table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    )
    flags = orders.crossJoin(F.broadcast(bloom)).select(
        "o_orderkey",
        "o_custkey",
        bloom_might_contain("o_custkey", "bloom_words", 65536, 3).alias("bloom_pass"),
    )
    exact = flags.join(
        F.broadcast(dim.withColumn("hit", F.lit(1))),
        flags.o_custkey == F.col("c_custkey"),
        "left",
    ).select(
        "o_orderkey",
        "bloom_pass",
        F.col("hit").isNotNull().alias("exact"),
    )
    return exact.agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("bloom_pass").cast("long")).alias("n_bloom_pass"),
        F.sum(F.col("exact").cast("long")).alias("n_exact"),
        F.sum((F.col("bloom_pass") & ~F.col("exact")).cast("long")).alias(
            "n_false_pos"
        ),
        (
            F.sum((F.col("exact") & ~F.col("bloom_pass")).cast("long")) == 0
        ).alias("no_false_negatives"),
        F.sum(F.when(F.col("exact"), F.col("o_orderkey"))).alias(
            "matched_checksum"
        ),
    )


SQL_BLOOM_PRUNE = """
WITH js AS (
  SELECT unnest(generate_series(0, 2)) AS j
), dim AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 7 = 0
), bits AS (
  SELECT DISTINCT ('0x' || substring(md5('bf' || CAST(j AS VARCHAR) || '|'
             || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 65536 AS bit
  FROM dim, js
), oc AS (
  SELECT o_orderkey, o_custkey, j,
         ('0x' || substring(md5('bf' || CAST(j AS VARCHAR) || '|'
             || CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT % 65536 AS bit
  FROM orders, js
), passes AS (
  SELECT o_orderkey, o_custkey,
         (count(*) FILTER (WHERE bit IN (SELECT bit FROM bits)) = 3)
           AS bloom_pass
  FROM oc GROUP BY 1, 2
), fl AS (
  SELECT p.o_orderkey, p.bloom_pass, (d.c_custkey IS NOT NULL) AS exact
  FROM passes p LEFT JOIN dim d ON p.o_custkey = d.c_custkey
)
SELECT count(*) AS n_orders,
       CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_pass,
       CAST(sum(CASE WHEN exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN bloom_pass AND NOT exact THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       (sum(CASE WHEN exact AND NOT bloom_pass THEN 1 ELSE 0 END) = 0)
         AS no_false_negatives,
       CAST(sum(CASE WHEN exact THEN o_orderkey END) AS BIGINT)
         AS matched_checksum
FROM fl
"""


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened domain mixture audit (operators/sampling.py
    ::mixture_resample): √-reweighting keeps ⌊√(4·n_i)⌋ docs per source
    in deterministic hash order. α = ½ is the one temperature with an
    exact engine-portable form (correctly-rounded IEEE sqrt + integer
    floor; no order-dependent normalizing float sum) — the audit row
    set replays bit-identically in DuckDB.
    """
    from .operators.sampling import mixture_resample

    docs = _table(spark, sf_dir, "documents").select("source", "doc_id")
    mixed = mixture_resample(docs, "source", "doc_id", k_budget=4)
    return (
        mixed.groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("n_target").alias("n_target"),
            F.sum("keep").cast("long").alias("n_kept"),
            F.sum(F.when(F.col("keep") == 1, F.col("doc_id"))).alias(
                "kept_checksum"
            ),
        )
        .orderBy("source")
    )


SQL_DOMAIN_MIXTURE = """
WITH c AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
), t AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(CAST(4 * n_docs AS DOUBLE))) AS BIGINT) AS n_target
  FROM c
), r AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substring(md5(doc_id::VARCHAR || 'mix-sqrt'),
                     1, 8))::BIGINT, doc_id) AS rn
  FROM documents
)
SELECT r.source, max(t.n_docs) AS n_docs, max(t.n_target) AS n_target,
       CAST(sum(CASE WHEN rn <= n_target THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN rn <= n_target THEN doc_id END) AS BIGINT)
         AS kept_checksum
FROM r JOIN t USING (source)
GROUP BY 1 ORDER BY 1
"""


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate audit (operators/text.py::
    boilerplate_flags): paragraphs (16-token windows) appearing verbatim
    in more than one document are flagged corpus-wide; per-doc counts
    and the clean token mass replay exactly in SQL. One map-side
    chunking explode, one hash-keyed frequency shuffle, one join of the
    (tiny) flagged set back to the stream.
    """
    from .operators.text import boilerplate_flags

    # _fanout removed (r18, guide §2.4): A/B 1.21 s -> 0.78 s at sf0.1;
    # this was the catalog's worst 8-vs-32-core anti-scaling entry
    # (ratio 0.35, VERDICT r17 item 6) — the ratio WAS the repartition.
    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    flags = boilerplate_flags(docs, para_tokens=16, max_df=1)
    return (
        flags.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum(F.col("is_boilerplate").cast("long")).alias("n_boiler"),
            F.sum(
                F.when(~F.col("is_boilerplate"), F.col("n_para_tokens")).otherwise(
                    F.lit(0)
                )
            ).alias("clean_tokens"),
        )
        .orderBy("doc_id")
    )


SQL_BOILERPLATE_STRIP = rf"""
WITH toks AS (
  SELECT doc_id, {_TOKS_R6} AS t FROM documents
), idx AS (
  SELECT doc_id, t,
         unnest(generate_series(0,
             greatest(CAST(ceil((len(t) - 16) / 16.0) AS BIGINT), 0))) AS i
  FROM toks
), paras AS (
  SELECT doc_id,
         md5(array_to_string(t[i * 16 + 1 : i * 16 + 16], ' ')) AS para_hash,
         CAST(len(regexp_split_to_array(
             array_to_string(t[i * 16 + 1 : i * 16 + 16], ' '), '\s+'))
             AS BIGINT) AS n_para_tokens
  FROM idx
), boiler AS (
  SELECT para_hash FROM paras GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
)
SELECT p.doc_id, count(*) AS n_paras,
       CAST(sum(CASE WHEN b.para_hash IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_boiler,
       CAST(sum(CASE WHEN b.para_hash IS NULL THEN n_para_tokens ELSE 0 END)
            AS BIGINT) AS clean_tokens
FROM paras p LEFT JOIN boiler b USING (para_hash)
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------- batch 4


def q_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (operators/
    fuzzy_dedup.py::prefix_filter_join, AllPairs/PPJoin family): all
    document pairs with distinct-token Jaccard >= 49/50, no false
    negatives (threshold 49/50 — the tight near-duplicate band: this
    template-heavy synthetic corpus relates 92k of 125k pairs at
    t=1/2, so only a tight threshold yields a dedup-shaped answer;
    tight thresholds are also where prefix filtering shines:
    p = |x| - ceil(t|x|) + 1 ~ 3 tokens/doc here).
    The oracle is deliberately the BRUTE-FORCE all-pairs
    join (+ the theorem-exact length bound) — a hash match proves the
    prefix filter dropped nothing, which is the operator's entire
    claim. Spark runs the scale plan (token-df prefix equi-join);
    DuckDB runs the quadratic audit the scale plan replaces.
    """
    from .operators.fuzzy_dedup import prefix_filter_join

    docs = _fanout(_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return prefix_filter_join(
        docs, threshold_num=49, threshold_den=50
    ).orderBy("id_a", "id_b")


SQL_PREFIX_FILTER_JOIN = r"""
WITH tk AS (
  SELECT doc_id,
         list_distinct(list_filter(
           regexp_split_to_array(lower(trim(text)), '\s+'),
           t -> t != '')) AS tk
  FROM documents
), s AS (
  SELECT doc_id, tk, len(tk) AS sz FROM tk WHERE len(tk) > 0
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.tk, b.tk)) AS n_inter,
         a.sz + b.sz - len(list_intersect(a.tk, b.tk)) AS n_union
  FROM s a JOIN s b
    ON a.doc_id < b.doc_id
   AND least(a.sz, b.sz) * 50 >= greatest(a.sz, b.sz) * 49
)
SELECT id_a, id_b,
       CAST(n_inter AS INT) AS n_inter,
       CAST(n_union AS INT) AS n_union,
       CAST(round(CAST(n_inter / n_union AS DECIMAL(18,12)), 6) AS DOUBLE)
         AS jaccard
FROM p WHERE n_inter * 50 >= n_union * 49
ORDER BY id_a, id_b
"""


def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval coalescing (operators/analytics.py::
    merge_intervals): each event opens a 12 h activity window per user;
    overlapping windows fuse into islands (gaps-and-islands with
    DURATIONS, complementing gap-based sessionization). 12 h vs the
    corpus's ~10.75 h mean inter-event gap makes roughly half the
    windows merge — both branches of the island predicate are
    exercised. Integer epoch seconds end-to-end.

    r13: the host ran the skew-immune pre-split twin (fixed duration
    reduces the island boundary to the session condition, so it
    composes over session_ids_presplit — VERDICT r12 item 1; 4.4×
    at 90% bot skew). Bit-identical islands, sub-second truncation
    aligned with the window face (ADVICE r12; parity-test-pinned).

    r15 (VERDICT r14 item 5): the host now runs the skew-ADAPTIVE
    dispatch — a sampled top-key-share probe routes the uniform gate
    corpus to the single-window face (reclaiming the ~2.5× pre-split
    stitch tax the r12–r14 adjudications carried) and a bot-skewed
    corpus to the pre-split twin (the 4.65×-at-90 %-skew win, entry
    77). Both faces are oracle-equal and parity-pinned bit-identical,
    so dispatch can change only the plan, never the rows.
    """
    from .operators.analytics import merge_intervals_adaptive

    ev = _table(spark, sf_dir, "events").select("user_id", "ts")
    return merge_intervals_adaptive(ev, duration_s=43200)


SQL_INTERVAL_MERGE = """
WITH ev AS (
  SELECT user_id AS k,
         (epoch_us(date_trunc('second', ts)) // 1000000) AS start_s,
         (epoch_us(date_trunc('second', ts)) // 1000000) + 43200 AS end_s
  FROM events
), f AS (
  SELECT k, start_s, end_s,
         CASE WHEN max(end_s) OVER w IS NULL THEN 1
              WHEN start_s > max(end_s) OVER w THEN 1
              ELSE 0 END AS new_island
  FROM ev
  WINDOW w AS (PARTITION BY k ORDER BY start_s, end_s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), g AS (
  SELECT k, start_s, end_s,
         sum(new_island) OVER (PARTITION BY k ORDER BY start_s, end_s
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM f
)
SELECT k AS user_id, CAST(island AS INT) AS island,
       min(start_s) AS island_start_s,
       max(end_s) AS island_end_s,
       max(end_s) - min(start_s) AS span_s,
       count(*) AS n_events
FROM g GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff (operators/merge.py::snapshot_diff): per-user
    latest state as of Jan 2 vs Jan 20, classified added / changed /
    unchanged — the audit face of the MERGE/SCD2 family, computed from
    one conditional struct-max aggregate instead of diffing two stored
    snapshots. The early T1 cut leaves some users unseen (-> 'added'
    rows), so every classification branch is populated.
    """
    from .operators.merge import snapshot_diff

    ev = _table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    return snapshot_diff(ev, t_old="2024-01-02 00:00:00", t_new="2024-01-20 00:00:00")


SQL_SNAPSHOT_DIFF = """
WITH s1 AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE ts <= TIMESTAMP '2024-01-02 00:00:00'
), o AS (SELECT user_id, event_type AS old_state FROM s1 WHERE rn = 1),
s2 AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00'
), n AS (SELECT user_id, event_type AS new_state FROM s2 WHERE rn = 1)
SELECT user_id, old_state, new_state,
       CASE WHEN old_state IS NULL AND new_state IS NOT NULL THEN 'added'
            WHEN old_state IS NOT NULL AND new_state IS NULL THEN 'removed'
            WHEN old_state != new_state THEN 'changed'
            ELSE 'unchanged' END AS change
FROM o FULL OUTER JOIN n USING (user_id)
ORDER BY user_id
"""


def q_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assignment (operators/packing.py::
    length_batches): power-of-two token-length buckets, deterministic
    hash-order dealing into fixed-size batches per (bucket, shard)
    cell, per-batch padding-waste audit. The (bucket, shard) cell
    design is what removes the per-bucket single-task sort at scale.
    """
    from .operators.packing import length_batches

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    return length_batches(docs, n_shards=8, batch_size=8)


SQL_LENGTH_BATCHING = r"""
WITH d AS (
  SELECT doc_id AS id,
         len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_tokens,
         ('0x' || substring(md5(doc_id::VARCHAR || 'lenbatch'), 1, 8))::BIGINT
           AS h
  FROM documents
), b AS (
  SELECT id, n_tokens, h, h % 8 AS shard,
         CASE WHEN n_tokens <= 16 THEN 16
              WHEN n_tokens <= 32 THEN 32
              WHEN n_tokens <= 64 THEN 64
              WHEN n_tokens <= 128 THEN 128
              WHEN n_tokens <= 256 THEN 256
              WHEN n_tokens <= 512 THEN 512
              ELSE 1024 END AS bucket_len
  FROM d
), dealt AS (
  SELECT bucket_len, shard, n_tokens,
         CAST(floor((row_number() OVER (PARTITION BY bucket_len, shard
                                        ORDER BY h, id) - 1) / 8) AS INT)
           AS batch
  FROM b
)
SELECT bucket_len, CAST(shard AS INT) AS shard, batch,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(max(n_tokens) AS INT) AS max_tokens,
       CAST(count(*) * bucket_len - sum(n_tokens) AS BIGINT) AS pad_waste
FROM dealt GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (operators/collocations.py::pmi_collocations):
    adjacent-pair lift = p(x,y)/(p(x)p(y)) over the token stream —
    PMI's monotone, log-free form, so selection and ordering stay
    integer-decided while the lift display column matches the oracle
    bit-for-bit via the identical expression tree. min_count=8 keeps
    the selection populated at the sf0.01 gate scale (min_count=50
    returned zero rows there — a zero-row hash match proves nothing).
    """
    from .operators.collocations import pmi_collocations

    # _fanout removed (r18, guide §2.4): A/B 1.17 s -> 0.62 s at sf0.1
    # (anti-scaling ratio 0.54 in VERDICT r17 item 6 — the repartition).
    docs = _table(spark, sf_dir, "documents").select("text")
    return pmi_collocations(docs, min_count=8)


SQL_PMI_COLLOCATIONS = rf"""
WITH t AS (
  SELECT {_TOKS_R6} AS t FROM documents
), uni AS (
  SELECT unnest(t) AS w FROM t
), pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                i -> struct_pack(x := t[i], y := t[i+1]))) AS p
  FROM t WHERE len(t) >= 2
), uc AS (
  SELECT w, count(*) AS c FROM uni GROUP BY w
), totals AS (
  SELECT (SELECT count(*) FROM uni) AS n_uni,
         (SELECT count(*) FROM pairs) AS n_bi
), bc AS (
  SELECT p.x AS x, p.y AS y, count(*) AS c_xy
  FROM pairs GROUP BY 1, 2 HAVING count(*) >= 8
)
SELECT bc.x || ' ' || bc.y AS bigram,
       bc.c_xy,
       cx.c AS c_x,
       cy.c AS c_y,
       floor((bc.c_xy / totals.n_bi)
         / ((cx.c / totals.n_uni) * (cy.c / totals.n_uni))
         * 1e6 + 0.5) / 1e6 AS lift
FROM bc
JOIN uc cx ON cx.w = bc.x
JOIN uc cy ON cy.w = bc.y
CROSS JOIN totals
ORDER BY c_xy DESC, bigram
"""


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch shuffle (operators/shuffling.py::
    epoch_shuffle): per-epoch re-salted hash order dealt into shards;
    the position-sensitive per-cell checksum makes the oracle verify
    the PERMUTATION, not just membership.
    """
    from .operators.shuffling import epoch_shuffle

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    return epoch_shuffle(docs, n_epochs=3, n_shards=8)


SQL_EPOCH_SHUFFLE = """
WITH e AS (
  SELECT doc_id AS id, unnest(generate_series(0, 2)) AS epoch FROM documents
), h AS (
  SELECT id, epoch,
         ('0x' || substring(md5(id::VARCHAR || '#' || epoch::VARCHAR
                                || 'shuf'), 1, 8))::BIGINT AS h
  FROM e
), p AS (
  SELECT epoch, h % 8 AS shard, id,
         row_number() OVER (PARTITION BY epoch, h % 8 ORDER BY h, id) AS pos
  FROM h
)
SELECT CAST(epoch AS INT) AS epoch, CAST(shard AS INT) AS shard,
       count(*) AS n_docs,
       CAST(sum(((pos % 2147483647) * ((id + 1) % 2147483647))
                % 2147483647) % 2147483647 AS BIGINT) AS order_checksum
FROM p GROUP BY 1, 2 ORDER BY 1, 2
"""


_PROFILE_COLS = {
    "o_orderkey": "bigint",
    "o_custkey": "bigint",
    "o_orderstatus": "string",
    "o_totalprice": "double",
    "o_orderdate": "date",
    "o_orderpriority": "string",
}


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile (operators/profiling.py::column_profile):
    nulls + exact distinct + min/max per column of orders, every
    statistic riding a single map-side-combined aggregate. Doubles
    render via decimal(18,2) so min/max strings are engine-neutral.
    """
    from .operators.profiling import column_profile

    # _fanout: the small-file orders scan is ONE partition locally, which
    # serializes the 6-way distinct Expand on a single core (measured 3 s
    # -> sub-second at sf0.1)
    return column_profile(
        _fanout(_table(spark, sf_dir, "orders")), _PROFILE_COLS
    )


def _profile_branch(col: str, dtype: str) -> str:
    lo, hi = f"min({col})", f"max({col})"
    if dtype == "double":
        lo = f"CAST({lo} AS DECIMAL(18,2))"
        hi = f"CAST({hi} AS DECIMAL(18,2))"
    return f"""
SELECT '{col}' AS column_name,
       CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
       CAST({lo} AS VARCHAR) AS min_value,
       CAST({hi} AS VARCHAR) AS max_value
FROM orders"""


SQL_COLUMN_PROFILE = (
    "\nUNION ALL".join(
        _profile_branch(c, t) for c, t in _PROFILE_COLS.items()
    )
    + "\nORDER BY column_name"
)


def q_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift census (operators/profiling.py::
    histogram_drift): per event_type, the cross-multiplied L1 distance
    sum|c1*n2 - c2*n1| between the value histograms of the month's two
    halves — zero iff proportionally identical. Accumulated in exact
    decimal(38,0) (round-10 overflow audit: c·n is ~10^24 at 10^12
    rows), emitted as DOUBLE on both engines.
    """
    from .operators.profiling import histogram_drift

    ev = _table(spark, sf_dir, "events").select("event_type", "ts", "value")
    return histogram_drift(
        ev, F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp")
    )


SQL_HISTOGRAM_DRIFT = """
WITH b AS (
  -- r13 non-finite discipline: NaN/±Inf diverted to their own NULL
  -- bin (Spark's silent NULL cents + null-skipping least would park
  -- them in the top bin; DuckDB would raise at the cast) — still
  -- counted in n1/n2 and the drift distance
  SELECT event_type AS k,
         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END
           AS half,
         CASE WHEN isnan(value) OR isinf(value) THEN NULL
              ELSE least(CAST(floor(
                     CAST(CAST(CASE WHEN isnan(value) OR isinf(value)
                               THEN NULL ELSE value END
                          AS DECIMAL(18,2)) * 100 AS BIGINT)
                          / 200) AS BIGINT), 9) END AS bin
  FROM events
), g AS (
  SELECT k, bin,
         CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM b GROUP BY 1, 2
), g2 AS (
  SELECT k, c1, c2,
         sum(c1) OVER (PARTITION BY k) AS n1,
         sum(c2) OVER (PARTITION BY k) AS n2
  FROM g
)
SELECT k AS event_type,
       CAST(max(n1) AS BIGINT) AS n1,
       CAST(max(n2) AS BIGINT) AS n2,
       CAST(sum(abs(c1 * n2 - c2 * n1)) AS DOUBLE) AS drift_scaled
FROM g2 GROUP BY 1 ORDER BY 1
"""


def q_exact_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring detection (operators/fingerprint.py::
    exact_substring_pairs — the Lee et al. exact-substring dedup
    family as a k-gram hash join): complete for shared runs >= 40
    chars inside the 200-char cap, with per-pair longest-run length
    (max_run) certifying a verbatim shared substring of
    k + max_run - 1 chars. The max_df stop-gram guard bounds template
    boilerplate to C(10,2) pairs per gram.
    """
    from .operators.fingerprint import exact_substring_pairs

    docs = _fanout(_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return exact_substring_pairs(
        docs, k=40, cap=200, max_df=10, min_shared=3
    ).orderBy("id_a", "id_b")


SQL_EXACT_SUBSTRING_DUP = """
WITH d AS (
  SELECT doc_id, lower(substring(text, 1, 200)) AS t FROM documents
), g AS (
  SELECT doc_id, t, length(t) - 39 AS m FROM d
), hl AS (
  SELECT doc_id,
         CASE WHEN m >= 1 THEN
           list_transform(generate_series(1, m),
             i -> struct_pack(pos := i,
                    h := ('0x' || substring(md5(substring(t, i, 40)), 1, 8))
                           ::BIGINT))
         ELSE [] END AS gs
  FROM g
), e AS (
  SELECT doc_id AS doc, unnest(gs).pos AS pos, unnest(gs).h AS h FROM hl
), keep AS (
  SELECT h FROM e GROUP BY h HAVING count(DISTINCT doc) BETWEEN 2 AND 10
), matched AS (
  SELECT DISTINCT a.doc AS id_a, b.doc AS id_b, a.pos AS pos_a
  FROM e a JOIN keep USING (h) JOIN e b USING (h)
  WHERE a.doc < b.doc
), runs AS (
  SELECT id_a, id_b, pos_a,
         pos_a - row_number() OVER (PARTITION BY id_a, id_b
                                    ORDER BY pos_a) AS grp
  FROM matched
), per_run AS (
  SELECT id_a, id_b, grp, count(*) AS run_len
  FROM runs GROUP BY 1, 2, 3
)
SELECT id_a, id_b,
       CAST(sum(run_len) AS BIGINT) AS n_shared,
       CAST(max(run_len) AS BIGINT) AS max_run,
       CAST(max(run_len) + 39 AS BIGINT) AS dup_chars
FROM per_run GROUP BY 1, 2
HAVING sum(run_len) >= 3
ORDER BY id_a, id_b
"""


def q_join_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join explosion audit (operators/profiling.py::
    join_explosion_audit): the top-10 l_partkey keys by exact join
    output contribution for a lineitem self-join — per-side
    multiplicities, c_l*c_r output rows, integer ppm share of the
    total. The query a 100 TB engine runs before deciding salt vs
    broadcast vs pre-aggregate.
    """
    from .operators.profiling import join_explosion_audit

    li = _table(spark, sf_dir, "lineitem").select("l_partkey")
    return join_explosion_audit(li, li, "l_partkey", top_k=10)


SQL_JOIN_EXPLOSION = """
WITH c AS (
  SELECT l_partkey AS k, count(*) AS n FROM lineitem GROUP BY 1
), per_key AS (
  SELECT k, n AS c_left, n AS c_right, n * n AS out_rows FROM c
), t AS (
  SELECT CAST(sum(out_rows) AS BIGINT) AS total_rows FROM per_key
)
SELECT k AS l_partkey, c_left, c_right,
       CAST(out_rows AS BIGINT) AS out_rows,
       CAST(floor(out_rows * 1000000 / total_rows) AS BIGINT) AS share_ppm,
       total_rows
FROM per_key, t
ORDER BY out_rows DESC, l_partkey
LIMIT 10
"""


def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-window funnel (operators/analytics.py::funnel_steps with
    within_s): view -> click -> purchase where each conversion must
    land within 48 h of the previous step — the Amplitude-style
    variant of funnel_steps, same single-exchange min(CASE) chain with
    an integer epoch bound folded into each CASE.
    """
    from .operators.analytics import funnel_steps

    ev = _table(spark, sf_dir, "events")
    return funnel_steps(ev, FUNNEL, within_s=172800)


SQL_FUNNEL_WINDOWED = """
WITH w1 AS (
  SELECT user_id, event_type, ts,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t0
  FROM events
), w2 AS (
  SELECT user_id, event_type, ts, t0,
         min(CASE WHEN event_type = 'click' AND ts >= t0
                   AND (epoch_us(date_trunc('second', ts)) // 1000000)
                       <= (epoch_us(date_trunc('second', t0)) // 1000000) + 172800
                  THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM w1
), w3 AS (
  SELECT user_id, t0, t1,
         min(CASE WHEN event_type = 'purchase' AND ts >= t1
                   AND (epoch_us(date_trunc('second', ts)) // 1000000)
                       <= (epoch_us(date_trunc('second', t1)) // 1000000) + 172800
                  THEN ts END)
           OVER (PARTITION BY user_id) AS t2
  FROM w2
), agg AS (
  SELECT count(DISTINCT CASE WHEN t0 IS NOT NULL THEN user_id END) AS c0,
         count(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS c1,
         count(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS c2
  FROM w3
)
SELECT 1 AS step_idx, 'view' AS step, c0 AS n_users FROM agg
UNION ALL SELECT 2, 'click', c1 FROM agg
UNION ALL SELECT 3, 'purchase', c2 FROM agg
ORDER BY step_idx
"""


def q_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup keep list (operators/curation.py::
    dedup_keep_list): the same MinHash-LSH pair graph dedup_components
    resolves → connected components → keep the highest-n_chars doc per
    duplicate group (ties: lowest id). The curation POLICY layer over
    dedup_components' arbitrary min-id canonical pick. (The
    fingerprint-join pair graph is deliberately NOT used here: on this
    template corpus its min_shared=2 graph at sf0.1 puts 99% of docs
    in components — measured 121 s for a policy demo; LSH banding
    keeps the graph dedup-shaped.)
    """
    from .operators.curation import dedup_keep_list
    from .operators.fuzzy_dedup import minhash_lsh_pairs

    docs = _fanout(
        _table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    )
    # star_over=2: keep-list consumes pairs only for connectivity +
    # per-component counts — star edges are bit-identical there and
    # bound the duplicate-mass hot bucket at O(m) (see bucket_pairs)
    pairs = minhash_lsh_pairs(
        docs, num_hashes=MINHASH_SEEDS, num_bands=LSH_BANDS, star_over=2
    )
    return dedup_keep_list(docs, pairs)


SQL_DEDUP_KEEP_LIST = rf"""
WITH RECURSIVE pairs AS (
{_minhash_sql()}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach(id, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
), comp AS (
  SELECT id AS doc_id, min(r) AS component_id FROM reach GROUP BY id
), jq AS (
  SELECT comp.doc_id, comp.component_id, documents.n_chars AS quality
  FROM comp JOIN documents ON documents.doc_id = comp.doc_id
), ranked AS (
  SELECT doc_id, component_id, quality,
         row_number() OVER (PARTITION BY component_id
                            ORDER BY quality DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY component_id) AS nc
  FROM jq
)
SELECT doc_id, component_id, quality,
       CAST(nc AS BIGINT) AS n_in_component,
       CAST(rn = 1 AS INT) AS keep
FROM ranked ORDER BY doc_id
"""


def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce (operators/analytics.py::event_debounce):
    drop events repeating within 1800 s of their (user, type)
    predecessor — lag-based; survivors carry their predecessor gap
    (-1 for firsts).

    r13 ran the pre-split twin (per-(key, day) lag with a boundary
    stitch, VERDICT r12 item 1; 1.9× at 90% bot skew); r15 upgrades to
    the skew-ADAPTIVE dispatch (family-wide rollout of VERDICT r14
    item 5) — the probe groups on the COMPOSITE (user, type) window
    key, uniform corpora take the window face, faces parity-pinned.
    """
    from .operators.analytics import event_debounce_adaptive

    ev = _table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return event_debounce_adaptive(ev, min_gap_s=1800)


SQL_EVENT_DEBOUNCE = """
WITH w AS (
  SELECT user_id, event_type, event_id,
         (epoch_us(date_trunc('second', ts)) // 1000000) AS epoch_s,
         (epoch_us(date_trunc('second', ts)) // 1000000)
           - lag((epoch_us(date_trunc('second', ts)) // 1000000))
             OVER (PARTITION BY user_id, event_type
                   ORDER BY (epoch_us(date_trunc('second', ts)) // 1000000), event_id)
           AS gap_s
  FROM events
)
SELECT user_id, event_type, event_id, epoch_s,
       coalesce(gap_s, -1) AS gap_s
FROM w WHERE gap_s IS NULL OR gap_s >= 1800
ORDER BY event_id
"""


def q_cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth triplet (operators/analytics.py::cumulative_reach): DAU,
    new users, cumulative reach per day — cumulative distinct
    expressed as a running sum of first-seen counts (bounded state),
    never a cumulative-distinct.
    """
    from .operators.analytics import cumulative_reach

    ev = _table(spark, sf_dir, "events").select("user_id", "ts")
    return cumulative_reach(ev)


SQL_CUMULATIVE_REACH = """
WITH ud AS (
  -- exact floor day (r13 ts-domain axis, r14 ADVICE exactness fix):
  -- date_trunc('day') is calendar-floor integer arithmetic and its
  -- epoch_us is a multiple of the divisor, so the truncating //
  -- cannot round it — no DOUBLE anywhere in the bucket
  SELECT DISTINCT user_id AS u,
         (epoch_us(date_trunc('day', ts)) // 86400000000) AS d
  FROM events
), first AS (
  SELECT u, min(d) AS fd FROM ud GROUP BY u
), per_day AS (
  SELECT d, count(DISTINCT ud.u) AS dau,
         CAST(sum(CASE WHEN d = fd THEN 1 ELSE 0 END) AS BIGINT) AS new_users
  FROM ud JOIN first ON first.u = ud.u
  GROUP BY d
)
SELECT d * 86400 AS day_s, dau, new_users,
       CAST(sum(new_users) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_reach
FROM per_day ORDER BY day_s
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition census (operators/analytics.py::
    event_transitions): consecutive (from, to) step counts per user
    sequence + row-normalized transition probabilities — the empirical
    transition matrix.

    r13 ran the pre-split twin (per-(user, day) lag, previous bucket's
    last type stitched via the domain-sized summary, VERDICT r12 item
    1; 4.6× at 90% bot skew); r15 upgrades to the skew-ADAPTIVE
    dispatch (family-wide rollout of VERDICT r14 item 5) — uniform
    corpora take the window face, faces parity-pinned bit-identical.
    """
    from .operators.analytics import event_transitions_adaptive

    ev = _table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return event_transitions_adaptive(ev)


SQL_EVENT_TRANSITIONS = """
WITH steps AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
             ORDER BY (epoch_us(date_trunc('second', ts)) // 1000000), event_id)
           AS from_type,
         event_type AS to_type
  FROM events
), c AS (
  SELECT from_type, to_type, count(*) AS n_steps
  FROM steps WHERE from_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n_steps,
       CAST(sum(n_steps) OVER (PARTITION BY from_type) AS BIGINT)
         AS row_total,
       CAST(round(CAST(n_steps / (sum(n_steps) OVER (PARTITION BY from_type))
            AS DECIMAL(18,12)), 6) AS DOUBLE) AS p
FROM c ORDER BY from_type, to_type
"""


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (operators/analytics.py::rfm_segments): users
    quintiled by recency / frequency / purchase cents (total orders —
    metric desc, user id — so tiles are engine-independent), counted
    per segment with exact-cents average monetary.
    """
    from .operators.analytics import rfm_segments

    ev = _table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    return rfm_segments(ev)


SQL_RFM_SEGMENTS = """
WITH per_user AS (
  -- r13 non-finite discipline: NaN/±Inf purchase values are nulled
  -- INSIDE the cents cast (Spark's cast silently NULLs them; DuckDB
  -- would raise) and flagged per user; the flag ranks the user FIRST
  -- in the monetary ntile (native NaN sums sort greatest, tie-broken
  -- by user id) and poisons the segment's avg_monetary to NaN
  SELECT user_id AS u,
         -- exact floor day (r13 ts-domain axis, r14 ADVICE exactness
         -- fix): calendar date_trunc floors for any sign, its epoch_us
         -- is divisor-aligned, so // cannot round — no DOUBLE anywhere
         max((epoch_us(date_trunc('day', ts)) // 86400000000)) AS last_day,
         count(*) AS frequency,
         coalesce(sum(CASE WHEN event_type = 'purchase'
              THEN CAST(CAST(CASE WHEN isnan(value) OR isinf(value)
                                  THEN NULL ELSE value END
                   AS DECIMAL(18,2)) * 100 AS BIGINT) END), 0)
           AS monetary_cents,
         coalesce(bool_or(CASE WHEN event_type = 'purchase'
                          THEN isnan(value) OR isinf(value) END), FALSE)
           AS nf
  FROM events GROUP BY 1
), scored AS (
  SELECT u, monetary_cents, nf,
         ntile(5) OVER (ORDER BY last_day DESC, u) AS r_tile,
         ntile(5) OVER (ORDER BY frequency DESC, u) AS f_tile,
         ntile(5) OVER (ORDER BY nf DESC,
                        CASE WHEN nf THEN NULL ELSE monetary_cents END
                          DESC NULLS LAST, u) AS m_tile
  FROM per_user
)
SELECT CAST(r_tile AS INT) AS r_tile, CAST(f_tile AS INT) AS f_tile,
       CAST(m_tile AS INT) AS m_tile,
       count(*) AS n_users,
       CASE WHEN bool_or(nf) THEN 'NaN'::DOUBLE ELSE
         CAST(round(CAST(sum(monetary_cents) / (count(*) * 100)
              AS DECIMAL(18,12)), 6) AS DOUBLE)
       END AS avg_monetary
FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson collision-index text quality (operators/quality.py::
    char_diversity): the integer-exact stand-in for character entropy
    — collisions = sum c_i*(c_i-1) over characters, diversity in ppm.
    """
    from .operators.quality import char_diversity

    docs = _fanout(_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return char_diversity(docs)


SQL_CHAR_DIVERSITY = """
WITH ch AS (
  SELECT doc_id AS id, length(text) AS n,
         unnest(list_transform(generate_series(1, length(text)),
                               i -> substring(text, i, 1))) AS ch
  FROM documents
), pc AS (
  SELECT id, n, ch, count(*) AS c FROM ch GROUP BY 1, 2, 3
), agg AS (
  SELECT id, n, CAST(sum(c * (c - 1)) AS BIGINT) AS collisions
  FROM pc GROUP BY 1, 2
)
SELECT id AS doc_id, CAST(n AS BIGINT) AS n_chars, collisions,
       CAST(CASE WHEN n >= 2 THEN
         floor(1000000 * (1 - collisions / (n * (n - 1))))
       ELSE 0 END AS BIGINT) AS diversity_ppm
FROM agg ORDER BY doc_id
"""


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier census (operators/analytics.py
    ::mad_outliers_by_counts): the robust companion to zscore_outliers
    — exact integer medians at 2x scale, flag |x-med| > 3*MAD, all
    int64. Migrated r12 (straggler audit) from the two-window sort form
    onto the value-count histogram: O(distinct cents) per-key work, no
    per-key row sort; mad_outliers stays as the test-pinned parity
    face. NULL values excluded on both engines (ADVICE r11 alignment).
    """
    from .operators.analytics import mad_outliers_by_counts

    ev = _table(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    return mad_outliers_by_counts(ev, k_half=6)


SQL_MAD_OUTLIERS = """
WITH ev AS (
  -- r13 non-finite discipline: NaN/±Inf cents-cast silently to NULL in
  -- Spark (DuckDB raises) — null them INSIDE the cast, flag the key,
  -- and NULL every rank-derived output of a poisoned key; n_events
  -- stays a real count of non-null values
  SELECT event_type AS k,
         CASE WHEN isnan(value) OR isinf(value) THEN NULL
              ELSE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
         END AS x,
         coalesce(isnan(value) OR isinf(value), FALSE) AS nf,
         event_id
  FROM events
  WHERE value IS NOT NULL
), r AS (
  -- ranks over FINITE values only (the (x IS NULL) partition key parks
  -- poisoned rows in their own rank space; their stats are masked)
  SELECT k, x, nf, event_id,
         row_number() OVER (PARTITION BY k, (x IS NULL)
                            ORDER BY x, event_id) AS rn,
         sum(CASE WHEN x IS NOT NULL THEN 1 ELSE 0 END)
           OVER (PARTITION BY k) AS n
  FROM ev
), m AS (
  SELECT *, CAST(sum(CASE WHEN x IS NOT NULL
                            AND (rn = floor((n + 1) / 2)
                                 OR rn = floor((n + 2) / 2))
                   THEN CASE WHEN n % 2 = 1 THEN x * 2 ELSE x END END)
             OVER (PARTITION BY k) AS BIGINT) AS med2
  FROM r
), d AS (
  SELECT *, abs(x * 2 - med2) AS dev2,
         row_number() OVER (PARTITION BY k, (x IS NULL)
                            ORDER BY abs(x * 2 - med2), event_id) AS rnd
  FROM m
), md AS (
  SELECT *, CAST(sum(CASE WHEN x IS NOT NULL
                            AND (rnd = floor((n + 1) / 2)
                                 OR rnd = floor((n + 2) / 2))
                   THEN CASE WHEN n % 2 = 1 THEN dev2 * 2 ELSE dev2 END END)
             OVER (PARTITION BY k) AS BIGINT) AS mad2
  FROM d
)
SELECT k AS event_type, count(*) AS n_events,
       CASE WHEN bool_or(nf) THEN NULL ELSE
         CAST(sum(CASE WHEN dev2 * 2 > 6 * mad2 THEN 1 ELSE 0 END) AS BIGINT)
       END AS n_outliers,
       CASE WHEN bool_or(nf) THEN NULL
            ELSE CAST(max(med2) AS BIGINT) END AS median_cents_x2,
       CASE WHEN bool_or(nf) THEN NULL
            ELSE CAST(max(mad2) AS BIGINT) END AS mad_cents_x2
FROM md GROUP BY 1 ORDER BY 1
"""


def q_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality profile (operators/analytics.py::hourly_profile):
    per-type hour-of-day concentration — peak hour + integer ppm
    concentration index (0 = uniform, 23e6 = single-hour spike).
    """
    from .operators.analytics import hourly_profile

    ev = _table(spark, sf_dir, "events").select("event_type", "ts")
    return hourly_profile(ev)


SQL_HOURLY_PROFILE = """
WITH ph AS (
  SELECT event_type AS k, CAST(hour(ts) AS INT) AS h, count(*) AS c
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT k, h, c,
         row_number() OVER (PARTITION BY k ORDER BY c DESC, h) AS rh
  FROM ph
), pk AS (
  SELECT k, CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c * c) AS BIGINT) AS ss,
         CAST(max(CASE WHEN rh = 1 THEN h END) AS INT) AS peak_hour
  FROM ranked GROUP BY 1
)
SELECT k AS event_type, n, peak_hour,
       CAST(floor((1000000 * (24 * ss - n * n)) / (23 * n * n)) AS BIGINT)
         AS conc_ppm
FROM pk ORDER BY 1
"""


def q_fact_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-lines reconciliation (operators/quality.py::
    fact_reconciliation): o_totalprice against the decimal-exact sum
    of l_extendedprice*(1-l_discount) per order, mismatches bucketed
    by signed cent difference — the warehouse audit query.
    """
    from .operators.quality import fact_reconciliation

    return fact_reconciliation(
        _table(spark, sf_dir, "orders"),
        _fanout(_table(spark, sf_dir, "lineitem")),
    )


SQL_FACT_RECONCILIATION = """
WITH li AS (
  SELECT l_orderkey AS okey,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
             AS DECIMAL(18,4))) AS line_total,
         count(*) AS n_lines
  FROM lineitem GROUP BY 1
), j AS (
  SELECT CAST((CAST(o.o_totalprice AS DECIMAL(18,2))
              - coalesce(li.line_total, 0)) * 10000 AS BIGINT) AS dc,
         li.line_total IS NULL AS no_lines
  FROM orders o LEFT JOIN li ON li.okey = o.o_orderkey
), b AS (
  SELECT CASE WHEN no_lines THEN 'no_lines'
              WHEN dc = 0 THEN 'exact'
              WHEN abs(dc) <= 10000 THEN 'within_1'
              WHEN dc > 0 THEN 'header_high'
              ELSE 'header_low' END AS bucket,
         dc
  FROM j
)
SELECT bucket, count(*) AS n_orders,
       CAST(coalesce(sum(abs(dc)), 0) AS BIGINT) AS abs_ten_thousandths
FROM b GROUP BY 1 ORDER BY 1
"""


CATALOG = [
    ("cohort_retention", q_cohort_retention, SQL_COHORT_RETENTION),
    ("funnel_steps", q_funnel_steps, SQL_FUNNEL_STEPS),
    ("zscore_outliers", q_zscore_outliers, SQL_ZSCORE_OUTLIERS),
    ("quality_deciles", q_quality_deciles, SQL_QUALITY_DECILES),
    ("top_p_select", q_top_p_select, SQL_TOP_P_SELECT),
    ("winnow_fingerprint", q_winnow_fingerprint, SQL_WINNOW_FINGERPRINT),
    ("url_canonical", q_url_canonical, SQL_URL_CANONICAL),
    ("approx_distinct", q_approx_distinct, SQL_APPROX_DISTINCT),
    ("fingerprint_dedup", q_fingerprint_dedup, SQL_FINGERPRINT_DEDUP),
    ("ngram_containment", q_ngram_containment, SQL_NGRAM_CONTAINMENT),
    ("approx_quality_bins", q_approx_quality_bins, SQL_APPROX_QUALITY_BINS),
    ("compaction_plan", q_compaction_plan, SQL_COMPACTION_PLAN),
    ("cms_frequency", q_cms_frequency, SQL_CMS_FREQUENCY),
    ("bloom_prune", q_bloom_prune, SQL_BLOOM_PRUNE),
    ("domain_mixture", q_domain_mixture, SQL_DOMAIN_MIXTURE),
    ("boilerplate_strip", q_boilerplate_strip, SQL_BOILERPLATE_STRIP),
    ("prefix_filter_join", q_prefix_filter_join, SQL_PREFIX_FILTER_JOIN),
    ("interval_merge", q_interval_merge, SQL_INTERVAL_MERGE),
    ("snapshot_diff", q_snapshot_diff, SQL_SNAPSHOT_DIFF),
    ("length_batching", q_length_batching, SQL_LENGTH_BATCHING),
    ("pmi_collocations", q_pmi_collocations, SQL_PMI_COLLOCATIONS),
    ("epoch_shuffle", q_epoch_shuffle, SQL_EPOCH_SHUFFLE),
    ("column_profile", q_column_profile, SQL_COLUMN_PROFILE),
    ("histogram_drift", q_histogram_drift, SQL_HISTOGRAM_DRIFT),
    ("exact_substring_dup", q_exact_substring_dup, SQL_EXACT_SUBSTRING_DUP),
    ("join_explosion", q_join_explosion, SQL_JOIN_EXPLOSION),
    ("funnel_windowed", q_funnel_windowed, SQL_FUNNEL_WINDOWED),
    ("dedup_keep_list", q_dedup_keep_list, SQL_DEDUP_KEEP_LIST),
    ("event_debounce", q_event_debounce, SQL_EVENT_DEBOUNCE),
    ("cumulative_reach", q_cumulative_reach, SQL_CUMULATIVE_REACH),
    ("event_transitions", q_event_transitions, SQL_EVENT_TRANSITIONS),
    ("rfm_segments", q_rfm_segments, SQL_RFM_SEGMENTS),
    ("char_diversity", q_char_diversity, SQL_CHAR_DIVERSITY),
    ("mad_outliers", q_mad_outliers, SQL_MAD_OUTLIERS),
    ("hourly_profile", q_hourly_profile, SQL_HOURLY_PROFILE),
    ("fact_reconciliation", q_fact_reconciliation, SQL_FACT_RECONCILIATION),
]
