"""Round-7 driver-facing queries: ingest-edge rate limiting, inverted
index construction, zone-map data-skipping audit, and weight-
proportional sampling.

Same contract as the earlier driver_queries modules: UTC pinned by the
catalog registration (catalog.py), read via qcommon._table, alias every output column identically to the DuckDB
oracle, end in a total ORDER BY. Reference parity notes live on the
operator docstrings (operators/analytics.py::rate_limit_flags,
operators/indexing.py, operators/layout.py::zone_maps/skip_audit,
operators/sampling.py::weighted_bernoulli).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .driver_queries_ext import SQL_KMEANS_CLUSTERS
from .qcommon import (
    _fanout,
    _minhash_sql,
    _table,
    epoch_s,
    reuse,
    round6x,
)


def q_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rate limiting (operators/analytics.py::rate_limit_flags):
    trailing-24h sliding count + first-4-per-calendar-day fixed-window
    admission, both from one hash shuffle on user_id. The sliding flag
    is the stateless discipline (count includes throttled events); the
    sequential admission-feedback face lives in streaming/ratelimit.py.
    """
    from .operators.analytics import rate_limit_flags

    ev = _table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return rate_limit_flags(
        ev, window_s=86400, max_n=4
    ).orderBy("user_id", "ts_s", "event_id")


SQL_RATE_LIMIT = """
WITH e AS (
  SELECT event_id, user_id, (epoch_us(date_trunc('second', ts)) // 1000000) AS ts_s
  FROM events
)
SELECT event_id, user_id, ts_s,
       COUNT(*) OVER w AS n_in_window,
       (COUNT(*) OVER w) <= 4 AS admitted_sliding,
       (row_number() OVER (
          PARTITION BY user_id, CAST(floor(ts_s / 86400) AS BIGINT)
          ORDER BY ts_s, event_id) <= 4) AS admitted_fixed
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts_s
             RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW)
ORDER BY user_id, ts_s, event_id
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index over documents
    (operators/indexing.py::inverted_index): term -> df, tf, and the
    full posting list "doc:p1,p2;..." in lexicographic posting order —
    a deterministic, engine-neutral index image. Two keyed aggregates
    (term,doc) then (term); the explode is the only data-sized stage.
    """
    from .operators.indexing import inverted_index

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    return inverted_index(docs, min_df=2).orderBy("term")


SQL_INVERTED_INDEX = r"""
WITH tok0 AS (
  SELECT doc_id AS doc, unnest(toks) AS term,
         generate_subscripts(toks, 1) AS pos
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents)
), tok AS (SELECT * FROM tok0 WHERE term <> ''),
pd AS (
  SELECT term, doc, count(*) AS tf_doc,
         string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS poss
  FROM tok GROUP BY term, doc
),
idx AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(tf_doc) AS BIGINT) AS tf,
         string_agg(CAST(doc AS VARCHAR) || ':' || poss, ';'
                    ORDER BY CAST(doc AS VARCHAR) || ':' || poss)
           AS postings
  FROM pd GROUP BY term
)
SELECT term, df, tf, postings FROM idx WHERE df >= 2 ORDER BY term
"""


# Day-number range predicates for the skipping audit (epoch days,
# computed from the lineitem shipdate span 1995-01-02..2001-11-04):
# one week, one calendar year, one month, and one range before the
# data starts (the all-skip case).
_ZONE_PREDS = [
    (1, 9556, 9562),   # 1996-03-01..03-07
    (2, 9496, 9861),   # 1996 full year
    (3, 10378, 10407),  # 1998-06
    (4, 7305, 7669),   # 1990 — entirely before min(shipdate)
]


def q_zone_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map skipping audit (operators/layout.py::zone_maps +
    skip_audit): the same lineitem rows laid out two ways — weekly
    shipdate-range files vs md5-hash files — and, per range predicate,
    how many files each layout's min/max stats let the scanner skip.
    The range layout prunes to the touched weeks; the hash layout scans
    every file (every file spans the full date range) — the measured
    argument for clustered layouts at 100 TB. Stats tables are
    file-count-sized; only rows_matched touches the data again.
    """
    from .operators.layout import skip_audit, zone_maps

    li = _table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    d = F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date"))
    dd = li.select(
        d.cast("long").alias("d"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("l_orderkey").cast("string"),
                        F.lit("-"),
                        F.col("l_linenumber").cast("string"),
                        F.lit("zm"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("hb"),
    )
    # reuse() pin (r17 optimization, guide §1.2/§5): three consumers
    # (range zone-map, hash zone-map, rows_matched) each re-ran the
    # lineitem scan AND the per-row md5 bucket hash. Two longs per row
    # materialized once replace three scans and three md5 passes —
    # same adjudication as zorder_skipping's pin (the consumers need
    # the DERIVED d/hb columns, so recompute is not a pruned-scan win).
    from .qcommon import reuse

    dd = reuse(dd)
    zm_range = zone_maps(dd, F.floor(F.col("d") / 7), F.col("d"))
    zm_hash = zone_maps(dd, F.pmod(F.col("hb"), F.lit(360)), F.col("d"))
    a_range = skip_audit(zm_range, _ZONE_PREDS).select(
        "pred_id",
        "lo",
        "hi",
        F.col("files_total").alias("files_range"),
        F.col("files_scanned").alias("scan_files_range"),
        F.col("rows_scanned").alias("scan_rows_range"),
    )
    a_hash = skip_audit(zm_hash, _ZONE_PREDS).select(
        "pred_id",
        F.col("files_total").alias("files_hash"),
        F.col("files_scanned").alias("scan_files_hash"),
        F.col("rows_scanned").alias("scan_rows_hash"),
    )
    preds = spark.createDataFrame(
        _ZONE_PREDS, "pred_id int, lo bigint, hi bigint"
    )
    matched = (
        dd.join(
            F.broadcast(preds),
            (F.col("d") >= F.col("lo")) & (F.col("d") <= F.col("hi")),
        )
        .groupBy("pred_id")
        .agg(F.count("*").cast("long").alias("rows_matched"))
    )
    return (
        a_range.join(F.broadcast(a_hash), "pred_id")
        .join(F.broadcast(matched), "pred_id", "left")
        .withColumn(
            "rows_matched", F.coalesce("rows_matched", F.lit(0).cast("long"))
        )
        .orderBy("pred_id")
    )


SQL_ZONE_SKIPPING = """
WITH preds(pred_id, lo, hi) AS (
  VALUES (1, 9556, 9562), (2, 9496, 9861), (3, 10378, 10407),
         (4, 7305, 7669)
), dd AS (
  SELECT CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         ('0x' || substring(md5(l_orderkey::VARCHAR || '-' ||
                                l_linenumber::VARCHAR || 'zm'), 1, 8))::BIGINT
           AS hb
  FROM lineitem
), zr AS (
  SELECT CAST(floor(d / 7) AS BIGINT) AS file_id,
         min(d) AS v_min, max(d) AS v_max, count(*) AS n_rows
  FROM dd GROUP BY 1
), zh AS (
  SELECT hb % 360 AS file_id,
         min(d) AS v_min, max(d) AS v_max, count(*) AS n_rows
  FROM dd GROUP BY 1
), ar AS (
  SELECT pred_id, lo, hi,
         CAST(count(*) AS BIGINT) AS files_range,
         CAST(sum(CASE WHEN NOT (v_max < lo OR v_min > hi)
                       THEN 1 ELSE 0 END) AS BIGINT) AS scan_files_range,
         CAST(sum(CASE WHEN NOT (v_max < lo OR v_min > hi)
                       THEN n_rows ELSE 0 END) AS BIGINT) AS scan_rows_range
  FROM zr CROSS JOIN preds GROUP BY 1, 2, 3
), ah AS (
  SELECT pred_id,
         CAST(count(*) AS BIGINT) AS files_hash,
         CAST(sum(CASE WHEN NOT (v_max < lo OR v_min > hi)
                       THEN 1 ELSE 0 END) AS BIGINT) AS scan_files_hash,
         CAST(sum(CASE WHEN NOT (v_max < lo OR v_min > hi)
                       THEN n_rows ELSE 0 END) AS BIGINT) AS scan_rows_hash
  FROM zh CROSS JOIN preds GROUP BY 1
), m AS (
  SELECT pred_id, CAST(count(*) AS BIGINT) AS rows_matched
  FROM dd JOIN preds ON d >= lo AND d <= hi GROUP BY 1
)
SELECT ar.pred_id, CAST(ar.lo AS BIGINT) AS lo, CAST(ar.hi AS BIGINT) AS hi,
       ar.files_range, ar.scan_files_range, ar.scan_rows_range,
       ah.files_hash, ah.scan_files_hash, ah.scan_rows_hash,
       coalesce(m.rows_matched, 0) AS rows_matched
FROM ar JOIN ah USING (pred_id) LEFT JOIN m USING (pred_id)
ORDER BY ar.pred_id
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional deterministic sampling
    (operators/sampling.py::weighted_bernoulli): documents kept with
    probability weight/256 where weight = 1 + min(n_chars//2, 255) — a
    length-as-quality stand-in spanning weights ~25..256 on this corpus. Summarized per weight class with an
    admitted-id checksum so every per-row admission decision is pinned
    by the hash compare. Map-only then one small aggregate.
    """
    from .operators.sampling import weighted_bernoulli

    docs = _table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    wt = (
        F.lit(1)
        + F.least(F.floor(F.col("n_chars") / 2), F.lit(255))
    ).cast("long")
    flagged = weighted_bernoulli(
        docs.withColumn("wt", wt), "doc_id", "wt", 256
    )
    adm = F.col("admitted").cast("long")
    return (
        flagged.groupBy(
            F.floor((F.col("wt") - 1) / 32).cast("long").alias("wclass")
        )
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(adm).cast("long").alias("n_admitted"),
            F.sum("wt").cast("long").alias("sum_weight"),
            F.sum(F.when(F.col("admitted"), F.col("doc_id")))
            .cast("long")
            .alias("admitted_id_sum"),
            round6x(F.sum(adm) / F.count("*")).alias("admit_rate"),
        )
        .orderBy("wclass")
    )


SQL_WEIGHTED_SAMPLE = """
WITH w AS (
  SELECT doc_id,
         CAST(1 + least(CAST(floor(n_chars / 2) AS BIGINT), 255)
              AS BIGINT) AS wt,
         ('0x' || substring(md5(doc_id::VARCHAR || 'wb'), 1, 8))::BIGINT
           AS bucket
  FROM documents
), a AS (
  SELECT doc_id, wt,
         (bucket * 256 < wt * 4294967296) AS admitted
  FROM w
)
SELECT CAST(floor((wt - 1) / 32) AS BIGINT) AS wclass,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT)
         AS n_admitted,
       CAST(sum(wt) AS BIGINT) AS sum_weight,
       CAST(sum(CASE WHEN admitted THEN doc_id END) AS BIGINT)
         AS admitted_id_sum,
       CAST(round(CAST(sum(CASE WHEN admitted THEN 1 ELSE 0 END)
                       / count(*) AS DECIMAL(18,12)), 6) AS DOUBLE)
         AS admit_rate
FROM a GROUP BY 1 ORDER BY 1
"""


def q_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bucket admission (operators/admission.py): burst 2, refill
    1 token / 12 h, integer 1/43200-token units. The admission-feedback
    recurrence is sequential per key — applyInPandas on user_id, one
    hash shuffle — and the oracle replays it exactly with a recursive
    CTE over the same (ts, id) total order.
    """
    from .operators.admission import token_bucket_admit

    ev = _table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = token_bucket_admit(ev, burst=2, refill_num=1, refill_den=43200)
    # reuse(): the ORDER BY's range partitioner samples its child —
    # without the pin the applyInPandas stage runs twice
    return reuse(out).orderBy("user_id", "ts_s", "event_id")


SQL_TOKEN_BUCKET = """
WITH RECURSIVE e AS (
  SELECT user_id, event_id, (epoch_us(date_trunc('second', ts)) // 1000000) AS ts_s,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY (epoch_us(date_trunc('second', ts)) // 1000000),
                                     event_id) AS i
  FROM events
), rec AS (
  SELECT user_id, i, ts_s, event_id,
         CAST(86400 AS BIGINT) AS units_before,
         CAST(86400 - 43200 AS BIGINT) AS units_after
  FROM e WHERE i = 1
  UNION ALL
  SELECT e.user_id, e.i, e.ts_s, e.event_id,
         least(86400, rec.units_after + (e.ts_s - rec.ts_s)) AS ub,
         least(86400, rec.units_after + (e.ts_s - rec.ts_s))
           - CASE WHEN least(86400, rec.units_after + (e.ts_s - rec.ts_s))
                       >= 43200 THEN 43200 ELSE 0 END
  FROM rec JOIN e ON e.user_id = rec.user_id AND e.i = rec.i + 1
)
SELECT event_id, user_id, ts_s,
       units_before, (units_before >= 43200) AS admitted
FROM rec
ORDER BY user_id, ts_s, event_id
"""


def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from two Count-Min sketches
    (operators/sketches.py::cms_join_size): |orders ⋈ lineitem on
    calendar day| estimated from two 3×512 grids vs the exact size —
    the statistics pass a cost-based planner runs before committing to
    a shuffle join. Grid-sized frames end-to-end except the two
    one-pass sketch builds.

    Round-10 overflow audit: size columns are decimal-accumulated and
    emitted as double — a join size at 10^12×10^12 rows (~10^24 pairs)
    exceeds int64 outright, and the old long accumulation wrapped
    silently in an ANSI-off driver session (see cms_join_size).
    """
    from .operators.sketches import cms_join_size, cms_sketch

    day_o = F.datediff(
        F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    day_l = F.datediff(
        F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    orders = _table(spark, sf_dir, "orders").select(day_o.alias("d"))
    li = _table(spark, sf_dir, "lineitem").select(day_l.alias("d"))
    # r17 optimization (guide §2.3 — aggregate before you shuffle, and
    # don't compute things twice): both the sketches and the exact side
    # need per-day counts, so ONE map-side-combined count per table is
    # computed, pinned, and shared. The sketches ride the weighted
    # cms_sketch form (cell-identical; see its docstring), so md5×depth
    # runs per DISTINCT day (~10^3) instead of per row, and each table
    # is scanned once instead of twice.
    co = reuse(orders.groupBy("d").agg(F.count("*").alias("ca")))
    cl = reuse(li.groupBy("d").agg(F.count("*").alias("cb")))
    ska = cms_sketch(co, "d", depth=3, width=512, weight_col="ca")
    skb = cms_sketch(cl, "d", depth=3, width=512, weight_col="cb")
    est = cms_join_size(ska, skb)
    ca = co
    cb = cl
    exact = (
        ca.join(cb, "d")
        .agg(
            F.sum(
                F.col("ca").cast("decimal(19,0)")
                * F.col("cb").cast("decimal(19,0)")
            )
            .cast("double")
            .alias("exact_size")
        )
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            F.col("j").cast("long").alias("j"),
            "row_est",
            "join_size_est",
            "exact_size",
            F.floor(
                F.lit(1000000)
                * (F.col("join_size_est") - F.col("exact_size"))
                / F.col("exact_size")
            )
            .cast("long")
            .alias("over_ppm"),
        )
        .orderBy("j")
    )


SQL_CMS_JOIN_SIZE = """
WITH js AS (
  SELECT unnest(generate_series(0, 2)) AS j
), oa AS (
  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
  FROM orders
), lb AS (
  SELECT CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
  FROM lineitem
), ga AS (
  SELECT j,
         ('0x' || substring(md5('cms' || CAST(j AS VARCHAR) || '|'
             || CAST(d AS VARCHAR)), 1, 8))::BIGINT % 512 AS bucket,
         count(*) AS na
  FROM oa, js GROUP BY 1, 2
), gb AS (
  SELECT j,
         ('0x' || substring(md5('cms' || CAST(j AS VARCHAR) || '|'
             || CAST(d AS VARCHAR)), 1, 8))::BIGINT % 512 AS bucket,
         count(*) AS nb
  FROM lb, js GROUP BY 1, 2
), per_row AS (
  SELECT j, CAST(sum(na * nb) AS DOUBLE) AS row_est
  FROM ga JOIN gb USING (j, bucket) GROUP BY 1
), est AS (
  SELECT j, row_est, min(row_est) OVER () AS join_size_est FROM per_row
), ex AS (
  SELECT CAST(sum(ca * cb) AS DOUBLE) AS exact_size FROM
    (SELECT d, count(*) ca FROM oa GROUP BY 1) a
    JOIN (SELECT d, count(*) cb FROM lb GROUP BY 1) b USING (d)
)
SELECT j, row_est, join_size_est, exact_size,
       CAST(floor(1000000 * (join_size_est - exact_size)
                  / exact_size) AS BIGINT) AS over_ppm
FROM est, ex ORDER BY j
"""


def q_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS drift detection
    (operators/analytics.py::trend_fit): integer-moment least squares
    of event value (milli-units) against elapsed hours — slope,
    intercept, r², all sealed by exact int64 sums with only final
    int/int divisions in float. One key-partitioned window + one
    aggregate on the same key.
    """
    from .operators.analytics import trend_fit

    ev = _table(spark, sf_dir, "events").select("user_id", "ts", "value")
    return trend_fit(ev).orderBy("user_id")


SQL_TREND_FIT = """
WITH base AS (
  -- r13 non-finite discipline: NaN/±Inf values are masked to NULL y
  -- (excluded from the moments, like a NULL value) and flagged; the
  -- key's OLS outputs are poisoned to NaN — the native float answer
  SELECT user_id AS k, (epoch_us(date_trunc('second', ts)) // 1000000) AS ts_s,
         CASE WHEN isnan(value) OR isinf(value) THEN NULL
              ELSE CAST(floor(value * 1000) AS BIGINT) END AS y,
         coalesce(isnan(value) OR isinf(value), FALSE) AS nf
  FROM events
), xy AS (
  SELECT k,
         CAST(floor((ts_s - min(ts_s) OVER (PARTITION BY k)) / 3600)
              AS BIGINT) AS x,
         y, nf
  FROM base
), m AS (
  -- HUGEINT products (r13 ts-domain axis): a multi-century x span
  -- (bad-clock epochs) overflows int64 in x*y where the Spark side's
  -- decimal(38) absorbs it — widen so both engines answer; the final
  -- int/int double divisions are value-identical
  SELECT k, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         bool_or(nf) AS nf
  FROM xy GROUP BY 1
)
SELECT k AS user_id, CAST(n AS BIGINT) AS n_events,
       CASE WHEN nf THEN 'NaN'::DOUBLE
            WHEN n * sxx - sx * sx <> 0 THEN
         CAST(round(CAST((n * sxy - sx * sy) / (n * sxx - sx * sx)
              AS DECIMAL(18,12)), 6) AS DOUBLE) END AS slope_milli_per_hr,
       CASE WHEN nf THEN 'NaN'::DOUBLE
            WHEN n * sxx - sx * sx <> 0 THEN
         CAST(round(CAST((sy * sxx - sx * sxy) / (n * sxx - sx * sx)
              AS DECIMAL(18,12)), 6) AS DOUBLE) END AS intercept_milli,
       CASE WHEN nf THEN 'NaN'::DOUBLE
            WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0 THEN
         CAST(round(CAST(
           ((n * sxy - sx * sy) / (n * sxx - sx * sx))
           * ((n * sxy - sx * sy) / (n * syy - sy * sy))
              AS DECIMAL(18,12)), 6) AS DOUBLE) END AS r2
FROM m ORDER BY user_id
"""


_BM25_TERMS = ["hash", "join", "filter"]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring (operators/indexing.py::bm25_scores) of
    the whole corpus against a 3-term query, top 50 by (score desc,
    doc_id). Per-term scores cast to DECIMAL(18,9) before the Σ_t so
    the sum is order-free; the single ln(rational) is the one
    transcendental (verified engine-identical on this corpus at both
    gate scales).
    """
    from .operators.indexing import bm25_scores

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = bm25_scores(docs, _BM25_TERMS)
    return (
        scored.select(
            F.col("doc").alias("doc_id"),
            "n_terms_matched",
            F.round(F.col("score_dec"), 6).cast("double").alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(50)
    )


SQL_BM25_TOPK = r"""
WITH tok AS (
  SELECT doc_id AS doc, t.term
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents),
       LATERAL (SELECT unnest(toks) AS term) t
  WHERE t.term <> ''
), dl AS (
  SELECT doc, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1
), totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS sum_dl
  FROM dl
), tf AS (
  SELECT doc, term, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE term IN ('hash', 'join', 'filter') GROUP BY 1, 2
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc,
         CAST(ln((totals.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl * totals.n_docs)
                                       / totals.sum_dl))
              AS DECIMAL(18,9)) AS term_score
  FROM tf JOIN df USING (term) JOIN dl USING (doc), totals
), agg AS (
  SELECT doc AS doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
         CAST(round(sum(term_score), 6) AS DOUBLE) AS score
  FROM scored GROUP BY 1
)
SELECT doc_id, n_terms_matched, score
FROM agg ORDER BY score DESC, doc_id LIMIT 50
"""


def q_pagerank_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-ppm PageRank (operators/graph.py::pagerank_ppm) over the
    corpus token-bigram graph: nodes = tokens, edge weight = bigram
    count, 3 iterations, damping 0.85 — every transfer an integer DIV,
    so the fixed-point loop replays exactly in three unrolled CTEs.
    """
    from .operators.graph import pagerank_ppm
    from .operators.text import tokens_of
    from .qcommon import let

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    # r17 optimization (guide §2.4 — remove the shuffle outright): the
    # old shape built bigrams by SELF-JOINING the exploded (doc, pos,
    # term) frame on (doc, pos+1) — one full hash exchange of every
    # token row (and a second evaluation of the tokenize subtree saved
    # only by ReusedExchange). Adjacent-position pairs are a per-row
    # ARRAY expression: zip tokens with their tail, keep pairs whose
    # endpoints are both non-empty — bit-identical to the positional
    # join (an empty token still breaks adjacency, exactly as the
    # pos+1 condition and the oracle's tok CTE have it), with ZERO
    # exchanges before the (src, dst) count aggregate.
    def _bigrams(toks):
        idx = F.sequence(F.lit(1), F.size(toks) - 1)
        pairs = F.transform(
            idx,
            lambda i: F.struct(
                F.element_at(toks, i).alias("src"),
                F.element_at(toks, i + 1).alias("dst"),
            ),
        )
        return F.when(
            F.size(toks) >= 2,
            F.filter(
                pairs, lambda p: (p["src"] != "") & (p["dst"] != "")
            ),
        ).otherwise(F.array().cast("array<struct<src:string,dst:string>>"))

    edges = (
        docs.select(
            F.explode(let(tokens_of("text"), _bigrams)).alias("bg")
        )
        .groupBy(
            F.col("bg.src").alias("src"), F.col("bg.dst").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )
    return (
        pagerank_ppm(edges, iterations=3)
        .select(F.col("node").alias("term"), "rank_ppm")
        .orderBy(F.desc("rank_ppm"), "term")
    )


SQL_PAGERANK_TOKENS = r"""
WITH tok0 AS (
  SELECT doc_id AS doc, unnest(toks) AS term,
         generate_subscripts(toks, 1) AS pos
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents)
), tok AS (SELECT * FROM tok0 WHERE term <> ''),
edges AS (
  SELECT a.term AS s, b.term AS d, CAST(count(*) AS BIGINT) AS w
  FROM tok a JOIN tok b ON a.doc = b.doc AND b.pos = a.pos + 1
  GROUP BY 1, 2
), ew AS (
  SELECT e.s, e.d, e.w, o.wout
  FROM edges e JOIN (SELECT s, sum(w) AS wout FROM edges GROUP BY 1) o
    USING (s)
), nodes AS (
  SELECT DISTINCT node FROM
    (SELECT s AS node FROM edges UNION ALL SELECT d FROM edges)
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM nodes
), r0 AS (
  SELECT node, 1000000 // (SELECT n FROM nn) AS rank_ppm FROM nodes
), i1 AS (
  SELECT n2.node,
         (150000 // (SELECT n FROM nn))
         + (850000 * coalesce(c.in_sum, 0)) // 1000000 AS rank_ppm
  FROM nodes n2
  LEFT JOIN (
    SELECT ew.d AS node, sum((r.rank_ppm * ew.w) // ew.wout) AS in_sum
    FROM ew JOIN r0 r ON r.node = ew.s GROUP BY 1
  ) c ON c.node = n2.node
), i2 AS (
  SELECT n2.node,
         (150000 // (SELECT n FROM nn))
         + (850000 * coalesce(c.in_sum, 0)) // 1000000 AS rank_ppm
  FROM nodes n2
  LEFT JOIN (
    SELECT ew.d AS node, sum((r.rank_ppm * ew.w) // ew.wout) AS in_sum
    FROM ew JOIN i1 r ON r.node = ew.s GROUP BY 1
  ) c ON c.node = n2.node
), i3 AS (
  SELECT n2.node,
         (150000 // (SELECT n FROM nn))
         + (850000 * coalesce(c.in_sum, 0)) // 1000000 AS rank_ppm
  FROM nodes n2
  LEFT JOIN (
    SELECT ew.d AS node, sum((r.rank_ppm * ew.w) // ew.wout) AS in_sum
    FROM ew JOIN i2 r ON r.node = ew.s GROUP BY 1
  ) c ON c.node = n2.node
)
SELECT node AS term, CAST(rank_ppm AS BIGINT) AS rank_ppm
FROM i3 ORDER BY rank_ppm DESC, term
"""


def q_fuzzy_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance linkage
    (operators/linkage.py::blocked_edit_join): document pairs in the
    same (lang, n_chars DIV 32) block whose 64-char heads are within
    8 edits — character-level near-dup detection, pair work bounded by
    the block sizes instead of the corpus square.
    """
    from .operators.linkage import blocked_edit_join

    docs = _fanout(
        _table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "n_chars"
        )
    )
    return blocked_edit_join(
        docs,
        "doc_id",
        "text",
        [F.col("lang"), F.expr("n_chars DIV 32")],
        max_dist=8,
    ).orderBy("id_a", "id_b")


SQL_FUZZY_BLOCKED_JOIN = """
WITH d AS (
  SELECT doc_id, lang, n_chars // 32 AS lb,
         substring(text, 1, 64) AS head
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.head, b.head) AS INT) AS edit_dist
FROM d a JOIN d b
  ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
WHERE levenshtein(a.head, b.head) <= 8
ORDER BY id_a, id_b
"""


def q_robust_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order-statistic winsorize + min-max scaling per event_type
    (operators/analytics.py::robust_scale_by_counts): percentile_disc
    semantics (value at rank ceil(p·n/100)) make both engines pick the
    same element; output is clamped ppm in [0, 1e6]. Migrated r12
    (straggler audit): the winsorize bounds come from the value-count
    histogram (percentile_disc_by_counts) and the fact side is a
    map-only broadcast join — no per-key row-sort window anywhere;
    robust_scale stays as the test-pinned parity face.
    """
    from .operators.analytics import robust_scale_by_counts

    ev = _table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return robust_scale_by_counts(ev).orderBy("event_type", "event_id")


SQL_ROBUST_SCALING = """
WITH base AS (
  SELECT event_type AS k, value AS v, event_id AS id FROM events
), ranked AS (
  -- NULL values excluded from the rank frame (r13: the SQL percentile
  -- convention; NULL window ordering is engine-dependent); NULL-value
  -- rows rejoin below with NULL scaled_ppm
  SELECT k, v, id,
         row_number() OVER (PARTITION BY k ORDER BY v, id) AS rn,
         count(*) OVER (PARTITION BY k) AS n
  FROM base WHERE v IS NOT NULL
), pcts AS (
  SELECT k,
         min(CASE WHEN rn = (n * 5 + 99) // 100 THEN v END) AS p_lo,
         min(CASE WHEN rn = (n * 95 + 99) // 100 THEN v END) AS p_hi
  FROM ranked GROUP BY 1
)
SELECT b.id AS event_id, b.k AS event_type, b.v AS value,
       p.p_lo, p.p_hi,
       -- v IS NOT NULL: greatest/least ignore NULLs in both engines,
       -- so a NULL value would otherwise clamp to p_lo -> 0 ppm;
       -- isnan guards: non-finite in, NULL ppm out (NaN ranks last in
       -- both engines and can legitimately be a selected bound)
       CASE WHEN b.v IS NOT NULL
             AND NOT (isnan(b.v) OR isinf(b.v)) AND NOT (isnan(p.p_lo) OR isinf(p.p_lo))
             AND NOT (isnan(p.p_hi) OR isinf(p.p_hi))
             AND p.p_hi > p.p_lo THEN
         CAST(floor(1000000 * (least(greatest(b.v, p.p_lo), p.p_hi) - p.p_lo)
                    / (p.p_hi - p.p_lo)) AS BIGINT) END AS scaled_ppm
FROM base b JOIN pcts p USING (k)
ORDER BY event_type, event_id
"""


def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square + Cramér's V between documents.lang and
    documents.source (operators/profiling.py::chi2_independence):
    integer identity (o·n − r·c)²/(n·r·c) per cell, decimal-summed;
    absent cells folded in via the closed form n − Σ_present r·c/n.
    """
    from .operators.profiling import chi2_independence

    docs = _table(spark, sf_dir, "documents").select("lang", "source")
    return chi2_independence(docs, "lang", "source")


SQL_CHI2_INDEPENDENCE = """
WITH cells AS (
  SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2
), ra AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
cb AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
tot AS (
  SELECT CAST(sum(o) AS BIGINT) AS n,
         CAST(count(DISTINCT a) AS BIGINT) AS nr,
         CAST(count(DISTINCT b) AS BIGINT) AS nc
  FROM cells
), pres AS (
  SELECT sum(CAST((CAST(cells.o AS DOUBLE)
                   - CAST(ra.r AS DOUBLE) * CAST(cb.c AS DOUBLE)
                     / CAST(tot.n AS DOUBLE))
                  * (CAST(cells.o AS DOUBLE)
                     - CAST(ra.r AS DOUBLE) * CAST(cb.c AS DOUBLE)
                       / CAST(tot.n AS DOUBLE))
                  / (CAST(ra.r AS DOUBLE) * CAST(cb.c AS DOUBLE)
                     / CAST(tot.n AS DOUBLE)) AS DECIMAL(28,12)))
           AS chi2_present,
         sum(CAST(CAST(ra.r AS DOUBLE) * CAST(cb.c AS DOUBLE)
                  / CAST(tot.n AS DOUBLE) AS DECIMAL(28,12))) AS e_present,
         first(tot.n) AS n, first(tot.nr) AS nr, first(tot.nc) AS nc
  FROM cells JOIN ra USING (a) JOIN cb USING (b), tot
)
SELECT CAST(n AS BIGINT) AS n_rows, CAST(nr AS BIGINT) AS n_rowcats,
       CAST(nc AS BIGINT) AS n_colcats,
       CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
       floor((CAST(chi2_present AS DOUBLE)
            + (CAST(n AS DOUBLE) - CAST(e_present AS DOUBLE)))
            * 1e6 + 0.5) / 1e6 AS chi2,
       CAST(round(CAST(sqrt((CAST(chi2_present AS DOUBLE)
            + (CAST(n AS DOUBLE) - CAST(e_present AS DOUBLE)))
            / (n * least(nr - 1, nc - 1)))
            AS DECIMAL(18,12)), 6) AS DOUBLE) AS cramers_v
FROM pres
"""


def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bucket equi-depth histogram of l_extendedprice
    (operators/profiling.py::equidepth_histogram): boundaries from the
    cumulative DISTINCT-VALUE histogram — integer bucket selection
    ((cum−1)·8 DIV n), the CBO stat next to zone_maps.
    """
    from .operators.profiling import equidepth_histogram

    li = _table(spark, sf_dir, "lineitem").select("l_extendedprice")
    return equidepth_histogram(li, "l_extendedprice", 8).orderBy("bucket")


SQL_EQUIDEPTH_HISTOGRAM = """
WITH h AS (
  SELECT l_extendedprice AS v, count(*) AS cnt FROM lineitem GROUP BY 1
), c AS (
  SELECT v, cnt,
         sum(cnt) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         (SELECT CAST(sum(cnt) AS BIGINT) FROM h) AS n
  FROM h
)
SELECT CAST(((cum - 1) * 8) // n AS BIGINT) AS bucket,
       min(v) AS lo, max(v) AS hi,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct
FROM c GROUP BY 1 ORDER BY 1
"""


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of value per event_type
    (operators/analytics.py::trimmed_mean_by_counts): exact rank cuts,
    decimal accumulation for the order-free mean. Migrated r12
    (straggler audit): the rank cut is computed from the value-count
    histogram — the kept VALUE MULTISET is id-independent, so the
    result is bit-identical to the window form (which stays as the
    test-pinned parity face) with O(distinct values) per-key work.
    """
    from .operators.analytics import trimmed_mean_by_counts

    ev = _table(spark, sf_dir, "events").select("event_type", "value")
    return trimmed_mean_by_counts(ev).orderBy("event_type")


SQL_TRIMMED_MEAN = """
WITH base AS (
  -- NULL values excluded before ranking (r13: n counts non-null only;
  -- NULL window ordering is engine-dependent and let NULLs eat the
  -- bottom trim allowance)
  SELECT event_type AS k, value AS v, event_id AS id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
  WHERE value IS NOT NULL
), kept AS (
  SELECT * FROM base
  WHERE rn > (n * 10) // 100 AND rn <= n - (n * 10) // 100
)
SELECT k AS event_type, CAST(first(n) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_kept,
       min(v) AS min_kept, max(v) AS max_kept,
       -- a NaN surviving the top cut poisons the mean like native avg
       CASE WHEN bool_or(isnan(v) OR isinf(v)) THEN 'NaN'::DOUBLE ELSE
       CAST(round(CAST(CAST(sum(CAST(CASE WHEN isnan(v) OR isinf(v) THEN NULL ELSE v END
                                  AS DECIMAL(18,6))) AS DOUBLE)
            / count(*) AS DECIMAL(18,12)), 6) AS DOUBLE) END AS trimmed_mean
FROM kept GROUP BY 1 ORDER BY 1
"""


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (operators/quality.py::k_anonymity_audit) of
    customer quasi-identifiers (nationkey, mktsegment) at k=10, sliced
    per nation — the release-gate privacy census beside pii_redact.
    """
    from .operators.quality import k_anonymity_audit

    cust = _table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment"
    )
    return k_anonymity_audit(
        cust, ["c_nationkey", "c_mktsegment"], k=10, by_col="c_nationkey"
    ).orderBy("c_nationkey")


SQL_K_ANONYMITY = """
WITH classes AS (
  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS cls_n
  FROM customer GROUP BY 1, 2
)
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(CASE WHEN cls_n < 10 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       CAST(min(cls_n) AS BIGINT) AS min_class,
       CAST(sum(cls_n) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN cls_n < 10 THEN cls_n ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       CAST((sum(CASE WHEN cls_n < 10 THEN cls_n ELSE 0 END) * 1000000)
            // sum(cls_n) AS BIGINT) AS risk_ppm
FROM classes GROUP BY 1 ORDER BY 1
"""


def q_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean retrieval (operators/indexing.py::boolean_search): docs
    containing 'hash' AND 'join' but NOT 'slow', with per-term tf —
    one pruned explode + one doc-keyed aggregate.
    """
    from .operators.indexing import boolean_search

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        boolean_search(docs, ["hash", "join"], ["slow"])
        .select(
            F.col("doc").alias("doc_id"),
            F.col("tf_0").alias("tf_hash"),
            F.col("tf_1").alias("tf_join"),
        )
        .orderBy("doc_id")
    )


SQL_BOOLEAN_SEARCH = r"""
WITH tok AS (
  SELECT doc_id AS doc, t.term
  FROM (SELECT doc_id,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents),
       LATERAL (SELECT unnest(toks) AS term) t
  WHERE t.term IN ('hash', 'join', 'slow')
), flags AS (
  SELECT doc,
         CAST(sum(CASE WHEN term = 'hash' THEN 1 ELSE 0 END) AS BIGINT)
           AS tf_hash,
         CAST(sum(CASE WHEN term = 'join' THEN 1 ELSE 0 END) AS BIGINT)
           AS tf_join,
         CAST(sum(CASE WHEN term = 'slow' THEN 1 ELSE 0 END) AS BIGINT)
           AS tf_slow
  FROM tok GROUP BY 1
)
SELECT doc AS doc_id, tf_hash, tf_join
FROM flags WHERE tf_hash > 0 AND tf_join > 0 AND tf_slow = 0
ORDER BY doc_id
"""


def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality audit: measured precision/recall of the MinHash-
    LSH candidate generator (12 hashes, 4 bands) against EXACT shingle-
    Jaccard ≥ 4/5 ground truth from the prefix filter
    (fuzzy_dedup.py::prefix_filter_join with shingles_of — exact, no
    false negatives), plus the banding-theory expected recall
    E[1−(1−J³)⁴] evaluated polynomially (no pow), decimal-accumulated.
    The audit a pipeline runs before trusting probabilistic dedup at
    100 TB: both sides are the documented scale plans, never all-pairs.
    """
    from .operators.fuzzy_dedup import (
        minhash_lsh_pairs,
        prefix_filter_join,
        shingles_of,
    )
    from .qcommon import reuse

    docs = _fanout(_table(spark, sf_dir, "documents").select("doc_id", "text"))
    # ONE shingle pass for both sides (r18, guide §1.2 — don't compute
    # things twice): the exact side (prefix filter over shingle sets)
    # and the MinHash side each shingled the whole corpus independently;
    # this pin — byte-identical to the frame prefix_filter_join built
    # internally (shingles_of is array_distinct and a 3-gram can never
    # be '', so the ''-filter is a no-op and the sz>0 filter drops
    # exactly the docs whose empty arrays explode to nothing on the
    # MinHash side) — is now computed once and shared. At 100 TB this
    # removes one full corpus scan + shingle transform.
    sh = (
        reuse(
            docs.select(
                F.col("doc_id").alias("id"),
                F.array_distinct(
                    F.filter(shingles_of("text"), lambda x: x != "")
                ).alias("toks"),
            )
        )
        .withColumn("sz", F.size("toks"))
        .filter(F.col("sz") > 0)
    )
    exact = prefix_filter_join(
        docs, threshold_num=4, threshold_den=5,
        tokens_df=sh,
    ).select("id_a", "id_b", "n_inter", "n_union")
    lsh = minhash_lsh_pairs(
        sh, id_col="id", num_hashes=12, num_bands=4, tokens_col="toks"
    ).select("id_a", "id_b", F.lit(True).alias("in_lsh"))
    joined = exact.join(lsh, ["id_a", "id_b"], "full")
    j = F.col("n_inter") / F.col("n_union")
    y = F.lit(1.0) - j * j * j
    p_detect = F.lit(1.0) - y * y * y * y
    is_exact = F.col("n_inter").isNotNull()
    tp = (is_exact & F.col("in_lsh").isNotNull()).cast("long")
    return joined.agg(
        F.sum(is_exact.cast("long")).cast("long").alias("n_exact"),
        F.sum(F.col("in_lsh").isNotNull().cast("long"))
        .cast("long")
        .alias("n_lsh"),
        F.sum(tp).cast("long").alias("tp"),
        (F.sum(F.col("in_lsh").isNotNull().cast("long")) - F.sum(tp))
        .cast("long")
        .alias("fp"),
        (F.sum(is_exact.cast("long")) - F.sum(tp)).cast("long").alias("fn"),
        round6x(F.sum(tp) / F.sum(F.col("in_lsh").isNotNull().cast("long")))
        .alias("precision"),
        round6x(F.sum(tp) / F.sum(is_exact.cast("long"))).alias("recall"),
        round6x(
            F.sum(
                F.when(is_exact, p_detect.cast("decimal(18,12)"))
            ).cast("double")
            / F.sum(is_exact.cast("long"))
        ).alias("expected_recall"),
    )


# Oracle for lsh_recall_audit: the MinHash pair replay plus a
# brute-force all-pairs shingle join as the exact side — a hash match
# proves the Spark prefix-filter ground truth loses nothing.
SQL_LSH_RECALL_AUDIT = rf"""
WITH lshp AS (
{_minhash_sql()}
), toks2 AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
), sh2 AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
             generate_series(1, len(t) - 2),
             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
              ELSE [] END AS sh
  FROM toks2
), ex AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS INT) AS n_inter,
         CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
              AS INT) AS n_union
  FROM sh2 a JOIN sh2 b
    ON a.doc_id < b.doc_id
   AND least(len(a.sh), len(b.sh)) * 5 >= greatest(len(a.sh), len(b.sh)) * 4
  WHERE len(a.sh) > 0 AND len(b.sh) > 0
    AND len(list_intersect(a.sh, b.sh)) * 5
        >= (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 4
), lsh AS (
  SELECT doc_a AS id_a, doc_b AS id_b, TRUE AS in_lsh FROM lshp
), joined AS (
  SELECT coalesce(e.id_a, l.id_a) AS id_a,
         coalesce(e.id_b, l.id_b) AS id_b,
         e.n_inter, e.n_union, l.in_lsh
  FROM ex e FULL OUTER JOIN lsh l
    ON e.id_a = l.id_a AND e.id_b = l.id_b
)
SELECT CAST(sum(CASE WHEN n_inter IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact,
       CAST(sum(CASE WHEN in_lsh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lsh,
       CAST(sum(CASE WHEN n_inter IS NOT NULL AND in_lsh IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(sum(CASE WHEN in_lsh IS NOT NULL THEN 1 ELSE 0 END)
            - sum(CASE WHEN n_inter IS NOT NULL AND in_lsh IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(sum(CASE WHEN n_inter IS NOT NULL THEN 1 ELSE 0 END)
            - sum(CASE WHEN n_inter IS NOT NULL AND in_lsh IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CAST(round(CAST(
         sum(CASE WHEN n_inter IS NOT NULL AND in_lsh IS NOT NULL
                  THEN 1 ELSE 0 END)
         / sum(CASE WHEN in_lsh IS NOT NULL THEN 1 ELSE 0 END)
         AS DECIMAL(18,12)), 6) AS DOUBLE) AS precision,
       CAST(round(CAST(
         sum(CASE WHEN n_inter IS NOT NULL AND in_lsh IS NOT NULL
                  THEN 1 ELSE 0 END)
         / sum(CASE WHEN n_inter IS NOT NULL THEN 1 ELSE 0 END)
         AS DECIMAL(18,12)), 6) AS DOUBLE) AS recall,
       CAST(round(CAST(CAST(
         sum(CASE WHEN n_inter IS NOT NULL THEN CAST(
           1.0 - (1.0 - (n_inter / n_union) * (n_inter / n_union)
                        * (n_inter / n_union))
               * (1.0 - (n_inter / n_union) * (n_inter / n_union)
                        * (n_inter / n_union))
               * (1.0 - (n_inter / n_union) * (n_inter / n_union)
                        * (n_inter / n_union))
               * (1.0 - (n_inter / n_union) * (n_inter / n_union)
                        * (n_inter / n_union))
           AS DECIMAL(18,12)) END) AS DOUBLE)
         / sum(CASE WHEN n_inter IS NOT NULL THEN 1 ELSE 0 END)
         AS DECIMAL(18,12)), 6) AS DOUBLE) AS expected_recall
FROM joined
"""


def q_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance
    (operators/merge.py::incremental_join_agg): orders x lineitem
    join-aggregate view refreshed via the delta identity
    Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, with ~10% hash-split deltas on
    each side. The oracle recomputes the view from scratch — a hash
    match IS the IVM correctness proof.
    """
    from .operators.merge import incremental_join_agg
    from .operators.sampling import hash_bucket

    # Deliberately UNPINNED (r17 audit, same adjudication as
    # percentile_stats): the four delta-identity legs re-read the
    # column-pruned parquet scans, which beats materializing a
    # row-format checkpoint; and a repartition-by-key pin was measured
    # and rejected — localCheckpoint reports UnknownPartitioning in
    # Spark 4.1, so the joins cannot reuse its layout.
    orders = _table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    li = _table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    ).withColumnRenamed("l_orderkey", "o_orderkey")
    o_delta = hash_bucket("o_orderkey", "ivm") < F.lit(429496729)
    l_delta = (
        hash_bucket(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit("-"),
                F.col("l_extendedprice").cast("string"),
            ),
            "ivm",
        )
        < F.lit(429496729)
    )
    view = incremental_join_agg(
        orders.filter(~o_delta),
        orders.filter(o_delta),
        li.filter(~l_delta),
        li.filter(l_delta),
        "o_orderkey",
        "l_extendedprice",
    )
    return view.select(
        "o_orderkey",
        "n_pairs",
        (F.col("total") * 100).cast("long").alias("total_cents"),
    ).orderBy("o_orderkey")


SQL_INCREMENTAL_JOIN_VIEW = """
SELECT o.o_orderkey,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS total_cents
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY 1 ORDER BY 1
"""


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (operators/analytics.py::pareto_frontier_2d)
    of orders maximizing (o_totalprice, order day): the non-dominated
    set via the sort-filter algorithm — one domain-sized window, one
    join back, never the quadratic dominance self-join.
    """
    from .operators.analytics import pareto_frontier_2d

    orders = _table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("day"),
    )
    return (
        pareto_frontier_2d(orders, "price", "day", "o_orderkey")
        .select(
            F.col("id").alias("o_orderkey"),
            F.col("x").alias("price"),
            F.col("y").alias("day"),
        )
        .orderBy(F.desc("price"), "day", "o_orderkey")
    )


SQL_PARETO_FRONTIER = """
WITH base AS (
  SELECT o_orderkey AS id, o_totalprice AS x,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS y
  FROM orders
), gx AS (
  SELECT x, max(y) AS gy FROM base GROUP BY 1
), gx2 AS (
  SELECT x, gy,
         max(gy) OVER (ORDER BY x DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS my
  FROM gx
)
SELECT b.id AS o_orderkey, b.x AS price, b.y AS day
FROM base b JOIN gx2 g USING (x)
WHERE b.y = g.gy AND (g.my IS NULL OR b.y > g.my)
ORDER BY price DESC, day, o_orderkey
"""


def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit
    (operators/quality.py::fk_integrity_audit): lineitem.l_suppkey
    against the supplier dim RESTRICTED to s_suppkey < 90 (a simulated
    decommissioned-supplier window), so the orphan path is exercised:
    keys 90..99 surface as orphans with row counts and ppm.
    """
    from .operators.quality import fk_integrity_audit

    li = _table(spark, sf_dir, "lineitem").select("l_suppkey")
    supp = _table(spark, sf_dir, "supplier").filter(
        F.col("s_suppkey") < 90
    )
    return fk_integrity_audit(li, "l_suppkey", supp, "s_suppkey")


SQL_FK_INTEGRITY = """
WITH fkc AS (
  SELECT l_suppkey AS fk, CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1
), dim AS (
  SELECT DISTINCT s_suppkey AS fk FROM supplier WHERE s_suppkey < 90
), orphans AS (
  SELECT f.fk, f.n FROM fkc f
  WHERE f.fk IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM dim d WHERE d.fk = f.fk)
), t AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN fk IS NULL THEN n ELSE 0 END) AS BIGINT)
           AS n_null_fk,
         CAST(count(CASE WHEN fk IS NOT NULL THEN 1 END) AS BIGINT)
           AS n_fk_values
  FROM fkc
), o AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orphan_keys,
         CAST(coalesce(sum(n), 0) AS BIGINT) AS n_orphan_rows
  FROM orphans
)
SELECT n_rows, n_null_fk, n_fk_values, n_orphan_keys, n_orphan_rows,
       CAST((n_orphan_rows * 1000000) // n_rows AS BIGINT) AS orphan_ppm
FROM t, o
"""


def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship (operators/merge.py::golden_record)
    per user over events with two fields deterministically masked to
    null ('click' types; values < 50) so field-level recency genuinely
    differs per field: each field takes the LATEST non-null value,
    (ts, id)-total tie order, with per-field source timestamps.
    """
    from .operators.merge import golden_record

    ev = _table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        # epoch_s (r13 ts-domain axis, self-review follow-up): the old
        # floor(unix_timestamp) floored an ALREADY-truncated long, so a
        # pre-1970 fractional latest-event tick could flip the
        # (ts_s DESC, id DESC) pick-latest winner vs the oracle's
        # floor(epoch)
        epoch_s("ts").alias("ts_s"),
        F.expr("nullif(event_type, 'click')").alias("etype"),
        F.expr("CASE WHEN value < 50 THEN NULL ELSE value END").alias("val"),
    )
    return (
        golden_record(ev, "user_id", "ts_s", "event_id", ["etype", "val"])
        .orderBy("user_id")
    )


SQL_GOLDEN_RECORD = """
WITH e AS (
  SELECT user_id, event_id, (epoch_us(date_trunc('second', ts)) // 1000000) AS ts_s,
         nullif(event_type, 'click') AS etype,
         CASE WHEN value < 50 THEN NULL ELSE value END AS val
  FROM events
), t_e AS (
  SELECT user_id, etype, ts_s,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts_s DESC, event_id DESC) AS rn
  FROM e WHERE etype IS NOT NULL
), t_v AS (
  SELECT user_id, val, ts_s,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts_s DESC, event_id DESC) AS rn
  FROM e WHERE val IS NOT NULL
), nv AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_versions
  FROM e GROUP BY 1
)
SELECT nv.user_id,
       te.etype, te.ts_s AS etype_ts,
       tv.val, tv.ts_s AS val_ts,
       nv.n_versions
FROM nv
LEFT JOIN (SELECT * FROM t_e WHERE rn = 1) te USING (user_id)
LEFT JOIN (SELECT * FROM t_v WHERE rn = 1) tv USING (user_id)
ORDER BY nv.user_id
"""


def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-label purity — the clustering-quality eval next to
    kmeans_clusters: after the same two decimal-exact Lloyd iterations
    (k=8, vec_id<k init), each cluster's majority embedding label,
    majority share in integer ppm, and label entropy stand-in (Simpson
    collision ppm, integer-exact). Same assignment subtree the
    kmeans_clusters oracle replays (its a2 CTE) — the purity aggregate
    rides on top, labels joined from the same table.
    """
    from pyspark.sql import Window
    from .operators.clustering import _update_centroids, assign_clusters
    from .operators.similarity import finite_vectors

    # _fanout removed (r18, guide §2.4): the widening repartition cost
    # more than this query's downstream vector work at sf0.1 (A/B in
    # OPTIMIZATION_r18.md); on a wide cluster scan the guard never fired.
    emb = _table(spark, sf_dir, "embeddings")
    # non-finite vectors excluded (r13 NaN-mirror axis) — see
    # q_kmeans_clusters, whose oracle e CTE this query's oracle reuses;
    # labels still join from the unfiltered table (inner join keeps
    # only assigned = finite points, replaying the oracle's lab CTE)
    # reuse() pin (r17 optimization, guide §5): three sequential
    # actions ride this frame (init collect, update collect, the final
    # assignment execution) — without the pin each re-runs the
    # scan + _fanout repartition + finite filter. One materialization,
    # then every action reads executor-resident blocks.
    pts = reuse(
        finite_vectors(
            emb.select(
                F.col("vec_id").alias("id"),
                F.col("embedding").cast("array<double>").alias("v"),
            ),
            "v",
        )
    )
    k = 8
    init = pts.filter(F.col("id") < k).collect()
    centroids = {int(r["id"]): list(r["v"]) for r in init}
    u1 = _update_centroids(assign_clusters(pts, centroids)).collect()
    by_cid: dict[int, dict[int, float]] = {}
    for r in u1:
        by_cid.setdefault(int(r["cluster_id"]), {})[int(r["pos"])] = r["c"]
    centroids = {
        cid: [comps[p] for p in sorted(comps)]
        for cid, comps in sorted(by_cid.items())
    }
    assigned = assign_clusters(pts, centroids).select("id", "cluster_id")
    labeled = assigned.join(
        emb.select(F.col("vec_id").alias("id"), "label"), "id"
    )
    per_label = labeled.groupBy("cluster_id", "label").agg(
        F.count("*").alias("c")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("c"), F.asc("label")
    )
    ranked = per_label.withColumn("rn", F.row_number().over(w))
    # Numeric envelope (round-10 overflow audit, fix landed r11): a
    # label count on a 10^12-row cluster makes c*c ~10^24 — silent
    # int64 wrap under the certified ANSI-off posture — so the Simpson
    # sum accumulates in exact decimal(38,0) (the cms_join_size
    # pattern); the ppm outputs below stay exact LONGs because DIV on
    # decimals is an exact integral quotient.
    c_dec = F.col("c").cast("decimal(19,0)")
    stats = per_label.groupBy("cluster_id").agg(
        F.sum("c").cast("long").alias("n_points"),
        F.count("*").cast("long").alias("n_labels"),
        F.sum(c_dec * c_dec).alias("ss"),
    )
    top = ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("label").alias("majority_label"),
        F.col("c").cast("long").alias("n_majority"),
    )
    return (
        stats.join(top, "cluster_id")
        .select(
            "cluster_id",
            "n_points",
            "n_labels",
            "majority_label",
            "n_majority",
            F.expr(
                "(CAST(n_majority AS DECIMAL(19,0)) * 1000000) DIV n_points"
            )
            .cast("long")
            .alias("purity_ppm"),
            F.expr(
                "(ss * 1000000) DIV (CAST(n_points AS DECIMAL(19,0))"
                " * CAST(n_points AS DECIMAL(19,0)))"
            )
            .cast("long")
            .alias("simpson_ppm"),
        )
        .orderBy("cluster_id")
    )


# Oracle for cluster_purity: reuse SQL_KMEANS_CLUSTERS' replay up to
# its final-assignment CTE (a2) and aggregate label purity on top — one
# source of truth for the Lloyd-iteration replay.
SQL_CLUSTER_PURITY = (
    SQL_KMEANS_CLUSTERS.split(")\nSELECT cluster_id,")[0] + ")"
    + """
, lab AS (
  SELECT a2.cluster_id, emb.label
  FROM a2 JOIN embeddings emb ON emb.vec_id = a2.id
), pl AS (
  SELECT cluster_id, label, CAST(count(*) AS BIGINT) AS c
  FROM lab GROUP BY 1, 2
), ranked AS (
  SELECT cluster_id, label, c,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY c DESC, label ASC) AS rn
  FROM pl
), stats AS (
  SELECT cluster_id, CAST(sum(c) AS BIGINT) AS n_points,
         CAST(count(*) AS BIGINT) AS n_labels,
         CAST(sum(c * c) AS BIGINT) AS ss
  FROM pl GROUP BY 1
)
SELECT s.cluster_id, s.n_points, s.n_labels,
       r.label AS majority_label, r.c AS n_majority,
       CAST((r.c * 1000000) // s.n_points AS BIGINT) AS purity_ppm,
       CAST((s.ss * 1000000) // (s.n_points * s.n_points) AS BIGINT)
         AS simpson_ppm
FROM stats s JOIN ranked r ON r.cluster_id = s.cluster_id AND r.rn = 1
ORDER BY s.cluster_id
"""
)


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution
    (operators/analytics.py::last_touch_attribution): purchases
    credited to the user's most recent click/view within 7 days, 'none'
    otherwise — channel rollup with integer delay stats.
    """
    from .operators.analytics import last_touch_attribution

    ev = _table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    return last_touch_attribution(
        ev, ["click", "view"], "purchase"
    ).orderBy("channel")


SQL_ATTRIBUTION = """
WITH e AS (
  SELECT user_id AS k, event_id AS id, event_type AS etype,
         (epoch_us(date_trunc('second', ts)) // 1000000) AS ts_s
  FROM events
), carried AS (
  SELECT k, id, etype, ts_s,
         last_value(CASE WHEN etype IN ('click', 'view') THEN ts_s END
                    IGNORE NULLS) OVER w AS lt_ts,
         last_value(CASE WHEN etype IN ('click', 'view') THEN etype END
                    IGNORE NULLS) OVER w AS lt_type
  FROM e
  WINDOW w AS (PARTITION BY k ORDER BY ts_s, id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), conv AS (
  SELECT k,
         CASE WHEN lt_ts IS NOT NULL AND ts_s - lt_ts <= 604800
              THEN lt_type ELSE 'none' END AS channel,
         CASE WHEN lt_ts IS NOT NULL AND ts_s - lt_ts <= 604800
              THEN ts_s - lt_ts END AS delay_s
  FROM carried WHERE etype = 'purchase'
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(count(DISTINCT k) AS BIGINT) AS n_users,
       CAST(coalesce(sum(delay_s), 0) AS BIGINT) AS sum_delay_s,
       CAST(coalesce(sum(delay_s), 0) // count(*) AS BIGINT)
         AS avg_delay_s_floor
FROM conv GROUP BY 1 ORDER BY 1
"""


_Z2_PREDS = [
    (1, 100, 149, 10, 19),   # narrow on both columns
    (2, 0, 1999, 10, 19),    # suppkey-only predicate
    (3, 100, 149, 0, 99),    # partkey-only predicate
]


def q_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured case FOR z-order (completing zone_skipping's 1-D
    story): the same lineitem rows filed two ways — partkey-sorted
    ("linear", file = pk DIV 16) vs Morton-interleaved
    (operators/layout.py::zorder_key over (partkey, suppkey), file =
    z DIV 32768) — and, per 2-D range predicate, how many files each
    layout's per-file (pk, sk) min/max stats let the scanner skip.
    Linear prunes partkey predicates only (every file spans all
    suppkeys); z-order bounds BOTH columns per file, so suppkey-only
    predicates prune too. Stats frames are file-count-sized.
    """
    from .operators.layout import zorder_key

    li = _table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("long").alias("pk"),
        F.col("l_suppkey").cast("long").alias("sk"),
    )
    # Morton on RAW values wastes interleaving when column ranges
    # differ (suppkey's 7 bits would all land in the low positions and
    # never reach file granularity). Normalize each column to a common
    # 10-bit scale from its own data-derived range first — the
    # range-normalization production z-order implementations apply —
    # then interleave and cut equal-width files: every file then bounds
    # BOTH columns to ~1/11 of their ranges.
    bounds = li.agg(
        F.min("pk").alias("pk_lo"),
        F.max("pk").alias("pk_hi"),
        F.min("sk").alias("sk_lo"),
        F.max("sk").alias("sk_hi"),
    )
    norm = (
        li.crossJoin(F.broadcast(bounds))
        .withColumn(
            "pk_n", F.expr("((pk - pk_lo) * 1024) DIV (pk_hi - pk_lo + 1)")
        )
        .withColumn(
            "sk_n", F.expr("((sk - sk_lo) * 1024) DIV (sk_hi - sk_lo + 1)")
        )
    )
    keyed = norm.withColumn(
        "zk", zorder_key([F.col("pk_n"), F.col("sk_n")], bits=10)
    )
    dd = keyed.withColumn(
        "f_lin", F.expr("((pk - pk_lo) * 125) DIV (pk_hi - pk_lo + 1)")
    ).withColumn("f_z", F.expr("zk DIV 8192"))  # 2^20 key space / 128
    # reuse() pin (r17 optimization, guide §1.2/§5): THREE consumers
    # read this subtree (linear audit, z-order audit, rows_matched),
    # and each re-ran the lineitem scan + bounds aggregate + the
    # 20-bit Morton interleave per reference. Projected to the four
    # longs the consumers use, one materialization replaces three
    # scans and three bit-interleave passes; the bounds aggregate runs
    # once inside it. (~32 B/row — cheaper than 3× recompute at any
    # scale; the percentile_stats unpinned adjudication does not apply
    # because the consumers need the DERIVED zk/file columns, not raw
    # scan columns.)
    from .qcommon import reuse

    dd = reuse(dd.select("pk", "sk", "f_lin", "f_z"))
    preds = spark.createDataFrame(
        _Z2_PREDS, "pred_id int, plo long, phi long, slo long, shi long"
    )

    def audit(file_col: str, label: str) -> DataFrame:
        zm = dd.groupBy(F.col(file_col).alias("file_id")).agg(
            F.min("pk").alias("pk_min"),
            F.max("pk").alias("pk_max"),
            F.min("sk").alias("sk_min"),
            F.max("sk").alias("sk_max"),
            F.count("*").alias("n_rows"),
        )
        hit = ~(
            (F.col("pk_max") < F.col("plo"))
            | (F.col("pk_min") > F.col("phi"))
        ) & ~(
            (F.col("sk_max") < F.col("slo"))
            | (F.col("sk_min") > F.col("shi"))
        )
        return (
            zm.crossJoin(F.broadcast(preds))
            .groupBy("pred_id")
            .agg(
                F.count("*").cast("long").alias("files_total"),
                F.sum(hit.cast("long")).cast("long").alias("files_scanned"),
                F.sum(F.when(hit, F.col("n_rows")).otherwise(F.lit(0)))
                .cast("long")
                .alias("rows_scanned"),
            )
            .withColumn("layout", F.lit(label))
        )

    matched = (
        dd.join(
            F.broadcast(preds),
            (F.col("pk") >= F.col("plo"))
            & (F.col("pk") <= F.col("phi"))
            & (F.col("sk") >= F.col("slo"))
            & (F.col("sk") <= F.col("shi")),
        )
        .groupBy("pred_id")
        .agg(F.count("*").cast("long").alias("rows_matched"))
    )
    both = audit("f_lin", "linear").unionByName(audit("f_z", "zorder"))
    return (
        both.join(F.broadcast(matched), "pred_id", "left")
        .withColumn(
            "rows_matched", F.coalesce("rows_matched", F.lit(0).cast("long"))
        )
        .select(
            "layout",
            "pred_id",
            "files_total",
            "files_scanned",
            "rows_scanned",
            "rows_matched",
        )
        .orderBy("layout", "pred_id")
    )


def zorder_skipping_sql() -> str:
    """Oracle for zorder_skipping: the Morton key arithmetic is
    generated by the SAME _zorder_sql_expr the zorder_layout oracle
    uses, so Spark and oracle can never drift on bit layout."""
    from .driver_queries_ext import _zorder_sql_expr

    zexpr = _zorder_sql_expr("pk_n", "sk_n", 10)
    return f"""
WITH preds(pred_id, plo, phi, slo, shi) AS (
  VALUES (1, 100, 149, 10, 19), (2, 0, 1999, 10, 19),
         (3, 100, 149, 0, 99)
), dd AS (
  SELECT CAST(l_partkey AS BIGINT) AS pk,
         CAST(l_suppkey AS BIGINT) AS sk
  FROM lineitem
), b AS (
  SELECT min(pk) pk_lo, max(pk) pk_hi, min(sk) sk_lo, max(sk) sk_hi
  FROM dd
), nn AS (
  SELECT pk, sk,
         ((pk - b.pk_lo) * 1024) // (b.pk_hi - b.pk_lo + 1) AS pk_n,
         ((sk - b.sk_lo) * 1024) // (b.sk_hi - b.sk_lo + 1) AS sk_n,
         b.pk_lo, b.pk_hi
  FROM dd, b
), keyed AS (
  SELECT pk, sk,
         ((pk - pk_lo) * 125) // (pk_hi - pk_lo + 1) AS f_lin,
         ({zexpr}) // 8192 AS f_z
  FROM nn
), zml AS (
  SELECT f_lin AS file_id, min(pk) pk_min, max(pk) pk_max,
         min(sk) sk_min, max(sk) sk_max, count(*) n_rows
  FROM keyed GROUP BY 1
), zmz AS (
  SELECT f_z AS file_id, min(pk) pk_min, max(pk) pk_max,
         min(sk) sk_min, max(sk) sk_max, count(*) n_rows
  FROM keyed GROUP BY 1
), al AS (
  SELECT 'linear' AS layout, pred_id,
         CAST(count(*) AS BIGINT) AS files_total,
         CAST(sum(CASE WHEN NOT (pk_max < plo OR pk_min > phi)
                        AND NOT (sk_max < slo OR sk_min > shi)
                       THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
         CAST(sum(CASE WHEN NOT (pk_max < plo OR pk_min > phi)
                        AND NOT (sk_max < slo OR sk_min > shi)
                       THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
  FROM zml CROSS JOIN preds GROUP BY 1, 2
), az AS (
  SELECT 'zorder' AS layout, pred_id,
         CAST(count(*) AS BIGINT) AS files_total,
         CAST(sum(CASE WHEN NOT (pk_max < plo OR pk_min > phi)
                        AND NOT (sk_max < slo OR sk_min > shi)
                       THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
         CAST(sum(CASE WHEN NOT (pk_max < plo OR pk_min > phi)
                        AND NOT (sk_max < slo OR sk_min > shi)
                       THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
  FROM zmz CROSS JOIN preds GROUP BY 1, 2
), m AS (
  SELECT pred_id, CAST(count(*) AS BIGINT) AS rows_matched
  FROM dd JOIN preds
    ON pk >= plo AND pk <= phi AND sk >= slo AND sk <= shi
  GROUP BY 1
), u AS (
  SELECT * FROM al UNION ALL SELECT * FROM az
)
SELECT u.layout, u.pred_id, u.files_total, u.files_scanned,
       u.rows_scanned, coalesce(m.rows_matched, 0) AS rows_matched
FROM u LEFT JOIN m USING (pred_id)
ORDER BY u.layout, u.pred_id
"""


_KCENTER_K = 6


def q_kcenter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center exemplar selection
    (operators/clustering.py::kcenter_select): the k=6 farthest-point
    traversal over the embeddings — coverage-maximizing subset
    selection (diversity), the complement of semdedup_prune
    (redundancy). Output: selection order, chosen vec_id, and the
    coverage radius once that center is placed; k bounded driver
    actions, each a linear scan with chosen vectors as literals.
    """
    from .operators.clustering import kcenter_select

    emb = _fanout(_table(spark, sf_dir, "embeddings"))
    pts = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    rows = kcenter_select(pts, _KCENTER_K)
    from .qcommon import round6x as _r6

    out = spark.createDataFrame(
        rows, "sel_rank int, vec_id long, radius_after double"
    )
    return out.select(
        "sel_rank", "vec_id", _r6(F.col("radius_after")).alias("radius_after")
    ).orderBy("sel_rank")


def kcenter_sql(k: int) -> str:
    """Unrolled-CTE oracle for greedy k-center: selection step i is a
    row_number over (dmin DESC, id) with dmin = least of the 6dp-rounded
    list_distances to the i chosen centers (scalar subqueries)."""
    dist = (
        "CAST(round(CAST(list_distance(e.v, (SELECT v FROM s{j})) "
        "AS DECIMAL(18,12)), 6) AS DOUBLE)"
    )

    def dmin_expr(n: int) -> str:
        ds = [dist.format(j=j) for j in range(n)]
        return ds[0] if n == 1 else "least(" + ", ".join(ds) + ")"

    parts = [
        """
WITH e AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), s0 AS (
  SELECT id, v FROM e ORDER BY id LIMIT 1
)"""
    ]
    for i in range(1, k):
        parts.append(
            f""", f{i} AS (
  SELECT e.id, e.v, {dmin_expr(i)} AS dmin,
         row_number() OVER (ORDER BY {dmin_expr(i)} DESC, e.id) AS rn
  FROM e
), s{i} AS (SELECT id, v, dmin FROM f{i} WHERE rn = 1)"""
        )
    parts.append(
        f""", fin AS (
  SELECT max({dmin_expr(k)}) AS r FROM e
)"""
    )
    selects = ["SELECT 0 AS sel_rank, (SELECT id FROM s0) AS vec_id,"
               " (SELECT CAST(round(CAST(dmin AS DECIMAL(18,12)), 6)"
               " AS DOUBLE) FROM s1) AS radius_after"]
    for i in range(1, k - 1):
        selects.append(
            f"SELECT {i}, (SELECT id FROM s{i}),"
            f" (SELECT CAST(round(CAST(dmin AS DECIMAL(18,12)), 6)"
            f" AS DOUBLE) FROM s{i + 1})"
        )
    selects.append(
        f"SELECT {k - 1}, (SELECT id FROM s{k - 1}),"
        " (SELECT CAST(round(CAST(r AS DECIMAL(18,12)), 6) AS DOUBLE)"
        " FROM fin)"
    )
    return (
        "".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY sel_rank"
    )


CATALOG = [
    ("rate_limit", q_rate_limit, SQL_RATE_LIMIT),
    ("inverted_index", q_inverted_index, SQL_INVERTED_INDEX),
    ("zone_skipping", q_zone_skipping, SQL_ZONE_SKIPPING),
    ("weighted_sample", q_weighted_sample, SQL_WEIGHTED_SAMPLE),
    ("token_bucket", q_token_bucket, SQL_TOKEN_BUCKET),
    ("cms_join_size", q_cms_join_size, SQL_CMS_JOIN_SIZE),
    ("trend_fit", q_trend_fit, SQL_TREND_FIT),
    ("bm25_topk", q_bm25_topk, SQL_BM25_TOPK),
    ("pagerank_tokens", q_pagerank_tokens, SQL_PAGERANK_TOKENS),
    ("fuzzy_blocked_join", q_fuzzy_blocked_join, SQL_FUZZY_BLOCKED_JOIN),
    ("robust_scaling", q_robust_scaling, SQL_ROBUST_SCALING),
    ("chi2_independence", q_chi2_independence, SQL_CHI2_INDEPENDENCE),
    ("equidepth_histogram", q_equidepth_histogram, SQL_EQUIDEPTH_HISTOGRAM),
    ("trimmed_mean", q_trimmed_mean, SQL_TRIMMED_MEAN),
    ("k_anonymity", q_k_anonymity, SQL_K_ANONYMITY),
    ("boolean_search", q_boolean_search, SQL_BOOLEAN_SEARCH),
    ("lsh_recall_audit", q_lsh_recall_audit, SQL_LSH_RECALL_AUDIT),
    ("incremental_join_view", q_incremental_join_view, SQL_INCREMENTAL_JOIN_VIEW),
    ("pareto_frontier", q_pareto_frontier, SQL_PARETO_FRONTIER),
    ("fk_integrity", q_fk_integrity, SQL_FK_INTEGRITY),
    ("golden_record", q_golden_record, SQL_GOLDEN_RECORD),
    ("cluster_purity", q_cluster_purity, SQL_CLUSTER_PURITY),
    ("attribution", q_attribution, SQL_ATTRIBUTION),
    ("zorder_skipping", q_zorder_skipping, zorder_skipping_sql()),
    ("kcenter_select", q_kcenter_select, kcenter_sql(_KCENTER_K)),
]
