"""Business / growth analytics (round 8): retention, funnels, churn,
revenue decompositions.

Split from the round-8 catalog monolith (round 9); registration order
preserved — this module registers the same queries, in the same order,
as its original line range in catalog.py.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pramen_spark.metastore.schema_cache import parquet_schema
from pramen_spark.operators.rowlevel import (
    add_batch_id,
    add_info_date,
    apply_filters,
    sanitize_df_columns,
)
from pramen_spark.operators.tsutils import pin_utc, ts_instant
from pramen_spark.queries.base import (
    QUERIES,
    QuerySpec,
    load_documents_spread,
    load_events,
    load_table,
    query,
)
from pramen_spark.queries.core import (
    _lsh_topk_oracle,
)


@query(
    "churn_labels_events",
    """
    WITH pu AS (
        SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day
        FROM events GROUP BY 1
    ),
    h AS (SELECT MAX(last_day) AS mx FROM pu)
    SELECT user_id, last_day,
           CAST(mx - last_day AS BIGINT) AS days_inactive,
           (mx - last_day) > 7 AS churned
    FROM pu, h
    """,
    "supervised churn target: per user last active day, inactivity vs "
    "the dataset horizon, and the churned label (> 7 days)",
    tags=("analytics", "ml"),
)
def q_churn_labels_events(spark, sf_dir):
    """The churn-label generator (operators/sequences.py::
    churn_labels): per-user MAX day in one map-side-combined
    aggregation, a 1-row broadcast of the global horizon, and pure
    column arithmetic — no window, no self-join; only the one-row-per-
    user table shuffles. The label feeds the classifier pipeline the
    same way quality_classifier's labels feed curation."""
    from pramen_spark.operators.sequences import churn_labels

    return churn_labels(load_events(spark, sf_dir), inactive_days=7)


@query(
    "event_trigrams_events",
    """
    WITH o AS (
        SELECT user_id, event_type,
               LEAD(event_type, 1) OVER w AS s2,
               LEAD(event_type, 2) OVER w AS s3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type AS step_1, s2 AS step_2, s3 AS step_3,
           CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM o WHERE s3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n_paths DESC, step_1, step_2, step_3 LIMIT 20
    """,
    "top-20 consecutive event trigrams across user journeys (path "
    "mining before funnel definition)",
    tags=("analytics", "sequences"),
)
def q_event_trigrams_events(spark, sf_dir):
    """Path n-gram mining (operators/sequences.py::path_ngrams — the
    n>2 extension of the Markov transition matrix): ONE window pass
    partitioned by user (both LEADs share the frame; ordering is
    (ts, event_id) so timestamp ties cannot flip engines), then a
    map-side-combined count and a TakeOrdered top-20. Per-user
    ordering is the sessionize shape — a pathological hot user is the
    salted_agg case."""
    from pramen_spark.operators.sequences import path_ngrams

    return path_ngrams(load_events(spark, sf_dir), n=3, top_n=20)


@query(
    "ab_ttest_events",
    """
    WITH agg AS (
        SELECT
            CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_a,
            CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_b,
            AVG(CASE WHEN event_type = 'click' THEN value END) AS ma,
            AVG(CASE WHEN event_type = 'view' THEN value END) AS mb,
            VAR_SAMP(CASE WHEN event_type = 'click' THEN value END) AS va,
            VAR_SAMP(CASE WHEN event_type = 'view' THEN value END) AS vb
        FROM events WHERE event_type IN ('click', 'view')
    )
    SELECT n_a, n_b, ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
           ROUND((ma - mb) / sqrt(va / n_a + vb / n_b), 6) AS t_stat,
           ROUND((va / n_a + vb / n_b) * (va / n_a + vb / n_b)
                 / ((va / n_a) * (va / n_a) / (n_a - 1)
                    + (vb / n_b) * (vb / n_b) / (n_b - 1)), 6) AS dof
    FROM agg
    """,
    "Welch two-sample t-test of event value between the click and view "
    "arms (A/B readout with Welch-Satterthwaite dof)",
    tags=("analytics", "drift"),
)
def q_ab_ttest_events(spark, sf_dir):
    """The A/B experiment readout (operators/drift.py::welch_ttest —
    the parametric sibling of ks_binned): per-arm count/mean/variance
    as conditional aggregates in a SINGLE map-side-combined pass, then
    scalar Welch arithmetic on the one result row (squares written as
    products, not pow(), so both engines compute identical doubles).
    Nothing shuffles but the 1-row reduce at any scale."""
    from pramen_spark.operators.drift import welch_ttest

    return welch_ttest(
        load_events(spark, sf_dir), "event_type", "value", "click", "view"
    )


@query(
    "auc_documents",
    """
    WITH lab AS (
        SELECT n_chars AS s, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    h AS (
        SELECT s, CAST(SUM(y) AS BIGINT) AS np,
               CAST(COUNT(*) - SUM(y) AS BIGINT) AS nn
        FROM lab GROUP BY s
    ),
    w AS (
        SELECT np, nn,
               COALESCE(SUM(nn) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cum_nn
        FROM h
    ),
    t AS (
        SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
               CAST(SUM(nn) AS BIGINT) AS n_neg,
               CAST(SUM(np * (2 * cum_nn + nn)) AS BIGINT) AS u2
        FROM w
    )
    SELECT n_pos, n_neg,
           ROUND(CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6) AS auc
    FROM t
    """,
    "exact Mann-Whitney ROC AUC of document length predicting "
    "lang = 'en', computed sort-free over the score histogram",
    tags=("ml", "evaluation"),
)
def q_auc_documents(spark, sf_dir):
    """Exact AUC without a global sort (operators/evalmetrics.py::auc):
    rows reduce to the per-score histogram in one map-side-combined
    aggregation — the only stage that sees data volume — the running
    negative count windows over the score DOMAIN (quantize continuous
    scores to cap it, the streaming-AUC move), and 2U folds to exact
    BIGINTs (ties get half credit), so the only double op is the final
    division and the metric is bit-reproducible. The demo scores
    length against the English label; any (classifier score, label)
    pair plugs in."""
    from pramen_spark.operators.evalmetrics import auc

    d = load_table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("s"),
        (F.col("lang") == "en").alias("y"),
    )
    return auc(d, "s", "y")


@query(
    "gini_orders",
    """
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        FROM orders GROUP BY 1
    ),
    r AS (
        SELECT CAST(x AS DECIMAL(18,2)) AS xd,
               ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i
        FROM spend
    ),
    t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(xd) AS tt,
               SUM(i * xd) AS ss
        FROM r
    )
    SELECT n, CAST(tt AS DOUBLE) AS total,
           ROUND((2.0 * CAST(ss AS DOUBLE) / CAST(tt AS DOUBLE) - (n + 1))
                 / n, 6) AS gini
    FROM t
    """,
    "Gini coefficient of customer spend concentration (rank-weighted "
    "exact-decimal identity)",
    tags=("analytics", "validation"),
)
def q_gini_orders(spark, sf_dir):
    """Inequality in one number (operators/evalmetrics.py::gini — the
    scalar summary behind key_skew_profile's head/body picture):
    G = 2*sum(i * x_(i)) / (n * sum x) - (n+1)/n over rank-ordered
    per-customer spend, DECIMAL sums so both the rank-weighted and the
    plain total are exact and the Gini is a fixed scalar expression.
    Ranks come from one window over the PER-ENTITY table (one row per
    customer — entity domain, not order volume); ties break on the
    customer key so the ordering is engine-stable."""
    from pramen_spark.operators.evalmetrics import gini

    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("spend")
        )
    )
    return gini(spend, "spend", "o_custkey")


@query(
    "temporal_split_events",
    """
    WITH h AS (SELECT MAX(CAST(ts AS DATE)) AS mx FROM events),
    s AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CASE WHEN CAST(ts AS DATE) >= mx - 9 THEN 'test'
                    WHEN CAST(ts AS DATE) >= mx - 11 THEN 'embargo'
                    ELSE 'train' END AS split
        FROM events, h
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           MIN(day) AS min_day, MAX(day) AS max_day
    FROM s GROUP BY split
    """,
    "temporal train/test split with a 2-day embargo gap before the "
    "10-day test window (leakage-safe time split summary)",
    tags=("sampling", "ml"),
)
def q_temporal_split_events(spark, sf_dir):
    """The time-axis leakage guard (operators/sampling.py::
    temporal_split, the temporal sibling of leakage_safe_split): the
    last 10 days are test, the 2 days before them are EMBARGOED out of
    training so trailing-window features and session spillover cannot
    cross the boundary. The horizon is a 1-row broadcast and the
    assignment a pure column expression — zero shuffle; the summary
    aggregation here is the audit a pipeline logs before training."""
    from pramen_spark.operators.sampling import temporal_split

    s = temporal_split(
        load_events(spark, sf_dir), "ts", test_days=10, embargo_days=2
    )
    return s.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.min(F.to_date("ts")).alias("min_day"),
        F.max(F.to_date("ts")).alias("max_day"),
    )


@query(
    "overdispersion_events",
    """
    WITH per AS (
        SELECT event_type AS grp, user_id, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    agg AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_entities, AVG(c) AS m,
               VAR_SAMP(CAST(c AS DOUBLE)) AS v
        FROM per GROUP BY 1
    )
    SELECT grp, n_entities, ROUND(m, 6) AS mean_count,
           ROUND(v, 6) AS var_count, ROUND(v / m, 6) AS dispersion,
           v / m > 1.0 AS overdispersed
    FROM agg
    """,
    "overdispersion check: variance/mean of per-user event counts per "
    "type (Poisson ~ 1; above = bursty heavy users)",
    tags=("analytics", "monitoring"),
)
def q_overdispersion_events(spark, sf_dir):
    """The load-model companion to key_skew_profile (operators/
    anomaly.py::overdispersion): the dispersion index var/mean of
    per-entity counts — Poisson arrivals sit near 1, heavy/bursty
    users push it up (provision salting), quota'd behavior pulls it
    below. Two map-side-combined aggregations ((group, entity) counts,
    then per-group moments over the one-row-per-entity table); no
    window, no join."""
    from pramen_spark.operators.anomaly import overdispersion

    return overdispersion(load_events(spark, sf_dir), "event_type", "user_id")


@query(
    "weekday_seasonality_events",
    """
    WITH per AS (
        SELECT isodow(ts) - 1 AS dow, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(value) AS s
        FROM events GROUP BY 1
    ),
    g AS (SELECT SUM(s) / SUM(n) AS gm FROM per)
    SELECT CAST(dow AS BIGINT) AS dow, n, ROUND(s / n, 6) AS mean_value,
           ROUND((s / n) / gm, 6) AS seasonality_index
    FROM per, g
    """,
    "day-of-week seasonality profile of the event value (Monday = 0): "
    "mean per weekday and index vs the global mean",
    tags=("analytics", "timegrid"),
)
def q_weekday_seasonality_events(spark, sf_dir):
    """The weekly-cycle half of metric decomposition (operators/
    timegrid.py::weekday_seasonality; trend_slope_daily is the trend
    half): one 7-group map-side-combined aggregation, the global mean
    re-aggregated from the 7-row table and broadcast. Weekday is
    ISO-Monday-0 on both engines (Spark weekday(), DuckDB isodow - 1)
    so the profile is portable."""
    from pramen_spark.operators.timegrid import weekday_seasonality

    return weekday_seasonality(load_events(spark, sf_dir), "ts", "value")


@query(
    "calibration_bins_documents",
    """
    WITH mx AS (SELECT MAX(n_chars) AS mx FROM documents),
    s AS (
        SELECT CAST(n_chars AS DOUBLE) / mx AS p,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents, mx
    ),
    b AS (SELECT LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS bin, p, y FROM s)
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(p), 6) AS mean_p,
           ROUND(AVG(CAST(y AS DOUBLE)), 6) AS frac_pos,
           ROUND(ABS(AVG(p) - AVG(CAST(y AS DOUBLE))), 6) AS gap
    FROM b GROUP BY bin
    """,
    "reliability-diagram bins: normalized document length as a "
    "probability score vs the English label, per-decile mean score, "
    "positive fraction, and calibration gap",
    tags=("ml", "evaluation"),
)
def q_calibration_bins_documents(spark, sf_dir):
    """The calibration curve table (operators/evalmetrics.py::
    calibration_bins — ECE is sum over rows of (n/N)*gap): ONE
    map-side-combined aggregation keyed by the fixed-width probability
    bin (<= 10 groups), exact counts, means over already-aggregated
    sums; the score-normalizing max is a 1-row broadcast. Any
    (probability, label) pair plugs in — here the normalized length
    scores the English label so the oracle replays everything
    exactly."""
    from pramen_spark.operators.evalmetrics import calibration_bins

    d = load_table(spark, sf_dir, "documents")
    mx = d.agg(F.max("n_chars").alias("_mx"))
    scored = d.crossJoin(F.broadcast(mx)).select(
        (F.col("n_chars").cast("double") / F.col("_mx")).alias("p"),
        (F.col("lang") == "en").alias("y"),
    )
    return calibration_bins(scored, "p", "y", n_bins=10)


@query(
    "ndcg_lsh_audit",
    f"""
    WITH lsh_full AS ({_lsh_topk_oracle()}),
    brute AS (
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 4
        ),
        scored AS (
            SELECT q.query_id, e.vec_id,
                   list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                     / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                                CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_inner_product(q.qv, q.qv))) AS cosine
            FROM embeddings e, q
        )
        SELECT query_id, vec_id, cosine, rank
        FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id) AS rank
            FROM scored
        ) WHERE rank <= 10
    ),
    sysg AS (
        SELECT l.query_id,
               COALESCE(b.cosine, 0.0) / log2(l.rank + 1.0) AS g
        FROM lsh_full l LEFT JOIN brute b
          ON l.query_id = b.query_id AND l.vec_id = b.vec_id
    ),
    dcg AS (SELECT query_id, SUM(g) AS dcg_raw FROM sysg GROUP BY 1),
    idcg AS (SELECT query_id, SUM(cosine / log2(rank + 1.0)) AS idcg_raw
             FROM brute GROUP BY 1)
    SELECT d.query_id, ROUND(dcg_raw, 6) AS dcg, ROUND(idcg_raw, 6) AS idcg,
           ROUND(dcg_raw / idcg_raw, 6) AS ndcg
    FROM dcg d JOIN idcg USING (query_id)
    """,
    "NDCG@10 of the LSH ranking against brute-force cosine order (the "
    "graded-relevance ANN quality gate beside recall@10)",
    tags=("similarity", "evaluation"),
)
def q_ndcg_lsh_audit(spark, sf_dir):
    """Graded ranking quality (operators/evalmetrics.py::ndcg_at_k):
    recall@10 counts hits, NDCG also charges the index for putting the
    best neighbors low — gains are the TRUE cosines (from the
    brute-force ideal; items outside the ideal top-10 gain 0),
    discounted by log2(rank+1). Both inputs are 10 rows per query, the
    gain join is co-keyed, the discounted sums aggregate per query —
    the audit is KB-scale regardless of corpus size, and the oracle
    replays index and ideal exactly via the deterministic planes."""
    from pramen_spark.operators.evalmetrics import ndcg_at_k
    from pramen_spark.operators.similarity import cosine_topk, lsh_topk

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    lsh = lsh_topk(e, q, k=10, num_planes=4, dim=64, multi_probe=2)
    brute = cosine_topk(e, q, k=10)
    return ndcg_at_k(lsh, brute, k=10)


@query(
    "wilson_ctr_events",
    """
    WITH agg AS (
        SELECT event_type AS grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT)
                 AS successes
        FROM events GROUP BY 1
    )
    SELECT grp, n, successes,
           ROUND(successes / CAST(n AS DOUBLE), 6) AS rate,
           ROUND((successes / CAST(n AS DOUBLE)
                  + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))
                  - 1.96 * sqrt((successes / CAST(n AS DOUBLE))
                                * (1.0 - successes / CAST(n AS DOUBLE))
                                / CAST(n AS DOUBLE)
                                + (1.96 * 1.96)
                                  / (4.0 * CAST(n AS DOUBLE)
                                     * CAST(n AS DOUBLE))))
                 / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 6) AS ci_lo,
           ROUND((successes / CAST(n AS DOUBLE)
                  + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))
                  + 1.96 * sqrt((successes / CAST(n AS DOUBLE))
                                * (1.0 - successes / CAST(n AS DOUBLE))
                                / CAST(n AS DOUBLE)
                                + (1.96 * 1.96)
                                  / (4.0 * CAST(n AS DOUBLE)
                                     * CAST(n AS DOUBLE))))
                 / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 6) AS ci_hi
    FROM agg
    """,
    "Wilson 95% score interval for the high-value rate (value > 100) "
    "per event type — the small-sample-safe conversion readout",
    tags=("analytics", "monitoring"),
)
def q_wilson_ctr_events(spark, sf_dir):
    """Proportion confidence intervals that behave at the extremes
    (operators/drift.py::proportion_ci): the Wilson score interval
    never exits [0,1] and stays honest at tiny n or rates near 0/1
    where the naive normal interval collapses. One map-side-combined
    aggregation; the interval is closed-form scalar arithmetic on
    (n, successes) — z^2 is written as 1.96*1.96 on both sides so the
    engines compute the identical double."""
    from pramen_spark.operators.drift import proportion_ci

    ev = load_events(spark, sf_dir).select(
        "event_type", (F.col("value") > 100).alias("success")
    )
    return proportion_ci(ev, "event_type", "success", z=1.96)


@query(
    "embedding_health_embeddings",
    """
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(dim) AS BIGINT) AS dim_min,
           CAST(MAX(dim) AS BIGINT) AS dim_max,
           CAST(SUM(CASE WHEN NOT nan AND nrm = 0.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_zero_norm,
           CAST(SUM(CASE WHEN nan THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
           ROUND(MIN(CASE WHEN NOT nan THEN nrm END), 6) AS norm_min,
           ROUND(AVG(CASE WHEN NOT nan THEN nrm END), 6) AS norm_mean,
           ROUND(MAX(CASE WHEN NOT nan THEN nrm END), 6) AS norm_max
    FROM (
        SELECT label, len(embedding) AS dim,
               len(list_filter(embedding, x -> isnan(x))) > 0 AS nan,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings
    )
    GROUP BY label
    """,
    "embedding table pre-flight: per label, dimension consistency, "
    "zero-norm and NaN vectors, and norm statistics",
    tags=("similarity", "validation"),
)
def q_embedding_health_embeddings(spark, sf_dir):
    """The health gate before any similarity stage (operators/
    similarity.py::embedding_health_audit): a handful of NaN vectors
    silently poisons every downstream cosine and centroid, and a
    dimension drift breaks zip_with at row N million — catch both in
    ONE map-side-combined aggregation with sequential-fold norms the
    oracle reproduces bit-for-bit. No window, no join."""
    from pramen_spark.operators.similarity import embedding_health_audit

    return embedding_health_audit(load_table(spark, sf_dir, "embeddings"))


@query(
    "zipf_slope_documents",
    r"""
    WITH tok AS (
        SELECT unnest(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'),
            x -> x <> '')) AS token
        FROM documents
    ),
    freq AS (
        SELECT token, COUNT(*) AS c FROM tok GROUP BY 1
        ORDER BY c DESC, token LIMIT 500
    ),
    xy AS (
        SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, token)
                       AS DOUBLE)) AS x,
               ln(CAST(c AS DOUBLE)) AS y
        FROM freq
    ),
    t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens_fit,
               SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM xy
    )
    SELECT n_tokens_fit,
           ROUND((n_tokens_fit * sxy - sx * sy)
                 / (n_tokens_fit * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n_tokens_fit * sxy - sx * sy)
                       / (n_tokens_fit * sxx - sx * sx) * sx)
                 / n_tokens_fit, 6) AS intercept,
           ROUND((n_tokens_fit * sxy - sx * sy) * (n_tokens_fit * sxy - sx * sy)
                 / ((n_tokens_fit * sxx - sx * sx)
                    * (n_tokens_fit * syy - sy * sy)), 6) AS r2
    FROM t
    """,
    "Zipf's-law fit: OLS slope of ln(frequency) vs ln(rank) over the "
    "top-500 tokens (corpus-health one-liner; natural text ~ -1)",
    tags=("text", "quality"),
)
def q_zipf_slope_documents(spark, sf_dir):
    """Corpus-level distribution health (operators/text.py::
    zipf_slope): natural corpora fit ln(freq) ~ -ln(rank); synthetic
    or template-heavy corpora flatten or cliff. Token counts aggregate
    map-side (the only corpus-volume stage), top-500 is a
    TakeOrderedAndProject, and the rank window + closed-form OLS run
    over the 500-row table — bounded by the parameter, not the
    corpus."""
    from pramen_spark.operators.text import zipf_slope

    return zipf_slope(load_documents_spread(spark, sf_dir), top_k=500)


@query(
    "stream_static_enrich_events",
    """
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1
    """,
    "Structured Streaming parity #4: stream-static broadcast join — "
    "streaming events enriched with the customer dim, per-segment "
    "counts equal the batch join",
    tags=("streaming",),
)
def q_stream_static_enrich_events(spark, sf_dir):
    """The stream-static JOIN path run for real (the fourth streaming
    parity, after tumbling/hopping/session windows): a file readStream
    over events joins the BATCH customer dimension broadcast per
    micro-batch — the standard streaming enrichment (dim lookups
    against a slowly-changing table) — then aggregates per segment in
    complete mode; the batch twin is the plain join. Stream-static
    inner joins need no watermark and keep NO join state: each
    micro-batch probes the broadcast dim and moves on, so the pattern
    holds at any stream volume; the dim refreshes per batch on a real
    cluster."""
    from pramen_spark.streaming.stream import (
        read_file_stream,
        stream_state_partitions,
    )

    path = f"{sf_dir}/events.parquet"
    schema = parquet_schema(spark, path)
    glob_path = f"{sf_dir}/events.parque[t]"
    stream = read_file_stream(spark, glob_path, schema).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = stream.join(
        F.broadcast(cust), stream["user_id"] == cust["c_custkey"]
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("value").alias("_sv"),
    )
    sink = "stream_static_enrich_sink"
    with stream_state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink).select(
        "c_mktsegment", "n_events", F.round("_sv", 4).alias("sum_value")
    )


@query(
    "stream_dedup_events",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_pairs
    FROM events GROUP BY 1
    """,
    "Structured Streaming parity #5: streaming exact dedup on "
    "(user_id, event_type) — kept rows equal the batch distinct pairs",
    tags=("streaming",),
)
def q_stream_dedup_events(spark, sf_dir):
    """The streaming dedup path run for real (streaming/stream.py::
    streaming_dedup — the continuous exact_dedup for at-least-once
    sources): dropDuplicates state keeps first-arrival (user, type)
    pairs across micro-batches, the append-mode sink receives exactly
    one row per pair, and counting the sink per type must equal the
    batch COUNT(DISTINCT user). The parity uses the unbounded form so
    the equality is exact on bounded input; the watermark-evicted
    ``dropDuplicatesWithinWatermark`` form (state bounded by
    rate x watermark — the only shape that survives 100 TB/day) is
    covered by test_streaming.py."""
    from pramen_spark.streaming.stream import (
        read_file_stream,
        stream_state_partitions,
        streaming_dedup,
    )

    path = f"{sf_dir}/events.parquet"
    schema = parquet_schema(spark, path)
    glob_path = f"{sf_dir}/events.parque[t]"
    stream = read_file_stream(spark, glob_path, schema).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    deduped = streaming_dedup(
        stream, "ts", key_cols=("user_id", "event_type"),
        within_watermark=False,
    ).select("user_id", "event_type")
    sink = "stream_dedup_sink"
    with stream_state_partitions(spark):
        q = (
            deduped.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


@query(
    "feature_hash_collisions_documents",
    r"""
    WITH tok AS (
        SELECT DISTINCT unnest(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'),
            x -> x <> '')) AS token
        FROM documents
    ),
    b AS (
        SELECT token,
               ('0x' || substr(md5(token), 1, 8))::BIGINT % 4096 AS bucket
        FROM tok
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_buckets_used,
           CAST(COUNT(*) - COUNT(DISTINCT bucket) AS BIGINT) AS n_collided,
           ROUND((COUNT(*) - COUNT(DISTINCT bucket))
                 / CAST(COUNT(*) AS DOUBLE), 6) AS collision_rate
    FROM b
    """,
    "hashing-trick audit: token-vocabulary collision rate at 4096 "
    "feature buckets (md5-prefix hash, engine-portable)",
    tags=("features", "ml"),
)
def q_feature_hash_collisions_documents(spark, sf_dir):
    """The width-sizing audit for feature hashing (operators/
    features.py::feature_hash_audit): distinct tokens deduplicate
    first (the only corpus-volume stage), then one two-distinct
    aggregation over the domain counts bucket collisions at the
    candidate width. The md5-prefix bucket makes the audit portable;
    swap any hash at serving time once the width passes."""
    from pramen_spark.operators.features import feature_hash_audit

    toks = F.expr(
        "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"
    )
    tok_df = load_documents_spread(spark, sf_dir).select(
        F.explode(toks).alias("token")
    )
    return feature_hash_audit(tok_df, "token", n_buckets=4096)


@query(
    "info_gain_ranking_events",
    """
    WITH lab AS (
        SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
               CAST(isodow(ts) - 1 AS BIGINT) AS dw,
               CASE WHEN value > 100 THEN 1 ELSE 0 END AS y
        FROM events
    ),
    f1 AS (
        SELECT 'event_type' AS feature, ROUND(SUM(mi), 6) AS mi_bits FROM (
            SELECT ROUND(CAST(n_xy AS DOUBLE) / n
                   * log2(CAST(n_xy AS DOUBLE) * n
                          / (CAST(n_x AS DOUBLE) * n_y)), 9) AS mi
            FROM (
                SELECT event_type AS x, y, CAST(COUNT(*) AS BIGINT) AS n_xy
                FROM lab GROUP BY 1, 2
            ) j
            JOIN (SELECT event_type AS x, CAST(COUNT(*) AS BIGINT) AS n_x
                  FROM lab GROUP BY 1) mx USING (x)
            JOIN (SELECT y, CAST(COUNT(*) AS BIGINT) AS n_y
                  FROM lab GROUP BY 1) my USING (y),
                 (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lab) tot
        )
    ),
    f2 AS (
        SELECT 'hour' AS feature, ROUND(SUM(mi), 6) AS mi_bits FROM (
            SELECT ROUND(CAST(n_xy AS DOUBLE) / n
                   * log2(CAST(n_xy AS DOUBLE) * n
                          / (CAST(n_x AS DOUBLE) * n_y)), 9) AS mi
            FROM (
                SELECT hr AS x, y, CAST(COUNT(*) AS BIGINT) AS n_xy
                FROM lab GROUP BY 1, 2
            ) j
            JOIN (SELECT hr AS x, CAST(COUNT(*) AS BIGINT) AS n_x
                  FROM lab GROUP BY 1) mx USING (x)
            JOIN (SELECT y, CAST(COUNT(*) AS BIGINT) AS n_y
                  FROM lab GROUP BY 1) my USING (y),
                 (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lab) tot
        )
    ),
    f3 AS (
        SELECT 'weekday' AS feature, ROUND(SUM(mi), 6) AS mi_bits FROM (
            SELECT ROUND(CAST(n_xy AS DOUBLE) / n
                   * log2(CAST(n_xy AS DOUBLE) * n
                          / (CAST(n_x AS DOUBLE) * n_y)), 9) AS mi
            FROM (
                SELECT dw AS x, y, CAST(COUNT(*) AS BIGINT) AS n_xy
                FROM lab GROUP BY 1, 2
            ) j
            JOIN (SELECT dw AS x, CAST(COUNT(*) AS BIGINT) AS n_x
                  FROM lab GROUP BY 1) mx USING (x)
            JOIN (SELECT y, CAST(COUNT(*) AS BIGINT) AS n_y
                  FROM lab GROUP BY 1) my USING (y),
                 (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lab) tot
        )
    )
    SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL SELECT * FROM f3
    ORDER BY mi_bits DESC, feature
    """,
    "information-gain feature ranking: MI of event_type / hour / "
    "weekday against the high-value label, ranked",
    tags=("ml", "drift"),
)
def q_info_gain_ranking_events(spark, sf_dir):
    """Feature selection by information gain (operators/drift.py::
    mutual_information applied per candidate feature against the
    label): each feature costs ONE contingency shuffle; marginals and
    totals re-aggregate the KB-scale cell tables broadcast. The ranked
    one-row-per-feature output is the screen run before training (and
    a leakage alarm — a feature with implausibly high MI against the
    label is leaking it). Cell contributions round at 9 on both
    engines before summing, so the ranking is reproducible."""
    from pramen_spark.operators.drift import mutual_information

    ev = load_events(spark, sf_dir).select(
        "event_type",
        F.hour("ts").cast("long").alias("hr"),
        F.weekday("ts").cast("long").alias("dw"),
        (F.col("value") > 100).alias("y"),
    )
    outs = []
    for name, colname in (
        ("event_type", "event_type"), ("hour", "hr"), ("weekday", "dw"),
    ):
        mi = mutual_information(
            ev.select(F.col(colname).alias("f"), F.col("y").cast("int").alias("y")),
            "f",
            "y",
        )
        outs.append(
            mi.agg(F.round(F.sum("mi_contrib"), 6).alias("mi_bits")).select(
                F.lit(name).alias("feature"), "mi_bits"
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy(F.desc("mi_bits"), F.asc("feature"))


@query(
    "weighted_percentile_lineitem",
    """
    WITH dom AS (
        SELECT l_extendedprice AS v, SUM(l_quantity) AS w
        FROM lineitem GROUP BY 1
    ),
    cum AS (
        SELECT v, SUM(w) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
        FROM dom
    ),
    tot AS (SELECT SUM(w) AS tw FROM dom)
    SELECT MIN(CASE WHEN cw >= 0.5 * tw THEN v END) AS p50_weighted,
           MIN(CASE WHEN cw >= 0.9 * tw THEN v END) AS p90_weighted
    FROM cum, tot
    """,
    "quantity-weighted price percentiles (lower/inverse-CDF "
    "convention): the smallest price reaching 50% / 90% of total "
    "shipped quantity",
    tags=("analytics", "sampling"),
)
def q_weighted_percentile_lineitem(spark, sf_dir):
    """Weighted quantiles no engine ships built-in (operators/
    sampling.py::weighted_percentiles — the token-weighted median
    length, quantity-weighted price band): values collapse to the
    (value, total-weight) DOMAIN first (the only row-volume stage),
    the cumulative window runs over that domain table (bounded by
    distinct values — quantize continuous values to cap it, the AUC
    histogram move), and the thresholds are conditional MINs against
    the broadcast total. Small-integer weights keep every cumulative
    sum exact in doubles, so the thresholds are deterministic."""
    from pramen_spark.operators.sampling import weighted_percentiles

    return weighted_percentiles(
        load_table(spark, sf_dir, "lineitem"), "l_extendedprice",
        "l_quantity", qs=(0.5, 0.9),
    )


@query(
    "rfm_segments_orders",
    """
    WITH per AS (
        SELECT o_custkey AS customer, MAX(CAST(o_orderdate AS DATE)) AS last_d,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS monetary
        FROM orders GROUP BY 1
    ),
    h AS (SELECT MAX(last_d) AS mx FROM per),
    base AS (
        SELECT customer, CAST(mx - last_d AS BIGINT) AS recency_days,
               frequency, monetary
        FROM per, h
    ),
    th AS (
        SELECT quantile_cont(recency_days, [0.25, 0.5, 0.75]) AS tr,
               quantile_cont(frequency, [0.25, 0.5, 0.75]) AS tf,
               quantile_cont(monetary, [0.25, 0.5, 0.75]) AS tm
        FROM base
    )
    SELECT customer, recency_days, frequency, monetary,
           CAST(1 + (recency_days > tr[1])::INT + (recency_days > tr[2])::INT
                + (recency_days > tr[3])::INT AS BIGINT) AS r_score,
           CAST(1 + (frequency > tf[1])::INT + (frequency > tf[2])::INT
                + (frequency > tf[3])::INT AS BIGINT) AS f_score,
           CAST(1 + (monetary > tm[1])::INT + (monetary > tm[2])::INT
                + (monetary > tm[3])::INT AS BIGINT) AS m_score
    FROM base, th
    """,
    "RFM customer segmentation: recency/frequency/monetary per customer "
    "with quartile scores from broadcast exact-percentile thresholds",
    tags=("analytics", "features"),
)
def q_rfm_segments_orders(spark, sf_dir):
    """Behavioral segmentation without the global-NTILE hazard
    (operators/features.py::rfm_scores — the curriculum_thresholds
    pattern applied three ways): per-customer R/F/M in one map-side
    combined aggregation (the only order-volume stage), ONE 1-row
    exact-percentile aggregate over the per-customer table, and nine
    broadcast threshold comparisons — no rank window anywhere. DECIMAL
    monetary sums keep threshold inputs exact so quartile boundaries
    cannot drift between engines."""
    from pramen_spark.operators.features import rfm_scores

    return rfm_scores(
        load_table(spark, sf_dir, "orders"), "o_custkey", "o_orderdate",
        "o_totalprice",
    )


@query(
    "ship_latency_lineitem",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(quantile_cont(CAST(l_shipdate AS DATE)
                               - CAST(o_orderdate AS DATE), 0.5), 4)
             AS p50_days,
           ROUND(quantile_cont(CAST(l_shipdate AS DATE)
                               - CAST(o_orderdate AS DATE), 0.9), 4)
             AS p90_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    "order-to-ship latency SLA: P50/P90 days from order to line-item "
    "ship date per order priority",
    tags=("analytics", "monitoring"),
)
def q_ship_latency_lineitem(spark, sf_dir):
    """The cross-table SLA readout: lineitem joins orders CO-KEYED on
    the order key (both sides shuffle once on the same key — or the
    orders side broadcasts under AQE at audit scale), the day latency
    is a pure date-arithmetic column, and exact interpolated
    percentiles aggregate per priority (five groups). At 100 TB swap
    the exact percentile for approx_percentile under the
    approx_quantile_contract gate."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("ship_d")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.to_date("o_orderdate").alias("ord_d")
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_orderpriority",
        F.datediff("ship_d", "ord_d").cast("long").alias("lat"),
    )
    pct = F.percentile(F.col("lat"), F.array(F.lit(0.5), F.lit(0.9)))
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.round(F.element_at(pct, 1), 4).alias("p50_days"),
        F.round(F.element_at(pct, 2), 4).alias("p90_days"),
    )


@query(
    "wow_revenue_orders",
    """
    WITH weekly AS (
        SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1
    )
    SELECT week_start,
           CAST(rev AS DOUBLE) AS revenue,
           ROUND(CAST(rev - LAG(rev) OVER (ORDER BY week_start) AS DOUBLE)
                 / CAST(LAG(rev) OVER (ORDER BY week_start) AS DOUBLE),
                 6) AS wow_change
    FROM weekly
    """,
    "week-over-week revenue: weekly totals with the percentage change "
    "vs the previous week (NULL for the first week)",
    tags=("analytics", "timegrid"),
)
def q_wow_revenue_orders(spark, sf_dir):
    """The WoW growth readout every revenue dashboard carries: orders
    aggregate to Monday-start weeks FIRST (map-side combined — the only
    order-volume stage; both engines truncate weeks to Monday), so the
    unpartitioned LAG window sees one row per WEEK — bounded by
    calendar span, the daily_revenue_running_total pattern. DECIMAL
    weekly sums are exact; the change ratio divides the same exact
    values on both engines."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    weekly = o.groupBy(
        F.to_date(F.date_trunc("week", F.col("o_orderdate"))).alias("week_start")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = W.orderBy("week_start")
    prev = F.lag("rev").over(w)
    return weekly.select(
        "week_start",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            (F.col("rev") - prev).cast("double") / prev.cast("double"), 6
        ).alias("wow_change"),
    )


@query(
    "benford_audit_orders",
    """
    WITH pos AS (
        SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x
        FROM orders WHERE o_totalprice >= 1
    ),
    d AS (
        SELECT CAST(regexp_extract(CAST(x AS VARCHAR), '([1-9])', 1)
                    AS INTEGER) AS digit
        FROM pos
    ),
    g AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM g)
    SELECT digit, n,
           ROUND(CAST(n AS DOUBLE) / tot, 6) AS observed_p,
           ROUND(log10(1 + 1.0 / digit), 6) AS expected_p
    FROM g, t
    """,
    "Benford's-law first-digit audit of order totals: observed leading-"
    "digit shares vs the log10(1+1/d) expectation",
    tags=("quality", "validation"),
)
def q_benford_audit_orders(spark, sf_dir):
    """The fraud / synthetic-data screen
    (operators/validation.py::benford_digit_audit): the leading digit
    comes from an exact DECIMAL magnitude ladder on the Spark side —
    never log10 of the value, whose last-ulp engine differences flip
    the digit at exact powers of ten — while the oracle extracts the
    same digit lexically from the decimal rendering; agreement of the
    two routes is itself part of the check. One filter + one 9-group
    map-side-combined aggregation; the 9-row digit table re-aggregates
    to the broadcast total."""
    from pramen_spark.operators.validation import benford_digit_audit

    return benford_digit_audit(
        load_table(spark, sf_dir, "orders"), "o_totalprice"
    )


@query(
    "ewma_revenue_daily",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM orders GROUP BY 1
    ),
    l AS (
        SELECT day, revenue,
               lag(revenue, 1) OVER w AS r1, lag(revenue, 2) OVER w AS r2,
               lag(revenue, 3) OVER w AS r3, lag(revenue, 4) OVER w AS r4,
               lag(revenue, 5) OVER w AS r5, lag(revenue, 6) OVER w AS r6
        FROM daily WINDOW w AS (ORDER BY day)
    )
    SELECT day, revenue,
           ROUND(((((((revenue
                 + COALESCE(r1, 0) * 0.5)
                 + COALESCE(r2, 0) * 0.25)
                 + COALESCE(r3, 0) * 0.125)
                 + COALESCE(r4, 0) * 0.0625)
                 + COALESCE(r5, 0) * 0.03125)
                 + COALESCE(r6, 0) * 0.015625)
                 / ((((((1.0
                 + CASE WHEN r1 IS NOT NULL THEN 0.5 ELSE 0 END)
                 + CASE WHEN r2 IS NOT NULL THEN 0.25 ELSE 0 END)
                 + CASE WHEN r3 IS NOT NULL THEN 0.125 ELSE 0 END)
                 + CASE WHEN r4 IS NOT NULL THEN 0.0625 ELSE 0 END)
                 + CASE WHEN r5 IS NOT NULL THEN 0.03125 ELSE 0 END)
                 + CASE WHEN r6 IS NOT NULL THEN 0.015625 ELSE 0 END),
                 6) AS ewma
    FROM l
    """,
    "7-tap exponentially-weighted moving average of daily revenue "
    "(decay 0.5, partial-history renormalized)",
    tags=("analytics", "timegrid"),
)
def q_ewma_revenue_daily(spark, sf_dir):
    """Dashboard smoothing without the sequential recurrence
    (operators/timegrid.py::ewma_smooth): orders pre-aggregate to one
    DECIMAL-exact row per day (map-side combined — the only
    order-volume stage), then a finite 7-tap LAG sum with binary-
    fraction weights 0.5^k replaces the unbounded ``s_t = a*x_t +
    (1-a)*s_{t-1}`` recursion, whose prefix-product form overflows past
    ~1000 rows. The unpartitioned window sees only calendar-bounded
    daily rows (the wow_revenue pattern). Weights are exact in binary,
    so both engines sum identical doubles in identical order."""
    from pramen_spark.operators.timegrid import ewma_smooth

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    return ewma_smooth(daily, "revenue", "day", decay=0.5, taps=7)


@query(
    "pareto_frontier_parts",
    """
    WITH per AS (
        SELECT p_retailprice AS cost, MAX(p_size) AS best_gain
        FROM part GROUP BY 1
    ),
    r AS (
        SELECT cost, best_gain,
               MAX(best_gain) OVER (
                   ORDER BY cost
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS cheaper_best
        FROM per
    )
    SELECT p.p_partkey, p.p_brand, p.p_retailprice, p.p_size
    FROM part p JOIN r ON p.p_retailprice = r.cost
    WHERE NOT ((r.cheaper_best IS NOT NULL
                AND r.cheaper_best >= p.p_size)
               OR r.best_gain > p.p_size)
    """,
    "2-D Pareto frontier of parts (minimize retail price, maximize "
    "size): no other part is both cheaper-or-equal and larger-or-equal "
    "with one strict",
    tags=("analytics", "skyline"),
)
def q_pareto_frontier_parts(spark, sf_dir):
    """Skyline without the quadratic NOT-EXISTS self-join
    (operators/features.py::skyline_2d): collapse to best-size-per-
    price, one running-max window over that DOMAIN-bounded table, and
    a hash join back on the price key. Equal (price, size) twins
    survive together — the frontier is a set, not one winner."""
    from pramen_spark.operators.features import skyline_2d

    p = load_table(spark, sf_dir, "part")
    return skyline_2d(p, "p_retailprice", "p_size").select(
        "p_partkey", "p_brand", "p_retailprice", "p_size"
    )


@query(
    "max_concurrency_events",
    """
    WITH e AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events
    ),
    marked AS (
        SELECT user_id, tus,
               CASE WHEN lag(tus) OVER w IS NULL
                         OR tus - lag(tus) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)
    ),
    sess0 AS (
        SELECT user_id, tus,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus) AS sid
        FROM marked
    ),
    sess AS (
        SELECT MIN(tus) AS s_us, MAX(tus) AS e_us
        FROM sess0 GROUP BY user_id, sid
    ),
    seg AS (
        SELECT s_us, e_us,
               unnest(range(s_us // 86400000000,
                            e_us // 86400000000 + 1)) AS dayn
        FROM sess
    ),
    clip AS (
        SELECT dayn,
               GREATEST(s_us, dayn * 86400000000) AS cs,
               LEAST(e_us, dayn * 86400000000 + 86399999999) AS ce
        FROM seg
    ),
    pts AS (
        SELECT dayn, cs AS t, 1 AS delta FROM clip
        UNION ALL
        SELECT dayn, ce AS t, -1 AS delta FROM clip
    ),
    sw AS (
        SELECT dayn, delta,
               SUM(delta) OVER (
                   PARTITION BY dayn ORDER BY t, delta DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS conc
        FROM pts
    )
    SELECT DATE '1970-01-01' + CAST(dayn AS INTEGER) AS day,
           CAST(COUNT(*) FILTER (WHERE delta = 1) AS BIGINT) AS n_intervals,
           CAST(MAX(conc) AS BIGINT) AS max_concurrent
    FROM sw GROUP BY dayn
    """,
    "peak concurrent 30-min-gap sessions per UTC day via a day-"
    "partitioned sweep line over closed session intervals",
    tags=("analytics", "sessionization"),
)
def q_max_concurrency_events(spark, sf_dir):
    """Capacity planning over sessionize_batch's output
    (operators/sequences.py::interval_concurrency): sessions split at
    UTC midnights FIRST, so the +1/−1 sweep window partitions by day
    and never funnels the whole timeline through one sort — the global-
    sweep-line pitfall made parallel. Closed intervals: sessions
    touching at one microsecond are concurrent, and a one-event
    session still registers."""
    from pramen_spark.operators.sequences import interval_concurrency
    from pramen_spark.streaming.stream import sessionize_batch

    s = sessionize_batch(
        load_events(spark, sf_dir), "user_id", "ts", gap="30 minutes"
    )
    iv = s.select(
        F.unix_micros("session_start").alias("s_us"),
        F.unix_micros("session_end").alias("e_us"),
    )
    return interval_concurrency(iv, "s_us", "e_us")


@query(
    "acf_revenue_daily",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM orders GROUP BY 1
    ),
    l AS (
        SELECT revenue AS x,
               lag(revenue, 1) OVER w AS y1, lag(revenue, 2) OVER w AS y2,
               lag(revenue, 3) OVER w AS y3, lag(revenue, 4) OVER w AS y4,
               lag(revenue, 5) OVER w AS y5, lag(revenue, 6) OVER w AS y6,
               lag(revenue, 7) OVER w AS y7
        FROM daily WINDOW w AS (ORDER BY day)
    ),
    st AS (
        SELECT 1 AS lag, x, y1 AS y FROM l UNION ALL
        SELECT 2, x, y2 FROM l UNION ALL
        SELECT 3, x, y3 FROM l UNION ALL
        SELECT 4, x, y4 FROM l UNION ALL
        SELECT 5, x, y5 FROM l UNION ALL
        SELECT 6, x, y6 FROM l UNION ALL
        SELECT 7, x, y7 FROM l
    ),
    a AS (
        SELECT lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
        FROM st WHERE y IS NOT NULL GROUP BY lag
    )
    SELECT lag, n,
           ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                        * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS acf
    FROM a
    """,
    "autocorrelation of daily revenue at lags 1-7 from decimal-exact "
    "co-moment sums: the weekly-cycle detector",
    tags=("analytics", "timegrid"),
)
def q_acf_revenue_daily(spark, sf_dir):
    """The window-size picker for every smoother in timegrid
    (operators/timegrid.py::autocorrelation): orders pre-aggregate to
    the DECIMAL-exact daily grid (the only order-volume stage), lags
    1..7 stack via one explode, and ONE aggregation produces all six
    co-moment sums per lag — products in IEEE double, sums in decimal,
    so the Pearson statistic never depends on reduce order. The
    unpartitioned LAG window sees only calendar-bounded daily rows."""
    from pramen_spark.operators.timegrid import autocorrelation

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    return autocorrelation(daily, "revenue", "day", max_lag=7)


@query(
    "hhi_nation_suppliers",
    """
    WITH per AS (
        SELECT n.n_name, l.l_suppkey,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(4,2))))
                    AS DECIMAL(18,4)) AS v
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY 1, 2
    )
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_entities,
           ROUND(CAST(MAX(v) AS DOUBLE) / CAST(SUM(v) AS DOUBLE), 6)
             AS top_share,
           ROUND(CAST(SUM(CAST(v AS DECIMAL(19,4)) * v) AS DOUBLE)
                 / (CAST(SUM(v) AS DOUBLE) * CAST(SUM(v) AS DOUBLE)), 6)
             AS hhi
    FROM per GROUP BY n_name
    """,
    "Herfindahl-Hirschman supplier-concentration index of discounted "
    "revenue per nation, with top-supplier share",
    tags=("analytics", "skew"),
)
def q_hhi_nation_suppliers(spark, sf_dir):
    """Market concentration as exact arithmetic
    (operators/skew.py::herfindahl_index): supplier revenues sum as
    decimals, HHI is the ratio of two exact decimal reductions
    (Σv² / (Σv)²) — never the naive Σ(share²) double sum whose value
    depends on reduce order. Two map-side-combined aggregations; the
    second input is bounded by nations × suppliers."""
    from pramen_spark.operators.skew import herfindahl_index

    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    joined = l.join(
        F.broadcast(s), l["l_suppkey"] == s["s_suppkey"]
    ).join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return herfindahl_index(joined, "n_name", "l_suppkey", rev).select(
        F.col("grp").alias("n_name"), "n_entities", "top_share", "hhi"
    )


@query(
    "kaplan_meier_events",
    """
    WITH s AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY CAST(ts AS TIMESTAMP), event_id)
                   AS rn
        FROM events WHERE event_type = 'signup'
    ),
    starts AS (SELECT user_id, us AS start_us, event_id AS start_event_id
               FROM s WHERE rn = 1),
    e AS (
        SELECT e.user_id, epoch_us(CAST(e.ts AS TIMESTAMP)) AS us,
               row_number() OVER (PARTITION BY e.user_id
                                  ORDER BY CAST(e.ts AS TIMESTAMP), e.event_id)
                   AS rn
        FROM events e JOIN starts st ON e.user_id = st.user_id
        WHERE e.event_type = 'purchase'
          AND (epoch_us(CAST(e.ts AS TIMESTAMP)) > st.start_us
               OR (epoch_us(CAST(e.ts AS TIMESTAMP)) = st.start_us
                   AND e.event_id > st.start_event_id))
    ),
    conv AS (SELECT user_id, us AS convert_us FROM e WHERE rn = 1),
    lastev AS (
        SELECT user_id, MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us
        FROM events GROUP BY user_id
    ),
    dur AS (
        SELECT (COALESCE(c.convert_us, l.last_us) - st.start_us)
                   // 86400000000 AS t,
               CASE WHEN c.convert_us IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM starts st
        JOIN lastev l ON st.user_id = l.user_id
        LEFT JOIN conv c ON st.user_id = c.user_id
    ),
    g AS (
        SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM dur GROUP BY t
    ),
    r AS (
        SELECT t, d,
               CAST(SUM(c) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                                 AND UNBOUNDED FOLLOWING) AS BIGINT)
                   AS at_risk
        FROM g
    ),
    f AS (
        SELECT t, d, at_risk,
               CAST(at_risk - d AS DOUBLE) / CAST(at_risk AS DOUBLE) AS fac
        FROM r
    ),
    sw AS (
        SELECT t, d, at_risk,
               SUM(CASE WHEN fac > 0 THEN ln(fac) END) OVER w AS lnsum,
               MAX(CASE WHEN fac = 0 THEN 1 ELSE 0 END) OVER w AS zero
        FROM f
        WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    )
    SELECT t AS time, d AS n_events, at_risk,
           CASE WHEN zero = 1 THEN 0.0
                ELSE ROUND(exp(COALESCE(lnsum, 0)), 6) END AS survival
    FROM sw WHERE d > 0
    """,
    "Kaplan-Meier survival curve of signup-to-purchase latency in days, "
    "right-censored at each user's last observed event",
    tags=("analytics", "evalmetrics"),
)
def q_kaplan_meier_events(spark, sf_dir):
    """Survival analysis over the conversion funnel
    (operators/evalmetrics.py::kaplan_meier, fed by sequences.py::
    time_to_convert): never-converted users enter as censored at their
    last observed event instead of being dropped — the bias the naive
    time_to_convert average has. Subjects collapse to the per-day
    duration histogram first; at-risk counts are a REVERSE running sum
    (no separate total), and the running product is exp(Σ ln) with an
    explicit zero flag so a 100%%-failure day pins survival to exact 0
    on both engines (Spark NULLs ln(0), DuckDB -infs it)."""
    from pramen_spark.operators.evalmetrics import kaplan_meier
    from pramen_spark.operators.sequences import time_to_convert

    ev = load_events(spark, sf_dir)
    t = time_to_convert(ev, "signup", "purchase")
    last = ev.groupBy("user_id").agg(
        F.max(F.unix_micros(F.col("ts"))).alias("_last_us")
    )
    dur = t.join(last, "user_id").select(
        F.expr(
            "CAST((COALESCE(convert_us, _last_us) - start_us)"
            " DIV 86400000000 AS LONG)"
        ).alias("t_days"),
        F.col("convert_us").isNotNull().cast("int").alias("converted"),
    )
    return kaplan_meier(dur, "t_days", "converted")


@query(
    "theil_sen_daily",
    """
    WITH daily AS (
        SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                    AS DOUBLE) AS x,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS y
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    slopes AS (
        SELECT (b.y - a.y) / (b.x - a.x) AS s
        FROM daily a JOIN daily b ON a.x < b.x
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               quantile_cont(s, 0.5) AS slope
        FROM slopes
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points, m.n_pairs,
           ROUND(m.slope, 6) AS slope,
           ROUND(quantile_cont(d.y - m.slope * d.x, 0.5), 6) AS intercept
    FROM daily d, m GROUP BY m.n_pairs, m.slope
    """,
    "Theil-Sen robust trend of daily revenue: median of all pairwise "
    "slopes plus median-residual intercept",
    tags=("analytics", "timegrid"),
)
def q_theil_sen_daily(spark, sf_dir):
    """The outlier-proof sibling of trend_slope_daily's OLS fit
    (operators/timegrid.py::theil_sen): orders collapse to the DECIMAL-
    exact daily grid first, so the O(days²) pair join is bounded by the
    CALENDAR (ten years ≈ 6.7M pairs), never data volume. Slopes are
    IEEE-double divisions; the interpolated median averages two order
    statistics — engine-exact on both sides."""
    from pramen_spark.operators.timegrid import theil_sen

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    return theil_sen(daily, "revenue", "day")


@query(
    "woe_iv_events",
    """
    WITH th AS (
        SELECT [quantile_cont(value, 0.1), quantile_cont(value, 0.2),
                quantile_cont(value, 0.3), quantile_cont(value, 0.4),
                quantile_cont(value, 0.5), quantile_cont(value, 0.6),
                quantile_cont(value, 0.7), quantile_cont(value, 0.8),
                quantile_cont(value, 0.9)] AS t
        FROM events
    ),
    binned AS (
        SELECT CAST(1 + (CASE WHEN value > t[1] THEN 1 ELSE 0 END)
                      + (CASE WHEN value > t[2] THEN 1 ELSE 0 END)
                      + (CASE WHEN value > t[3] THEN 1 ELSE 0 END)
                      + (CASE WHEN value > t[4] THEN 1 ELSE 0 END)
                      + (CASE WHEN value > t[5] THEN 1 ELSE 0 END)
                      + (CASE WHEN value > t[6] THEN 1 ELSE 0 END)
                      + (CASE WHEN value > t[7] THEN 1 ELSE 0 END)
                      + (CASE WHEN value > t[8] THEN 1 ELSE 0 END)
                      + (CASE WHEN value > t[9] THEN 1 ELSE 0 END)
                AS BIGINT) AS bin,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        FROM events, th
    ),
    g AS (
        SELECT bin, CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(SUM(n_pos) AS BIGINT) AS tp,
               CAST(SUM(n - n_pos) AS BIGINT) AS tn
        FROM g
    )
    SELECT bin, n, n_pos,
           ROUND(CASE WHEN n_pos > 0 AND n - n_pos > 0
                 THEN ln((CAST(n_pos AS DOUBLE) / tp)
                         / (CAST(n - n_pos AS DOUBLE) / tn)) END, 6) AS woe,
           ROUND((CAST(n_pos AS DOUBLE) / tp
                  - CAST(n - n_pos AS DOUBLE) / tn)
                 * CASE WHEN n_pos > 0 AND n - n_pos > 0
                   THEN ln((CAST(n_pos AS DOUBLE) / tp)
                           / (CAST(n - n_pos AS DOUBLE) / tn)) END, 6)
             AS iv_component
    FROM g, tot
    """,
    "weight-of-evidence deciles of event value against the purchase "
    "label, with per-bin information value",
    tags=("analytics", "features"),
)
def q_woe_iv_events(spark, sf_dir):
    """Credit-scoring-style feature screening
    (operators/features.py::woe_iv): bins from ONE broadcast exact-
    percentile row (the rfm_scores pattern — never NTILE, whose tie
    placement is engine-dependent), WOE/IV from the 10-row bin table.
    Bins with zero positives or negatives NULL explicitly on both
    engines: Spark NULLs ln(0) while DuckDB returns -inf, so the guard
    is semantics, not style."""
    from pramen_spark.operators.features import woe_iv

    ev = load_events(spark, sf_dir)
    return woe_iv(
        ev, "value", (F.col("event_type") == "purchase"), bins=10
    )


@query(
    "posting_lists_documents",
    r"""
    WITH tok AS (
        SELECT DISTINCT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        FROM documents WHERE trim(text) <> ''
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq,
           array_to_string(list_sort(list(doc_id))[1:1000], ',') AS postings
    FROM tok WHERE token <> ''
    GROUP BY token HAVING COUNT(*) >= 5
    """,
    "inverted-index posting lists: per token with doc_freq >= 5, the "
    "sorted document-id list capped at the 1000 smallest ids",
    tags=("text", "scale"),
)
def q_posting_lists_documents(spark, sf_dir):
    """The index-build step behind bm25_relevance
    (operators/text.py::posting_lists): per-document dedup inside the
    row (array_distinct — no shuffle), one token-keyed aggregation,
    min_df pruning, and DETERMINISTIC truncation to the 1000 smallest
    doc ids per token so stopword lists cannot hold gigabytes in one
    reducer. Posting lists shard naturally by token — the layout a
    distributed index wants.

    The operator keeps ``postings`` as array<long>; the QUERY serializes
    it to a comma-joined scalar so the driver's pandas canonicalizer can
    hash the column (VERDICT r12 #2 — the latent twin of the
    quantize_embeddings_int8 list-cell crash)."""
    from pramen_spark.operators.text import posting_lists

    d = load_table(spark, sf_dir, "documents")
    p = posting_lists(d, "doc_id", "text", min_df=5, max_postings=1000)
    return p.withColumn(
        "postings",
        # NULL-array guard: Spark concat_ws(null) is '' but the DuckDB
        # oracle's array_to_string(NULL) is NULL (ADVICE r13).
        F.when(F.col("postings").isNull(), F.lit(None).cast("string")).otherwise(
            F.concat_ws(",", F.col("postings").cast("array<string>"))
        ),
    )


@query(
    "activity_streaks_events",
    """
    WITH days AS (
        SELECT DISTINCT user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS dayn
        FROM events
    ),
    isl AS (
        SELECT user_id, dayn,
               dayn - row_number() OVER (PARTITION BY user_id
                                         ORDER BY dayn) AS island
        FROM days
    ),
    per AS (
        SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len
        FROM isl GROUP BY user_id, island
    )
    SELECT user_id AS user, CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak
    FROM per GROUP BY user_id
    """,
    "longest consecutive-day activity streak per user via the "
    "gaps-and-islands row_number trick, exact integers",
    tags=("analytics", "sequences"),
)
def q_activity_streaks_events(spark, sf_dir):
    """Retention's streak metric (operators/sequences.py::
    activity_streaks): the raw log collapses to distinct (user, day)
    FIRST — the only event-volume stage — then day_number −
    row_number() is constant exactly along consecutive runs. One
    user-keyed shuffle; windows see at most one row per user-day."""
    from pramen_spark.operators.sequences import activity_streaks

    return activity_streaks(load_events(spark, sf_dir), "user_id", "ts")


@query(
    "spearman_quantity_price",
    """
    WITH base AS (
        SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    gx AS (SELECT x AS v, COUNT(*) AS c FROM base GROUP BY x),
    rx AS (
        SELECT v, CAST(2 * COALESCE(SUM(c) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) + c + 1 AS BIGINT) AS r2
        FROM gx
    ),
    gy AS (SELECT y AS v, COUNT(*) AS c FROM base GROUP BY y),
    ry AS (
        SELECT v, CAST(2 * COALESCE(SUM(c) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) + c + 1 AS BIGINT) AS r2
        FROM gy
    ),
    j AS (
        SELECT rx.r2 AS a, ry.r2 AS b
        FROM base JOIN rx ON base.x = rx.v JOIN ry ON base.y = ry.v
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(a AS DECIMAL(38,0))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(b AS DECIMAL(38,0))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(a * b AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(a * a AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(b * b AS DECIMAL(38,0))) AS DOUBLE) AS syy
        FROM j
    )
    SELECT n,
           ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                        * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS rho
    FROM s
    """,
    "exact tie-aware Spearman rank correlation of quantity vs extended "
    "price via histogram-derived doubled ranks",
    tags=("analytics", "drift"),
)
def q_spearman_quantity_price(spark, sf_dir):
    """Monotone association without a global row sort
    (operators/drift.py::spearman): average ranks depend only on the
    VALUE HISTOGRAM — (#smaller, #equal) per distinct value (the auc
    trick) — so ranks come from domain-bounded running sums and join
    back by value. Doubled ranks (2·#smaller + #equal + 1) keep tie
    half-ranks integer-exact; Pearson is scale-invariant so rho is
    unchanged, and every co-moment reduces as DECIMAL — the statistic
    is bit-reproducible at any cluster size."""
    from pramen_spark.operators.drift import spearman

    l = load_table(spark, sf_dir, "lineitem")
    return spearman(l, "l_quantity", "l_extendedprice")


@query(
    "cohort_ltv_orders",
    """
    WITH base AS (
        SELECT o_custkey AS ent,
               year(o_orderdate) * 12 + month(o_orderdate) AS mnum,
               CAST(o_totalprice AS DECIMAL(18,2)) AS v
        FROM orders
    ),
    c AS (
        SELECT ent, mnum, v, MIN(mnum) OVER (PARTITION BY ent) AS cohort
        FROM base
    ),
    tri AS (
        SELECT cohort, CAST(mnum - cohort AS BIGINT) AS month_offset,
               CAST(COUNT(DISTINCT ent) AS BIGINT) AS n_active,
               CAST(SUM(v) AS DECIMAL(18,2)) AS rev
        FROM c GROUP BY cohort, month_offset
    )
    SELECT make_date(CAST((cohort - 1) // 12 AS INTEGER),
                     CAST((cohort - 1) % 12 + 1 AS INTEGER), 1)
             AS cohort_month,
           month_offset, n_active,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(SUM(rev) OVER (PARTITION BY cohort ORDER BY month_offset
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS DOUBLE) AS cum_revenue
    FROM tri
    """,
    "cohort lifetime-value triangle: customers cohorted by first-order "
    "month, per-offset revenue and the cumulative LTV curve",
    tags=("analytics", "features"),
)
def q_cohort_ltv_orders(spark, sf_dir):
    """The revenue twin of the retention triangle
    (operators/features.py::cohort_ltv): cohort month via one
    per-customer window over (customer, month) pairs, DECIMAL monthly
    cells, and a calendar-bounded window for the cumulative — month
    offsets are integer year·12+month arithmetic, never float
    months_between."""
    from pramen_spark.operators.features import cohort_ltv

    o = load_table(spark, sf_dir, "orders")
    return cohort_ltv(
        o,
        "o_custkey",
        "o_orderdate",
        F.col("o_totalprice").cast("decimal(18,2)"),
    )


@query(
    "new_vs_returning_events",
    """
    WITH days AS (
        SELECT DISTINCT user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS dayn
        FROM events
    ),
    f AS (
        SELECT user_id, dayn,
               MIN(dayn) OVER (PARTITION BY user_id) AS first_day
        FROM days
    )
    SELECT DATE '1970-01-01' + CAST(dayn AS INTEGER) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN dayn = first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN dayn <> first_day THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returning
    FROM f GROUP BY dayn
    """,
    "daily growth accounting: distinct active users split into "
    "first-ever-seen vs returning",
    tags=("analytics", "sequences"),
)
def q_new_vs_returning_events(spark, sf_dir):
    """The decomposition under every DAU chart
    (operators/sequences.py::new_vs_returning): the log collapses to
    distinct (user, day) first, each user's first day is one window
    min over those pairs — never a join of events against their own
    minimum. All exact integers."""
    from pramen_spark.operators.sequences import new_vs_returning

    return new_vs_returning(load_events(spark, sf_dir), "user_id", "ts")


@query(
    "runs_test_daily",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM orders GROUP BY 1
    ),
    med AS (SELECT quantile_cont(revenue, 0.5) AS m FROM daily),
    s AS (
        SELECT day, CASE WHEN revenue > m THEN 1 ELSE 0 END AS sgn
        FROM daily, med WHERE revenue <> m
    ),
    fl AS (
        SELECT sgn,
               CASE WHEN lag(sgn) OVER w IS NULL
                         OR lag(sgn) OVER w <> sgn
                    THEN 1 ELSE 0 END AS newrun
        FROM s WINDOW w AS (ORDER BY day)
    ),
    a AS (
        SELECT CAST(SUM(sgn) AS BIGINT) AS n_pos,
               CAST(SUM(1 - sgn) AS BIGINT) AS n_neg,
               CAST(SUM(newrun) AS BIGINT) AS n_runs
        FROM fl
    )
    SELECT n_pos, n_neg, n_runs,
           ROUND((CAST(n_runs AS DOUBLE)
                  - (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)
                     / (CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE))
                     + 1.0))
                 / sqrt(2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)
                        * (2.0 * CAST(n_pos AS DOUBLE)
                           * CAST(n_neg AS DOUBLE)
                           - CAST(n_pos AS DOUBLE) - CAST(n_neg AS DOUBLE))
                        / ((CAST(n_pos AS DOUBLE) + CAST(n_neg AS DOUBLE))
                           * (CAST(n_pos AS DOUBLE)
                              + CAST(n_neg AS DOUBLE))
                           * (CAST(n_pos AS DOUBLE)
                              + CAST(n_neg AS DOUBLE) - 1.0))), 6) AS z
    FROM a
    """,
    "Wald-Wolfowitz runs test of daily revenue around its median: "
    "exact run counts and the closed-form z statistic",
    tags=("analytics", "anomaly"),
)
def q_runs_test_daily(spark, sf_dir):
    """The i.i.d. sanity screen before trusting alerting thresholds
    (operators/anomaly.py::runs_test): median-equal days drop (the
    standard convention), runs count as 1 + sign flips over the
    calendar-bounded daily grid, and the z statistic is scalar
    arithmetic on the one exact-integer result row."""
    from pramen_spark.operators.anomaly import runs_test

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    return runs_test(daily, "revenue", "day")


@query(
    "grubbs_test_daily",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM orders GROUP BY 1
    ),
    st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(revenue AS DECIMAL(38,6))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(revenue * revenue AS DECIMAL(38,6)))
                    AS DOUBLE) AS s2
        FROM daily
    ),
    en AS (
        SELECT n, s1 / CAST(n AS DOUBLE) AS m,
               sqrt((CAST(n AS DOUBLE) * s2 - s1 * s1)
                    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                 AS sd
        FROM st
    )
    SELECT en.n, d.day AS "at", ROUND(d.revenue, 6) AS value,
           ROUND(abs(d.revenue - en.m) / en.sd, 6) AS g_stat
    FROM daily d, en
    ORDER BY abs(d.revenue - en.m) DESC, d.day DESC LIMIT 1
    """,
    "Grubbs' max-studentized-deviate test on daily revenue: the single "
    "most extreme day and its distance in sample standard deviations",
    tags=("analytics", "anomaly"),
)
def q_grubbs_test_daily(spark, sf_dir):
    """The parametric partner of anomaly_mad_daily
    (operators/anomaly.py::grubbs_test): mean/variance from
    DECIMAL-exact Σv and Σv² in one pass, the outlier an argmax over a
    (deviation, day) struct with a deterministic date tiebreak —
    everything after the single aggregation is scalar arithmetic on a
    broadcast row."""
    from pramen_spark.operators.anomaly import grubbs_test

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    return grubbs_test(daily, "revenue", "day")


@query(
    "forecast_backtest_daily",
    """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM orders GROUP BY 1
    ),
    l AS (
        SELECT revenue AS y, lag(revenue, 7) OVER (ORDER BY day) AS f
        FROM daily
    ),
    p AS (SELECT y, f FROM l WHERE f IS NOT NULL),
    a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(abs(y - f) AS DECIMAL(38,6))) AS DOUBLE)
                 AS sae,
               CAST(SUM(CAST((y - f) * (y - f) AS DECIMAL(38,6)))
                    AS DOUBLE) AS sse,
               CAST(SUM(CAST(abs(y - f) / abs(y) AS DECIMAL(38,6)))
                    AS DOUBLE) AS sap
        FROM p
    )
    SELECT n, ROUND(sae / CAST(n AS DOUBLE), 6) AS mae,
           ROUND(sqrt(sse / CAST(n AS DOUBLE)), 6) AS rmse,
           ROUND(sap / CAST(n AS DOUBLE), 6) AS mape
    FROM a
    """,
    "seasonal-naive (same-day-last-week) forecast backtest on daily "
    "revenue: MAE, RMSE, MAPE",
    tags=("analytics", "timegrid"),
)
def q_forecast_backtest_daily(spark, sf_dir):
    """The evaluation floor every forecast must beat
    (operators/timegrid.py::forecast_backtest): ŷ_t = y_{t−7} via one
    LAG over the calendar-bounded daily grid; absolute errors, squares
    (as products, never pow) and percentage ratios sum as decimals so
    the metrics are reduce-order independent."""
    from pramen_spark.operators.timegrid import forecast_backtest

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    return forecast_backtest(daily, "revenue", "day", season=7)


@query(
    "price_elasticity_lineitem",
    """
    WITH base AS (
        SELECT ln(1 - l_discount) AS x, ln(l_quantity) AS y
        FROM lineitem WHERE l_quantity > 0 AND l_discount < 1
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
        FROM base
    )
    SELECT n,
           ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS slope,
           ROUND((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                        / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
                 / CAST(n AS DOUBLE), 6) AS intercept,
           ROUND(((CAST(n AS DOUBLE) * sxy - sx * sy)
                  * (CAST(n AS DOUBLE) * sxy - sx * sy))
                 / ((CAST(n AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS r2
    FROM s
    """,
    "log-log OLS of quantity on effective price factor (1 - discount): "
    "the price-elasticity regression from decimal-exact co-moments",
    tags=("analytics", "drift"),
)
def q_price_elasticity_lineitem(spark, sf_dir):
    """The elasticity readout every pricing team fits first
    (operators/drift.py::ols_fit): ln transforms are per-row IEEE
    doubles, co-moments sum as DECIMALs (the autocorrelation/spearman
    discipline), and slope/intercept/R² are scalar arithmetic on one
    row. One map-side-combined pass over lineitem."""
    from pramen_spark.operators.drift import ols_fit
    from pramen_spark.operators.partitioning import spread_input

    # spread: the ln + 5 decimal co-moment sums dominate per-row cost and
    # a single-row-group local file would otherwise run them one task;
    # decimal sums are partitioning-invariant
    l = spread_input(
        load_table(spark, sf_dir, "lineitem")
        .where((F.col("l_quantity") > 0) & (F.col("l_discount") < 1))
        .select("l_quantity", "l_discount", "l_extendedprice"),
        "l_extendedprice",
    )
    return ols_fit(
        l, F.log(F.lit(1) - F.col("l_discount")), F.log("l_quantity")
    )


@query(
    "repeat_purchase_interval_events",
    """
    WITH p AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
        FROM events WHERE event_type = 'purchase'
    ),
    g AS (
        SELECT CAST(us - lag(us) OVER (PARTITION BY user_id
                                       ORDER BY us, event_id) AS DOUBLE)
               / 86400000000.0 AS gap
        FROM p
    ),
    k AS (SELECT gap FROM g WHERE gap IS NOT NULL)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
           ROUND(CAST(SUM(CAST(gap AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS mean_days,
           ROUND(quantile_cont(gap, 0.25), 6) AS p25,
           ROUND(quantile_cont(gap, 0.5), 6) AS p50,
           ROUND(quantile_cont(gap, 0.75), 6) AS p75
    FROM k
    """,
    "repeat-purchase cadence: quartiles and mean of fractional-day "
    "gaps between each user's consecutive purchases",
    tags=("analytics", "sequences"),
)
def q_repeat_purchase_interval_events(spark, sf_dir):
    """Reorder-timing and churn-window calibration
    (operators/sequences.py::inter_event_gaps): one user-partitioned
    window with a (ts, id) tiebreak, gaps as IEEE-double divisions of
    microsecond longs, decimal-exact mean and interpolated quartiles
    in one global reduce."""
    from pramen_spark.operators.sequences import inter_event_gaps

    ev = load_events(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    return inter_event_gaps(ev, "user_id", "ts", "event_id")


