"""Operational audits, sketches, reconciliation and graph analytics
(round 6-7): reconcile, pagerank/hits, approx-aggregate self-checks.

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
    _NGRAM_SHINGLE_ORACLE,
)


@query(
    "approx_aggregates_selfcheck",
    """
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS distinct_within_5pct,
           ROUND(quantile_cont(value, 0.5), 4) AS median_exact,
           TRUE AS median_within_5pct
    FROM events
    """,
    "self-checking approximate aggregates: HLL distinct + quantile sketch "
    "asserted within 5% of exact, exact values hash-checked",
    tags=("olap", "sketch"),
)
def q_approx_aggregates_selfcheck(spark, sf_dir):
    """Sketch-based aggregates cannot hash-match another engine, so the
    query CARRIES ITS OWN CHECK: it outputs the exact values (oracle-
    comparable) plus booleans asserting the sketch estimates
    (approx_count_distinct HLL, percentile_approx) land within 5% of the
    exact answers — the oracle pins the booleans to TRUE, so a sketch
    regression flips the hash. At 100 TB the sketches are the production
    path (fixed-size state, one pass); the exact twins here are the
    verification harness."""
    e = load_events(spark, sf_dir)
    exact = e.agg(
        F.countDistinct("user_id").cast("long").alias("n_exact"),
        F.expr("percentile(value, 0.5)").alias("med_exact"),
    )
    approx = e.agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_approx"),
        F.percentile_approx("value", 0.5, 10000).alias("med_approx"),
    )
    return exact.crossJoin(F.broadcast(approx)).select(
        "n_exact",
        (
            F.abs(F.col("n_approx") - F.col("n_exact"))
            / F.col("n_exact")
            < 0.05
        ).alias("distinct_within_5pct"),
        F.round("med_exact", 4).alias("median_exact"),
        (
            F.abs(F.col("med_approx") - F.col("med_exact"))
            / F.abs(F.col("med_exact"))
            < 0.05
        ).alias("median_within_5pct"),
    )


@query(
    "customer_value_ranks",
    """
    WITH spend AS (
        SELECT c.c_custkey, n.n_name,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_spend
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, n.n_name
    )
    SELECT c_custkey, n_name,
           total_spend,
           CAST(NTILE(4) OVER w AS BIGINT) AS spend_quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume_dist
    FROM spend
    WINDOW w AS (PARTITION BY n_name ORDER BY total_spend, c_custkey)
    """,
    "ranking-function suite: per-nation customer spend quartiles, "
    "percent_rank and cume_dist",
    tags=("olap", "window"),
)
def q_customer_value_ranks(spark, sf_dir):
    """Window ranking-family coverage (ntile / percent_rank / cume_dist)
    over per-nation partitions — every window partitions on n_name, so no
    single-partition stage; the spend aggregation shuffles once and the
    three ranking functions share one sorted window. Decimal sums keep
    the double totals order-independent; the deterministic (total_spend,
    c_custkey) order makes ntile ties stable across engines."""
    from pyspark.sql import Window as W

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spend")
        )
    )
    w = W.partitionBy("n_name").orderBy("total_spend", "c_custkey")
    return spend.select(
        "c_custkey",
        "n_name",
        "total_spend",
        F.ntile(4).over(w).cast("long").alias("spend_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


@query(
    "validate_documents",
    r"""
    SELECT 'doc_id_not_null' AS rule,
           CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS violations,
           SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) = 0 AS passed
    FROM documents
    UNION ALL
    SELECT 'doc_id_unique',
           CAST(COUNT(*) - COUNT(DISTINCT doc_id)
                - MAX(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(*) - COUNT(DISTINCT doc_id)
                - MAX(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) = 0
    FROM documents
    UNION ALL
    SELECT 'n_chars_in_range',
           CAST(SUM(CASE WHEN n_chars IS NULL OR n_chars < 0
                         OR n_chars > 100000 THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN n_chars IS NULL OR n_chars < 0
                    OR n_chars > 100000 THEN 1 ELSE 0 END) = 0
    FROM documents
    UNION ALL
    SELECT 'lang_is_iso2',
           CAST(SUM(CASE WHEN lang IS NULL
                         OR NOT regexp_matches(lang, '^[a-z]{2}$')
                         THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN lang IS NULL
                    OR NOT regexp_matches(lang, '^[a-z]{2}$')
                    THEN 1 ELSE 0 END) = 0
    FROM documents
    UNION ALL
    SELECT 'n_chars_consistent',
           CAST(SUM(CASE WHEN NOT (n_chars = length(text))
                         THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN NOT (n_chars = length(text)) THEN 1 ELSE 0 END) = 0
    FROM documents
    """,
    "data-quality expectations report: 5 rules over documents in one "
    "aggregation pass",
    tags=("quality", "validation"),
)
def q_validate_documents(spark, sf_dir):
    """Deequ-style expectation gate (operators/validation.py): all five
    rules — not-null, uniqueness, range, regex shape, cross-column
    consistency — evaluate in ONE aggregation job; stack pivots the wide
    row into the report. The oracle recomputes each rule independently
    (UNION ALL), so a silently-dropped rule or a miscounted violation
    breaks the hash."""
    from pramen_spark.operators.validation import validate_expectations

    d = load_table(spark, sf_dir, "documents")
    return validate_expectations(
        d,
        [
            ("doc_id_not_null", "not_null", {"col": "doc_id"}),
            ("doc_id_unique", "unique", {"col": "doc_id"}),
            ("n_chars_in_range", "in_range", {"col": "n_chars", "lo": 0, "hi": 100000}),
            ("lang_is_iso2", "matches", {"col": "lang", "pattern": r"^[a-z]{2}$"}),
            ("n_chars_consistent", "predicate", {"sql": "n_chars = length(text)"}),
        ],
    )


@query(
    "incremental_dedup_batch",
    """
    WITH seen AS (
        SELECT DISTINCT sha256(text) AS text_hash FROM documents WHERE doc_id <= 250
    ),
    batch AS (
        SELECT doc_id, sha256(text) AS text_hash FROM documents WHERE doc_id > 250
    ),
    fresh AS (
        SELECT b.doc_id, b.text_hash
        FROM batch b LEFT JOIN seen s USING (text_hash)
        WHERE s.text_hash IS NULL
    )
    SELECT doc_id, text_hash
    FROM (SELECT doc_id, text_hash,
                 ROW_NUMBER() OVER (PARTITION BY text_hash ORDER BY doc_id) AS rn
          FROM fresh)
    WHERE rn = 1
    """,
    "incremental exact dedup: new batch anti-joined against the "
    "previously-ingested hash ledger, within-batch dups collapsed",
    tags=("dedup", "incremental"),
)
def q_incremental_dedup_batch(spark, sf_dir):
    """Cross-run dedup (the incremental-pipeline shape: each run persists
    its content hashes; the next run admits only unseen content). Here the
    first half of the corpus plays the ledger and the second half the new
    batch (operators/dedup.py::dedup_against). Hash-keyed anti-join +
    keep-min — text never shuffles."""
    from pramen_spark.operators.dedup import dedup_against

    d = load_table(spark, sf_dir, "documents")
    seen = d.filter(F.col("doc_id") <= 250)
    batch = d.filter(F.col("doc_id") > 250).select("doc_id", "text")
    return dedup_against(batch, seen).select("doc_id", "text_hash")


@query(
    "minhash_incremental_batch",
    r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(t) - 2, 1) + 1),
                   i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS shingle
        FROM toks
    ),
    sh2 AS (SELECT doc_id, shingle FROM sh WHERE shingle <> ''),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id),
    kept AS (
        SELECT doc_id, shingle FROM sh2
        WHERE shingle IN (
            SELECT shingle FROM sh2 GROUP BY shingle HAVING COUNT(*) <= 1000
        )
    ),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    dup_pairs AS (
        SELECT id_a, id_b FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id > 250 AND trim(d.text) <> ''
      AND NOT EXISTS (SELECT 1 FROM dup_pairs p WHERE p.id_b = d.doc_id)
    """,
    "incremental MinHash near-dup dedup: new batch vs a persisted "
    "signature index (plus within-batch pairwise dropping)",
    tags=("dedup", "incremental"),
)
def q_minhash_incremental_batch(spark, sf_dir):
    """Near-dup analogue of incremental_dedup_batch: the first corpus
    half plays the persisted SIGNATURE index (id + 64 minhash longs —
    never text), the second half the new batch
    (operators/dedup.py::minhash_dedup_against). Candidates come from the
    LSH band join; exact-Jaccard rescoring (verify='exact') makes the
    survivor set equal to the oracle's brute-force NOT-EXISTS, since a
    batch doc survives iff no smaller-id doc (indexed or in-batch) is a
    >= 0.5 Jaccard neighbor — the pair (smaller, larger) is exactly
    dup_pairs(id_b = doc). Same banding-recall caveat as minhash_dedup
    (per-SF verification documented there); same boilerplate shingle cap
    (1000) mirrored in the oracle's kept CTE."""
    from pramen_spark.operators.dedup import (
        minhash_dedup_against,
        minhash_signatures,
    )

    d = load_documents_spread(spark, sf_dir)
    seen = d.filter(F.col("doc_id") <= 250)
    batch = d.filter(F.col("doc_id") > 250)
    idx = minhash_signatures(seen, num_hashes=64, shingle_size=3)
    out = minhash_dedup_against(
        batch,
        idx,
        num_hashes=64,
        num_bands=32,
        threshold=0.5,
        max_shingle_freq=1000,
        verify="exact",
        seen_text=seen,
    )
    return out.select("doc_id")


@query(
    "upsample_epoch_mix",
    r"""
    WITH t AS (
        SELECT doc_id, source,
               CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 3.0
                           ELSE 1.0 END AS e,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'epoch'), 1, 8))::BIGINT
                   / 4294967296.0 AS u
        FROM documents
    ),
    c AS (
        SELECT doc_id, source,
               CAST(floor(e) + CASE WHEN u < e - floor(e) THEN 1 ELSE 0 END
                    AS BIGINT) AS n_copies
        FROM t
    )
    SELECT doc_id, source, CAST(i AS BIGINT) AS copy_idx
    FROM (SELECT doc_id, source, unnest(range(n_copies)) AS i
          FROM c WHERE n_copies > 0)
    """,
    "epoch-weighted upsampling: src0 x2.5, src1 x3, everything else x1, "
    "fractional copies by document hash",
    tags=("sampling", "mixing"),
)
def q_upsample_epoch_mix(spark, sf_dir):
    """Materialized epoch weighting (the upsampling half of a training
    mix): every src0 document appears 2 or 3 times (exactly half the
    group, hash-chosen, gets the third copy), src1 exactly 3 times,
    everything else once. Pure projection + posexplode, no shuffle
    (operators/sampling.py::upsample_to_epochs)."""
    from pramen_spark.operators.sampling import upsample_to_epochs

    d = load_table(spark, sf_dir, "documents")
    out = upsample_to_epochs(d, {"src0": 2.5, "src1": 3.0})
    return out.select("doc_id", "source", F.col("copy_idx").cast("long").alias("copy_idx"))


@query(
    "semdedup_embeddings",
    """
    WITH u AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                                               CAST(embedding AS DOUBLE[])))) AS uv
        FROM embeddings
    )
    SELECT a.vec_id,
           CAST(0 AS BIGINT) AS cell,
           COALESCE(MAX(CASE WHEN list_inner_product(a.uv, b.uv) >= 0.4
                             THEN 1 ELSE 0 END), 0) = 0 AS keep
    FROM u a LEFT JOIN u b ON b.vec_id < a.vec_id
    GROUP BY a.vec_id
    """,
    "SemDeDup: semantic dedup verdict per embedding (single-cluster exact "
    "registration; production uses nlist clusters)",
    tags=("dedup", "similarity"),
)
def q_semdedup_embeddings(spark, sf_dir):
    """SemDeDup registered at nlist=1, where the within-cluster keep-first
    rule is exact over the whole corpus and the oracle is a NOT-EXISTS
    over lower-id cosine pairs (the same full-probe exactness trick as
    IVF). Production runs nlist clusters so only same-cell vectors are
    ever paired (operators/similarity.py::semdedup)."""
    from pramen_spark.operators.similarity import semdedup

    e = load_table(spark, sf_dir, "embeddings")
    return semdedup(e, threshold=0.4, nlist=1)


@query(
    "shard_assignment",
    r"""
    WITH t AS (
        SELECT doc_id,
               least(CAST(floor(
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       / 4294967296.0 * 16) AS BIGINT), 15) AS shard_id,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM t GROUP BY shard_id
    """,
    "deterministic training-shard assignment: 16 hash shards with per-shard "
    "doc and token counts",
    tags=("sampling", "export"),
)
def q_shard_assignment(spark, sf_dir):
    """Shard-export audit: assign every document its deterministic hash
    shard (operators/sampling.py::assign_shards — the same assignment
    sinks/shard_sink.py writes out) and report per-shard doc/token counts,
    the balance check run before handing shards to a training job. One
    map-side-combined groupBy on the 16 shard ids."""
    from pramen_spark.operators.sampling import assign_shards

    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    return (
        assign_shards(d, 16)
        .select("shard_id", n_tokens.alias("n_tokens"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


@query(
    "stream_windowed_counts",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    "Structured Streaming parity: watermarked hourly tumbling-window "
    "counts over the events stream equal the batch aggregate",
    tags=("streaming",),
)
def q_stream_windowed_counts(spark, sf_dir):
    """The engine's streaming aggregation path run FOR REAL — a file
    readStream over the events table, watermarked tumbling-window
    counts+sums (streaming/stream.py::windowed_aggregation), availableNow
    trigger, memory sink — checked against the batch SQL twin. Streaming
    and batch MUST agree on a bounded input; this is the parity audit the
    reference's batch/streaming split (SURVEY §1.5) implies.

    Scale: the stateful window aggregate combines partially per
    micro-batch and the watermark bounds state; on a real cluster the
    memory sink becomes a metastore foreach_batch sink
    (streaming/stream.py::metastore_foreach_batch_sink) — the plan shape
    (one keyed state exchange) is the same."""
    from pramen_spark.streaming.stream import (
        read_file_stream,
        stream_state_partitions,
        windowed_aggregation,
    )

    path = f"{sf_dir}/events.parquet"
    schema = parquet_schema(spark, path)
    # The file streaming source requires a directory or a GLOB root (a
    # bare file path makes it set basePath to the file and fail); the
    # single-character class makes this a glob matching exactly one file.
    glob_path = f"{sf_dir}/events.parque[t]"
    # Parquet stores ts as TIMESTAMP_NTZ; Spark's event-time watermark
    # requires an instant (TIMESTAMP_LTZ), so cast on the way in and cast
    # the window bound back on the way out (identity under the session's
    # UTC timezone — the contract the testdata is generated under).
    stream = read_file_stream(spark, glob_path, schema).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    agg = windowed_aggregation(
        stream,
        "ts",
        "1 hour",
        watermark="30 minutes",
        group_cols=("event_type",),
        value_col="value",
    )
    sink = "stream_windowed_counts_sink"
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
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        F.col("cnt").cast("long").alias("cnt"),
        F.round("sum_value", 4).alias("sum_value"),
    )


@query(
    "bm25_relevance_documents",
    r"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        FROM documents
    ),
    t AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM t
        WHERE token IN ('spark', 'stream', 'vector', 'window')
        GROUP BY doc_id, token
    ),
    dfreq AS (SELECT token, COUNT(*) AS df_t FROM tf GROUP BY token)
    SELECT tf.doc_id,
           ROUND(SUM(
               ln(1.0 + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
           ), 4) AS bm25
    FROM tf
    JOIN dfreq d USING (token)
    JOIN dl USING (doc_id)
    CROSS JOIN stats s
    GROUP BY tf.doc_id
    """,
    "Okapi BM25 relevance of every document against a fixed query term "
    "bag (k1=1.2, b=0.75)",
    tags=("text", "ranking"),
)
def q_bm25_relevance_documents(spark, sf_dir):
    """Lexical retrieval scoring (operators/text.py::bm25_scores): rank
    the corpus against a topical query — the candidate-pool builder for
    retrieval-based curation. One tokenize pass feeds doc lengths and
    query-term frequencies; (N, avgdl) and the per-term document
    frequencies are broadcast scalars, never corpus-joined."""
    from pramen_spark.operators.text import bm25_scores

    d = load_table(spark, sf_dir, "documents")
    return bm25_scores(d, ["spark", "stream", "vector", "window"])


@query(
    "winnow_fingerprint_documents",
    """
    WITH d AS (
        SELECT doc_id, substr(lower(text), 1, 1000) AS s FROM documents
        WHERE length(substr(lower(text), 1, 1000)) >= 11
    ),
    g AS (
        SELECT doc_id,
               CAST(i AS INTEGER) AS i,
               length(s) - 7 AS n_grams,
               ('0x' || substr(md5(substr(s, CAST(i AS INTEGER), 8)), 1, 15))::BIGINT AS h
        FROM (SELECT doc_id, s, unnest(range(1, length(s) - 6)) AS i FROM d)
    ),
    wmin AS (
        SELECT doc_id, n_grams, i,
               MIN(h) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
               ) AS fp
        FROM g
    )
    SELECT doc_id,
           CAST(MAX(n_grams) AS BIGINT) AS n_grams,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fingerprints,
           MIN(fp) AS min_fingerprint
    FROM wmin
    WHERE i <= n_grams - 3
    GROUP BY doc_id
    """,
    "winnowing (MOSS) fingerprint selection: min k-gram hash per sliding "
    "window, per-doc selected-set audit",
    tags=("text", "dedup"),
)
def q_winnow_fingerprint_documents(spark, sf_dir):
    """Winnowing fingerprints (operators/text.py::winnow_fingerprints,
    k=8 w=4): the index-builder audit for substring-level copy detection —
    any shared >=11-char span guarantees a shared fingerprint. The gram
    explode amplifies ~1000x per doc, so the narrow raw scan is spread
    first; only 8-byte hashes shuffle, once, and the per-doc aggregate
    reuses the window's partitioning."""
    from pramen_spark.operators.text import winnow_fingerprints

    d = load_documents_spread(spark, sf_dir)
    return winnow_fingerprints(d, k=8, w=4, prefix_chars=1000)


_LEAKAGE_SPLIT_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_NGRAM_SHINGLE_ORACLE}),
    und AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(v, w) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.v, u.b FROM reach r JOIN und u ON r.w = u.a
    ),
    comp AS (
        SELECT v AS vertex, LEAST(v, MIN(w)) AS component FROM reach GROUP BY v
    ),
    labeled AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_label
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.vertex
    )
    SELECT doc_id, cluster_label,
           CASE WHEN ('0x' || substr(md5(CAST(cluster_label AS VARCHAR) || 'split'), 1, 8))::BIGINT
                     / 4294967296.0 < 0.9
                THEN 'train' ELSE 'eval' END AS split
    FROM labeled
"""


@query(
    "leakage_safe_split_documents",
    _LEAKAGE_SPLIT_ORACLE,
    "near-dup-cluster-aware train/eval split: no eval document has a "
    "near-copy in train",
    tags=("sampling", "dedup"),
)
def q_leakage_safe_split_documents(spark, sf_dir):
    """Leakage-safe eval split (operators/sampling.py::leakage_safe_split):
    connected components over the exact ngram-Jaccard pair graph label
    each near-dup cluster, and the cluster — not the document — draws the
    split. Plain hash_split would put a document and its 95%-copy on
    opposite sides of the train/eval boundary; here the whole component
    inherits one salted-md5 draw, and isolated documents split exactly as
    hash_split does. The component map is pair-involved docs only, so the
    corpus-side join build is tiny."""
    from pramen_spark.operators.dedup import ngram_jaccard_pairs
    from pramen_spark.operators.sampling import leakage_safe_split

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        load_documents_spread(spark, sf_dir),
        shingle_size=3,
        threshold=0.05,
        max_shingle_freq=1000,
    )
    return leakage_safe_split(d, pairs, {"train": 0.9, "eval": 0.1})


_PROFILE_COL_TEMPLATE = """
    SELECT '{c}' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_value,
           CAST(MAX({c}) AS VARCHAR) AS max_value
    FROM documents
"""

_PROFILE_ORACLE = " UNION ALL ".join(
    _PROFILE_COL_TEMPLATE.format(c=c)
    for c in ("doc_id", "text", "lang", "source", "n_chars")
)


@query(
    "profile_documents_table",
    _PROFILE_ORACLE,
    "one-pass per-column table profile: null count, exact distinct count, "
    "min/max per column",
    tags=("validation", "monitoring"),
)
def q_profile_documents_table(spark, sf_dir):
    """Column profiling (operators/validation.py::profile_columns): the
    pre-publish table summary — every column's null/distinct/min/max from
    ONE aggregation job (exact distincts expand map-side; the HLL variant
    is the 100 TB default). Extends the reference's record-count stats
    (metastore/persistence.py record counting) to column granularity."""
    from pramen_spark.operators.validation import profile_columns

    d = load_table(spark, sf_dir, "documents")
    return profile_columns(d)


@query(
    "cohort_retention_events",
    """
    WITH e AS (
        SELECT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    f AS (
        SELECT user_id, day,
               MIN(day) OVER (PARTITION BY user_id) AS cohort_day
        FROM e
    )
    SELECT cohort_day,
           CAST(day - cohort_day AS BIGINT) AS day_offset,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM f
    GROUP BY cohort_day, day_offset
    """,
    "cohort retention triangle: users active N days after their "
    "first-seen day, grouped by first-seen cohort",
    tags=("analytics",),
)
def q_cohort_retention_events(spark, sf_dir):
    """Classic product-analytics rollup: each user's cohort is their
    first active day; the triangle counts distinct users per
    (cohort_day, day_offset). Two shuffles total — the per-user window
    for the cohort day, then the counting aggregate (distinct users
    expand inside it); no self-join of events against its own minimum.
    At 100 TB the window shuffle carries (user_id, date) pairs only."""
    from pyspark.sql import Window

    e = load_events(spark, sf_dir).select(
        "user_id", F.to_date("ts").alias("day")
    )
    f = e.withColumn(
        "cohort_day", F.min("day").over(Window.partitionBy("user_id"))
    )
    return f.groupBy(
        "cohort_day",
        F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
    ).agg(F.countDistinct("user_id").cast("long").alias("n_users"))


@query(
    "funnel_events",
    """
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = 'view' AND e.ts > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id
    )
    SELECT 'signup' AS stage, CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT 'view', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
    """,
    "ordered conversion funnel signup -> view -> purchase: users "
    "completing each stage strictly after the previous one",
    tags=("analytics",),
)
def q_funnel_events(spark, sf_dir):
    """Ordered funnel: stage N counts users whose earliest stage-N event
    falls strictly AFTER their stage-(N-1) completion time — the
    sequence-sensitive metric a naive per-type count gets wrong. Each
    stage is a filtered aggregate joined to the previous stage's per-user
    completion times; every shuffle and join keys on user_id, so AQE
    reuses one partitioning across the chain and only (user_id,
    timestamp) pairs move."""
    e = load_events(spark, sf_dir).select("user_id", "event_type", "ts")
    s1 = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "view")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = [
        s1.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("signup").alias("stage"), "n_users"
        ),
        s2.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("view").alias("stage"), "n_users"
        ),
        s3.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("purchase").alias("stage"), "n_users"
        ),
    ]
    out = counts[0].unionAll(counts[1]).unionAll(counts[2])
    return out.select("stage", F.col("n_users").cast("long").alias("n_users"))


@query(
    "apply_cdc_orders",
    """
    WITH snap AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
    ),
    changes AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice * 2 AS o_totalprice, 'U' AS op, 1 AS seq
        FROM snap WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'D', 2
        FROM snap WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, 'N', 100.0, 'I', 1
        FROM snap WHERE o_orderkey % 11 = 0
    ),
    latest AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY o_orderkey ORDER BY seq DESC, op DESC
            ) AS rn FROM changes
        ) WHERE rn = 1
    ),
    kept AS (
        SELECT s.* FROM snap s
        WHERE NOT EXISTS (
            SELECT 1 FROM latest l WHERE l.o_orderkey = s.o_orderkey
        )
    ),
    merged AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM kept
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM latest WHERE op <> 'D'
    )
    SELECT o_orderkey, o_custkey, o_orderstatus,
           ROUND(o_totalprice, 2) AS o_totalprice
    FROM merged
    """,
    "latest-wins CDC merge: apply an upsert/delete change batch to a "
    "snapshot (updates, deletes, inserts, delete-beats-update conflicts)",
    tags=("cdc", "incremental"),
)
def q_apply_cdc_orders(spark, sf_dir):
    """CDC apply (operators/cdc.py::apply_cdc): the change batch updates
    every 5th order (price doubled), deletes every 7th, inserts one per
    11th under a shifted key — with %35 keys receiving BOTH an update and
    a higher-sequence delete, so latest-wins conflict resolution is
    exercised, not just disjoint ops. The snapshot pays one anti-join on
    the key; only the (small) batch is windowed."""
    from pramen_spark.operators.cdc import apply_cdc

    snap = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    upd = snap.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    dels = snap.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit("D").alias("op"),
        F.lit(2).alias("seq"),
    )
    ins = snap.filter(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        F.lit(100.0).alias("o_totalprice"),
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
    )
    changes = upd.unionByName(dels).unionByName(ins)
    merged = apply_cdc(snap, changes, ["o_orderkey"], "seq")
    return merged.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


@query(
    "scd2_customer_status",
    """
    WITH obs AS (
        SELECT o_custkey, o_orderstatus, CAST(o_orderdate AS DATE) AS d,
               o_orderkey
        FROM orders
    ),
    with_prev AS (
        SELECT o_custkey, o_orderstatus, d, o_orderkey,
               LAG(o_orderstatus) OVER (
                   PARTITION BY o_custkey ORDER BY d, o_orderkey
               ) AS prev
        FROM obs
    ),
    versions AS (
        SELECT o_custkey, o_orderstatus, d, o_orderkey FROM with_prev
        WHERE prev IS NULL OR o_orderstatus <> prev
    )
    SELECT o_custkey, o_orderstatus,
           d AS effective_from,
           LEAD(d) OVER (
               PARTITION BY o_custkey ORDER BY d, o_orderkey
           ) AS effective_to,
           LEAD(d) OVER (
               PARTITION BY o_custkey ORDER BY d, o_orderkey
           ) IS NULL AS is_current
    FROM versions
    """,
    "SCD Type 2 dimension build: per-key attribute versions with "
    "half-open effective_from/effective_to intervals and is_current",
    tags=("cdc", "incremental"),
)
def q_scd2_customer_status(spark, sf_dir):
    """SCD2 history (operators/cdc.py::scd2_history): each customer's
    order-status observations collapse into versions that open only when
    the status CHANGES; the order-key tiebreak makes same-day
    observations deterministic. Both window passes share one key
    exchange; intervals are half-open with a NULL-ended current row."""
    from pramen_spark.operators.cdc import scd2_history

    obs = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        F.to_date("o_orderdate").alias("d"),
        "o_orderkey",
    )
    return scd2_history(
        obs,
        key_cols=["o_custkey"],
        attr_cols=["o_orderstatus"],
        date_col="d",
        tiebreak_cols=["o_orderkey"],
    )


@query(
    "scd2_incremental_customer",
    """
    WITH obs AS (
        SELECT o_custkey, o_orderstatus, CAST(o_orderdate AS DATE) AS d,
               o_orderkey
        FROM orders
    ),
    with_prev AS (
        SELECT o_custkey, o_orderstatus, d, o_orderkey,
               LAG(o_orderstatus) OVER (
                   PARTITION BY o_custkey ORDER BY d, o_orderkey
               ) AS prev
        FROM obs
    ),
    versions AS (
        SELECT o_custkey, o_orderstatus, d, o_orderkey FROM with_prev
        WHERE prev IS NULL OR o_orderstatus <> prev
    )
    SELECT o_custkey, o_orderstatus,
           d AS effective_from,
           LEAD(d) OVER (
               PARTITION BY o_custkey ORDER BY d, o_orderkey
           ) AS effective_to,
           LEAD(d) OVER (
               PARTITION BY o_custkey ORDER BY d, o_orderkey
           ) IS NULL AS is_current
    FROM versions
    """,
    "incremental SCD2 maintenance: three date-ordered batch folds equal "
    "the one-shot dimension build over the full change log",
    tags=("cdc", "incremental"),
)
def q_scd2_incremental_customer(spark, sf_dir):
    """The open-version handoff under test at catalog scale
    (operators/cdc.py::scd2_merge): the order-status change log splits at
    1997-01-01 and 1999-01-01 into three strictly date-ordered batches
    that fold into the dimension one at a time. Each fold rebuilds ONLY
    (touched open versions + batch) — closed history passes through
    unwindowed — yet the chained result must match the oracle's one-shot
    build exactly, including versions that collapse because a later
    batch re-observes an unchanged status across the boundary. The fuzz
    twin (TestCdcFuzz::test_scd2_merge_chained_equals_one_shot) proves
    the property over random logs/cuts;
    this query pins it on real data every round."""
    from pramen_spark.operators.cdc import scd2_merge

    obs = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderstatus",
        F.to_date("o_orderdate").alias("d"),
        "o_orderkey",
    )
    cuts = ["1997-01-01", "1999-01-01"]
    batches = [
        obs.filter(F.col("d") < cuts[0]),
        obs.filter((F.col("d") >= cuts[0]) & (F.col("d") < cuts[1])),
        obs.filter(F.col("d") >= cuts[1]),
    ]
    state = None
    for b in batches:
        state = scd2_merge(
            state,
            b,
            key_cols=["o_custkey"],
            attr_cols=["o_orderstatus"],
            date_col="d",
            tiebreak_cols=["o_orderkey"],
        )
    return state.select(
        "o_custkey", "o_orderstatus", "effective_from", "effective_to", "is_current"
    )


@query(
    "incremental_agg_lineitem",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           CAST(MIN(l_shipdate) AS DATE) AS min_shipdate,
           CAST(MAX(l_shipdate) AS DATE) AS max_shipdate
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    "incremental aggregate maintenance: three chained batch merges equal "
    "the one-shot aggregate over the whole table",
    tags=("cdc", "incremental"),
)
def q_incremental_agg_lineitem(spark, sf_dir):
    """Running-rollup maintenance (operators/cdc.py::merge_agg_state):
    lineitem splits into three disjoint batches (by l_orderkey % 3) that
    fold into the state one at a time — the associative merge must equal
    the single-pass GROUP BY the oracle runs. Each merge costs
    O(batch + groups), never O(history); this is the aggregation pattern
    an offset-tracked incremental pipeline (SURVEY §2.6) runs per batch."""
    from pramen_spark.operators.cdc import merge_agg_state

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        F.to_date("l_shipdate").alias("l_shipdate"),
    )
    state = None
    for i in range(3):
        batch = li.filter(F.col("l_orderkey") % 3 == i).drop("l_orderkey")
        state = merge_agg_state(
            state,
            batch,
            group_cols=["l_returnflag", "l_linestatus"],
            sum_cols=["l_quantity", "l_extendedprice"],
            min_cols=["l_shipdate"],
            max_cols=["l_shipdate"],
        )
    return state.select(
        "l_returnflag",
        "l_linestatus",
        "n_rows",
        F.round("sum_l_quantity", 2).alias("sum_qty"),
        F.round("sum_l_extendedprice", 2).alias("sum_price"),
        F.col("min_l_shipdate").alias("min_shipdate"),
        F.col("max_l_shipdate").alias("max_shipdate"),
    )


@query(
    "incremental_agg_join_lineitem",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           CAST(MIN(l_shipdate) AS DATE) AS min_shipdate,
           CAST(MAX(l_shipdate) AS DATE) AS max_shipdate
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    "incremental aggregate maintenance via the FULL OUTER JOIN merge "
    "(bucketed-state form): chained folds equal the one-shot GROUP BY",
    tags=("cdc", "incremental", "scale"),
)
def q_incremental_agg_join_lineitem(spark, sf_dir):
    """The bucketed-state counterpart of incremental_agg_lineitem
    (operators/cdc.py::merge_agg_state_join): the same three chained
    batch folds, but each merge is a full-outer join on the group columns
    instead of union+agg. Against a state persisted with
    persist_agg_state (bucketed by the groups) the state side of this
    join needs NO exchange — per-batch cost O(batch + touched groups),
    independent of state size (plan-asserted by
    TestAggStateBucketing). Here the state stays in memory so both
    merge forms are exercised oracle-equal."""
    from pramen_spark.operators.cdc import merge_agg_state, merge_agg_state_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        F.to_date("l_shipdate").alias("l_shipdate"),
    )
    kw = dict(
        group_cols=["l_returnflag", "l_linestatus"],
        sum_cols=["l_quantity", "l_extendedprice"],
        min_cols=["l_shipdate"],
        max_cols=["l_shipdate"],
    )
    state = None
    for i in range(3):
        batch = li.filter(F.col("l_orderkey") % 3 == i).drop("l_orderkey")
        if state is None:
            state = merge_agg_state(None, batch, **kw)
        else:
            state = merge_agg_state_join(state, batch, **kw)
    return state.select(
        "l_returnflag",
        "l_linestatus",
        "n_rows",
        F.round("sum_l_quantity", 2).alias("sum_qty"),
        F.round("sum_l_extendedprice", 2).alias("sum_price"),
        F.col("min_l_shipdate").alias("min_shipdate"),
        F.col("max_l_shipdate").alias("max_shipdate"),
    )


@query(
    "reconcile_orders_copy",
    """
    WITH lft AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price
        FROM orders
    ),
    rgt AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(CAST(
                   CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice * 2
                        ELSE o_totalprice END AS DECIMAL(18,2)) AS VARCHAR) AS price
        FROM orders WHERE o_orderkey % 97 <> 0
    ),
    la AS (
        SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
                   % 64 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_left,
               bit_xor(('0x' || substr(md5(
                   CAST(o_orderkey AS VARCHAR) || chr(31)
                   || CAST(o_custkey AS VARCHAR) || chr(31)
                   || o_orderstatus || chr(31) || price), 1, 15))::BIGINT)
                   AS digest_left
        FROM lft GROUP BY 1
    ),
    ra AS (
        SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
                   % 64 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_right,
               bit_xor(('0x' || substr(md5(
                   CAST(o_orderkey AS VARCHAR) || chr(31)
                   || CAST(o_custkey AS VARCHAR) || chr(31)
                   || o_orderstatus || chr(31) || price), 1, 15))::BIGINT)
                   AS digest_right
        FROM rgt GROUP BY 1
    )
    SELECT COALESCE(la.bucket, ra.bucket) AS bucket,
           CAST(COALESCE(n_left, 0) AS BIGINT) AS n_left,
           CAST(COALESCE(n_right, 0) AS BIGINT) AS n_right,
           digest_left, digest_right,
           (COALESCE(n_left, 0) = COALESCE(n_right, 0)
            AND COALESCE(digest_left = digest_right, FALSE)) AS match
    FROM la FULL OUTER JOIN ra ON la.bucket = ra.bucket
    """,
    "Merkle-style table reconciliation: per-bucket row counts and XOR "
    "content digests expose where a drifted copy diverges",
    tags=("validation", "monitoring"),
)
def q_reconcile_orders_copy(spark, sf_dir):
    """Copy-integrity audit (operators/reconcile.py::reconcile_tables):
    the 'copy' drops every 97th order and doubles every 89th price — the
    per-bucket count+digest comparison must flag exactly those buckets
    while the untouched ones match. Each side is one map-side-combined
    aggregation to 64 rows; nothing but (bucket, count, digest) partials
    ever shuffles, at any table size. The double column is pre-cast to
    DECIMAL(18,2) so its string form is engine-portable."""
    from pramen_spark.operators.reconcile import reconcile_tables

    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)").cast("string")
    left = o.select(
        "o_orderkey", "o_custkey", "o_orderstatus", price.alias("price")
    )
    drifted_price = (
        F.when(F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") * 2)
        .otherwise(F.col("o_totalprice"))
        .cast("decimal(18,2)")
        .cast("string")
    )
    right = o.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", drifted_price.alias("price")
    )
    return reconcile_tables(
        left,
        right,
        key_cols=["o_orderkey"],
        value_cols=["o_custkey", "o_orderstatus", "price"],
        num_buckets=64,
    )


@query(
    "quantize_embeddings_int8",
    """
    WITH s AS (
        SELECT vec_id, embedding,
               CAST(list_max(list_transform(embedding, x -> abs(x)))
                    AS DOUBLE) / 127.0 AS scale
        FROM embeddings
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           array_to_string(
               CASE WHEN scale = 0
                    THEN list_transform(embedding, x -> 0)
                    ELSE list_transform(
                        embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) / scale) AS INTEGER))
               END, ',') AS qvec,
           CASE WHEN scale = 0 THEN 0.0
                ELSE ROUND(list_max(list_transform(
                    embedding,
                    x -> abs(CAST(x AS DOUBLE)
                             - round(CAST(x AS DOUBLE) / scale) * scale))), 6)
           END AS max_abs_err
    FROM s
    """,
    "symmetric int8 embedding quantization with per-vector scale and "
    "reconstruction-error audit",
    tags=("similarity", "embeddings"),
)
def q_quantize_embeddings_int8(spark, sf_dir):
    """Index compression (operators/similarity.py::quantize_embeddings):
    per-vector symmetric int8 with the max_abs_err <= scale/2 bound as an
    audit column — the check run before serving ANN candidates from the
    4x-smaller int8 index. Pure codegen projection: zero shuffles.

    The operator returns ``qvec`` as array<int> (what an index consumer
    wants); the QUERY serializes it to a comma-joined scalar because the
    driver's pandas canonicalizer cannot hash list cells (VERDICT r12
    #2 — the one red driver row of the round)."""
    from pramen_spark.operators.similarity import quantize_embeddings

    q = quantize_embeddings(load_table(spark, sf_dir, "embeddings"))
    return q.withColumn(
        "qvec",
        # NULL-array guard: Spark concat_ws(null) is '' but the DuckDB
        # oracle's array_to_string(NULL) is NULL (ADVICE r13).
        F.when(F.col("qvec").isNull(), F.lit(None).cast("string")).otherwise(
            F.concat_ws(",", F.col("qvec").cast("array<string>"))
        ),
    )


@query(
    "stream_sliding_counts",
    """
    WITH w AS (
        SELECT date_trunc('hour', ts) AS w0, event_type FROM events
    ),
    ex AS (
        SELECT w0 AS window_start, event_type FROM w
        UNION ALL
        SELECT w0 - INTERVAL 1 HOUR, event_type FROM w
    )
    SELECT window_start, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM ex GROUP BY 1, 2
    """,
    "Structured Streaming parity for HOPPING windows: 2h windows sliding "
    "by 1h — every event counts in exactly two windows",
    tags=("streaming",),
)
def q_stream_sliding_counts(spark, sf_dir):
    """Sliding (hopping) window parity, run as a REAL streaming query like
    stream_windowed_counts: 2-hour windows every hour mean each event
    belongs to the two windows starting at trunc_hour(ts) and the hour
    before — which is exactly how the batch oracle expands it. The
    stateful aggregate keys on (window, type); the watermark bounds how
    many open windows the store holds."""
    from pramen_spark.streaming.stream import (
        read_file_stream,
        stream_state_partitions,
        windowed_aggregation,
    )

    path = f"{sf_dir}/events.parquet"
    schema = parquet_schema(spark, path)
    glob_path = f"{sf_dir}/events.parque[t]"
    stream = read_file_stream(spark, glob_path, schema).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    agg = windowed_aggregation(
        stream,
        "ts",
        "2 hours",
        slide_duration="1 hour",
        watermark="30 minutes",
        group_cols=("event_type",),
    )
    sink = "stream_sliding_counts_sink"
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
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        "event_type",
        F.col("cnt").cast("long").alias("cnt"),
    )


def _pagerank_oracle(n_iter: int = 10, d: float = 0.85) -> str:
    """Unrolled PageRank replay: one CTE trio (dangling mass, contribs,
    new ranks) per iteration — recursive CTEs cannot aggregate over the
    recursive term, so a FIXED iteration count unrolls instead."""
    head = """
    WITH edges AS MATERIALIZED (
        SELECT o.o_custkey AS a, l.l_suppkey + 1000000 AS b
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    verts AS MATERIALIZED (SELECT a AS v FROM edges UNION SELECT b FROM edges),
    nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
    deg AS MATERIALIZED (SELECT a, COUNT(*) AS dd FROM edges GROUP BY a),
    pr0 AS MATERIALIZED (SELECT v, 1.0 / nn.n AS r FROM verts CROSS JOIN nn)"""
    steps = []
    for i in range(1, n_iter + 1):
        p = f"pr{i - 1}"
        steps.append(
            f"""
    dang{i} AS MATERIALIZED (
        SELECT COALESCE(SUM(p.r), 0) AS m
        FROM {p} p LEFT JOIN deg ON p.v = deg.a WHERE deg.a IS NULL
    ),
    contrib{i} AS MATERIALIZED (
        SELECT e.b AS v, SUM(p.r / deg.dd) AS c
        FROM edges e JOIN {p} p ON e.a = p.v JOIN deg ON deg.a = e.a
        GROUP BY e.b
    ),
    pr{i} AS MATERIALIZED (
        SELECT t.v,
               (1 - {d}) / nn.n + {d} * (COALESCE(c.c, 0) + g.m / nn.n) AS r
        FROM verts t CROSS JOIN nn CROSS JOIN dang{i} g
        LEFT JOIN contrib{i} c ON c.v = t.v
    )"""
        )
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
    SELECT v AS vertex, ROUND(r, 8) AS pr FROM pr{n_iter}
    """
    )


@query(
    "pagerank_purchase_graph",
    _pagerank_oracle(),
    "PageRank (10 synchronous iterations, damping 0.85, dangling-mass "
    "redistribution) over the directed customer -> supplier purchase graph",
    tags=("graph",),
)
def q_pagerank_purchase_graph(spark, sf_dir):
    """Iterative graph algorithm checked exactly (operators/graph.py::
    pagerank): the purchase graph is bipartite and directed — customers
    have only out-edges, suppliers only in-edges — so every supplier is
    DANGLING and the uniform mass redistribution is exercised every
    round, not just on edge cases. Fixed iteration count makes the
    result deterministic; the oracle replays the same 10 synchronous
    updates unrolled. Per iteration: one co-keyed join + one map-side
    combined aggregate (Pregel messages on DataFrames), a 1-row dangling
    broadcast, and lineage truncated every 3 rounds."""
    from pramen_spark.operators.graph import pagerank

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + 1000000).alias("dst"),
    )
    ranks = pagerank(edges, damping=0.85, n_iter=10)
    return ranks.select("vertex", F.round("rank", 8).alias("pr"))


@query(
    "incremental_distinct_hll",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS within_5pct
    FROM events
    GROUP BY event_type
    """,
    "incremental distinct-user maintenance: three chained HLL sketch "
    "merges must estimate the one-shot exact distinct within 5%",
    tags=("cdc", "incremental", "sketch"),
)
def q_incremental_distinct_hll(spark, sf_dir):
    """Mergeable distinct state (operators/cdc.py::merge_distinct_state):
    exact distincts cannot fold across batches, HLL sketches can — three
    disjoint event batches merge into one sketch per event_type, and the
    query CARRIES ITS OWN CHECK (the approx_aggregates_selfcheck
    pattern): it outputs the exact distinct count (oracle-matched) plus
    a within-5% verdict computed from the sketch estimate, so estimator
    drift fails the driver gate even though sketch binaries cannot
    hash-match another engine."""
    from pramen_spark.operators.cdc import estimate_distinct, merge_distinct_state

    e = load_events(spark, sf_dir).select("event_id", "event_type", "user_id")
    state = None
    for i in range(3):
        state = merge_distinct_state(
            state,
            e.filter(F.col("event_id") % 3 == i),
            group_cols=["event_type"],
            key_col="user_id",
        )
    est = estimate_distinct(state)
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return exact.join(est, "event_type").select(
        "event_type",
        "n_exact",
        (
            F.abs(F.col("n_distinct_est") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("within_5pct"),
    )


@query(
    "value_percentiles_daily",
    """
    SELECT CAST(ts AS DATE) AS day,
           ROUND(quantile_cont(value, 0.5), 4) AS p50,
           ROUND(quantile_cont(value, 0.95), 4) AS p95,
           ROUND(quantile_cont(value, 0.99), 4) AS p99
    FROM events
    GROUP BY 1
    """,
    "daily P50/P95/P99 of the event value (exact interpolated "
    "percentiles)",
    tags=("analytics", "monitoring"),
)
def q_value_percentiles_daily(spark, sf_dir):
    """Daily latency-style percentile monitoring: exact interpolated
    percentiles per day (Spark `percentile` and DuckDB `quantile_cont`
    implement the same p*(n-1) linear interpolation). Exact grouped
    percentiles sort each day's values inside the aggregate — fine for
    day-sized groups; at 100 TB swap in approx_percentile and keep the
    within-tolerance self-check (the sketch pattern
    approx_aggregates_selfcheck / incremental_distinct_hll use)."""
    e = load_events(spark, sf_dir).select(
        F.to_date("ts").alias("day"), "value"
    )
    pct = F.percentile(F.col("value"), F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)))
    return e.groupBy("day").agg(
        F.round(F.element_at(pct, 1), 4).alias("p50"),
        F.round(F.element_at(pct, 2), 4).alias("p95"),
        F.round(F.element_at(pct, 3), 4).alias("p99"),
    )


@query(
    "weighted_sample_documents",
    """
    WITH scored AS (
        SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS weight,
               ln(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'wsample'), 1, 8))::BIGINT
                  / 4294967296.0) / n_chars AS s
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, weight, ROUND(s, 8) AS sample_score
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY lang ORDER BY s DESC, doc_id
        ) AS rn FROM scored
    ) WHERE rn <= 50
    """,
    "deterministic weighted sampling without replacement (derandomized "
    "Efraimidis-Spirakis): per-language top-50 by ln(u)/weight",
    tags=("sampling",),
)
def q_weighted_sample_documents(spark, sf_dir):
    """Quality-weighted selection (operators/sampling.py::
    weighted_sample_topk): longer documents are proportionally MORE
    likely — never certain — to be kept, per language, and the draw is
    reproducible from the doc-id hash (re-runs never swap the sample).
    Scoring is a projection; the per-group top-k is one window per
    language partition."""
    from pramen_spark.operators.sampling import weighted_sample_topk

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("double").alias("weight")
    )
    out = weighted_sample_topk(
        d, "weight", 50, key_col="doc_id", group_cols=["lang"]
    )
    return out.select(
        "doc_id", "lang", "weight", F.round("sample_score", 8).alias("sample_score")
    )


def _hits_oracle(n_iter: int = 8) -> str:
    """Unrolled HITS replay (same mechanism as the pagerank oracle):
    one (authority-raw, authority, hub-raw, hub) CTE quad per iteration,
    every level MATERIALIZED so references do not inline exponentially."""
    head = """
    WITH edges AS MATERIALIZED (
        SELECT o.o_custkey AS a, l.l_suppkey + 1000000 AS b
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    verts AS MATERIALIZED (SELECT a AS v FROM edges UNION SELECT b FROM edges),
    h0 AS MATERIALIZED (SELECT v, CAST(1.0 AS DOUBLE) AS s FROM verts)"""
    steps = []
    for i in range(1, n_iter + 1):
        steps.append(
            f"""
    araw{i} AS MATERIALIZED (
        SELECT e.b AS v, SUM(p.s) AS raw
        FROM edges e JOIN h{i - 1} p ON e.a = p.v GROUP BY e.b
    ),
    a{i} AS MATERIALIZED (
        SELECT t.v, COALESCE(r.raw, 0) / m.mx AS s
        FROM verts t
        CROSS JOIN (SELECT MAX(raw) AS mx FROM araw{i}) m
        LEFT JOIN araw{i} r ON r.v = t.v
    ),
    hraw{i} AS MATERIALIZED (
        SELECT e.a AS v, SUM(p.s) AS raw
        FROM edges e JOIN a{i} p ON e.b = p.v GROUP BY e.a
    ),
    h{i} AS MATERIALIZED (
        SELECT t.v, COALESCE(r.raw, 0) / m.mx AS s
        FROM verts t
        CROSS JOIN (SELECT MAX(raw) AS mx FROM hraw{i}) m
        LEFT JOIN hraw{i} r ON r.v = t.v
    )"""
        )
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
    SELECT h.v AS vertex, ROUND(h.s, 8) AS hub, ROUND(a.s, 8) AS authority
    FROM h{n_iter} h JOIN a{n_iter} a ON h.v = a.v
    """
    )


@query(
    "hits_purchase_graph",
    _hits_oracle(),
    "HITS hubs and authorities (8 max-normalized iterations) over the "
    "directed customer -> supplier purchase graph",
    tags=("graph",),
)
def q_hits_purchase_graph(spark, sf_dir):
    """Mutual-reinforcement ranking (operators/graph.py::hits): on the
    bipartite purchase graph hubs rank customers by how much volume they
    send to strong suppliers and authorities rank suppliers by the
    strength of their buyers — the two-sided structure a single PageRank
    score flattens. Max normalization keeps every step division-only,
    so the unrolled oracle replays it exactly. Same iteration scaffolding
    as pagerank: static edges, broadcast score tables under the 1M-vertex
    envelope, lineage truncated every other round."""
    from pramen_spark.operators.graph import hits

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + 1000000).alias("dst"),
    )
    out = hits(edges, n_iter=8)
    return out.select(
        "vertex",
        F.round("hub", 8).alias("hub"),
        F.round("authority", 8).alias("authority"),
    )


@query(
    "trend_slope_daily",
    """
    WITH daily AS (
        SELECT event_type,
               CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS DOUBLE) AS x,
               SUM(value) AS y
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(regr_slope(y, x), 4) AS slope,
           ROUND(regr_intercept(y, x), 4) AS intercept,
           ROUND(corr(y, x) * corr(y, x), 4) AS r2
    FROM daily
    GROUP BY event_type
    """,
    "per-type daily-volume trend: closed-form OLS slope/intercept/r2 "
    "over the day index",
    tags=("analytics", "monitoring"),
)
def q_trend_slope_daily(spark, sf_dir):
    """Trend monitoring as two map-side-combined aggregations: daily
    volumes per type, then the closed-form OLS fit from covariance
    aggregates — slope = covar_pop(y,x)/var_pop(x), intercept from the
    means, r2 from corr — exactly DuckDB's regr_* definitions, so the
    fit is oracle-exact. The trend a freshness/volume alert consumes; at
    any scale the regression state is six running sums per group."""
    e = load_events(spark, sf_dir)
    daily = (
        e.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            .cast("double")
            .alias("x"),
        )
        .agg(F.sum("value").alias("y"))
    )
    slope = F.covar_pop("y", "x") / F.var_pop("x")
    return daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(slope, 4).alias("slope"),
        F.round(F.avg("y") - slope * F.avg("x"), 4).alias("intercept"),
        F.round(F.corr("y", "x") * F.corr("y", "x"), 4).alias("r2"),
    )


_RECON_KEY_SQL = "('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT"
_RECON_DIG_SQL = (
    "('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || chr(31) "
    "|| CAST(o_custkey AS VARCHAR) || chr(31) || o_orderstatus || chr(31) "
    "|| price), 1, 15))::BIGINT"
)

_DRILLDOWN_ORACLE = f"""
    WITH lft AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price
        FROM orders
    ),
    rgt AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(CAST(
                   CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice * 2
                        ELSE o_totalprice END AS DECIMAL(18,2)) AS VARCHAR) AS price
        FROM orders WHERE o_orderkey % 97 <> 0
    ),
    cl AS (
        SELECT {_RECON_KEY_SQL} % 16 AS b, CAST(COUNT(*) AS BIGINT) AS n_l,
               bit_xor({_RECON_DIG_SQL}) AS x_l
        FROM lft GROUP BY 1
    ),
    cr AS (
        SELECT {_RECON_KEY_SQL} % 16 AS b, CAST(COUNT(*) AS BIGINT) AS n_r,
               bit_xor({_RECON_DIG_SQL}) AS x_r
        FROM rgt GROUP BY 1
    ),
    bad AS (
        SELECT COALESCE(cl.b, cr.b) AS b
        FROM cl FULL OUTER JOIN cr ON cl.b = cr.b
        WHERE NOT (COALESCE(n_l, 0) = COALESCE(n_r, 0)
                   AND COALESCE(x_l = x_r, FALSE))
    ),
    fl AS (
        SELECT {_RECON_KEY_SQL} % 256 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_left,
               bit_xor({_RECON_DIG_SQL}) AS digest_left
        FROM lft WHERE {_RECON_KEY_SQL} % 16 IN (SELECT b FROM bad)
        GROUP BY 1
    ),
    fr AS (
        SELECT {_RECON_KEY_SQL} % 256 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_right,
               bit_xor({_RECON_DIG_SQL}) AS digest_right
        FROM rgt WHERE {_RECON_KEY_SQL} % 16 IN (SELECT b FROM bad)
        GROUP BY 1
    )
    SELECT COALESCE(fl.bucket, fr.bucket) AS bucket,
           CAST(COALESCE(n_left, 0) AS BIGINT) AS n_left,
           CAST(COALESCE(n_right, 0) AS BIGINT) AS n_right,
           digest_left, digest_right,
           (COALESCE(n_left, 0) = COALESCE(n_right, 0)
            AND COALESCE(digest_left = digest_right, FALSE)) AS match
    FROM fl FULL OUTER JOIN fr ON fl.bucket = fr.bucket
"""


@query(
    "reconcile_drilldown_orders",
    _DRILLDOWN_ORACLE,
    "Merkle descent step: fine-grained re-reconciliation of ONLY the "
    "coarse buckets the first pass flagged",
    tags=("validation", "monitoring"),
)
def q_reconcile_drilldown_orders(spark, sf_dir):
    """The descent reconcile_tables' docstring promises, run for real
    (operators/reconcile.py::reconcile_drilldown): a 16-bucket coarse
    pass flags the damaged buckets (same injected drift as
    reconcile_orders_copy), and the 256-bucket second pass touches only
    those buckets' rows — the scan shrinks proportionally to the damage,
    and iterating narrows a 100 TB diff to the changed keys in O(log)
    aggregate-only passes. The only driver traffic is the <= 16
    mismatched coarse ids."""
    from pramen_spark.operators.reconcile import reconcile_drilldown

    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)").cast("string")
    left = o.select(
        "o_orderkey", "o_custkey", "o_orderstatus", price.alias("price")
    )
    drifted_price = (
        F.when(F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") * 2)
        .otherwise(F.col("o_totalprice"))
        .cast("decimal(18,2)")
        .cast("string")
    )
    right = o.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", drifted_price.alias("price")
    )
    return reconcile_drilldown(
        left,
        right,
        key_cols=["o_orderkey"],
        value_cols=["o_custkey", "o_orderstatus", "price"],
        coarse_buckets=16,
        fine_buckets=256,
    )


@query(
    "anomaly_mad_daily",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    med AS (
        SELECT event_type, median(cnt) AS m FROM daily GROUP BY 1
    ),
    mads AS (
        SELECT d.event_type, median(abs(cnt - m)) AS mad
        FROM daily d JOIN med USING (event_type) GROUP BY 1
    )
    SELECT d.event_type, day, cnt,
           ROUND(m, 4) AS median_value,
           ROUND(mad, 4) AS mad,
           ROUND(CASE WHEN mad > 0 THEN abs(cnt - m) / (1.4826 * mad)
                      WHEN abs(cnt - m) = 0 THEN 0.0
                      ELSE NULL END, 4) AS robust_z,
           CASE WHEN mad > 0 THEN abs(cnt - m) / (1.4826 * mad) > 3.0
                ELSE abs(cnt - m) > 0 END AS is_anomaly
    FROM daily d JOIN med USING (event_type) JOIN mads USING (event_type)
    """,
    "robust anomaly detection: median/MAD z-scores over daily event "
    "counts per type, 3-sigma flag",
    tags=("analytics", "monitoring"),
)
def q_anomaly_mad_daily(spark, sf_dir):
    """Robust outlier gate (operators/anomaly.py::mad_anomalies) over the
    daily volume series: median and MAD per event type (both EXACT
    interpolating percentiles, matching DuckDB's median), then flag days
    whose deviation exceeds 3 robust sigmas. Unlike mean/stddev z-scores
    the spike being hunted cannot mask itself. The detector's input is
    already an aggregate (days x types), so the exact per-group
    percentile sorts a bounded set — the raw 100 TB is reduced by the
    first map-side-combined count."""
    from pramen_spark.operators.anomaly import mad_anomalies

    e = load_events(spark, sf_dir)
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    out = mad_anomalies(daily, ["event_type"], "cnt", threshold=3.0)
    return out.select(
        "event_type",
        "day",
        "cnt",
        F.round("median_value", 4).alias("median_value"),
        F.round("mad", 4).alias("mad"),
        F.round("robust_z", 4).alias("robust_z"),
        "is_anomaly",
    )


@query(
    "event_transitions_markov",
    """
    WITH nxt AS (
        SELECT event_type AS src,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS dst
        FROM events
    ),
    cnt AS (
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n_transitions
        FROM nxt WHERE dst IS NOT NULL GROUP BY 1, 2
    )
    SELECT src, dst, n_transitions,
           ROUND(n_transitions * 1.0
                 / SUM(n_transitions) OVER (PARTITION BY src), 6) AS prob
    FROM cnt
    """,
    "Markov transition matrix over per-user ordered event streams: "
    "(src, dst, count, probability)",
    tags=("analytics", "sequences"),
)
def q_event_transitions_markov(spark, sf_dir):
    """First-order Markov chain of user behavior (operators/sequences.py::
    transition_matrix): one entity-partitioned window forms adjacent
    (src, dst) state pairs (event_id tiebreak makes the order total),
    one map-side-combined count aggregates them, and the per-source
    normalization windows over the tiny distinct-pairs result — two
    shuffles of the raw events, both on high-cardinality keys. Feeds
    next-event baselines, churn-path audits, and UI-flow monitoring."""
    from pramen_spark.operators.sequences import transition_matrix

    e = load_events(spark, sf_dir)
    out = transition_matrix(e, "user_id", "event_type", ["ts", "event_id"])
    return out.select(
        "src", "dst", "n_transitions", F.round("prob", 6).alias("prob")
    )


@query(
    "skew_profile_orders",
    """
    WITH counts AS (
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1
    )
    SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(c) AS BIGINT) AS max_rows,
           ROUND(MAX(c) * 1.0 / SUM(c), 6) AS top1_share,
           ROUND(quantile_cont(c, 0.5), 6) AS p50_rows,
           ROUND(quantile_cont(c, 0.9), 6) AS p90_rows,
           ROUND(quantile_cont(c, 0.99), 6) AS p99_rows,
           ROUND(AVG(c), 6) AS mean_rows,
           ROUND(MAX(c) * 1.0 / AVG(c), 6) AS skew_ratio
    FROM counts
    """,
    "join/shuffle-skew diagnostic: distribution summary of rows-per-key "
    "for a candidate shuffle key",
    tags=("validation", "monitoring"),
)
def q_skew_profile_orders(spark, sf_dir):
    """The measurement behind every salting / AQE-skew decision
    (operators/validation.py::key_skew_profile): per-key counts then a
    one-row distribution summary (max, top-1 share, exact interpolating
    p50/p90/p99 of rows-per-key, skew ratio). Two aggregations; the
    second reduces one-row-per-key to one row total — the cheap question
    to ask before shuffling 100 TB on a key."""
    from pramen_spark.operators.validation import key_skew_profile

    o = load_table(spark, sf_dir, "orders")
    prof = key_skew_profile(o, "o_custkey")
    return prof.select(
        "n_rows",
        "n_keys",
        "max_rows",
        "top1_share",
        F.round("p50_rows", 6).alias("p50_rows"),
        F.round("p90_rows", 6).alias("p90_rows"),
        F.round("p99_rows", 6).alias("p99_rows"),
        "mean_rows",
        "skew_ratio",
    )


@query(
    "readability_documents",
    r"""
    WITH c AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '\S+')) AS w,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
               len(regexp_extract_all(lower(text), '[aeiouy]+')) AS v
        FROM documents
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS n_words,
           CAST(s AS BIGINT) AS n_sentences,
           CAST(greatest(v, w) AS BIGINT) AS n_syllables,
           ROUND(CASE WHEN w > 0
                      THEN 206.835 - 1.015 * w / s
                           - 84.6 * greatest(v, w) / w
                 END, 4) AS flesch_reading_ease
    FROM c
    """,
    "Flesch reading ease per document from regex word/sentence/"
    "vowel-group counts",
    tags=("text",),
)
def q_readability_documents(spark, sf_dir):
    """The readability axis of the curation gate family
    (operators/text.py::readability_scores): FRE from three
    regexp_extract_all counts — words, sentence-ending punctuation runs,
    vowel-group syllable approximation — inside one codegen'd projection.
    Zero shuffles; the regexes carry identical semantics in DuckDB so
    the score is oracle-exact. Feeds audience filters and the
    easy-to-hard curriculum ordering."""
    from pramen_spark.operators.text import readability_scores

    d = load_table(spark, sf_dir, "documents")
    out = readability_scores(d)
    return out.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round("flesch_reading_ease", 4).alias("flesch_reading_ease"),
    )


@query(
    "curriculum_buckets_documents",
    """
    WITH b AS (
        SELECT lang, n_chars,
               ntile(10) OVER (
                   PARTITION BY lang ORDER BY n_chars, doc_id) AS bucket
        FROM documents
    )
    SELECT lang, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           ROUND(AVG(n_chars), 4) AS avg_chars
    FROM b GROUP BY 1, 2
    """,
    "curriculum-learning deciles: per-language NTILE(10) over document "
    "length, with per-bucket stats",
    tags=("sampling", "training"),
)
def q_curriculum_buckets_documents(spark, sf_dir):
    """Easy-to-hard phase assignment for a training loader
    (operators/sampling.py::curriculum_buckets): NTILE(10) over the
    total order (n_chars, doc_id) within each language, then per-bucket
    occupancy and length stats. The doc_id tiebreak makes the decile
    assignment deterministic (Spark and DuckDB share NTILE's
    remainder-to-first rule). The window partitions by language — a
    hash-partitioned per-group sort, not a global one — and the
    summary aggregation is map-side combined."""
    from pramen_spark.operators.sampling import curriculum_buckets

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    b = curriculum_buckets(
        d, "n_chars", "doc_id", n_buckets=10, partition_col="lang"
    )
    return b.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


@query(
    "json_props_events",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS n_with_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
    "semi-structured JSON properties: typed extraction from the props "
    "column and per-type aggregation",
    tags=("relational", "json"),
)
def q_json_props_events(spark, sf_dir):
    """The semi-structured path every event pipeline needs: ``props``
    carries JSON; ``get_json_object`` extracts ``$.k`` JVM-side (codegen,
    no Python) and the cast-to-long feeds ordinary aggregation. At
    100 TB prefer ``from_json`` with an explicit schema once the shape
    is known (single parse, columnar struct access) — per-path
    extraction re-parses per path; this query has one path so they tie.
    Malformed/missing keys become NULLs and drop out of COUNT(col)/SUM
    identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count(k).cast("long").alias("n_with_k"),
        F.sum(k).cast("long").alias("sum_k"),
        F.max(k).cast("long").alias("max_k"),
    )


@query(
    "grouping_sets_revenue",
    """
    SELECT n_name,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name, order_year), (n_name), (order_year))
    """,
    "GROUPING SETS: nation x year, nation-only, and year-only revenue "
    "rollups in one pass (the subtotal shapes CUBE can't pick freely)",
    tags=("relational", "olap"),
)
def q_grouping_sets_revenue(spark, sf_dir):
    """The free-form subtotal surface (CUBE/ROLLUP's general form,
    SURVEY's OLAP family): three chosen grouping shapes — (nation, year),
    (nation), (year) — computed in ONE pass via Expand (each input row
    replicates once per grouping set, then a single hash aggregation;
    never three scans). Dimension joins broadcast; the decimal revenue
    is exact under every grouping."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.year(F.to_date("o_orderdate")).cast("long").alias("order_year"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = o.join(
        F.broadcast(c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])),
        o["o_custkey"] == c["c_custkey"],
    ).select("n_name", "order_year", "price")
    joined.createOrReplaceTempView("_gs_rev")
    return joined.sparkSession.sql(
        """
        SELECT n_name, order_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(ROUND(SUM(price), 2) AS DOUBLE) AS revenue
        FROM _gs_rev
        GROUP BY GROUPING SETS ((n_name, order_year), (n_name), (order_year))
        """
    )


@query(
    "twap_events",
    """
    WITH e AS (
        SELECT user_id, event_id, CAST(value AS DOUBLE) AS v,
               epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        FROM events
    ),
    g AS (
        SELECT user_id, v, tus,
               lead(tus) OVER (PARTITION BY user_id
                               ORDER BY tus, event_id) - tus AS gap_us
        FROM e
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(tus) - MIN(tus) AS BIGINT) AS span_us,
           ROUND(SUM(v * gap_us) / SUM(gap_us), 4) AS twap
    FROM g GROUP BY user_id
    """,
    "time-weighted average: each value weighted by its holding duration "
    "until the next observation, per user",
    tags=("analytics", "timeseries"),
)
def q_twap_events(spark, sf_dir):
    """The correct 'average state' for irregular sampling
    (operators/sequences.py::time_weighted_avg): burst-sampled moments
    stop dominating the mean because each value weighs its holding
    interval (lead-gap in exact integer micros; only the final products
    are doubles). One window pass per user + one map-side-combined
    aggregation; the last observation holds nothing and singleton users
    surface NULL via try_divide."""
    from pramen_spark.operators.sequences import time_weighted_avg

    ev = load_table(spark, sf_dir, "events")
    return time_weighted_avg(ev)


@query(
    "cusum_changepoint_daily",
    """
    WITH series AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
               COUNT(*) AS x
        FROM events GROUP BY 1, 2
    ),
    with_mean AS (
        SELECT *, AVG(x) OVER (PARTITION BY event_type) AS m FROM series
    ),
    cus AS (
        SELECT event_type, d,
               ROUND(SUM(x - m) OVER (PARTITION BY event_type ORDER BY d),
                     4) AS c
        FROM with_mean
    ),
    ranked AS (
        SELECT event_type, d, ABS(c) AS a,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ABS(c) DESC, d) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM cus
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_points,
           d AS changepoint_at, a AS max_abs_cusum
    FROM ranked WHERE rn = 1
    """,
    "CUSUM change-point localization: argmax |running deviation sum| "
    "over each type's daily-count series",
    tags=("anomaly", "monitoring"),
)
def q_cusum_changepoint_daily(spark, sf_dir):
    """WHERE the regime changed (operators/anomaly.py::
    cusum_changepoint), completing the anomaly family: MAD says which
    points are outliers, OLS says the trend, CUSUM localizes the level
    shift as the peak of the running deviation sum (Page's statistic,
    offline form). The window runs over the per-(type, day) SERIES —
    already reduced, never raw events — and the argmax is a
    lexicographic struct MAX with the earliest day winning rounded
    ties."""
    from pramen_spark.operators.anomaly import cusum_changepoint

    ev = load_table(spark, sf_dir, "events")
    series = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    return cusum_changepoint(series, ["event_type"], "d", "x")


@query(
    "zorder_cluster_lineitem",
    f"""
    WITH keyed AS (
        SELECT ((l_partkey * 7919) % 1024) AS x,
               ((l_suppkey * 104729) % 1024) AS y,
               ({" + ".join(
                   f"((((l_partkey * 7919) % 1024) >> {i}) & 1) * {1 << (2 * i)}"
                   f" + ((((l_suppkey * 104729) % 1024) >> {i}) & 1) * {1 << (2 * i + 1)}"
                   for i in range(10)
               )}) AS zkey
        FROM lineitem
    )
    SELECT CAST(zkey // 65536 AS BIGINT) AS tile,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
           CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y
    FROM keyed GROUP BY 1
    """,
    "Z-order clustering audit: Morton-interleaved (partkey, suppkey) "
    "tiles with per-tile min/max showing two-dimensional locality",
    tags=("scale", "partitioning"),
)
def q_zorder_cluster_lineitem(spark, sf_dir):
    """The lakehouse locality transform (operators/partitioning.py::
    zorder_key / repartition_by_zorder — what Delta/Iceberg Z-ORDER
    maintenance computes): interleaving the bits of two dimensions makes
    every contiguous key range a compact 2-D tile, so files written in
    key order get NARROW min/max on BOTH columns and two-column
    predicates prune most of a 100 TB scan. The audit groups by the
    top-4-bit tile and shows each tile's bounded x/y extent; the key is
    a pure codegen'd bit expression — no UDF, no shuffle beyond the
    audit's own aggregate."""
    from pramen_spark.operators.partitioning import zorder_key

    li = load_table(spark, sf_dir, "lineitem").select(
        ((F.col("l_partkey") * 7919) % 1024).alias("x"),
        ((F.col("l_suppkey") * 104729) % 1024).alias("y"),
    )
    keyed = zorder_key(li, "x", "y", bits=10)
    return keyed.groupBy(
        F.shiftright(F.col("zkey"), 16).cast("long").alias("tile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("x").cast("long").alias("min_x"),
        F.max("x").cast("long").alias("max_x"),
        F.min("y").cast("long").alias("min_y"),
        F.max("y").cast("long").alias("max_y"),
    )




@query(
    "ddsketch_price_lineitem",
    """
    WITH b AS (
        SELECT CAST(CEIL(LN(CAST(l_extendedprice AS DOUBLE)) / 0.020000666706669435)
                    AS BIGINT) AS bucket,
               COUNT(*) AS n
        FROM lineitem WHERE CAST(l_extendedprice AS DOUBLE) > 0
        GROUP BY 1
    ),
    c AS (
        SELECT bucket,
               SUM(n) OVER (ORDER BY bucket) AS cum,
               SUM(n) OVER () AS total
        FROM b
    ),
    sel AS (
        SELECT CAST(qq.q AS DOUBLE) AS q,
               MIN(CASE WHEN c.cum >= 1 + FLOOR(qq.q * (c.total - 1))
                        THEN c.bucket END) AS bkt
        FROM c, (VALUES (0.5), (0.9), (0.99)) qq(q)
        GROUP BY qq.q
    )
    SELECT q,
           ROUND(2.0 * POW(1.02020202020202, CAST(bkt AS DOUBLE)) / 2.02020202020202, 6) AS estimate
    FROM sel
    """,
    "DDSketch quantiles of lineitem price: mergeable gamma-log bucket "
    "sketch with a 1% relative-error guarantee, replayed bucket-exact "
    "by the oracle",
    tags=("sketch", "analytics"),
)
def q_ddsketch_price_lineitem(spark, sf_dir):
    """The quantile member of the mergeable-summary family (operators/
    sketches.py::ddsketch_build/_quantile/_merge — DDSketch, Masson et
    al. VLDB'19, rel-accuracy a=0.01, gamma=(1+a)/(1-a)): prices fold
    into ceil(ln(x)/ln(gamma)) buckets in ONE map-side-combined
    aggregation; the bucket table is KB-scale (log of the value range,
    not data volume) and merges across days/streams by summing buckets
    with zero error growth — unlike approx_percentile, whose rank-based
    digest can't promise relative error on the VALUE. The oracle
    replays the bucket math with the identical ln(gamma) double literal
    and walks the same cumulative-rank rule, so an off-by-one in the
    boundary convention or midpoint formula breaks the match. The
    cumulative walk is a window over the sketch domain (a documented
    bounded single-partition stage); the accuracy contract
    (est within 1% of exact) is pytest-asserted."""
    from pramen_spark.operators.sketches import (
        ddsketch_build,
        ddsketch_quantile,
    )

    l = load_table(spark, sf_dir, "lineitem")
    sk = ddsketch_build(l, "l_extendedprice", relative_accuracy=0.01)
    return ddsketch_quantile(sk, relative_accuracy=0.01, qs=(0.5, 0.9, 0.99))


@query(
    "jaro_winkler_pairs_documents",
    """
    WITH base AS (
        SELECT doc_id AS id, lang,
               substr(lower(trim(text)), 1, 8) AS blk,
               substr(lower(trim(text)), 1, 64) AS head
        FROM documents WHERE trim(text) <> ''
    )
    SELECT a.id AS id_a, b.id AS id_b,
           ROUND(jaro_winkler_similarity(a.head, b.head), 6) AS jw
    FROM base a JOIN base b
      ON a.lang = b.lang AND a.blk = b.blk AND a.id < b.id
    WHERE jaro_winkler_similarity(a.head, b.head) >= 0.85
    """,
    "blocked Jaro-Winkler linkage pairs: DuckDB's native "
    "jaro_winkler_similarity is the oracle for the Arrow-batched "
    "Python scorer",
    tags=("dedup", "linkage"),
)
def q_jaro_winkler_pairs_documents(spark, sf_dir):
    """Fuzzy-prefix record linkage (operators/dedup.py::
    jaro_winkler_pairs): candidates share (lang, first 8 normalized
    chars) — the same standard-blocking scheme as edit_distance_pairs —
    and are scored on 64-char heads by a DuckDB-convention Jaro-Winkler
    in an Arrow-batched pandas UDF (fuzz-verified equal to DuckDB's
    native jaro_winkler_similarity over 5000 random pairs, which is
    exactly what makes this oracle possible). Levenshtein counts edits
    anywhere; JW rewards agreeing prefixes and forgives transpositions
    — the complementary linkage signal. Scale: co-keyed block
    self-join, per-candidate Python bounded by head_chars^2, never an
    all-pairs pass."""
    from pramen_spark.operators.dedup import jaro_winkler_pairs

    d = load_table(spark, sf_dir, "documents")
    return jaro_winkler_pairs(
        d, prefix_chars=8, head_chars=64, min_sim=0.85
    )


@query(
    "ols2_price_lineitem",
    """
    WITH base AS (
        SELECT l_quantity AS a, l_discount AS b, l_extendedprice AS y
        FROM lineitem
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(a AS DECIMAL(38,6))) AS DOUBLE) AS sa,
               CAST(SUM(CAST(b AS DECIMAL(38,6))) AS DOUBLE) AS sb,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(a * a AS DECIMAL(38,6))) AS DOUBLE) AS saa,
               CAST(SUM(CAST(b * b AS DECIMAL(38,6))) AS DOUBLE) AS sbb,
               CAST(SUM(CAST(a * b AS DECIMAL(38,6))) AS DOUBLE) AS sab,
               CAST(SUM(CAST(a * y AS DECIMAL(38,6))) AS DOUBLE) AS say,
               CAST(SUM(CAST(b * y AS DECIMAL(38,6))) AS DOUBLE) AS sby,
               CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
        FROM base
    ),
    d AS (
        SELECT n, sy, say, sby, syy,
               CAST(n AS DOUBLE) * (saa * sbb - sab * sab)
               - sa * (sa * sbb - sab * sb)
               + sb * (sa * sab - saa * sb) AS det,
               sy * (saa * sbb - sab * sab)
               - sa * (say * sbb - sab * sby)
               + sb * (say * sab - saa * sby) AS det0,
               CAST(n AS DOUBLE) * (say * sbb - sab * sby)
               - sy * (sa * sbb - sab * sb)
               + sb * (sa * sby - say * sb) AS det1,
               CAST(n AS DOUBLE) * (saa * sby - say * sab)
               - sa * (sa * sby - say * sb)
               + sy * (sa * sab - saa * sb) AS det2
        FROM s
    )
    SELECT n,
           ROUND(det0 / det, 6) AS b0,
           ROUND(det1 / det, 6) AS b1,
           ROUND(det2 / det, 6) AS b2,
           ROUND(1.0 - (syy - (det0 / det) * sy - (det1 / det) * say
                        - (det2 / det) * sby)
                       / (syy - sy * sy / CAST(n AS DOUBLE)), 6) AS r2
    FROM d
    """,
    "two-regressor OLS (price on quantity AND discount) via Cramer's "
    "rule over decimal-exact moments — the multivariate step the "
    "single-feature fits cannot take",
    tags=("analytics", "drift"),
)
def q_ols2_price_lineitem(spark, sf_dir):
    """Separating two correlated drivers (operators/drift.py::ols2_fit):
    extended price regressed on quantity AND discount in one closed-form
    3x3 normal-equation solve — products in IEEE double, sums in
    DECIMAL(38,6), determinants written in one fixed expression order so
    both engines evaluate identical doubles. One map-side-combined
    aggregation collects 9 moments; everything after is scalar math on
    the single result row."""
    from pramen_spark.operators.drift import ols2_fit
    from pramen_spark.operators.partitioning import spread_input

    # spread: the 9 decimal co-moment sums dominate per-row cost and a
    # single-row-group local file would otherwise run them one task;
    # decimal sums are partitioning-invariant
    l = spread_input(
        load_table(spark, sf_dir, "lineitem").select(
            "l_quantity", "l_discount", "l_extendedprice"
        ),
        "l_extendedprice",
    )
    return ols2_fit(
        l, F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    )


@query(
    "tfidf_cosine_pairs_documents",
    """
    WITH toks AS (
        SELECT doc_id AS id,
               unnest(list_filter(
                   string_split_regex(lower(text), '[^a-z0-9]+'),
                   t -> t <> '')) AS tok
        FROM documents
    ),
    tf AS (SELECT id, tok, COUNT(*) AS tf FROM toks GROUP BY id, tok),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    w AS (
        SELECT tf.id, tf.tok,
               CAST(tf.tf AS DOUBLE)
               * ln(CAST(nd.n_docs + 1 AS DOUBLE)
                    / CAST(dfreq.df + 1 AS DOUBLE)) AS w
        FROM tf JOIN dfreq ON tf.tok = dfreq.tok, nd
        WHERE dfreq.df <= 50
    ),
    nrm AS (SELECT id, SQRT(SUM(w * w)) AS nrm FROM w GROUP BY id),
    unit AS (
        SELECT w.id, w.tok, w.w / nrm.nrm AS u
        FROM w JOIN nrm ON w.id = nrm.id
    )
    SELECT a.id AS id_a, b.id AS id_b,
           ROUND(SUM(a.u * b.u), 6) AS cosine
    FROM unit a JOIN unit b ON a.tok = b.tok AND a.id < b.id
    GROUP BY a.id, b.id
    HAVING SUM(a.u * b.u) >= 0.3
    """,
    "sparse TF-IDF cosine pairs over the rare-token vocabulary: the "
    "lexical retrieval signal between Jaccard and embedding cosine",
    tags=("dedup", "text"),
)
def q_tfidf_cosine_pairs_documents(spark, sf_dir):
    """Rare-vocabulary lexical similarity (operators/text.py::
    tfidf_cosine_pairs): idf-weighted, L2-normalized vectors over
    tokens in <= 50 documents, pairs from a co-keyed token join, cosine
    as the matched-weight dot product. The docfreq cap is relevance
    filter and scale guard at once — a token's pair fan-out is bounded
    by cap^2, so no stop-word explodes the join (max_shingle_freq
    discipline in the weighted space). Two aggregations + one co-keyed
    self-join; shuffles on token and pair keys, never all-pairs. The
    threshold/rounding FP caveat class is the documented cosine one."""
    from pramen_spark.operators.text import tfidf_cosine_pairs

    d = load_documents_spread(spark, sf_dir)
    return tfidf_cosine_pairs(d, max_token_docfreq=50, min_sim=0.3)
