"""Advanced curation and retrieval quality (round 7-8): hard negatives,
curriculum, incremental dedup, eval metrics.

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
    _LANG_ID_ORACLE,
    _lsh_topk_oracle,
    _ngram_shingle_oracle,
)


@query(
    "hll_accuracy_events",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS within_5pct
    FROM events GROUP BY event_type
    """,
    "sketch-accuracy contract: HLL distinct-user estimate per type must "
    "land within 5% of the exact count (the oracle asserts the bound)",
    tags=("sketch", "monitoring"),
)
def q_hll_accuracy_events(spark, sf_dir):
    """The accuracy CONTRACT behind every sketch this engine ships
    (incremental_distinct_hll, approx profiles): per event type, the
    HyperLogLog++ estimate must land within 5% of the exact distinct
    count — emitted as a boolean the oracle pins to TRUE, so estimator
    drift fails correctness, not just a dashboard. Both counts come from
    ONE aggregation pass (the exact side is the two-phase Expand
    distinct; the sketch side merges partials map-side)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact"),
        (
            F.abs(
                F.approx_count_distinct("user_id").cast("double")
                - F.countDistinct("user_id").cast("double")
            )
            / F.countDistinct("user_id")
            <= 0.05
        ).alias("within_5pct"),
    )


@query(
    "orders_pivot_status",
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS status_F,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                AS BIGINT) AS status_O,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                AS BIGINT) AS status_P,
           ROUND(SUM(CASE WHEN o_orderstatus = 'F'
                          THEN CAST(o_totalprice AS DECIMAL(18,2))
                          ELSE 0 END), 2) AS revenue_F
    FROM orders GROUP BY o_orderpriority
    """,
    "pivot: order counts per priority spread across status columns, plus "
    "a pivoted revenue measure",
    tags=("relational",),
)
def q_orders_pivot_status(spark, sf_dir):
    """The pivot surface (df.groupBy().pivot(col, values)): explicit
    pivot VALUES pin the output schema (omitting them adds a
    distinct-scan job and makes the schema data-dependent — never do
    that in a pipeline), and the pivot compiles to exactly the oracle's
    conditional aggregation: one map-side-combined pass, no extra
    shuffle vs the plain groupBy."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("price").alias("rev"),
        )
    )
    return wide.select(
        "o_orderpriority",
        F.coalesce("F_cnt", F.lit(0)).cast("long").alias("status_F"),
        F.coalesce("O_cnt", F.lit(0)).cast("long").alias("status_O"),
        F.coalesce("P_cnt", F.lit(0)).cast("long").alias("status_P"),
        F.round(
            F.coalesce(F.col("F_rev"), F.lit(0).cast("decimal(18,2)")), 2
        )
        .cast("double")
        .alias("revenue_F"),
    )


@query(
    "lineitem_unpivot_charges",
    """
    SELECT l_orderkey, l_linenumber, charge_kind,
           ROUND(amount, 2) AS amount
    FROM (
        SELECT l_orderkey, l_linenumber,
               unnest(['extendedprice', 'discount', 'tax']) AS charge_kind,
               unnest([l_extendedprice, l_discount, l_tax]) AS amount
        FROM lineitem
    )
    WHERE l_orderkey % 100 = 0
    """,
    "unpivot/melt: the three lineitem charge measures as (kind, amount) "
    "rows — the long form feeding generic per-measure pipelines",
    tags=("relational",),
)
def q_lineitem_unpivot_charges(spark, sf_dir):
    """The unpivot surface (df.unpivot — Spark's melt): wide measures to
    (variable, value) rows as a zero-shuffle projection+generate. The
    long form is what generic per-measure validators/drift monitors
    consume without knowing the schema; the id filter keeps the catalog
    output bounded. Unpivot multiplies rows by the measure count — do it
    AFTER filters, never before a join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 100 == 0
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_extendedprice", "l_discount", "l_tax"],
        "charge_kind",
        "amount",
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.regexp_replace("charge_kind", "^l_", "").alias("charge_kind"),
        F.round("amount", 2).alias("amount"),
    )


@query(
    "burst_dedup_events",
    """
    WITH e AS (
        SELECT event_id, user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        FROM events
    ),
    marked AS (
        SELECT *, CASE WHEN lag(tus) OVER w IS NULL
                            OR tus - lag(tus) OVER w > 86400000000
                       THEN 1 ELSE 0 END AS nb
        FROM e WINDOW w AS (PARTITION BY user_id, event_type
                            ORDER BY tus, event_id)
    ),
    b AS (
        SELECT *, SUM(nb) OVER (PARTITION BY user_id, event_type
                                ORDER BY tus, event_id) AS bid
        FROM marked
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY user_id, event_type, bid
                                     ORDER BY tus, event_id) AS rn
        FROM b
    ),
    agg AS (
        SELECT user_id, event_type, bid,
               MIN(tus) AS first_us,
               COUNT(*) AS burst_n_events,
               MAX(tus) - MIN(tus) AS burst_span_us
        FROM b GROUP BY 1, 2, 3
    )
    SELECT r.event_id, r.user_id, r.event_type,
           CAST(a.first_us AS BIGINT) AS first_us,
           CAST(a.burst_n_events AS BIGINT) AS burst_n_events,
           CAST(a.burst_span_us AS BIGINT) AS burst_span_us
    FROM ranked r
    JOIN agg a USING (user_id, event_type, bid)
    WHERE r.rn = 1
    """,
    "event burst collapse: chains of same-(user, type) events within a "
    "1-day gap keep only their first event, annotated with burst size",
    tags=("analytics", "sequences", "dedup"),
)
def q_burst_dedup_events(spark, sf_dir):
    """Retry-storm / double-fire dedup (operators/sequences.py::
    burst_dedup): the event-stream counterpart of exact document dedup —
    keep-first over gap-chained bursts per (user, type), with burst size
    and span kept for the audit trail. Chain semantics (gap to the
    PREVIOUS event) so an hour-long storm is one row. Plan is the
    sessionization shape: one exchange on the group key, two in-partition
    windows, one aggregation."""
    from pramen_spark.operators.sequences import burst_dedup

    ev = load_table(spark, sf_dir, "events")
    return burst_dedup(ev, gap_seconds=86400)


@query(
    "label_centroid_cohesion",
    """
    WITH dims AS (
        SELECT label, CAST(i AS INTEGER) AS dim,
               CAST(embedding AS DOUBLE[])[CAST(i + 1 AS INTEGER)] AS x
        FROM embeddings, unnest(range(len(embedding))) AS u(i)
    ),
    cent AS (
        SELECT label, dim, ROUND(AVG(x), 6) AS c FROM dims GROUP BY 1, 2
    ),
    carr AS (
        SELECT label, list(c ORDER BY dim) AS centroid FROM cent GROUP BY label
    ),
    scored AS (
        SELECT e.label,
               ROUND(
                   list_inner_product(CAST(e.embedding AS DOUBLE[]), c.centroid)
                   / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_inner_product(c.centroid, c.centroid))),
                   6) AS cos
        FROM embeddings e JOIN carr c USING (label)
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(cos), 4) AS mean_cosine,
           MIN(cos) AS min_cosine
    FROM scored GROUP BY label
    """,
    "embedding class-quality report: per-label centroid and members' "
    "mean/min cosine to their own centroid",
    tags=("similarity", "monitoring"),
)
def q_label_centroid_cohesion(spark, sf_dir):
    """Mislabeled/multi-modal class detector (operators/similarity.py::
    label_centroid_cohesion): cohesion via centroids is O(N*d) — the
    dimension explode partial-sums map-side (labels x dims rows in the
    shuffle), the KB-scale centroid table broadcasts back, and no
    vector-vector pair is ever formed (the intra-class pair matrix is
    the O(N^2) trap). Centroid dims ROUND(6) before any cosine pins the
    engines' summation-order ulps."""
    from pramen_spark.operators.similarity import label_centroid_cohesion

    e = load_table(spark, sf_dir, "embeddings")
    return label_centroid_cohesion(e)


@query(
    "hard_negatives_embeddings",
    """
    WITH q AS (
        SELECT vec_id AS query_id, label AS query_label,
               CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id % 50 = 0
    ),
    scored AS (
        SELECT q.query_id, q.query_label, e.vec_id AS neg_id,
               e.label AS neg_label,
               ROUND(
                   list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                   / (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_inner_product(q.qv, q.qv))), 6) AS cosine
        FROM embeddings e, q
        WHERE e.label <> q.query_label
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neg_id) AS rn
        FROM scored
    )
    SELECT query_id, query_label, neg_id, neg_label, cosine
    FROM ranked WHERE rn = 1
    """,
    "hard-negative mining: per query vector, the most-similar corpus "
    "vector with a different label (exact, deterministic argmax)",
    tags=("similarity", "training"),
)
def q_hard_negatives_embeddings(spark, sf_dir):
    """The contrastive-training data miner (operators/similarity.py::
    hard_negatives): every 50th vector queries for its most-similar
    DIFFERENT-label neighbor — the boundary examples that carry the
    gradient. The query set broadcasts, the corpus is read once scoring
    JVM-side (aggregate/zip_with fold — sequential like DuckDB's
    list_inner_product, so doubles match bit-for-bit), and the argmax is
    a lexicographic struct MAX: map-side combined, rounded-cosine ties
    to the lowest id, no per-query window holding the corpus."""
    from pramen_spark.operators.similarity import hard_negatives

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0)
    return hard_negatives(e, queries)


@query(
    "stream_session_counts",
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
    sess AS (
        SELECT user_id, tus,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus) AS sid
        FROM marked
    )
    SELECT user_id, MIN(tus) AS session_start_us, MAX(tus) AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    "Structured Streaming parity: built-in session_window (30 min gap) "
    "over a real file stream equals batch lag/cumsum sessionization",
    tags=("streaming", "sessionization"),
)
def q_stream_session_counts(spark, sf_dir):
    """The THIRD streaming parity proof, now for MERGING state (tumbling
    and hopping windows have fixed boundaries; session windows must merge
    as late events bridge gaps): Spark's built-in ``session_window`` with
    a 30-minute gap over a real file readStream, availableNow trigger,
    memory sink — checked against the batch lag->cumsum->agg twin, the
    same oracle the applyInPandasWithState custom operator
    (streaming/stream.py::sessionize) is tested against. Bounds are
    aggregated as min/max event micros (session_window's own window.end
    adds the gap padding by definition — the raw extrema are the
    engine-portable form).

    Scale: session state is per-user and merges in the state store;
    watermarking (dropped here: bounded availableNow input, complete
    mode) bounds it on an unbounded stream."""
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
    agg = (
        stream.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        ).agg(
            F.min(F.unix_micros("ts")).alias("session_start_us"),
            F.max(F.unix_micros("ts")).alias("session_end_us"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    sink = "stream_session_counts_sink"
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
        "user_id", "session_start_us", "session_end_us", "n_events"
    )


@query(
    "winsorize_lineitem",
    """
    WITH b AS (
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.05), 6) AS lo,
               ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS hi
        FROM lineitem GROUP BY l_returnflag
    ),
    w AS (
        SELECT l.l_returnflag,
               LEAST(GREATEST(l.l_extendedprice, b.lo), b.hi) AS vw,
               l.l_extendedprice < b.lo AS clo,
               l.l_extendedprice > b.hi AS chi
        FROM lineitem l JOIN b USING (l_returnflag)
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN clo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(SUM(CASE WHEN chi THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           ROUND(AVG(vw), 4) AS avg_winsorized
    FROM w GROUP BY l_returnflag
    """,
    "per-group winsorization at exact p05/p95: clip counts and the tamed "
    "mean",
    tags=("validation", "monitoring"),
)
def q_winsorize_lineitem(spark, sf_dir):
    """Outlier taming before averaging (operators/sampling.py::
    winsorize): per-returnflag exact p05/p95 bounds from ONE map-side-
    combined percentile aggregation, broadcast back, values clipped
    against the ROUND(6) bounds so the clip decision is ulp-proof on
    both engines. No window, no sort of raw rows; the summary shows how
    much mass the tails held."""
    from pramen_spark.operators.sampling import winsorize

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    w = winsorize(li, "l_extendedprice", 0.05, 0.95, group_col="l_returnflag",
                  # oracle contract: the catalog pins the EXACT path
                  # (and skips the size gate's counting pass)
                  exact_row_limit=None)
    return w.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("clipped_low").cast("long")).cast("long").alias("n_low"),
        F.sum(F.col("clipped_high").cast("long")).cast("long").alias("n_high"),
        F.round(F.avg("l_extendedprice_w"), 4).alias("avg_winsorized"),
    )


@query(
    "orphan_audit_lineitem",
    """
    WITH parent AS (
        SELECT DISTINCT o_orderkey AS l_orderkey FROM orders
        WHERE o_orderstatus = 'O'
    ),
    childkeys AS (SELECT DISTINCT l_orderkey FROM lineitem)
    SELECT (SELECT COUNT(*) FROM lineitem) AS n_child,
           (SELECT COUNT(*) FROM lineitem
            WHERE l_orderkey NOT IN (SELECT l_orderkey FROM parent))
               AS n_orphan_child,
           (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'O')
               AS n_parent,
           (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'O'
            AND o_orderkey NOT IN (SELECT l_orderkey FROM childkeys))
               AS n_childless_parent
    """,
    "referential-integrity audit: orphaned fact rows and childless "
    "dimension rows between lineitem and the open-orders subset",
    tags=("validation", "monitoring"),
)
def q_orphan_audit_lineitem(spark, sf_dir):
    """The join-silently-drops-rows detector (operators/validation.py::
    orphan_audit): lineitem audited against the OPEN orders subset (a
    deliberately incomplete parent so both orphan directions are
    non-trivial). Two anti-join counts plus two count-only scans fold
    into one lazy row via broadcast loop joins — at 100 TB this is the
    difference between "the join ran" and "we know we dropped 2% of
    revenue"."""
    from pramen_spark.operators.validation import orphan_audit

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return orphan_audit(li, o, ["l_orderkey"])


@query(
    "triangle_count_suppliers",
    """
    WITH pairs AS (
        SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
        FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    ),
    co AS (SELECT s1, s2, COUNT(*) AS c FROM pairs GROUP BY s1, s2),
    thr AS (SELECT ROUND(quantile_cont(c, 0.95), 6) AS t FROM co),
    edges AS (SELECT s1 AS a, s2 AS b FROM co, thr WHERE c >= t),
    deg AS (
        SELECT v, COUNT(*) AS d
        FROM (SELECT a AS v FROM edges UNION ALL SELECT b FROM edges)
        GROUP BY v
    ),
    o AS (
        SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                    THEN e.a ELSE e.b END AS u,
               CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                    THEN e.b ELSE e.a END AS w
        FROM edges e
        JOIN deg da ON da.v = e.a
        JOIN deg db ON db.v = e.b
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_vertices,
           (SELECT COUNT(*) FROM edges) AS n_edges,
           (SELECT COUNT(*)
            FROM o e1 JOIN o e2 ON e1.w = e2.u
            JOIN o e3 ON e3.u = e1.u AND e3.w = e2.w) AS n_triangles
    """,
    "exact degree-ordered triangle count over the strong co-supply "
    "graph (suppliers co-occurring in the top-5% of shared orders)",
    tags=("graph",),
)
def q_triangle_count_suppliers(spark, sf_dir):
    """Graph cohesion done scale-right (operators/graph.py::
    triangle_count): supplier pairs co-occurring in >= the p95 shared-
    order count form the strong co-supply graph; edges orient from the
    (degree, id)-smaller endpoint so each triangle is counted exactly
    once AND every out-neighborhood is O(sqrt(E)) — the wedge join
    cannot explode on a hub (Suri & Vassilvitskii's "last reducer"
    problem). Pair generation explodes per-order supplier SETS (JVM-side
    ordered pairs, ~C(7,2) rows per order), never a raw self-join of
    lineitem."""
    from pramen_spark.operators.dedup import _ordered_pairs
    from pramen_spark.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_suppkey")).alias("ss")
    )
    co = (
        per_order.select(F.explode(_ordered_pairs(F.col("ss"))).alias("p"))
        .groupBy(F.col("p.id_a").alias("s1"), F.col("p.id_b").alias("s2"))
        .agg(F.count(F.lit(1)).alias("c"))
        # materialized once: the p95 threshold aggregate AND the edge
        # filter both consume the pair counts — without this the whole
        # per-order set explode + pair groupBy runs twice. Eager
        # localCheckpoint (the repo's two-consumer idiom) instead of
        # .cache(): checkpoint blocks are freed when the frame is GC'd,
        # while a CacheManager entry from a query build leaks until
        # clearCache (ADVICE r14)
        .localCheckpoint(eager=True)
    )
    thr = co.agg(F.round(F.percentile(F.col("c"), F.lit(0.95)), 6).alias("t"))
    edges = co.crossJoin(F.broadcast(thr)).filter(F.col("c") >= F.col("t"))
    return triangle_count(edges, src="s1", dst="s2")


@query(
    "langid_confusion_documents",
    f"""
    WITH pred AS ({_LANG_ID_ORACLE})
    SELECT d.lang, p.lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents d JOIN pred p USING (doc_id)
    GROUP BY d.lang, p.lang_pred
    """,
    "language-ID confusion matrix: labeled lang vs stopword-vote "
    "prediction, one count per (truth, predicted) cell",
    tags=("text", "monitoring"),
)
def q_langid_confusion_documents(spark, sf_dir):
    """Classifier quality audit without leaving the engine
    (operators/text.py::language_id vs the labeled lang column): the
    confusion matrix is the first artifact a curation team checks before
    trusting a filter at 100 TB. The prediction is the same zero-shuffle
    stopword vote lang_id runs; one extra co-keyed join against the
    labels and one map-side-combined count."""
    from pramen_spark.operators.text import language_id

    d = load_table(spark, sf_dir, "documents")
    pred = language_id(d).select("doc_id", "lang_pred")
    truth = d.select("doc_id", "lang")
    return truth.join(pred, "doc_id").groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


@query(
    "time_to_convert_events",
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
               e.event_id,
               row_number() OVER (PARTITION BY e.user_id
                                  ORDER BY CAST(e.ts AS TIMESTAMP), e.event_id)
                   AS rn
        FROM events e JOIN starts st ON e.user_id = st.user_id
        WHERE e.event_type = 'purchase'
          AND (epoch_us(CAST(e.ts AS TIMESTAMP)) > st.start_us
               OR (epoch_us(CAST(e.ts AS TIMESTAMP)) = st.start_us
                   AND e.event_id > st.start_event_id))
    )
    SELECT st.user_id,
           CAST(st.start_us AS BIGINT) AS start_us,
           st.start_event_id,
           CAST(e.us AS BIGINT) AS convert_us,
           e.event_id AS convert_event_id,
           CAST(e.us - st.start_us AS BIGINT) AS gap_us
    FROM starts st LEFT JOIN e ON st.user_id = e.user_id AND e.rn = 1
    """,
    "conversion latency: first signup to first subsequent purchase per "
    "user, microsecond-exact, NULLs for never-converted",
    tags=("analytics", "sequences"),
)
def q_time_to_convert_events(spark, sf_dir):
    """The funnel's latency complement (operators/sequences.py::
    time_to_convert): first signup and first strictly-later purchase per
    user via MIN-over-struct argmins — two filtered map-side-combined
    aggregations and one user-keyed join; no window over the raw stream,
    no stream self-join. Never-converted users keep NULL conversion
    columns for downstream survival analysis."""
    from pramen_spark.operators.sequences import time_to_convert

    ev = load_table(spark, sf_dir, "events")
    return time_to_convert(ev, "signup", "purchase")


@query(
    "prefix_filter_jaccard_pairs",
    _ngram_shingle_oracle(0.3),
    "exact threshold-Jaccard pairs via AllPairs/PPJoin prefix filtering: "
    "only each doc's rarest n - ceil(t*n) + 1 shingles generate candidates",
    tags=("dedup", "scale"),
)
def q_prefix_filter_jaccard_pairs(spark, sf_dir):
    """The high-threshold exact-dup path that beats both co-occurrence
    pairing and LSH (operators/dedup.py::prefix_filter_jaccard_pairs):
    order shingles rarest-first, expose only the provably-sufficient
    prefix as join keys (two sets at Jaccard >= t share their smallest
    common shingle inside BOTH prefixes — the AllPairs lemma), verify
    survivors by array intersection. Must reproduce the brute-force
    oracle EXACTLY — same pair set, same jaccard values — while the
    candidate stream touches only rare shingles. The third member of the
    exact-jaccard family (ngram_jaccard_pairs = co-occurrence, minhash =
    probabilistic), sharing their oracle at t=0.3."""
    from pramen_spark.operators.dedup import prefix_filter_jaccard_pairs

    d = load_documents_spread(spark, sf_dir)
    return prefix_filter_jaccard_pairs(
        d, shingle_size=3, threshold=0.3, max_shingle_freq=1000
    )


@query(
    "attribution_events",
    """
    WITH ordered AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN event_id END IGNORE NULLS) OVER w AS t_id,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN event_type END IGNORE NULLS) OVER w AS t_type,
               last_value(CASE WHEN event_type IN ('click', 'view')
                               THEN CAST(ts AS TIMESTAMP) END IGNORE NULLS)
                   OVER w AS t_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP),
                     event_id ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING)
    )
    SELECT event_id, user_id,
           CAST(epoch_us(ts) AS BIGINT) AS conversion_us,
           CASE WHEN ok THEN t_id END AS touch_event_id,
           CASE WHEN ok THEN t_type END AS touch_type,
           CASE WHEN ok THEN CAST(epoch_us(t_ts) AS BIGINT) END AS touch_us,
           CASE WHEN ok THEN epoch_us(ts) - epoch_us(t_ts) END AS gap_us
    FROM (SELECT *, t_ts IS NOT NULL
                    AND epoch_us(ts) - epoch_us(t_ts) <= 604800000000 AS ok
          FROM ordered)
    WHERE event_type = 'purchase'
    """,
    "last-touch attribution: each purchase credited to the latest "
    "preceding click/view by the same user within 7 days",
    tags=("analytics", "sequences"),
)
def q_attribution_events(spark, sf_dir):
    """Which touch gets credit (operators/sequences.py::
    last_touch_attribution): ONE window pass per user carries the running
    last-touch struct via last(ignorenulls) — never a conversions-vs-
    history self-join (which shuffles events twice and explodes on hot
    users). Strict (ts, event_id) ordering makes same-timestamp behavior
    deterministic; the 7-day window applies microsecond-exact to the one
    carried candidate, which IS last-touch semantics (an older in-window
    touch never outranks a newer one)."""
    from pramen_spark.operators.sequences import last_touch_attribution

    ev = load_table(spark, sf_dir, "events")
    out = last_touch_attribution(
        ev, ["click", "view"], "purchase", window_seconds=7 * 86400
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("conversion_ts").alias("conversion_us"),
        "touch_event_id",
        "touch_type",
        F.unix_micros("touch_ts").alias("touch_us"),
        "gap_us",
    )


@query(
    "rank_normalize_documents",
    """
    SELECT doc_id, lang, n_chars,
           ROUND(percent_rank() OVER (
               PARTITION BY lang ORDER BY n_chars, doc_id), 6) AS rank_unit
    FROM documents
    """,
    "per-language percent-rank calibration of a score column to [0,1]",
    tags=("sampling", "training"),
)
def q_rank_normalize_documents(spark, sf_dir):
    """Cross-source score calibration (operators/sampling.py::
    rank_normalize): raw scores from heterogeneous scorers aren't
    comparable, rank positions are — percent_rank over (score, id) per
    language, the input a global mixture/curriculum decision actually
    wants. One hash-partitioned per-group window; Spark and DuckDB share
    the (rank-1)/(n-1) definition so the unit is oracle-exact."""
    from pramen_spark.operators.sampling import rank_normalize

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return rank_normalize(d, "n_chars", "doc_id", partition_col="lang")


@query(
    "quota_split_documents",
    """
    WITH u AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'quota'), 1, 8))
                   ::BIGINT / 4294967296.0 AS uu
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang ORDER BY uu, doc_id)
                   AS rn
        FROM u
    )
    SELECT doc_id, lang,
           CASE WHEN rn <= 40 THEN 'val'
                WHEN rn <= 80 THEN 'test'
                ELSE 'train' END AS split
    FROM ranked
    """,
    "exact-count eval carving: the first N docs of the deterministic md5 "
    "order per language go to val/test, the rest to train",
    tags=("sampling", "training"),
)
def q_quota_split_documents(spark, sf_dir):
    """Exact-COUNT splits where hash_split gives exact probabilities
    (operators/sampling.py::quota_split): exactly 40 val + 40 test docs
    per language, assigned by row_number over the salted-md5 order —
    reproducible across runs and engines, bounded churn under corpus
    growth (only quota-boundary displacement). One per-group window; the
    grouped path is the designed scale path."""
    from pramen_spark.operators.sampling import quota_split

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return quota_split(
        d, {"val": 40, "test": 40}, key_col="doc_id", group_col="lang"
    ).select("doc_id", "lang", "split")


@query(
    "oov_rate_documents",
    """
    WITH tok AS (
        SELECT d.doc_id, t.token
        FROM documents d,
             unnest(list_filter(
                 string_split_regex(lower(d.text), '[^a-z0-9]+'),
                 x -> x != '')) AS t(token)
    ),
    df_t AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
    ),
    vocab AS (SELECT token FROM df_t ORDER BY df DESC, token LIMIT 500),
    cnt AS (
        SELECT d.doc_id,
               COUNT(t.token) AS n_tokens,
               COALESCE(SUM(CASE WHEN t.token IS NOT NULL AND v.token IS NULL
                                 THEN 1 ELSE 0 END), 0) AS n_oov
        FROM documents d
        LEFT JOIN tok t ON d.doc_id = t.doc_id
        LEFT JOIN vocab v ON t.token = v.token
        GROUP BY d.doc_id
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_oov AS BIGINT) AS n_oov,
           CASE WHEN n_tokens > 0
                THEN ROUND(n_oov * 1.0 / n_tokens, 6) END AS oov_rate
    FROM cnt
    """,
    "vocabulary-coverage audit: per-document OOV token share against the "
    "corpus top-500 document-frequency vocabulary",
    tags=("text", "training"),
)
def q_oov_rate_documents(spark, sf_dir):
    """How much of each document a fixed tokenizer would shatter
    (operators/text.py::oov_rate): document frequency aggregates map-side
    over (token, doc) pairs, the top-500 vocabulary plans as
    TakeOrderedAndProject (never a global sort) and broadcasts into the
    scoring join, and per-doc occurrence counts re-aggregate on the id.
    High OOV flags wrong-language leakage and encoding damage; the
    per-source profile is a standard pre-training corpus report."""
    from pramen_spark.operators.text import oov_rate

    d = load_documents_spread(spark, sf_dir)
    return oov_rate(d, vocab_size=500)


@query(
    "ks_drift_events",
    """
    WITH t AS (
        SELECT CASE WHEN event_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS side,
               CAST(LEAST(GREATEST(FLOOR(value / 10.0), 0), 49) AS BIGINT)
                   AS bucket
        FROM events WHERE value IS NOT NULL
    ),
    h AS (
        SELECT bucket,
               SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS n_ref,
               SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS n_cur
        FROM t GROUP BY bucket
    ),
    cdf AS (
        SELECT SUM(n_ref) OVER (ORDER BY bucket) AS c_ref,
               SUM(n_cur) OVER (ORDER BY bucket) AS c_cur,
               SUM(n_ref) OVER () AS t_ref,
               SUM(n_cur) OVER () AS t_cur
        FROM h
    )
    SELECT ROUND(MAX(ABS(c_ref * 1.0 / t_ref - c_cur * 1.0 / t_cur)), 6)
               AS ks_stat,
           CAST(MAX(t_ref) AS BIGINT) AS n_ref,
           CAST(MAX(t_cur) AS BIGINT) AS n_cur
    FROM cdf
    """,
    "binned two-sample Kolmogorov-Smirnov drift statistic between two "
    "event populations",
    tags=("drift", "monitoring"),
)
def q_ks_drift_events(spark, sf_dir):
    """The worst-CDF-gap drift test (operators/drift.py::ks_binned),
    complementing PSI's bucket-weighted score: both event halves (by id
    parity) histogram in one map-side-combined pass each, the CDFs
    cumulate over the 50-bucket grid, and the max gap is order-free.
    Exact KS would need a global sort of both samples; the binned form is
    the version that exists at 100 TB, and every post-histogram stage
    runs on bucket summaries only."""
    from pramen_spark.operators.drift import ks_binned

    ev = load_table(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_id") % 2 == 0)
    cur = ev.filter(F.col("event_id") % 2 == 1)
    return ks_binned(ref, cur, "value", 0.0, 500.0, num_buckets=50)


@query(
    "chi2_drift_events",
    """
    WITH t AS (
        SELECT CASE WHEN event_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS side,
               event_type AS category
        FROM events WHERE event_type IS NOT NULL
    ),
    h AS (
        SELECT category,
               SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS n_ref,
               SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS n_cur
        FROM t GROUP BY category
    ),
    tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM h)
    SELECT category,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           ROUND(
               POW(n_ref - (n_ref + n_cur) * 1.0 * t_ref / (t_ref + t_cur), 2)
                   / ((n_ref + n_cur) * 1.0 * t_ref / (t_ref + t_cur))
               + POW(n_cur - (n_ref + n_cur) * 1.0 * t_cur / (t_ref + t_cur), 2)
                   / ((n_ref + n_cur) * 1.0 * t_cur / (t_ref + t_cur)), 6)
               AS contrib
    FROM h, tot
    """,
    "chi-square drift decomposition for a categorical column: "
    "per-category contribution vs the pooled expectation",
    tags=("drift", "monitoring"),
)
def q_chi2_drift_events(spark, sf_dir):
    """WHICH category moved (operators/drift.py::chi2_categorical): the
    per-category chi-square contributions against pooled expectations,
    the categorical sibling of PSI/KS. One count per side, a full-outer
    join on the category set, four broadcast scalars; contributions stay
    per-row so the oracle never sums doubles in engine-dependent order."""
    from pramen_spark.operators.drift import chi2_categorical

    ev = load_table(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_id") % 2 == 0)
    cur = ev.filter(F.col("event_id") % 2 == 1)
    return chi2_categorical(ref, cur, "event_type")


@query(
    "image_dimensions_documents",
    """
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                ELSE 'gif' END AS image_format,
           CAST(16 + doc_id % 317 AS INTEGER) AS width,
           CAST(16 + (doc_id * 7) % 211 AS INTEGER) AS height
    FROM documents
    """,
    "REAL image header decode: PNG IHDR / JPEG SOF / GIF descriptors "
    "written by an independent encoder, parsed back by the byte walker",
    tags=("multimodal",),
)
def q_image_dimensions_documents(spark, sf_dir):
    """The multimodal decode that IS implementable without media libs
    (operators/multimodal.py::parse_image_header + image_dimensions):
    each document id deterministically derives (format, width, height);
    encode_image_header writes a well-formed PNG/JPEG/GIF header from the
    format specs (struct-packed, CRC'd IHDR, a JFIF APP0 the JPEG walker
    must skip), and image_dimensions parses the bytes back through the
    Arrow-batched mapInPandas path. The oracle recomputes the dims from
    the id arithmetic alone — a parser/encoder disagreement on any of the
    three formats breaks the match. Both stages are pure maps: no
    shuffle; blobs never leave their partition."""
    from pramen_spark.operators.multimodal import (
        encode_image_header,
        image_dimensions,
    )
    from pyspark.sql import types as T
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("content", T.BinaryType(), True),
        ]
    )
    fmts = ["png", "jpeg", "gif"]

    def encode(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [
                        encode_image_header(
                            fmts[i % 3], int(16 + i % 317), int(16 + (i * 7) % 211)
                        )
                        for i in ids
                    ],
                }
            )

    media = d.mapInPandas(encode, enc_schema)
    return image_dimensions(media).select(
        F.col("media_id").alias("doc_id"), "image_format", "width", "height"
    )


@query(
    "curriculum_global_documents",
    """
    WITH b AS (
        SELECT list_transform(
                   quantile_cont(n_chars, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                   x -> ROUND(x, 6)) AS bounds
        FROM documents
    ),
    assigned AS (
        SELECT d.doc_id, d.n_chars,
               CAST(1 + len(list_filter(
                   b.bounds, x -> CAST(d.n_chars AS DOUBLE) > x))
                    AS INTEGER) AS bucket
        FROM documents d, b
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           ROUND(SUM(CAST(n_chars AS DECIMAL(18,0)))
                 / COUNT(*), 4) AS avg_chars
    FROM assigned GROUP BY bucket
    """,
    "scale-safe GLOBAL curriculum deciles: quantile thresholds from one "
    "aggregate + a broadcast comparison — no single-partition NTILE sort",
    tags=("sampling", "training", "scale"),
)
def q_curriculum_global_documents(spark, sf_dir):
    """The corpus-sized answer to curriculum_buckets' unpartitioned
    hazard (operators/sampling.py::curriculum_thresholds): the nine
    interior decile boundaries come from ONE exact-percentile aggregate
    (map-side combined to a single row — DuckDB quantile_cont computes
    the identical interpolation, ROUND(6) on both engines kills any ulp),
    the 1-row boundary array broadcasts, and bucket assignment is a pure
    codegen'd strict-> comparison count. No Window node anywhere; a
    plan test asserts it. Occupancy is even only up to score ties —
    the documented price of removing the global sort."""
    from pramen_spark.operators.sampling import curriculum_thresholds

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    b = curriculum_thresholds(d, "n_chars", n_buckets=10,
                              # oracle contract: exact boundaries, no gate
                              exact_row_limit=None)
    return b.groupBy(F.col("bucket").cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.round(
            F.sum(F.col("n_chars").cast("decimal(18,0)"))
            / F.count(F.lit(1)),
            4,
        )
        .cast("double")
        .alias("avg_chars"),
    )


@query(
    "salted_agg_lineitem",
    """
    WITH t AS (
        SELECT CASE WHEN l_suppkey % 10 = 0 THEN 0 ELSE l_suppkey END
                   AS skew_key,
               l_quantity, l_extendedprice, CAST(l_shipdate AS DATE) AS sd
        FROM lineitem
    )
    SELECT skew_key,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           MIN(sd) AS min_shipdate,
           MAX(sd) AS max_shipdate
    FROM t GROUP BY skew_key
    """,
    "skew-safe two-phase aggregation: salted (key, salt) partials merged "
    "on key equal the plain GROUP BY on a deliberately hot key",
    tags=("skew", "scale"),
)
def q_salted_agg_lineitem(spark, sf_dir):
    """Skew ACTION, not just measurement (operators/skew.py::salted_agg,
    closing the loop key_skew_profile opened): ``skew_key`` deliberately
    funnels every 10th supplier's lineitems onto one hot key (~10% of the
    table on one reducer in a plain groupBy). recommend_salts profiles
    the key (one control-plane summary row) and picks the salt count;
    salted_agg then aggregates on (key, salt) — the hot key spreads over
    that many reducers — and merges partials on the key alone. The merge
    exchange carries n_keys*n_salts pre-aggregated rows, noise at any
    scale. Sums run in DECIMAL so the salted result is bit-identical to
    the oracle's one-phase GROUP BY."""
    from pramen_spark.operators.skew import recommend_salts, salted_agg

    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_suppkey") % 10 == 0, F.lit(0))
        .otherwise(F.col("l_suppkey"))
        .alias("skew_key"),
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.to_date("l_shipdate").alias("sd"),
    )
    n_salts = recommend_salts(li, "skew_key")
    agg = salted_agg(
        li,
        ["skew_key"],
        sum_cols=["qty", "price"],
        min_cols=["sd"],
        max_cols=["sd"],
        n_salts=n_salts,
    )
    return agg.select(
        "skew_key",
        "n_rows",
        F.round(F.col("sum_qty").cast("double"), 2).alias("sum_qty"),
        F.round(F.col("sum_price").cast("double"), 2).alias("sum_price"),
        F.col("min_sd").alias("min_shipdate"),
        F.col("max_sd").alias("max_shipdate"),
    )


@query(
    "salted_join_lineitem",
    """
    WITH t AS (
        SELECT CASE WHEN l_suppkey % 10 = 0 THEN 0 ELSE l_suppkey END
                   AS skew_key,
               CAST(l_quantity AS DECIMAL(18,2)) AS qty
        FROM lineitem
    ),
    d AS (
        SELECT skew_key, COUNT(*) AS n, SUM(qty) AS s
        FROM t GROUP BY skew_key
    )
    SELECT t.skew_key,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN t.qty * d.n > d.s THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above_avg
    FROM t JOIN d USING (skew_key)
    GROUP BY t.skew_key
    """,
    "salt-replicated join: fact side salted, per-key aggregate side "
    "replicated per salt; equals the plain join on a deliberately hot key",
    tags=("skew", "scale"),
)
def q_salted_join_lineitem(spark, sf_dir):
    """The join-side skew remedy (operators/skew.py::salted_join) composed
    with salted_agg: the per-key dimension (count + exact DECIMAL sum —
    avg as a ratio, never a float) is built by the two-phase salted
    aggregation, then joined back to the salted fact side on
    (key, salt) — the hot key's probe rows spread across the salt space,
    each salt joining its own replica of the (tiny) dim row. The
    above-average test multiplies through by the count
    (qty * n > sum) so both engines compare exact decimals — no
    float-boundary flakes. Use when the dim side is over the broadcast
    cap AND the fact key is hot; replication cost = n_salts * |dim|."""
    from pramen_spark.operators.skew import salted_agg, salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_suppkey") % 10 == 0, F.lit(0))
        .otherwise(F.col("l_suppkey"))
        .alias("skew_key"),
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
    )
    dim = salted_agg(li, ["skew_key"], sum_cols=["qty"], n_salts=8).select(
        "skew_key",
        F.col("n_rows").alias("_n"),
        F.col("sum_qty").alias("_s"),
    )
    joined = salted_join(li, dim, ["skew_key"], n_salts=8)
    return joined.groupBy("skew_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum((F.col("qty") * F.col("_n") > F.col("_s")).cast("long"))
        .cast("long")
        .alias("n_above_avg"),
    )


@query(
    "bloom_prune_join_lineitem",
    """
    SELECT s_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    WHERE s_acctbal > 5000
    GROUP BY s_suppkey
    """,
    "bloom-pruned join: lineitem filtered through a 16 KiB bitmap of the "
    "rich-supplier keys before the join shuffle; result exactly equals "
    "the plain join",
    tags=("scale", "join"),
)
def q_bloom_prune_join_lineitem(spark, sf_dir):
    """The explicit bloom-filter join (operators/joins.py::
    bloom_prune_join — Spark's runtime row-level bloom filter made
    persistent and cross-stage): the dim side folds its keys into a
    CONSTANT 16 KiB bitmap (distributed bit_or build, <= 2048 words
    reach the driver regardless of dim size), the fact scan probes it
    with pure-codegen xxhash64 + bit math BEFORE its join exchange, and
    the join itself removes the bloom's false positives — so the oracle
    is simply the unpruned join. At 100 TB a selective dim prunes >99%
    of the fact shuffle at O(bitmap) memory, where a broadcast join
    would hold O(|dim|) per executor."""
    from pramen_spark.operators.joins import bloom_prune_join

    li = load_table(spark, sf_dir, "lineitem")
    dim = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") > 5000
    )
    joined = bloom_prune_join(li, dim, "l_suppkey", "s_suppkey")
    return joined.groupBy("s_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
            ),
            2,
        )
        .cast("double")
        .alias("revenue"),
    )


@query(
    "approx_quantile_contract_lineitem",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_exact,
           TRUE AS p50_within, TRUE AS p90_within
    FROM lineitem GROUP BY l_returnflag
    """,
    "sketch-accuracy contract: approx_percentile (accuracy 10000) must "
    "land inside the exact +-0.1%-rank quantile envelope per return flag",
    tags=("sketch", "monitoring"),
)
def q_approx_quantile_contract_lineitem(spark, sf_dir):
    """The quantile twin of hll_accuracy_events: the Greenwald-Khanna
    sketch behind approx_percentile guarantees rank error <= n/accuracy
    (1e-4 here); the contract pins each approximate quantile inside the
    EXACT interpolated quantiles at q +- 0.001 — a 10x margin that still
    fails on real estimator drift. Both sides come from one aggregation
    pass; the oracle recomputes the exact envelope and asserts the
    booleans TRUE, so a sketch regression fails correctness, not just a
    dashboard. At 100 TB only the sketch side survives (exact grouped
    percentiles sort each group); the contract is what licenses that
    swap."""
    from pramen_spark.operators.sampling import _qcont

    li = load_table(spark, sf_dir, "lineitem")
    # exact side via the shared sorted-array interpolation (bit-identical
    # to F.percentile; one array per group instead of a per-distinct-value
    # hash map over ~200k prices per return flag)
    agg = li.groupBy("l_returnflag").agg(
        F.array_sort(F.collect_list("l_extendedprice")).alias("_arr"),
        F.percentile_approx(
            F.col("l_extendedprice"), F.array(F.lit(0.5), F.lit(0.9)), F.lit(10000)
        ).alias("ap"),
    )
    ex = {q: _qcont(F.col("_arr"), q) for q in (0.5, 0.9, 0.499, 0.501, 0.899, 0.901)}
    return agg.select(
        "l_returnflag",
        F.round(ex[0.5], 4).alias("p50_exact"),
        F.round(ex[0.9], 4).alias("p90_exact"),
        F.element_at("ap", 1).between(ex[0.499], ex[0.501]).alias("p50_within"),
        F.element_at("ap", 2).between(ex[0.899], ex[0.901]).alias("p90_within"),
    )


@query(
    "assoc_pairs_orders",
    """
    WITH baskets AS (
        SELECT DISTINCT l_orderkey AS basket, p_brand AS item
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    tot AS (SELECT CAST(COUNT(DISTINCT basket) AS DOUBLE) AS n_baskets
            FROM baskets),
    ic AS (SELECT item, COUNT(*) AS item_count FROM baskets GROUP BY item),
    freq AS (SELECT item, item_count FROM ic, tot
             WHERE item_count >= n_baskets * 0.05),
    kept AS (SELECT b.basket, b.item, f.item_count
             FROM baskets b JOIN freq f USING (item)),
    pairs AS (
        SELECT a.item AS brand_a, b.item AS brand_b,
               a.item_count AS count_a, b.item_count AS count_b,
               CAST(COUNT(*) AS BIGINT) AS pair_count
        FROM kept a JOIN kept b
          ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2, 3, 4
    )
    SELECT brand_a, brand_b, pair_count,
           ROUND(pair_count / n_baskets, 6) AS support,
           ROUND(CAST(pair_count AS DOUBLE) / count_a, 6) AS conf_a_b,
           ROUND(pair_count * n_baskets
                 / (CAST(count_a AS DOUBLE) * count_b), 6) AS lift
    FROM pairs, tot
    ORDER BY pair_count DESC, brand_a, brand_b
    LIMIT 30
    """,
    "market-basket association rules: Apriori-pruned brand pairs per "
    "order with support, confidence and lift (top-30 by co-occurrence)",
    tags=("analytics", "itemsets"),
)
def q_assoc_pairs_orders(spark, sf_dir):
    """Frequent-pair mining (operators/itemsets.py::basket_pairs):
    orders are baskets, part brands are items. The Apriori lemma prunes
    items below 5% support BEFORE any pair forms, the pair self-join is
    CO-KEYED on the order key (one hash partitioning, quadratic only
    within a basket and only over frequent items), and supports derive
    from a broadcast 1-row total — no corpus-wide cross product at any
    scale. The frequent-item build side is bounded by
    avg_basket_size / min_support rows, so its broadcast is KB-scale
    however large the log grows."""
    from pramen_spark.operators.itemsets import basket_pairs

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(
        F.broadcast(part), li["l_partkey"] == part["p_partkey"]
    ).select("l_orderkey", "p_brand")
    pairs = basket_pairs(baskets, "l_orderkey", "p_brand", min_support=0.05)
    return (
        pairs.select(
            F.col("item_a").alias("brand_a"),
            F.col("item_b").alias("brand_b"),
            "pair_count",
            F.round("support", 6).alias("support"),
            F.round("confidence_a_to_b", 6).alias("conf_a_b"),
            F.round("lift", 6).alias("lift"),
        )
        .orderBy(F.desc("pair_count"), "brand_a", "brand_b")
        .limit(30)
    )


@query(
    "k_anonymity_customers",
    """
    WITH g AS (
        SELECT c_mktsegment, c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS group_size
        FROM customer GROUP BY 1, 2
    )
    SELECT group_size,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(group_size) AS BIGINT) AS n_rows,
           group_size < 5 AS below_k
    FROM g GROUP BY group_size
    """,
    "k-anonymity audit: group-size profile of the (segment, nation) "
    "quasi-identifier — min size is the dataset's k; below-k rows are "
    "the re-identification exposure",
    tags=("privacy", "validation"),
)
def q_k_anonymity_customers(spark, sf_dir):
    """The privacy gate next to redact_pii (operators/validation.py::
    k_anonymity_audit): every (mktsegment, nationkey) combination's
    population, histogrammed by group size — min(group_size) IS the
    release's k-anonymity level, and the below_k rows quantify exactly
    what a suppress-below-k policy drops. Two map-side-combined
    aggregations (QI combination, then the tiny size domain); no window,
    no join, one scan — the shape is identical at 100 TB because the
    second aggregate's input is one row per QI combination."""
    from pramen_spark.operators.validation import k_anonymity_audit

    cust = load_table(spark, sf_dir, "customer")
    return k_anonymity_audit(cust, ["c_mktsegment", "c_nationkey"], k=5)


@query(
    "token_entropy_documents",
    r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_filter(
                   string_split_regex(lower(text), '[^a-z0-9]+'),
                   x -> x <> '')) AS token
        FROM documents
    ),
    c AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    agg AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               SUM(c * log2(c)) AS s
        FROM c GROUP BY 1
    )
    SELECT doc_id, n_tokens, n_types,
           ROUND(log2(n_tokens) - s / n_tokens, 6) AS entropy,
           CASE WHEN n_types > 1
                THEN ROUND((log2(n_tokens) - s / n_tokens) / log2(n_types), 6)
           END AS norm_entropy
    FROM agg
    """,
    "per-document Shannon entropy of the token distribution (information "
    "density), plus type count and normalized entropy",
    tags=("text", "quality"),
)
def q_token_entropy_documents(spark, sf_dir):
    """Information-density quality signal (operators/text.py::
    token_entropy): H = log2(N) - sum(c*log2 c)/N over per-document
    token counts — low entropy flags keyword stuffing and shuffled
    boilerplate that repetition_stats' verbatim-run detector misses.
    Two map-side-combined aggregations keyed (doc, token) then doc; the
    explode amplification runs on the spread input like every shingling
    consumer; no window, no join, no driver state — the per-document
    fold is embarrassingly parallel at any corpus size."""
    from pramen_spark.operators.text import token_entropy

    return token_entropy(load_documents_spread(spark, sf_dir))


@query(
    "mutual_info_events",
    """
    WITH joint AS (
        SELECT event_type AS x, CAST(hour(ts) AS BIGINT) AS y,
               CAST(COUNT(*) AS BIGINT) AS n_xy
        FROM events GROUP BY 1, 2
    ),
    mx AS (SELECT x, SUM(n_xy) AS n_x FROM joint GROUP BY x),
    my AS (SELECT y, SUM(n_xy) AS n_y FROM joint GROUP BY y),
    tot AS (SELECT SUM(n_xy) AS n FROM joint)
    SELECT x, y, n_xy,
           ROUND(log2(CAST(n_xy AS DOUBLE) * n
                      / (CAST(n_x AS DOUBLE) * n_y)), 6) AS pmi,
           ROUND(CAST(n_xy AS DOUBLE) / n
                 * log2(CAST(n_xy AS DOUBLE) * n
                        / (CAST(n_x AS DOUBLE) * n_y)), 9) AS mi_contrib
    FROM joint JOIN mx USING (x) JOIN my USING (y), tot
    """,
    "pointwise mutual information between event type and hour of day; "
    "SUM(mi_contrib) is the MI in bits (feature/leakage screen)",
    tags=("analytics", "drift"),
)
def q_mutual_info_events(spark, sf_dir):
    """Information-theoretic dependence screen (operators/drift.py::
    mutual_information): PMI per (event_type, hour) cell plus each
    cell's MI contribution — the feature-selection / label-leakage
    measure beside chi2_categorical's significance test. ONE shuffle
    (the contingency aggregation, map-side combined); marginals and the
    grand total re-aggregate the KB-scale contingency table and join
    back broadcast — the raw log is scanned once at any scale."""
    from pramen_spark.operators.drift import mutual_information

    ev = load_events(spark, sf_dir).select(
        "event_type", F.hour("ts").cast("long").alias("hour")
    )
    out = mutual_information(ev, "event_type", "hour")
    return out.select(
        F.col("x"), F.col("y"), "n_xy", "pmi", "mi_contrib"
    )


@query(
    "covariance_embeddings",
    """
    WITH p AS (
        SELECT CAST(t1.i AS BIGINT) AS i, CAST(t2.j AS BIGINT) AS j
        FROM range(1, 9) t1(i), range(1, 9) t2(j) WHERE t1.i <= t2.j
    )
    SELECT i, j,
           ROUND(covar_pop(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE),
                           CAST(embedding[CAST(j AS INTEGER)] AS DOUBLE)),
                 6) AS cov
    FROM embeddings, p GROUP BY i, j
    """,
    "upper-triangular covariance of the first 8 embedding dimensions in "
    "one aggregation pass (pre-whitening feature audit)",
    tags=("similarity", "analytics"),
)
def q_covariance_embeddings(spark, sf_dir):
    """The feature-correlation audit before whitening/PCA
    (operators/similarity.py::covariance_matrix): all 36 upper-triangle
    covariances of dims 1-8 as parallel map-side-combined covar_pop
    expressions in ONE aggregation — no explode, no self-join, the
    vectors shuffle nowhere; the unpivot to (i, j, cov) runs on the
    single result row. Full high-d matrices switch to the blocked-numpy
    Gram path (X^T X partials over Arrow batches) documented on the
    operator."""
    from pramen_spark.operators.similarity import covariance_matrix

    return covariance_matrix(
        load_table(spark, sf_dir, "embeddings"), "embedding", tuple(range(1, 9))
    )


@query(
    "kmeans_step_embeddings",
    """
    WITH seeds AS (
        SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c
        FROM embeddings WHERE vec_id IN (1, 2, 3, 4)
    ),
    dists AS (
        SELECT e.vec_id, s.cid, CAST(e.embedding AS DOUBLE[]) AS v,
               list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[CAST(i AS INTEGER)] AS DOUBLE)
                        - s.c[CAST(i AS INTEGER)]) AS d
        FROM embeddings e, seeds s
    ),
    assign AS (
        SELECT vec_id, cid, v, list_inner_product(d, d) AS dist2,
               ROW_NUMBER() OVER (
                   PARTITION BY vec_id
                   ORDER BY list_inner_product(d, d), cid) AS rn
        FROM dists
    )
    SELECT cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(SUM(dist2), 4) AS inertia,
           ROUND(AVG(v[1]), 6) AS c1, ROUND(AVG(v[2]), 6) AS c2,
           ROUND(AVG(v[3]), 6) AS c3, ROUND(AVG(v[4]), 6) AS c4
    FROM assign WHERE rn = 1 GROUP BY cid
    """,
    "one distributed Lloyd iteration: nearest-centroid assignment from "
    "4 seed vectors + per-cluster size, inertia and re-estimated "
    "centroid head",
    tags=("similarity", "clustering"),
)
def q_kmeans_step_embeddings(spark, sf_dir):
    """Distributed k-means (operators/similarity.py::kmeans_step — the
    Lloyd iteration IVF's coarse quantizer needs at corpus scale, where
    the driver-sample training shortcut stops being representative):
    centroids are a k-row control-plane table inlined as literals, so
    ASSIGNMENT IS A ZERO-SHUFFLE MAP — k sequential-fold distance
    expressions per row (the fold order DuckDB's list_inner_product
    uses, so the oracle reproduces every double bit-for-bit) with
    array_min tie-broken on centroid id; re-estimation is one
    map-side-combined aggregate of k*d partial sums. Per iteration at
    100 TB: one job, one k*d-row shuffle, vectors never join."""
    from pramen_spark.operators.similarity import kmeans_step

    e = load_table(spark, sf_dir, "embeddings")
    seeds = e.where(F.col("vec_id").isin(1, 2, 3, 4)).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").cast("array<double>").alias("cvec"),
    )
    return kmeans_step(e, seeds)


@query(
    "edit_distance_pairs_documents",
    """
    WITH n AS (
        SELECT doc_id, lang,
               substr(lower(trim(text)), 1, 16) AS blk,
               substr(lower(trim(text)), 1, 200) AS head
        FROM documents WHERE trim(text) <> ''
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
    FROM n a JOIN n b
      ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 40
    """,
    "blocked Levenshtein near-duplicate pairs: same (lang, 16-char "
    "prefix) block, exact edit distance <= 40 on the 200-char head",
    tags=("dedup", "linkage"),
)
def q_edit_distance_pairs_documents(spark, sf_dir):
    """The record-linkage string-similarity join (operators/dedup.py::
    edit_distance_pairs): standard blocking on (lang, normalized
    16-char prefix), then exact codegen'd Levenshtein on bounded
    200-char heads — catches single-character-edit duplicates that
    shingle Jaccard barely moves. The self-join is CO-KEYED on the
    block (one hash partition, quadratic only within a block); the
    prefix block trades recall for join size exactly like LSH banding
    (early-edit duplicates are the MinHash pass's job). The O(n*m) DP
    cost is capped by head_chars^2, independent of document length."""
    from pramen_spark.operators.dedup import edit_distance_pairs

    return edit_distance_pairs(load_table(spark, sf_dir, "documents"))


@query(
    "dp_counts_customers",
    """
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_true,
           ROUND(COUNT(*)
                 + -(CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
                   * ln(1.0 - 2.0 * LEAST(ABS(u - 0.5), 0.5 - 1e-12))
                   / 1.0, 6) AS n_noisy,
           1.0 AS epsilon
    FROM (
        SELECT c_mktsegment,
               ('0x' || substr(md5(c_mktsegment || chr(31) || 'dp'), 1, 8))::BIGINT
               / 4294967296.0 AS u
        FROM customer
    )
    GROUP BY c_mktsegment, u
    """,
    "differentially-private release pattern: per-segment counts with "
    "deterministic seeded Laplace(1/eps) noise (eps = 1.0)",
    tags=("privacy", "validation"),
)
def q_dp_counts_customers(spark, sf_dir):
    """The release half of the privacy story (operators/validation.py::
    dp_noisy_counts, beside k_anonymity_customers' audit half): exact
    group counts plus inverse-CDF Laplace noise driven by a
    DERANDOMIZED md5-uniform of the seeded group key — deterministic so
    a re-run backfill publishes identical numbers and the oracle
    replays the noise exactly; production rotates the seed per
    publication. One map-side-combined aggregation; the noise is a pure
    column expression; sensitivity 1 => scale 1/epsilon."""
    from pramen_spark.operators.validation import dp_noisy_counts

    return dp_noisy_counts(
        load_table(spark, sf_dir, "customer"), ["c_mktsegment"],
        epsilon=1.0, seed="dp",
    )


@query(
    "cms_frequency_events",
    """
    WITH c AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_exact, TRUE AS overestimates, TRUE AS within_bound
    FROM c ORDER BY n_exact DESC, user_id LIMIT 10
    """,
    "count-min sketch contract: the 4x1024 sketch's estimate for each "
    "top-10 user must be >= the exact count and <= exact + e*N/width",
    tags=("sketch", "monitoring"),
)
def q_cms_frequency_events(spark, sf_dir):
    """The frequency sibling of hll_accuracy_events (operators/
    sketches.py::cms_build / cms_estimate): the depth*width counter
    table is built in one exploded map-side-combined aggregation (<=
    4096 rows whatever the input), estimates probe it broadcast with
    min-over-depth, and the contract pins BOTH CMS guarantees — the
    estimate never undercounts (structural) and overshoots by at most
    e*N/width (the Markov envelope, deterministic here because the
    hashes are fixed). The sketch is mergeable across batches by
    summing cells — the merge_agg_state algebra — which is what makes
    it the 100 TB heavy-hitter first pass."""
    from pramen_spark.operators.sketches import (
        cms_build, cms_error_bound, cms_estimate,
    )

    ev = load_events(spark, sf_dir).select("user_id")
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    top = exact.orderBy(F.desc("n_exact"), F.asc("user_id")).limit(10)
    sketch = cms_build(ev, "user_id", width=1024, depth=4)
    est = cms_estimate(sketch, top, "user_id", width=1024, depth=4)
    n_rows = ev.count()
    bound = cms_error_bound(n_rows, width=1024)
    return top.join(est, "user_id").select(
        "user_id",
        "n_exact",
        (F.col("est") >= F.col("n_exact")).alias("overestimates"),
        (F.col("est") <= F.col("n_exact") + F.lit(bound)).alias("within_bound"),
    )


@query(
    "trailing_active_users_events",
    """
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du)
    SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS active_7d
    FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
    "rolling 7-day active users per day (exact trailing-window distinct)",
    tags=("analytics", "timegrid"),
)
def q_trailing_active_users_events(spark, sf_dir):
    """The rolling-actives metric (operators/timegrid.py::
    trailing_distinct): the log collapses to DISTINCT (day, user) first
    — the only stage that sees event volume — then each pair EXPLODES
    to the <= 7 target days it serves and a second distinct-count
    finishes per day. No range join, no self-join: shuffle volume is
    7 * |active pairs|, independent of event count; day membership is
    a broadcast semi-join against the calendar-sized day list. Month
    windows swap the explode for merged per-day HLL sketches."""
    from pramen_spark.operators.timegrid import trailing_distinct

    return trailing_distinct(
        load_events(spark, sf_dir), "ts", "user_id", window_days=7
    )


@query(
    "lsh_recall_audit",
    f"""
    WITH lsh AS ({_lsh_topk_oracle()}),
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
        SELECT query_id, vec_id
        FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id) AS rank
            FROM scored
        ) WHERE rank <= 10
    )
    SELECT b.query_id,
           CAST(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           ROUND(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 / 10.0, 4) AS recall_at_10
    FROM brute b LEFT JOIN lsh l
      ON b.query_id = l.query_id AND b.vec_id = l.vec_id
    GROUP BY b.query_id
    """,
    "recall@10 of the hyperplane-LSH index against brute-force cosine "
    "per query (the ANN quality gate)",
    tags=("similarity", "monitoring"),
)
def q_lsh_recall_audit(spark, sf_dir):
    """The audit every ANN index must publish (operators/similarity.py::
    topk_recall): LSH top-10 (the production path) overlapped against
    brute-force top-10 (the ground truth) per query. Both inputs are
    k-rows-per-query tables, so the overlap join and per-query count
    are KB-scale; the oracle recomputes BOTH sides exactly (the
    deterministic plane literals replay the index). Recall < 1 here is
    the LSH design working as specified, not a bug — the contract is
    that the number is MEASURED and tracked, the multi-probe/plane
    knobs trade it against candidate volume."""
    from pramen_spark.operators.similarity import (
        cosine_topk, lsh_topk, topk_recall,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    lsh = lsh_topk(e, q, k=10, num_planes=4, dim=64, multi_probe=2)
    brute = cosine_topk(e, q, k=10)
    return topk_recall(lsh, brute, k=10)


@query(
    "bootstrap_ci_events",
    """
    WITH w AS (
        SELECT b, value,
               CASE WHEN u < 0.36787944117144233 THEN 0
                    WHEN u < 0.7357588823428847 THEN 1
                    WHEN u < 0.9196986029286058 THEN 2
                    WHEN u < 0.9810118431238463 THEN 3
                    WHEN u < 0.9963401531726563 THEN 4
                    WHEN u < 0.9994058151824183 THEN 5
                    WHEN u < 0.999916758850712 THEN 6
                    ELSE 7 END AS w
        FROM (
            SELECT b.b AS b, e.value,
                   ('0x' || substr(md5(CAST(e.event_id AS VARCHAR)
                                       || chr(31) || 'boot'
                                       || CAST(b.b // 4 AS VARCHAR)),
                                   1 + (b.b % 4) * 8, 8))::BIGINT
                   / 4294967296.0 AS u
            FROM events e, range(0, 50) b(b)
        )
    ),
    m AS (SELECT b, SUM(w * value) / SUM(w) AS mb FROM w GROUP BY b)
    SELECT CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS n_rows,
           ROUND((SELECT SUM(value) FROM events)
                 / (SELECT COUNT(*) FROM events), 6) AS mean_value,
           ROUND(quantile_cont(mb, 0.025), 6) AS ci_lo,
           ROUND(quantile_cont(mb, 0.975), 6) AS ci_hi,
           CAST(50 AS BIGINT) AS n_boot
    FROM m
    """,
    "derandomized Poisson-bootstrap 95% CI for the mean event value: 50 "
    "hash-weighted resample means in one aggregation pass",
    tags=("analytics", "sampling"),
)
def q_bootstrap_ci_events(spark, sf_dir):
    """Error bars on corpus statistics without 50 scans (operators/
    sampling.py::bootstrap_mean_ci — the Poisson bootstrap, the
    distributed resampling scheme that needs no global coordination):
    each resample weights every row Poisson(1) via the md5-uniform of
    (id, seed, b), ALL 100 weighted sums evaluate in ONE map-side
    combined aggregation, and the percentile interval interpolates over
    the 50-element means array inside the single result row. The oracle
    replays weights and quantile_cont interpolation exactly."""
    from pramen_spark.operators.sampling import bootstrap_mean_ci

    ev = load_events(spark, sf_dir).select("event_id", "value")
    return bootstrap_mean_ci(ev, "value", "event_id", n_boot=50, alpha=0.05)


@query(
    "bpe_merge_candidates_documents",
    r"""
    WITH tok AS (
        SELECT unnest(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'),
            x -> x <> '')) AS w
        FROM documents
    ),
    wc AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    bg AS (
        SELECT c, unnest(list_transform(range(1, length(w)),
                   i -> substr(w, CAST(i AS INTEGER), 2))) AS pair
        FROM wc WHERE length(w) >= 2
    )
    SELECT pair, CAST(SUM(c) AS BIGINT) AS weight
    FROM bg GROUP BY pair ORDER BY weight DESC, pair LIMIT 20
    """,
    "BPE tokenizer training, round one: top-20 adjacent character pairs "
    "weighted by word frequency (the merge-candidate count step)",
    tags=("text", "tokenizer"),
)
def q_bpe_merge_candidates_documents(spark, sf_dir):
    """The count step of BPE vocabulary training (operators/text.py::
    bpe_merge_candidates): the corpus collapses to the distinct-word
    vocabulary with counts FIRST (the Zipf trick — the only stage that
    sees corpus volume), then pair explosion runs over the vocabulary
    with each pair weighted by its word count; top-20 is a
    TakeOrderedAndProject. Full tokenizer training iterates
    apply-merge -> recount; every iteration is this shape."""
    from pramen_spark.operators.text import bpe_merge_candidates

    return bpe_merge_candidates(load_documents_spread(spark, sf_dir))


@query(
    "target_encode_orders",
    """
    WITH per AS (
        SELECT o_orderpriority AS category, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
        FROM orders GROUP BY 1
    ),
    g AS (SELECT CAST(SUM(s) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS gm
          FROM per)
    SELECT category, n,
           ROUND((CAST(s AS DOUBLE) + 10.0 * gm) / (n + 10.0), 6) AS enc
    FROM per, g
    """,
    "smoothed target encoding: per-priority mean order value shrunk "
    "toward the global mean (m = 10 empirical-Bayes prior)",
    tags=("features", "ml"),
)
def q_target_encode_orders(spark, sf_dir):
    """The categorical encoder table (operators/features.py::
    target_encode): enc = (sum_cat + m*global_mean) / (n_cat + m) —
    empirical-Bayes shrinkage so rare categories sit near the prior
    instead of memorizing their few rows. Target sums run in DECIMAL
    (exact, order-independent — a plain double sum drifts ~1e-2 at this
    magnitude across partition orders), so the encoder is
    bit-reproducible. One map-side-combined aggregation; the global
    mean re-aggregates the KB-scale category table and broadcasts."""
    from pramen_spark.operators.features import target_encode

    return target_encode(
        load_table(spark, sf_dir, "orders"), "o_orderpriority",
        "o_totalprice", smoothing=10.0,
    )


@query(
    "vocab_truncate_documents",
    r"""
    WITH tok AS (
        SELECT unnest(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'),
            x -> x <> '')) AS token
        FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY 1),
    mapped AS (
        SELECT CASE WHEN n >= 20 THEN token ELSE '__unk__' END AS token_out,
               n
        FROM freq
    )
    SELECT token_out, CAST(SUM(n) AS BIGINT) AS n_occurrences
    FROM mapped GROUP BY 1
    ORDER BY n_occurrences DESC, token_out LIMIT 20
    """,
    "vocabulary truncation: token histogram after collapsing tokens "
    "with fewer than 20 occurrences into __unk__ (top-20)",
    tags=("features", "text"),
)
def q_vocab_truncate_documents(spark, sf_dir):
    """Long-tail collapse (operators/features.py::collapse_rare) applied
    to the token vocabulary — the `<unk>` mapping every fixed-vocab
    tokenizer performs. The FREQUENT set (bounded by total_tokens /
    min_count) builds in one map-side-combined aggregation and
    broadcast-joins back over the token stream; the histogram then
    counts the collapsed column. No shuffle carries raw text beyond
    the (token) explode itself; top-20 is a TakeOrderedAndProject."""
    from pramen_spark.operators.features import collapse_rare

    toks = F.expr(
        "filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')"
    )
    tok_df = load_documents_spread(spark, sf_dir).select(
        F.explode(toks).alias("token")
    )
    collapsed = collapse_rare(tok_df, "token", min_count=20,
                              other_label="__unk__")
    return (
        collapsed.groupBy(F.col("token").alias("token_out"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("token_out"))
        .limit(20)
    )




@query(
    "image_pixel_stats",
    """
    WITH imgs AS (
        SELECT doc_id, 9 + doc_id % 24 AS w, 9 + (doc_id * 3) % 24 AS h
        FROM documents
    ),
    px AS (
        SELECT doc_id, w, h, x, y,
               CASE WHEN doc_id % 3 = 0 THEN (5 * v + 7) % 256
                    ELSE v END AS r,
               CASE WHEN doc_id % 3 = 0 THEN (9 * v + 1) % 256
                    ELSE (2 * doc_id + 5 * x + y) % 256 END AS g,
               CASE WHEN doc_id % 3 = 0 THEN (11 * v + 4) % 256
                    ELSE (3 * doc_id + x + 2 * y) % 256 END AS b
        FROM (
            SELECT i.doc_id, i.w, i.h, tx.x, ty.y,
                   (i.doc_id + 3 * tx.x + 7 * ty.y) % 256 AS v
            FROM imgs i,
                 unnest(range(i.w)) AS tx(x),
                 unnest(range(i.h)) AS ty(y)
        )
    ),
    agg AS (
        SELECT doc_id, w, h,
               CAST(COUNT(*) AS BIGINT) AS n_pixels,
               CAST(SUM(r) AS BIGINT) AS sum_r,
               CAST(SUM(g) AS BIGINT) AS sum_g,
               CAST(SUM(b) AS BIGINT) AS sum_b,
               CAST(SUM(r + g + b) AS BIGINT) AS sum_luma3,
               CAST(SUM((r + g + b) * (r + g + b)) AS BIGINT) AS sum_luma3_sq
        FROM px GROUP BY doc_id, w, h
    ),
    delta AS (
        SELECT doc_id,
               CAST(SUM(ABS(l - lp)) AS BIGINT) AS sum_row_delta
        FROM (
            SELECT doc_id, r + g + b AS l,
                   LAG(r + g + b) OVER (
                       PARTITION BY doc_id, x ORDER BY y) AS lp
            FROM px
        ) WHERE lp IS NOT NULL GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           n_pixels, sum_r, sum_g, sum_b, sum_row_delta,
           ROUND(CAST(sum_r AS DOUBLE) / n_pixels, 6) AS mean_r,
           ROUND(CAST(sum_g AS DOUBLE) / n_pixels, 6) AS mean_g,
           ROUND(CAST(sum_b AS DOUBLE) / n_pixels, 6) AS mean_b,
           ROUND(CAST(sum_luma3 AS DOUBLE) / (3 * n_pixels), 6)
               AS mean_brightness,
           ROUND(SQRT(GREATEST(
               CAST(sum_luma3_sq AS DOUBLE) / (9 * n_pixels)
               - (CAST(sum_luma3 AS DOUBLE) / (3 * n_pixels))
                 * (CAST(sum_luma3 AS DOUBLE) / (3 * n_pixels)), 0)), 6)
               AS std_brightness,
           ROUND(CAST(w AS DOUBLE) / h, 6) AS aspect_ratio
    FROM agg JOIN delta USING (doc_id)
    """,
    "REAL pixel decode: full PNGs (zlib IDAT, all five scanline filters, "
    "Adam7 INTERLACED storage for odd ids, PLTE palette images for ids "
    "divisible by 3) written by the independent encoder, decoded back "
    "pixel-exact and reduced to channel/brightness moments; the "
    "adjacent-row-delta statistic pins row order through de-interlacing",
    tags=("multimodal",),
)
def q_image_pixel_stats(spark, sf_dir):
    """The round-9 close of the last decode stub (operators/multimodal.py::
    decode_png + image_pixel_stats): each document id deterministically
    derives an RGB image — w=9+id%24, h=9+3*id%24, r=(id+3x+7y)%256,
    g=(2id+5x+y)%256, b=(3id+x+2y)%256; ids divisible by 3 store the
    SAME v=(id+3x+7y)%256 plane as a PLTE palette image through
    pal[j]=((5j+7)%256,(9j+1)%256,(11j+4)%256) — which encode_png
    writes as a complete PNG (zlib-compressed IDAT, per-row filter
    cycling through None/Sub/Up/Average/Paeth so every unfilter path is
    exercised, and for ODD ids the Adam7 interlaced layout: 7
    independently-filtered passes, round 11), and decode_png recovers
    pixel-exactly inside Arrow-batched mapInPandas. The oracle
    regenerates the pixels from the id arithmetic alone and aggregates
    in SQL: any encoder/decoder disagreement — a wrong Paeth predictor,
    an off-by-one stride, a bad average floor, a palette miss, a pass
    scattered to wrong offsets — breaks the integer sums, and the
    adjacent-row-delta statistic pins row ORDER through de-interlacing.
    Means/std derive from exact integer sums in identical double
    expressions on both engines.

    Scale: both stages are pure maps (no shuffle); blobs never leave
    their partition, and the decode is the bounded CPU-tier pass that
    gates what a 100 TB multimodal pipeline ships to GPU decoders."""
    from pramen_spark.operators.multimodal import (
        encode_png,
        image_pixel_stats,
    )
    from pyspark.sql import types as T
    import numpy as np
    import pandas as pd

    d = load_documents_spread(spark, sf_dir).select("doc_id")
    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("content", T.BinaryType(), True),
        ]
    )

    j = np.arange(256, dtype=np.int64)
    pal = np.stack(
        [(5 * j + 7) % 256, (9 * j + 1) % 256, (11 * j + 4) % 256], axis=1
    ).astype(np.uint8)

    def encode(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            blobs = []
            for i in ids:
                i = int(i)
                w, h = 9 + i % 24, 9 + (i * 3) % 24
                x = np.arange(w, dtype=np.int64)[None, :]
                y = np.arange(h, dtype=np.int64)[:, None]
                v = (i + 3 * x + 7 * y) % 256
                ffr = lambda yy, base=i: (base + yy) % 5  # noqa: E731
                if i % 3 == 0:  # palette storage of the v plane
                    blobs.append(
                        encode_png(
                            v.astype(np.uint8),
                            filter_for_row=ffr,
                            interlace=(i % 2 == 1),
                            palette=pal,
                        )
                    )
                    continue
                px = np.stack(
                    [
                        v,
                        (2 * i + 5 * x + y) % 256,
                        (3 * i + x + 2 * y) % 256,
                    ],
                    axis=2,
                ).astype(np.uint8)
                blobs.append(
                    encode_png(px, filter_for_row=ffr, interlace=(i % 2 == 1))
                )
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = d.mapInPandas(encode, enc_schema)
    s = image_pixel_stats(media)
    n = F.col("n_pixels")
    sl = F.col("sum_luma3").cast("double")
    mean_b3 = sl / (F.lit(3) * n)
    var = F.col("sum_luma3_sq").cast("double") / (F.lit(9) * n) - mean_b3 * mean_b3
    return s.select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        "n_pixels",
        "sum_r",
        "sum_g",
        "sum_b",
        "sum_row_delta",
        F.round(F.col("sum_r").cast("double") / n, 6).alias("mean_r"),
        F.round(F.col("sum_g").cast("double") / n, 6).alias("mean_g"),
        F.round(F.col("sum_b").cast("double") / n, 6).alias("mean_b"),
        F.round(mean_b3, 6).alias("mean_brightness"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std_brightness"),
        F.round(F.col("width").cast("double") / F.col("height"), 6).alias(
            "aspect_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# Exact BPE tokenizer apply (round 10): train merges on the bounded head
# vocabulary, encode the full corpus exactly, return per-document exact
# token counts. The DuckDB oracle replays the ENTIRE flow in SQL — the
# training loop as unrolled materialized stages (argmax pair + one
# literal replace per stage, the pagerank unrolled-iteration pattern)
# and the encode as the same replace chain via scalar subqueries.
# ---------------------------------------------------------------------------

_BPE_NUM_MERGES = 40
_BPE_HEAD_K = 512


def _bpe_oracle_sql(num_merges: int, head_k: int) -> str:
    from pramen_spark.operators.text import BPE_SEP

    s, s2 = BPE_SEP, BPE_SEP * 2
    parts = [
        f"""WITH tokw AS MATERIALIZED (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x <> '')) AS w
    FROM documents
),
vocab AS MATERIALIZED (
    SELECT w, COUNT(*) AS c,
           '{s2}' || regexp_replace(w, '(.)', '\\1{s2}', 'g') AS s0
    FROM tokw GROUP BY w
),
h0 AS MATERIALIZED (
    SELECT w, c, s0 AS s FROM vocab WHERE length(w) >= 2
    ORDER BY c DESC, w LIMIT {head_k}
)"""
    ]
    for i in range(1, num_merges + 1):
        parts.append(
            f""",
r{i} AS MATERIALIZED (
    SELECT a, b, a || b AS m FROM (
        SELECT ts[CAST(k AS INTEGER)] AS a, ts[CAST(k + 1 AS INTEGER)] AS b,
               SUM(c) AS wt
        FROM (SELECT c, string_split(s, '{s2}') AS ts FROM h{i - 1}) t,
             unnest(range(2, len(ts) - 1)) AS u(k)
        GROUP BY 1, 2 ORDER BY wt DESC, a, b LIMIT 1
    )
),
h{i} AS MATERIALIZED (
    SELECT w, c, replace(s,
        COALESCE((SELECT '{s}' || a || '{s2}' || b || '{s}' FROM r{i}), chr(1)),
        COALESCE((SELECT '{s}' || m || '{s}' FROM r{i}), '')) AS s
    FROM h{i - 1}
)"""
        )
    enc = "s0"
    for i in range(1, num_merges + 1):
        enc = (
            f"replace({enc},\n"
            f"  COALESCE((SELECT '{s}' || a || '{s2}' || b || '{s}' FROM r{i}), chr(1)),\n"
            f"  COALESCE((SELECT '{s}' || m || '{s}' FROM r{i}), ''))"
        )
    parts.append(
        f""",
enc AS MATERIALIZED (
    SELECT w,
           len(list_filter(string_split({enc}, '{s2}'), x -> x <> ''))
             AS n_tokens
    FROM vocab
),
agg AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_tokens) AS BIGINT) AS n_bpe_tokens
    FROM tokw JOIN enc USING (w) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
FROM documents d LEFT JOIN agg USING (doc_id)"""
    )
    return "".join(parts)


@query(
    "bpe_encode_documents",
    _bpe_oracle_sql(_BPE_NUM_MERGES, _BPE_HEAD_K),
    "Exact BPE tokenizer apply: head-trained merges, exact per-doc token counts",
    tags=("text", "curation"),
)
def q_bpe_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact BPE tokenization of the corpus. The merge table is learned
    from the top-512 head vocabulary (TakeOrderedAndProject, bounded) by
    the deterministic pure-Python trainer, then applied EXACTLY to every
    distinct word as one JVM-side chain of 40 literal replaces — no UDF
    anywhere — and exact counts join back to document word instances
    (vocabulary-sized build side, AQE-broadcastable).

    Reference parity: pramen has no tokenizer — this is the
    training-data-brief extension that upgrades packing / token-budget
    queries from estimates to exact counts."""
    from pramen_spark.operators.text import bpe_encode, learn_bpe_merges

    d = load_documents_spread(spark, sf_dir)
    # vocab_limit=None: the production shape — the incremental trainer
    # (bpe_train_merges_fast) runs on the FULL weighted vocabulary. The
    # SQL oracle replays training over the top-512 head, which covers
    # the full vocabulary of this corpus (31 distinct words at every
    # SF), and the trainers are pytest-asserted identical on identical
    # vocabularies, so the replay stays exact.
    merges = learn_bpe_merges(d, num_merges=_BPE_NUM_MERGES, vocab_limit=None)
    return bpe_encode(d, merges)


@query(
    "image_pixel_stats_gif",
    """
    WITH imgs AS (
        SELECT doc_id, 9 + (doc_id * 5) % 24 AS w, 9 + (doc_id * 7) % 24 AS h
        FROM documents
    ),
    px AS (
        SELECT i.doc_id, i.w, i.h,
               (7 * ((i.doc_id + 3 * tx.x + 7 * ty.y) % 256) + 1) % 256 AS r,
               (11 * ((i.doc_id + 3 * tx.x + 7 * ty.y) % 256) + 3) % 256 AS g,
               (13 * ((i.doc_id + 3 * tx.x + 7 * ty.y) % 256) + 5) % 256 AS b
        FROM imgs i,
             unnest(range(i.w)) AS tx(x),
             unnest(range(i.h)) AS ty(y)
    ),
    agg AS (
        SELECT doc_id, w, h,
               CAST(COUNT(*) AS BIGINT) AS n_pixels,
               CAST(SUM(r) AS BIGINT) AS sum_r,
               CAST(SUM(g) AS BIGINT) AS sum_g,
               CAST(SUM(b) AS BIGINT) AS sum_b,
               CAST(SUM(r + g + b) AS BIGINT) AS sum_luma3,
               CAST(SUM((r + g + b) * (r + g + b)) AS BIGINT) AS sum_luma3_sq
        FROM px GROUP BY doc_id, w, h
    ),
    delta AS (
        SELECT doc_id,
               CAST(SUM(ABS(
                   ((7 * v1 + 1) % 256 + (11 * v1 + 3) % 256
                    + (13 * v1 + 5) % 256)
                 - ((7 * v0 + 1) % 256 + (11 * v0 + 3) % 256
                    + (13 * v0 + 5) % 256))) AS BIGINT) AS sum_row_delta
        FROM (
            SELECT i.doc_id,
                   (i.doc_id + 3 * tx.x + 7 * ty.y) % 256 AS v1,
                   (i.doc_id + 3 * tx.x + 7 * (ty.y - 1)) % 256 AS v0
            FROM imgs i,
                 unnest(range(i.w)) AS tx(x),
                 unnest(range(1, i.h)) AS ty(y)
        ) GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           n_pixels, sum_r, sum_g, sum_b, sum_row_delta,
           ROUND(CAST(sum_r AS DOUBLE) / n_pixels, 6) AS mean_r,
           ROUND(CAST(sum_g AS DOUBLE) / n_pixels, 6) AS mean_g,
           ROUND(CAST(sum_b AS DOUBLE) / n_pixels, 6) AS mean_b,
           ROUND(CAST(sum_luma3 AS DOUBLE) / (3 * n_pixels), 6)
               AS mean_brightness,
           ROUND(SQRT(GREATEST(
               CAST(sum_luma3_sq AS DOUBLE) / (9 * n_pixels)
               - (CAST(sum_luma3 AS DOUBLE) / (3 * n_pixels))
                 * (CAST(sum_luma3 AS DOUBLE) / (3 * n_pixels)), 0)), 6)
               AS std_brightness,
           ROUND(CAST(w AS DOUBLE) / h, 6) AS aspect_ratio
    FROM agg JOIN delta USING (doc_id)
    """,
    "REAL GIF pixel decode incl. 4-pass INTERLACED frames (odd ids): "
    "complete LZW-compressed GIF89a files written by the independent "
    "encoder, decompressed, de-interlaced and palette-mapped back "
    "pixel-exact; the adjacent-row-delta statistic pins row ORDER",
    tags=("multimodal",),
)
def q_image_pixel_stats_gif(spark, sf_dir):
    """The round-10 GIF twin of image_pixel_stats (operators/multimodal.py::
    decode_gif + _gif_lzw_decode): each document id deterministically
    derives a palette-indexed image — w=9+5*id%24, h=9+7*id%24,
    idx=(id+3x+7y)%256 through palette pal[j]=((7j+1)%256, (11j+3)%256,
    (13j+5)%256) — which encode_gif writes as a complete GIF89a (global
    color table, graphic-control extension, variable-width LZW data
    sub-blocks), and decode_gif recovers pixel-exactly inside the same
    Arrow-batched mapInPandas pass PNG uses (decode_image dispatches on
    magic bytes). The oracle regenerates the pixels from the id + palette
    arithmetic alone and aggregates in SQL: any LZW width-bump, clear-code
    or sub-block reassembly disagreement breaks the integer sums.

    Scale: both stages are pure maps (no shuffle) — the bounded CPU-tier
    decode pass that gates what a 100 TB multimodal pipeline ships on."""
    from pramen_spark.operators.multimodal import (
        encode_gif,
        image_pixel_stats,
    )
    from pyspark.sql import types as T
    import numpy as np
    import pandas as pd

    d = load_documents_spread(spark, sf_dir).select("doc_id")
    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("content", T.BinaryType(), True),
        ]
    )
    j = np.arange(256, dtype=np.int64)
    pal = np.stack(
        [(7 * j + 1) % 256, (11 * j + 3) % 256, (13 * j + 5) % 256], axis=1
    ).astype(np.uint8)

    def encode(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            blobs = []
            for i in ids:
                i = int(i)
                w, h = 9 + (i * 5) % 24, 9 + (i * 7) % 24
                x = np.arange(w, dtype=np.int64)[None, :]
                y = np.arange(h, dtype=np.int64)[:, None]
                idx = ((i + 3 * x + 7 * y) % 256).astype(np.uint8)
                # odd ids write INTERLACED frames (4-pass row order +
                # descriptor flag): the decoder must de-interlace or the
                # order-sensitive sum_row_delta below breaks the hash
                blobs.append(encode_gif(idx, pal, interlace=(i % 2 == 1)))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = d.mapInPandas(encode, enc_schema)
    s = image_pixel_stats(media)
    n = F.col("n_pixels")
    sl = F.col("sum_luma3").cast("double")
    mean_b3 = sl / (F.lit(3) * n)
    var = F.col("sum_luma3_sq").cast("double") / (F.lit(9) * n) - mean_b3 * mean_b3
    return s.select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        "n_pixels",
        "sum_r",
        "sum_g",
        "sum_b",
        "sum_row_delta",
        F.round(F.col("sum_r").cast("double") / n, 6).alias("mean_r"),
        F.round(F.col("sum_g").cast("double") / n, 6).alias("mean_g"),
        F.round(F.col("sum_b").cast("double") / n, 6).alias("mean_b"),
        F.round(mean_b3, 6).alias("mean_brightness"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std_brightness"),
        F.round(F.col("width").cast("double") / F.col("height"), 6).alias(
            "aspect_ratio"
        ),
    )


# JPEG fixture arithmetic shared by the image AND video (MJPEG) oracles
# (defined ahead of both queries; full rationale in the round-11 section
# further down this file).
_JPEG_FIX_QY = [[2 + (3 * i + 5 * j) % 7 for j in range(8)] for i in range(8)]
_JPEG_FIX_QC = [[3 + (2 * i + 3 * j) % 5 for j in range(8)] for i in range(8)]


def _jpeg_fixture_blocks(doc_id: int, mx: int, my: int, c: int):
    """Quantized-level blocks for one component of one fixture image:
    5 nonzero natural-order positions driven by base = id + 2bx + 3by
    + 5c (coprime multipliers; full period lcm(11,9,7) = 693)."""
    import numpy as np

    a = np.zeros((my, mx, 8, 8), dtype=np.int64)
    for by in range(my):
        for bx in range(mx):
            base = doc_id + 2 * bx + 3 * by + 5 * c
            a[by, bx, 0, 0] = (base % 11) - 5
            a[by, bx, 0, 1] = ((2 * base + 1) % 9) - 4
            a[by, bx, 1, 0] = ((4 * base + 2) % 9) - 4
            a[by, bx, 2, 2] = ((5 * base + 3) % 7) - 3
            a[by, bx, 6, 3] = ((4 * base + 5) % 7) - 3
    return a


def _jpeg_sample_sql(c: int, q: list, sub: bool = False, base: str = None) -> str:
    """The 5-term IDCT replay for one component: sample =
    clamp(floor(128 + sum of alpha(i)alpha(j)/4 * q(i,j) * L(i,j) *
    cos((2y+1)i pi/16) cos((2x+1)j pi/16) + 0.5)). ``q`` lists the quant
    values at the five fixture positions (0,0),(0,1),(1,0),(2,2),(6,3).
    ``sub=True`` replays a 2x2-subsampled chroma plane: the sample for
    frame pixel (x,y) lives at chroma-plane coords (x//2, y//2) — block
    (x//16, y//16), offset ((x//2)%8, (y//2)%8) — which is exactly the
    nearest-neighbor upsample the decoder applies. ``base`` overrides
    the level-arithmetic base expression (the MJPEG video oracle adds a
    per-frame term); the rounding-margin guard covers ANY integer base
    because it sweeps the full lcm(11,9,7)=693 period."""
    if base is not None:
        xr, yr = "(tx.x % 8)", "(ty.y % 8)"
    elif sub:
        base = f"(i.doc_id + 2 * (tx.x // 16) + 3 * (ty.y // 16) + {5 * c})"
        xr, yr = "((tx.x // 2) % 8)", "((ty.y // 2) % 8)"
    else:
        base = f"(i.doc_id + 2 * (tx.x // 8) + 3 * (ty.y // 8) + {5 * c})"
        xr, yr = "(tx.x % 8)", "(ty.y % 8)"
    t00 = f"0.125 * {q[0]} * (({base} % 11) - 5)"
    t01 = (
        f"(1.0 / (4.0 * SQRT(2.0))) * {q[1]} * (((2 * {base} + 1) % 9) - 4)"
        f" * COS((2 * {xr} + 1) * PI() / 16.0)"
    )
    t10 = (
        f"(1.0 / (4.0 * SQRT(2.0))) * {q[2]} * (((4 * {base} + 2) % 9) - 4)"
        f" * COS((2 * {yr} + 1) * PI() / 16.0)"
    )
    t22 = (
        f"0.25 * {q[3]} * (((5 * {base} + 3) % 7) - 3)"
        f" * COS((2 * {yr} + 1) * 2 * PI() / 16.0)"
        f" * COS((2 * {xr} + 1) * 2 * PI() / 16.0)"
    )
    t63 = (
        f"0.25 * {q[4]} * (((4 * {base} + 5) % 7) - 3)"
        f" * COS((2 * {yr} + 1) * 6 * PI() / 16.0)"
        f" * COS((2 * {xr} + 1) * 3 * PI() / 16.0)"
    )
    return (
        f"LEAST(GREATEST(CAST(FLOOR(128.0 + {t00} + {t01} + {t10} + {t22}"
        f" + {t63} + 0.5) AS BIGINT), 0), 255)"
    )



def _video_oracle_sql() -> str:
    # MJPEG videos (doc_id % 3 = 1): every frame is a grayscale JPEG
    # whose levels derive from base = doc_id + 11f + 2bx + 3by, so the
    # decoded sample is the same 5-term IDCT replay the image oracle
    # uses (luma quant values), r = g = b
    mj = _jpeg_sample_sql(
        0,
        [2, 7, 5, 4, 7],
        base="(v.doc_id + 11 * tf.f + 2 * (tx.x // 8) + 3 * (ty.y // 8))",
    )
    return f"""
    WITH vids AS (
        SELECT doc_id,
               6 + doc_id % 10 AS w,
               6 + (doc_id * 3) % 10 AS h,
               2 + doc_id % 4 AS nf
        FROM documents
    ),
    px AS (
        SELECT v.doc_id, v.w, v.h, v.nf,
               CASE WHEN v.doc_id % 3 = 1 THEN {mj}
                    ELSE (v.doc_id + 3 * tx.x + 7 * ty.y + 11 * tf.f) % 256
               END AS r,
               CASE WHEN v.doc_id % 3 = 1 THEN {mj}
                    ELSE (2 * v.doc_id + 5 * tx.x + ty.y + 13 * tf.f) % 256
               END AS g,
               CASE WHEN v.doc_id % 3 = 1 THEN {mj}
                    ELSE (3 * v.doc_id + tx.x + 2 * ty.y + 17 * tf.f) % 256
               END AS b
        FROM vids v,
             unnest(range(v.nf)) AS tf(f),
             unnest(range(v.w)) AS tx(x),
             unnest(range(v.h)) AS ty(y)
    ),
    agg AS (
        SELECT doc_id, w, h, nf,
               CAST(COUNT(*) AS BIGINT) AS n_pixels,
               CAST(SUM(r) AS BIGINT) AS sum_r,
               CAST(SUM(g) AS BIGINT) AS sum_g,
               CAST(SUM(b) AS BIGINT) AS sum_b,
               CAST(SUM(r + g + b) AS BIGINT) AS sum_luma3,
               CAST(SUM((r + g + b) * (r + g + b)) AS BIGINT) AS sum_luma3_sq
        FROM px GROUP BY doc_id, w, h, nf
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(nf AS INTEGER) AS n_frames,
           n_pixels, sum_r, sum_g, sum_b,
           ROUND(CAST(sum_luma3 AS DOUBLE) / (3 * n_pixels), 6)
               AS mean_brightness,
           ROUND(SQRT(GREATEST(
               CAST(sum_luma3_sq AS DOUBLE) / (9 * n_pixels)
               - (CAST(sum_luma3 AS DOUBLE) / (3 * n_pixels))
                 * (CAST(sum_luma3 AS DOUBLE) / (3 * n_pixels)), 0)), 6)
               AS std_brightness
    FROM agg
    """


@query(
    "video_frame_stats",
    _video_oracle_sql(),
    "REAL video frame decode: uncompressed BI_RGB AVIs byte-sliced back "
    "pixel-exact AND Motion-JPEG AVIs (ids % 3 = 1) whose frames decode "
    "through the real JPEG codec, reduced to per-video moments; the "
    "oracle replays MJPEG pixels as the 5-term IDCT cosine sum",
    tags=("multimodal",),
)
def q_video_frame_stats(spark, sf_dir):
    """The round-10 close of the video-frame stub, upgraded round 11
    with Motion JPEG (operators/multimodal.py::decode_avi_frames +
    video_frame_stats): each document id derives a short video —
    w=6+id%10, h=6+3*id%10, nf=2+id%4 frames. Ids with id%3==1 are
    MJPEG: every frame is a grayscale JPEG (levels from the shared
    small-moduli arithmetic at base id+11f+2bx+3by, alternating
    baseline/progressive storage per frame) carried in 00dc chunks
    behind a 'MJPG' strf, decoded frame-by-frame through the real JPEG
    codec; the rest are uncompressed BI_RGB — r=(id+3x+7y+11f)%256,
    g=(2id+5x+y+13f)%256, b=(3id+x+2y+17f)%256 — written by encode_avi
    (hdrl with avih + a 'vids' strl, movi list of bottom-up BGR
    4-byte-stride 00db DIB frames) and recovered by byte slicing. The
    oracle regenerates every frame's pixels from the id arithmetic
    alone (the MJPEG branch as the image oracle's 5-term IDCT replay)
    and aggregates in SQL: any RIFF walk, stride, row-flip, BGR-order,
    Huffman or IDCT disagreement breaks the integer sums. Inter-frame
    codecs (H.26x) are the remaining documented descope.

    Scale: both stages are pure maps (no shuffle); frames aggregate
    inside the decode task, so one moments row per video leaves it."""
    from pramen_spark.operators.multimodal import (
        encode_avi,
        encode_avi_mjpeg,
        encode_jpeg,
        encode_jpeg_progressive,
        video_frame_stats,
    )
    from pyspark.sql import types as T
    import numpy as np
    import pandas as pd

    d = load_documents_spread(spark, sf_dir).select("doc_id")
    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("content", T.BinaryType(), True),
        ]
    )

    qy = np.array(_JPEG_FIX_QY, dtype=np.int64)

    def encode(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            blobs = []
            for i in ids:
                i = int(i)
                w, h, nf = 6 + i % 10, 6 + (i * 3) % 10, 2 + i % 4
                if i % 3 == 1:  # Motion JPEG: one gray JPEG per frame
                    mx, my = -(-w // 8), -(-h // 8)
                    jfs = []
                    for f in range(nf):
                        lv = [_jpeg_fixture_blocks(i + 11 * f, mx, my, 0)]
                        enc = (
                            encode_jpeg_progressive
                            if f % 2
                            else encode_jpeg
                        )
                        jfs.append(enc(lv, w, h, [qy]))
                    blobs.append(encode_avi_mjpeg(jfs, w, h))
                    continue
                x = np.arange(w, dtype=np.int64)[None, :]
                y = np.arange(h, dtype=np.int64)[:, None]
                frames = [
                    np.stack(
                        [
                            (i + 3 * x + 7 * y + 11 * f) % 256,
                            (2 * i + 5 * x + y + 13 * f) % 256,
                            (3 * i + x + 2 * y + 17 * f) % 256,
                        ],
                        axis=2,
                    ).astype(np.uint8)
                    for f in range(nf)
                ]
                blobs.append(encode_avi(frames))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = d.mapInPandas(encode, enc_schema)
    s = video_frame_stats(media)
    n = F.col("n_pixels")
    sl = F.col("sum_luma3").cast("double")
    mean_b3 = sl / (F.lit(3) * n)
    var = F.col("sum_luma3_sq").cast("double") / (F.lit(9) * n) - mean_b3 * mean_b3
    return s.select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        "n_frames",
        "n_pixels",
        "sum_r",
        "sum_g",
        "sum_b",
        F.round(mean_b3, 6).alias("mean_brightness"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std_brightness"),
    )


@query(
    "audio_sample_stats",
    """
    WITH clips AS (
        SELECT doc_id, 200 + (doc_id % 100) * 4 AS n FROM documents
    ),
    samp AS (
        SELECT c.doc_id, c.n,
               ((c.doc_id * 13 + t.t * t.t * 3 + t.t * 7) % 4001) - 2000 AS s
        FROM clips c, unnest(range(c.n)) AS t(t)
    ),
    agg AS (
        SELECT doc_id,
               CAST(MAX(n) AS BIGINT) AS n_frames,
               CAST(SUM(s) AS BIGINT) AS sum_amp,
               CAST(SUM(s * s) AS BIGINT) AS sum_amp_sq,
               CAST(MAX(ABS(s)) AS INTEGER) AS peak_amp
        FROM samp GROUP BY doc_id
    ),
    zc AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN (s < 0) <> (s2 < 0) THEN 1 ELSE 0 END)
                    AS BIGINT) AS zero_crossings
        FROM (
            SELECT c.doc_id,
                   ((c.doc_id * 13 + u.t * u.t * 3 + u.t * 7) % 4001) - 2000
                       AS s,
                   ((c.doc_id * 13 + (u.t + 1) * (u.t + 1) * 3
                     + (u.t + 1) * 7) % 4001) - 2000 AS s2
            FROM clips c, unnest(range(c.n - 1)) AS u(t)
        ) GROUP BY doc_id
    )
    SELECT a.doc_id,
           CAST(16000 AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS n_channels,
           a.n_frames, a.sum_amp, a.sum_amp_sq, a.peak_amp,
           z.zero_crossings
    FROM agg a JOIN zc z USING (doc_id)
    """,
    "REAL PCM audio decode: complete RIFF/WAVE clips written by the "
    "independent encoder, decoded back sample-exact and reduced to "
    "amplitude/energy/zero-crossing moments",
    tags=("multimodal",),
)
def q_audio_sample_stats(spark, sf_dir):
    """The round-10 audio member of the media family (operators/
    multimodal.py::decode_wav + audio_sample_stats): each document id
    derives a deterministic integer waveform — n=200+4*(id%100) frames,
    s_t=((13*id + 3*t^2 + 7*t) mod 4001) - 2000 — which encode_wav
    writes as a complete 16-bit mono PCM RIFF/WAVE, and decode_wav
    recovers sample-exactly inside Arrow-batched mapInPandas. The
    oracle regenerates every sample from the id arithmetic alone and
    aggregates in SQL: any fmt-chunk walk, endianness or sign-width
    disagreement breaks the integer sums; the zero-crossing count
    ((s<0) != (s_next<0)) additionally pins sample ORDER, which the
    permutation-invariant sums alone could not. Compressed audio is the
    documented descope alongside JPEG.

    Scale: both stages are pure maps (no shuffle); one moments row per
    clip leaves the decode task."""
    from pramen_spark.operators.multimodal import (
        audio_sample_stats,
        encode_wav,
    )
    from pyspark.sql import types as T
    import numpy as np
    import pandas as pd

    d = load_documents_spread(spark, sf_dir).select("doc_id")
    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("content", T.BinaryType(), True),
        ]
    )

    def encode(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            blobs = []
            for i in ids:
                i = int(i)
                t = np.arange(200 + (i % 100) * 4, dtype=np.int64)
                s = ((i * 13 + t * t * 3 + t * 7) % 4001) - 2000
                blobs.append(encode_wav(s, sample_rate=16000, bits=16))
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = d.mapInPandas(encode, enc_schema)
    return audio_sample_stats(media).select(
        F.col("media_id").alias("doc_id"),
        "sample_rate",
        "n_channels",
        "n_frames",
        "sum_amp",
        "sum_amp_sq",
        "peak_amp",
        "zero_crossings",
    )


# ---------------------------------------------------------------------------
# IMA ADPCM audio decode (round 12): the compressed-audio descope closed
# with the one compressed codec that is exactly integer. Each document id
# derives a deterministic 4-bit code stream — n = 96 + 4*(id%64) nibbles,
# nib_t = (7*id + 5*t^2 + 3*t) mod 16 — seeded at predictor
# ((13*id) mod 4001) - 2000 and step index id mod 89, which
# pack_wav_adpcm writes as a single-block format-0x11 RIFF/WAVE.
# decode_wav replays the published step-table predictor recurrence, and
# the DuckDB oracle replays the SAME recurrence as a recursive CTE over
# the SQL-regenerated nibble stream (89-row step table inlined, the
# index walk and +-32768 clamps in integer CASE arithmetic) — the JPEG
# IDCT-replay trick transplanted to audio. The zero-crossing statistic
# pins sample ORDER as usual.
# ---------------------------------------------------------------------------


def _adpcm_oracle_sql() -> str:
    from pramen_spark.operators.multimodal import _ADPCM_STEP

    step_vals = ", ".join(f"({i}, {s})" for i, s in enumerate(_ADPCM_STEP))
    return f"""WITH RECURSIVE stp(i, s) AS (
    SELECT * FROM (VALUES {step_vals}) t(i, s)
),
clips AS (
    SELECT doc_id, 96 + (doc_id % 64) * 4 AS n FROM documents
),
walk(doc_id, t, n, pred, idx) AS (
    SELECT doc_id, 0, n,
           CAST(((doc_id * 13) % 4001) - 2000 AS INTEGER),
           CAST(doc_id % 89 AS INTEGER)
    FROM clips
    UNION ALL
    SELECT q.doc_id, q.t + 1, q.n,
           CAST(GREATEST(-32768, LEAST(32767,
               q.pred + CASE WHEN q.nib >= 8 THEN -q.d ELSE q.d END))
               AS INTEGER),
           CAST(GREATEST(0, LEAST(88, q.idx
               + CASE q.nib % 8
                     WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6 WHEN 7 THEN 8
                     ELSE -1 END)) AS INTEGER)
    FROM (
        SELECT w.doc_id, w.t, w.n, w.pred, w.idx,
               (w.doc_id * 7 + (w.t + 1) * (w.t + 1) * 5 + (w.t + 1) * 3)
                   % 16 AS nib,
               st.s // 8
               + CASE WHEN nib % 2 = 1 THEN st.s // 4 ELSE 0 END
               + CASE WHEN (nib // 2) % 2 = 1 THEN st.s // 2 ELSE 0 END
               + CASE WHEN (nib // 4) % 2 = 1 THEN st.s ELSE 0 END AS d
        FROM walk w JOIN stp st ON st.i = w.idx
        WHERE w.t < w.n
    ) q
),
agg AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(pred) AS BIGINT) AS sum_amp,
           CAST(SUM(pred * pred) AS BIGINT) AS sum_amp_sq,
           CAST(MAX(ABS(pred)) AS INTEGER) AS peak_amp
    FROM walk GROUP BY doc_id
),
zc AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN (pred < 0) <> (nxt < 0) THEN 1 ELSE 0 END)
                AS BIGINT) AS zero_crossings
    FROM (
        SELECT doc_id, pred,
               LEAD(pred) OVER (PARTITION BY doc_id ORDER BY t) AS nxt
        FROM walk
    ) WHERE nxt IS NOT NULL
    GROUP BY doc_id
)
SELECT a.doc_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS n_channels,
       a.n_frames, a.sum_amp, a.sum_amp_sq, a.peak_amp,
       z.zero_crossings
FROM agg a JOIN zc z USING (doc_id)"""


@query(
    "audio_sample_stats_adpcm",
    _adpcm_oracle_sql(),
    "REAL IMA ADPCM decode: format-0x11 WAV clips written by the "
    "independent nibble packer, decoded through the exact integer "
    "step-table predictor recurrence and reduced to amplitude moments; "
    "the oracle replays the recurrence as a recursive CTE",
    tags=("multimodal",),
)
def q_audio_sample_stats_adpcm(spark, sf_dir):
    """Round-12 compressed-audio member of the media family
    (operators/multimodal.py::decode_wav format tag 0x11 +
    audio_sample_stats; reference parity note: the reference framework's
    format breadth stops at uncompressed payloads, so this extends the
    training-data curation surface beyond it). The fixture codes are
    regenerated from doc_id arithmetic on BOTH engines, so any
    disagreement in the step table walk, the per-fraction truncation
    (step>>3 + selected step>>2/step>>1/step fractions, each truncated
    separately), the +-32768 predictor clamp or the 0..88 index clamp
    breaks the integer sums; zero crossings pin sample order.

    Scale: both stages are pure maps (no shuffle); the sequential
    recurrence is per-clip work inside the Arrow-batched decode task,
    one moments row per clip leaves it."""
    from pramen_spark.operators.multimodal import (
        audio_sample_stats,
        pack_wav_adpcm,
    )
    from pyspark.sql import types as T
    import pandas as pd

    d = load_documents_spread(spark, sf_dir).select("doc_id")
    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("content", T.BinaryType(), True),
        ]
    )

    def encode(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            blobs = []
            for i in ids:
                i = int(i)
                n = 96 + (i % 64) * 4
                nibs = [
                    (i * 7 + t * t * 5 + t * 3) % 16 for t in range(1, n + 1)
                ]
                blobs.append(
                    pack_wav_adpcm(
                        nibs,
                        predictor=((i * 13) % 4001) - 2000,
                        step_index=i % 89,
                        sample_rate=8000,
                    )
                )
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = d.mapInPandas(encode, enc_schema)
    return audio_sample_stats(media).select(
        F.col("media_id").alias("doc_id"),
        "sample_rate",
        "n_channels",
        "n_frames",
        "sum_amp",
        "sum_amp_sq",
        "peak_amp",
        "zero_crossings",
    )


# ---------------------------------------------------------------------------
# BPE encode under a production-SIZED (>512 rule) merge table (round 11):
# the Arrow greedy kernel is the engine a real ~50k-rule tokenizer table
# routes through (engine auto > 256), but until now only the 40-rule
# trained table had a full value-level oracle. The deterministic
# synthetic_bpe_rules() table (582 creation-ordered rules, data
# independent) lets DuckDB replay the EXACT encode as a 582-step replace
# chain via a recursive CTE joined on rule rank — the replace chain and
# the greedy kernel are provably equivalent on creation-ordered tables
# (pytest asserts bit-equality), so this is a true cross-engine check of
# the production path at production table size.
# ---------------------------------------------------------------------------


def _bpe_large_ruleset_oracle_sql() -> str:
    from pramen_spark.operators.text import synthetic_bpe_rules

    rules = synthetic_bpe_rules()
    vals = ", ".join(
        f"({i}, '{a}', '{b}')" for i, (a, b) in enumerate(rules)
    )
    sep2 = "chr(31)||chr(31)"
    toks = f"list_filter(string_split(s, {sep2}), x -> x <> '')"
    return f"""WITH RECURSIVE rules(r, a, b) AS (
    SELECT * FROM (VALUES {vals}) t(r, a, b)
),
vocab AS MATERIALIZED (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS c
    FROM (
        SELECT unnest(list_filter(
            string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
        FROM documents
    ) GROUP BY w
),
head AS MATERIALIZED (
    SELECT w, c FROM vocab ORDER BY c DESC, w LIMIT 500
),
steps AS (
    SELECT w, c,
           {sep2} || regexp_replace(w, '(.)', '\\1' || {sep2}, 'g') AS s,
           -1 AS r
    FROM head
    UNION ALL
    SELECT st.w, st.c,
           replace(st.s, chr(31)||ru.a||{sep2}||ru.b||chr(31),
                         chr(31)||ru.a||ru.b||chr(31)),
           ru.r
    FROM steps st JOIN rules ru ON ru.r = st.r + 1
)
SELECT w, c,
       CAST(len({toks}) AS BIGINT) AS n_tokens,
       array_to_string({toks}, ' ') AS toks
FROM steps WHERE r = (SELECT MAX(r) FROM rules)"""


@query(
    "bpe_encode_large_ruleset",
    _bpe_large_ruleset_oracle_sql(),
    "Arrow greedy BPE kernel under a 582-rule creation-ordered table, "
    "oracle-replayed as a recursive-CTE replace chain",
    tags=("text", "curation"),
)
def q_bpe_encode_large_ruleset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact BPE encode of the corpus vocabulary under the deterministic
    582-rule synthetic table (operators/text.py::synthetic_bpe_rules) —
    the table size routes engine='auto' through the Arrow greedy kernel
    (mapInPandas, rank dict built once per task), the path a production
    ~50k-rule tokenizer uses; output is the top-500 head by (count desc,
    word asc) with the full token split, so any kernel/rank divergence
    breaks the value hash, not just a count.

    Scale (100 TB): the Zipf collapse bounds the encode by the DISTINCT
    vocabulary (one map-side-combined count + a zero-shuffle Arrow map);
    the head selection is a TakeOrderedAndProject. Corpus volume only
    touches the word-count aggregation."""
    from pramen_spark.operators.text import (
        bpe_encode_vocab,
        synthetic_bpe_rules,
    )

    d = load_documents_spread(spark, sf_dir)
    toks = F.expr("filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')")
    vocab = (
        d.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    enc = bpe_encode_vocab(vocab, synthetic_bpe_rules(), engine="arrow")
    return (
        enc.orderBy(F.desc("c"), F.asc("w"))
        .limit(500)
        .select(
            "w",
            "c",
            F.col("n_tokens"),
            F.array_join("tokens", " ").alias("toks"),
        )
    )


# ---------------------------------------------------------------------------
# Baseline JPEG pixel decode (round 11): the last media-pixel descope
# closed. The fixture defines each file by its QUANTIZED DCT coefficient
# levels (5 nonzero positions per block, small moduli arithmetic on
# doc_id/block/component), encode_jpeg writes a complete baseline JPEG
# (canonical Huffman, zigzag, DC prediction, restart markers for ids
# divisible by 3), and decode_jpeg recovers the samples exactly as
# clamp(floor(idct(level*q) + 128.5)). Because only 5 coefficients are
# nonzero, DuckDB can replay the IDCT as an explicit 5-term cosine sum
# in double precision — a pytest guard sweeps the full fixture period
# (693 bases x 64 positions x both quant tables) and proves every
# pre-round value sits >= 8.8e-6 from a .5 boundary, five orders of
# magnitude above cross-engine double noise, so FLOOR(x+0.5) rounds
# identically on both engines and the moment oracle is EXACT.
# ---------------------------------------------------------------------------

def _jpeg_oracle_sql() -> str:
    qy = [2, 7, 5, 4, 7]  # _JPEG_FIX_QY at the five positions
    qc = [3, 6, 5, 3, 4]  # _JPEG_FIX_QC at the five positions
    s0 = _jpeg_sample_sql(0, qy)
    s1, s2 = _jpeg_sample_sql(1, qc), _jpeg_sample_sql(2, qc)
    # 4:2:0 fixtures (doc_id % 4 = 3): chroma planes on the half grid
    s1s, s2s = (
        _jpeg_sample_sql(1, qc, sub=True),
        _jpeg_sample_sql(2, qc, sub=True),
    )

    def conv(expr: str) -> str:
        return (
            f"LEAST(GREATEST(CAST(FLOOR({expr} + 0.5) AS BIGINT), 0), 255)"
        )

    def rgb(col: str) -> str:
        e444 = {
            "r": "s0 + 1.402 * (s2 - 128)",
            "g": "s0 - 0.344136 * (s1 - 128) - 0.714136 * (s2 - 128)",
            "b": "s0 + 1.772 * (s1 - 128)",
        }[col]
        e420 = e444.replace("s1", "s1s").replace("s2", "s2s")
        return (
            f"CASE WHEN doc_id % 2 = 0 THEN s0"
            f" WHEN doc_id % 4 = 1 THEN {conv(e444)}"
            f" ELSE {conv(e420)} END"
        )

    return f"""
    WITH imgs AS (
        SELECT doc_id, 9 + (doc_id * 5) % 20 AS w, 9 + (doc_id * 7) % 20 AS h
        FROM documents
    ),
    px AS (
        SELECT i.doc_id, i.w, i.h, tx.x, ty.y,
               {s0} AS s0, {s1} AS s1, {s2} AS s2,
               {s1s} AS s1s, {s2s} AS s2s
        FROM imgs i,
             unnest(range(i.w)) AS tx(x),
             unnest(range(i.h)) AS ty(y)
    ),
    rgbpx AS (
        SELECT doc_id, w, h, x, y,
               {rgb("r")} AS r,
               {rgb("g")} AS g,
               {rgb("b")} AS b
        FROM px
    ),
    agg AS (
        SELECT doc_id, w, h,
               CAST(COUNT(*) AS BIGINT) AS n_pixels,
               CAST(SUM(r) AS BIGINT) AS sum_r,
               CAST(SUM(g) AS BIGINT) AS sum_g,
               CAST(SUM(b) AS BIGINT) AS sum_b,
               CAST(SUM(r + g + b) AS BIGINT) AS sum_luma3,
               CAST(SUM((r + g + b) * (r + g + b)) AS BIGINT) AS sum_luma3_sq
        FROM rgbpx GROUP BY doc_id, w, h
    ),
    delta AS (
        SELECT doc_id,
               CAST(SUM(ABS(l - lp)) AS BIGINT) AS sum_row_delta
        FROM (
            SELECT doc_id, r + g + b AS l,
                   LAG(r + g + b) OVER (
                       PARTITION BY doc_id, x ORDER BY y) AS lp
            FROM rgbpx
        ) WHERE lp IS NOT NULL GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           n_pixels, sum_r, sum_g, sum_b, sum_row_delta,
           ROUND(CAST(sum_r AS DOUBLE) / n_pixels, 6) AS mean_r,
           ROUND(CAST(sum_g AS DOUBLE) / n_pixels, 6) AS mean_g,
           ROUND(CAST(sum_b AS DOUBLE) / n_pixels, 6) AS mean_b,
           ROUND(CAST(sum_luma3 AS DOUBLE) / (3 * n_pixels), 6)
               AS mean_brightness,
           ROUND(SQRT(GREATEST(
               CAST(sum_luma3_sq AS DOUBLE) / (9 * n_pixels)
               - (CAST(sum_luma3 AS DOUBLE) / (3 * n_pixels))
                 * (CAST(sum_luma3 AS DOUBLE) / (3 * n_pixels)), 0)), 6)
               AS std_brightness,
           ROUND(CAST(w AS DOUBLE) / h, 6) AS aspect_ratio
    FROM agg JOIN delta USING (doc_id)
    """


@query(
    "image_pixel_stats_jpeg",
    _jpeg_oracle_sql(),
    "REAL JPEG decode: complete SOF0 AND progressive SOF2 files "
    "(canonical Huffman "
    "entropy coding, zigzag, DC prediction, restart markers, gray, "
    "4:4:4 AND subsampled 4:2:0 color) written by the independent "
    "encoder from quantized DCT levels, decoded back sample-exact; the "
    "oracle replays the IDCT as an explicit 5-term cosine sum per pixel "
    "and the chroma upsample as half-grid coordinate arithmetic",
    tags=("multimodal",),
)
def q_image_pixel_stats_jpeg(spark, sf_dir):
    """The round-11 close of the LAST media-pixel descope (operators/
    multimodal.py::decode_jpeg + encode_jpeg): each document id derives
    a baseline JPEG — w=9+5*id%20, h=9+7*id%20, grayscale for even ids,
    YCbCr 4:4:4 for id%4==1, YCbCr 4:2:0 (the dominant real-world
    layout: Y 2x2, chroma on the half grid, nearest-neighbor upsample)
    for id%4==3, restart interval 2 for ids divisible by 3, and
    PROGRESSIVE (SOF2) storage for gray/4:4:4 ids with id%5==2 (the
    spectral-selection + successive-approximation scan script — same
    levels, same pixels, so the oracle is storage-invariant) — whose
    quantized coefficient levels come from small-moduli arithmetic on
    (id, block, component), so the decoded samples are exactly
    clamp(floor(idct(level*q) + 128.5)) with a 5-term IDCT that DuckDB
    replays in closed form (the 4:2:0 chroma sample via half-grid
    coordinate arithmetic). Any Huffman, zigzag, predictor, restart,
    MCU-interleave, upsample, dequantize or YCbCr-conversion
    disagreement breaks the integer sums; the adjacent-row-delta
    statistic additionally pins row ORDER.

    Scale: both stages are pure maps (no shuffle); moments reduce inside
    the decode task — the bounded CPU-tier pixel pass that gates what a
    100 TB multimodal pipeline ships to GPU decoders."""
    from pramen_spark.operators.multimodal import (
        encode_jpeg,
        encode_jpeg_progressive,
        image_pixel_stats,
    )
    from pyspark.sql import types as T
    import numpy as np
    import pandas as pd

    d = load_documents_spread(spark, sf_dir).select("doc_id")
    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("content", T.BinaryType(), True),
        ]
    )
    qy = np.array(_JPEG_FIX_QY, dtype=np.int64)
    qc = np.array(_JPEG_FIX_QC, dtype=np.int64)

    def encode(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            blobs = []
            for i in ids:
                i = int(i)
                w, h = 9 + (i * 5) % 20, 9 + (i * 7) % 20
                ri = 2 if i % 3 == 0 else 0
                # storage mode is an independent axis: ids with i%5==2
                # store their gray/4:4:4 levels PROGRESSIVELY (SOF2
                # spectral selection + successive approximation) — the
                # pixels, and therefore the oracle, are identical
                prog = i % 5 == 2
                if i % 2 == 0:  # grayscale, single-component scan
                    mx, my = -(-w // 8), -(-h // 8)
                    lv = [_jpeg_fixture_blocks(i, mx, my, 0)]
                    blobs.append(
                        encode_jpeg_progressive(lv, w, h, [qy])
                        if prog
                        else encode_jpeg(lv, w, h, [qy], restart_interval=ri)
                    )
                elif i % 4 == 1:  # YCbCr 4:4:4
                    mx, my = -(-w // 8), -(-h // 8)
                    lv = [_jpeg_fixture_blocks(i, mx, my, c) for c in range(3)]
                    blobs.append(
                        encode_jpeg_progressive(lv, w, h, [qy, qc])
                        if prog
                        else encode_jpeg(
                            lv, w, h, [qy, qc], restart_interval=ri
                        )
                    )
                else:  # YCbCr 4:2:0 — Y on the full grid, chroma halved
                    mx, my = -(-w // 16), -(-h // 16)
                    lv = [_jpeg_fixture_blocks(i, 2 * mx, 2 * my, 0)] + [
                        _jpeg_fixture_blocks(i, mx, my, c) for c in (1, 2)
                    ]
                    blobs.append(
                        encode_jpeg(
                            lv, w, h, [qy, qc], restart_interval=ri,
                            sampling=[(2, 2), (1, 1), (1, 1)],
                        )
                    )
            yield pd.DataFrame({"media_id": ids, "content": blobs})

    media = d.mapInPandas(encode, enc_schema)
    s = image_pixel_stats(media)
    n = F.col("n_pixels")
    sl = F.col("sum_luma3").cast("double")
    mean_b3 = sl / (F.lit(3) * n)
    var = F.col("sum_luma3_sq").cast("double") / (F.lit(9) * n) - mean_b3 * mean_b3
    return s.select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        "n_pixels",
        "sum_r",
        "sum_g",
        "sum_b",
        "sum_row_delta",
        F.round(F.col("sum_r").cast("double") / n, 6).alias("mean_r"),
        F.round(F.col("sum_g").cast("double") / n, 6).alias("mean_g"),
        F.round(F.col("sum_b").cast("double") / n, 6).alias("mean_b"),
        F.round(mean_b3, 6).alias("mean_brightness"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std_brightness"),
        F.round(F.col("width").cast("double") / F.col("height"), 6).alias(
            "aspect_ratio"
        ),
    )
