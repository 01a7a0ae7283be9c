"""Streaming, parse, sources/sinks surface (q48-q110): structured-streaming windows/dedup/joins, syslog parse, storage ops, early TPC-H.

Split from the monolithic queries.py (round 8).  Importing this module
registers its queries into the shared QUERIES/ORACLE registry.
"""

from ._common import *  # noqa: F401,F403
from ._common import (  # noqa: F401
    _BUCKETED_SEQ,
    _CORRM_COLS,
    _COS_EXPR,
    _DUP_UNION,
    _GEO_PENTAGON,
    _GEO_PX,
    _GEO_PY,
    _PII_EMAIL_RE,
    _PII_IP_RE,
    _SCRIPT_AR,
    _SCRIPT_CYR,
    _SCRIPT_HAN,
    _STREAM_EXEC_SEQ,
    _corrm_oracle,
    _dec,
    _dsum,
    _events_stream,
    _geo,
    _lang_case_sql,
    _run_stream,
    _t,
)


# =====================================================================
# Streaming-shaped analytics (batch equivalents of the streaming ops)
# =====================================================================


@query(
    "q48_window_tumbling",
    """
    SELECT strftime(time_bucket(INTERVAL '1 minute', ts), '{tsd}') AS win_start,
           event_type, COUNT(*) AS cnt
    FROM events
    WHERE event_type = 'error'
    GROUP BY 1, 2
    """.format(tsd=TS_D),
)
def q48(spark, sf_dir):
    """Tumbling-window counts (errors/min) — the reference's implied
    `mikrotik_logs` time-series query; same op runs under readStream."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format("w.start", TS_S).alias("win_start"), "event_type", "cnt"
        )
    )


@query(
    "q49_window_sliding",
    """
    SELECT strftime(time_bucket(INTERVAL '1 minute', ts) - k * INTERVAL '1 minute',
                    '{tsd}') AS win_start,
           COUNT(*) AS cnt
    FROM events, (SELECT unnest(range(5)) AS k) offs
    WHERE event_type = 'error'
    GROUP BY 1
    """.format(tsd=TS_D),
)
def q49(spark, sf_dir):
    """Sliding window (5 min window, 1 min slide) error counts."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.window("ts", "5 minutes", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.date_format("w.start", TS_S).alias("win_start"), "cnt")
    )


@query(
    "q50_session_window",
    """
    WITH x AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), y AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM x
    )
    SELECT user_id, strftime(MIN(ts), '{tsfd}') AS session_start,
           COUNT(*) AS n_events
    FROM y GROUP BY user_id, sid
    """.format(tsfd=TSF_D),
)
def q50(spark, sf_dir):
    """Session windows (5-minute gap) per user — Spark session_window vs
    a gaps-and-islands oracle."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", TSF_S).alias("session_start"),
            "n_events",
        )
    )


# =====================================================================
# The reference parse path, differentially tested (SURVEY §2.2)
# =====================================================================


@query(
    "q51_parse_syslog",
    """
    SELECT event_id,
           'u' || CAST(user_id AS VARCHAR) || ':514' AS Device,
           CAST(CASE WHEN event_type = 'error' THEN 3 ELSE 6 END AS TINYINT) AS Severity,
           event_type || ',topic' || CAST(user_id % 5 AS VARCHAR)
             || CASE WHEN event_type = 'error' THEN '' ELSE ',odd' END AS cats,
           'msg ' || CAST(event_id AS VARCHAR) AS Message
    FROM events
    """,
)
def q51(spark, sf_dir):
    """Differential test of ParseLog semantics (`lib/lopParse.go:29-81`):
    synthesize raw syslog lines from events, run the native parse, and let
    the oracle state the expected outcome directly.

    Lines: '<event_type>,<sev>,topic<u%5> msg <id>' where sev is 'error'
    (known keyword → Severity 3) or 'odd' (unknown → Severity 6 AND the
    token appended to Categories, `lopParse.go:69-71`)."""
    from ..functions.parse import parse_syslog_columns

    ev = _t(spark, sf_dir, "events")
    sev_tok = F.when(F.col("event_type") == "error", "error").otherwise("odd")
    raw = F.concat(
        F.col("event_type"),
        F.lit(","),
        sev_tok,
        F.lit(",topic"),
        (F.col("user_id") % 5).cast("string"),
        F.lit(" msg "),
        F.col("event_id").cast("string"),
    )
    device = F.concat(F.lit("u"), F.col("user_id").cast("string"), F.lit(":514"))
    cols = parse_syslog_columns(raw, device, clock=F.col("ts"))
    return ev.select(
        "event_id",
        cols["Device"],
        cols["Severity"],
        F.concat_ws(",", cols["Categories"]).alias("cats"),
        cols["Message"],
    )


# =====================================================================
# Array / map / date / string families (rounding out §2.3 scalar surface)
# =====================================================================


@query(
    "q52_array_ops",
    """
    SELECT doc_id,
           list_contains(string_split(text, ' '), 'scan') AS has_scan,
           list_has_any(string_split(text, ' '), ['join', 'merge', 'sort']) AS has_joinish,
           array_to_string(list_sort(list_distinct(
             list_slice(string_split(text, ' '), 1, 5))), ',') AS first5_sorted,
           len(list_distinct(string_split(text, ' '))) AS n_unique_words
    FROM documents WHERE doc_id % 7 = 0
    """,
)
def q52(spark, sf_dir):
    """Array predicates ClickHouse-style: has(), hasAny(), arraySort,
    arrayDistinct over word arrays."""
    d = _t(spark, sf_dir, "documents")
    w = words(F.col("text"))
    return d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.array_contains(w, "scan").alias("has_scan"),
        F.arrays_overlap(w, F.array(F.lit("join"), F.lit("merge"), F.lit("sort"))).alias(
            "has_joinish"
        ),
        F.concat_ws(",", F.array_sort(F.array_distinct(F.slice(w, 1, 5)))).alias(
            "first5_sorted"
        ),
        F.size(F.array_distinct(w)).cast("bigint").alias("n_unique_words"),
    )


@query(
    "q53_map_json",
    """
    SELECT event_id,
           array_to_string(json_keys(props), ',') AS prop_keys,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events WHERE event_id % 25 = 0
    """,
)
def q53(spark, sf_dir):
    """from_json → map type → map_keys/map_values (events.props)."""
    ev = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return ev.filter(F.col("event_id") % 25 == 0).select(
        "event_id",
        F.concat_ws(",", F.map_keys(m)).alias("prop_keys"),
        F.element_at(F.map_values(m), 1).alias("k_val"),
    )


@query(
    "q54_date_arith",
    """
    SELECT o_orderkey,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS d_plus30,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           year(o_orderdate) AS y, quarter(o_orderdate) AS q
    FROM orders WHERE o_orderkey % 40 = 0
    """,
)
def q54(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 40 == 0).select(
        "o_orderkey",
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd").alias(
            "d_plus30"
        ),
        F.datediff(F.lit("2000-01-01").cast("date"), F.to_date("o_orderdate")).alias(
            "days_to_y2k"
        ),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.year("o_orderdate").alias("y"),
        F.quarter("o_orderdate").alias("q"),
    )


@query(
    "q55_string_extra",
    """
    SELECT c_custkey,
           levenshtein(c_name, 'Customer#000000000') AS lev,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_pad,
           reverse(c_mktsegment) AS seg_rev,
           repeat(left(c_mktsegment, 2), 3) AS seg_rep,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_tr
    FROM customer WHERE c_custkey % 11 = 0
    """,
)
def q55(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") % 11 == 0).select(
        "c_custkey",
        F.levenshtein("c_name", F.lit("Customer#000000000")).alias("lev"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_pad"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.repeat(F.substring("c_mktsegment", 1, 2), 3).alias("seg_rep"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_tr"),
    )


# =====================================================================
# TPC-H-style deep joins
# =====================================================================


@query(
    "q56_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q56(spark, sf_dir):
    """TPC-H Q3 (shipping priority): selective dim filter → two fk joins →
    agg → top-10.  Revenue summed as DECIMAL(18,6) of the double product —
    products of 2dp×2dp values are exactly 4dp, so the decimal quantization
    is engine-neutral and the sum order-independent."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-03-15"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-03-15"))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "q57_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q57(spark, sf_dir):
    """TPC-H Q5 (local supplier volume): 6-way join; region/nation/supplier
    broadcast, fact chain shuffles on its fk keys."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@query(
    "q58_severity_rollup",
    """
    SELECT CASE CAST(CASE WHEN event_type = 'error' THEN 3 ELSE 6 END AS TINYINT)
             WHEN 3 THEN 'Error' WHEN 6 THEN 'Informational' END AS sev_name,
           strftime(time_bucket(INTERVAL '1 hour', ts), '{tsd}') AS hour_s,
           COUNT(*) AS cnt
    FROM events
    GROUP BY 1, 2
    """.format(tsd=TS_D),
)
def q58(spark, sf_dir):
    """Severity-name dimension (RFC 5424 levels, `lib/lopParse.go:10-19`)
    over hourly buckets — the CASE-expression dim from with_severity_name,
    applied to the events-as-logs mapping."""
    from ..functions.parse import with_severity_name

    ev = _t(spark, sf_dir, "events")
    sev = F.when(F.col("event_type") == "error", 3).otherwise(6).cast("tinyint")
    logs_like = ev.select(
        sev.alias("Severity"), F.date_trunc("hour", "ts").alias("hour_ts")
    )
    return (
        with_severity_name(logs_like)
        .groupBy(
            F.col("SeverityName").alias("sev_name"),
            F.date_format("hour_ts", TS_S).alias("hour_s"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "q59_embedding_stats",
    """
    SELECT label,
           COUNT(*) AS n_vecs,
           MIN({norm}) AS min_norm,
           MAX({norm}) AS max_norm
    FROM embeddings
    GROUP BY label
    """.format(
        norm="""sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
                i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                (x, y) -> x + y))"""
    ),
)
def q59(spark, sf_dir):
    """Per-label embedding norm stats (min/max are order-independent)."""
    from ..functions.vectors import norm, to_double

    emb = _t(spark, sf_dir, "embeddings")
    nrm = norm(to_double(F.col("embedding")))
    return (
        emb.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
    )


@query(
    "q60_embedding_neardup",
    """
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 5 = 0
    ), b AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[7] >= 0 THEN '1' ELSE '0' END ||
              CASE WHEN embedding[8] >= 0 THEN '1' ELSE '0' END) AS bucket
      FROM corpus),
         q AS (SELECT vec_id AS id_a, embedding AS qv, bucket FROM b),
         c AS (SELECT vec_id AS id_b, embedding AS nv, bucket FROM b)
    SELECT id_a, id_b, {cos} AS cos_sim
    FROM q JOIN c USING (bucket)
    WHERE id_a < id_b AND {cos} >= 0.99
    """.format(cos=_COS_EXPR.format(a="qv", b="nv")),
)
def q60(spark, sf_dir):
    """Embedding-cosine near-duplicate detection: sign-bucket LSH blocking
    (8 bits ≈ 256 buckets) then exact cosine within buckets — near-dup
    pairs never require the full O(n²) cross join.  Corpus salted with
    copies of every 5th vector so true dups (cos=1) exist."""
    from ..functions.vectors import sign_bucket

    from pyspark.sql import functions as _F

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", "embedding").unionByName(
        emb.filter(F.col("vec_id") % 5 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
        )
    )
    bucketed = corpus.select(
        "vec_id", "embedding", sign_bucket(F.col("embedding"), 8).alias("bucket")
    )
    a = bucketed.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("qvec"), "bucket"
    )
    b = bucketed.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("nvec"), "bucket"
    )
    from ..operators.similarity import _cos, _with_norm

    return (
        _with_norm(a, "qvec", "qn")
        .join(_with_norm(b, "nvec", "nn"), "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", _cos("qvec", "nvec", "qn", "nn"))
        .filter(F.col("cos_sim") >= 0.99)
        .select("id_a", "id_b", "cos_sim")
    )


@query(
    "q61_approx_percentile",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact,
           round(quantile_cont(o_totalprice, 0.95), 4) AS p95_exact,
           TRUE AS approx_within_rank_tol
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q61(spark, sf_dir):
    """percentile_approx (GK sketch) — the at-scale quantile path where the
    exact percentile's full sort per group is unaffordable.  The sketch
    value itself is engine-specific, so the checkable output is the exact
    interpolated percentiles plus a boolean asserting the sketch honored
    its RANK-error guarantee: the approx value must lie between the exact
    interpolated quantiles at q ∓ 2% rank (GK accuracy=10000 → rank error
    1e-4, plus one rank of nearest-element-vs-interpolation slack — a
    VALUE-relative tolerance is wrong for nearest-rank sketches: on small
    groups adjacent order prices differ by far more than any fixed
    percentage).  The oracle expects literal TRUE."""
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("p95"),
        F.percentile(
            "o_totalprice",
            F.array(F.lit(0.48), F.lit(0.52), F.lit(0.93), F.lit(0.97)),
        ).alias("bounds"),
        F.percentile_approx("o_totalprice", F.array(F.lit(0.5), F.lit(0.95)), 10000)
        .alias("pa"),
    )
    ok = (
        (F.element_at("pa", 1) >= F.element_at("bounds", 1))
        & (F.element_at("pa", 1) <= F.element_at("bounds", 2))
        & (F.element_at("pa", 2) >= F.element_at("bounds", 3))
        & (F.element_at("pa", 2) <= F.element_at("bounds", 4))
    )
    return agg.select(
        "o_orderpriority",
        F.round("p50", 4).alias("p50_exact"),
        F.round("p95", 4).alias("p95_exact"),
        ok.alias("approx_within_rank_tol"),
    )


@query(
    "q62_quality_filter",
    """
    WITH m AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) AS alpha_ratio,
             CAST(len(list_filter(string_split(text, ' '),
                  w -> w IN ('the','and','of','to','a','in','is','it','for','on'))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio
      FROM documents)
    SELECT doc_id,
           CASE WHEN n_words < 20 THEN 'too_short'
                WHEN alpha_ratio <= 0.6 THEN 'low_alpha'
                WHEN stop_ratio <= 0.01 THEN 'no_stopwords'
                ELSE 'keep' END AS verdict
    FROM m
    """,
)
def q62(spark, sf_dir):
    """Composite C4-style quality filter: first-failing-rule verdict per
    document — the keep/drop gate of a training-data pipeline."""
    d = _t(spark, sf_dir, "documents")
    q = quality_columns(F.col("text"))
    verdict = (
        F.when(q["n_words"] < 20, "too_short")
        .when(q["alpha_ratio"] <= 0.6, "low_alpha")
        .when(q["stopword_ratio"] <= 0.01, "no_stopwords")
        .otherwise("keep")
    )
    return d.select("doc_id", verdict.alias("verdict"))


@query(
    "q63_simsearch_ivf",
    """
    WITH cent0 AS (
      SELECT vec_id AS cell, embedding AS cv FROM embeddings WHERE vec_id < 16),
    cs0 AS (
      SELECT e.vec_id AS vid, cent0.cell, {cell_cos0} AS cell_sim
      FROM embeddings e, cent0),
    r0 AS (
      SELECT *, row_number() OVER (PARTITION BY vid
                                   ORDER BY cell_sim DESC, cell) AS crnk
      FROM cs0),
    a0 AS (SELECT vid, cell FROM r0 WHERE crnk = 1),
    mem AS (
      SELECT a0.cell, t.i AS pos, CAST(e.embedding[t.i] AS DOUBLE) AS val
      FROM a0 JOIN embeddings e ON e.vec_id = a0.vid,
           unnest(range(1, len(e.embedding) + 1)) AS t(i)),
    cent AS (
      SELECT cell, list(v ORDER BY pos) AS cv
      FROM (SELECT cell, pos, round(avg(val), 6) AS v
            FROM mem GROUP BY cell, pos)
      GROUP BY cell),
    cs AS (
      SELECT e.vec_id AS vid, cent.cell, {cell_cos} AS cell_sim
      FROM embeddings e, cent),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY vid
                                   ORDER BY cell_sim DESC, cell) AS crnk
      FROM cs),
    assign AS (SELECT vid, cell FROM r WHERE crnk = 1),
    probes AS (SELECT vid, cell FROM r WHERE crnk <= 2),
    q AS (
      SELECT p.vid AS query_id, p.cell, e.embedding AS qv
      FROM probes p JOIN embeddings e ON e.vec_id = p.vid
      WHERE p.vid < 10),
    cand AS (
      SELECT a.vid AS neighbor_id, a.cell, e.embedding AS nv
      FROM assign a JOIN embeddings e ON e.vec_id = a.vid),
    s AS (
      SELECT query_id, neighbor_id, {cos} AS cos_sim
      FROM q JOIN cand USING (cell) WHERE query_id <> neighbor_id)
    SELECT query_id, neighbor_id, cos_sim, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM s) t
    WHERE rnk <= 5
    """.format(
        cell_cos0=_COS_EXPR.format(a="e.embedding", b="cent0.cv"),
        cell_cos=_COS_EXPR.format(a="e.embedding", b="cent.cv"),
        cos=_COS_EXPR.format(a="qv", b="nv"),
    ),
)
def q63(spark, sf_dir):
    """IVF-flat ANN (the scale path next to q41 brute / q42 LSH): 16-cell
    coarse quantizer, seeded from deterministic vectors and refined by
    ONE Lloyd pass (`operators/similarity.py` refine_centroids) so the
    cells are data-adaptive; nprobe=2.  The oracle replicates the
    refinement exactly (6-dp-rounded elementwise means)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_ivf(
        emb, k=5, n_cells=16, nprobe=2, query_pred=F.col("query_id") < 10, refine=1
    )








@query(
    "q64_stream_tumbling",
    """
    SELECT strftime(time_bucket(INTERVAL '1 minute', ts), '{tsd}') AS win_start,
           event_type, COUNT(*) AS cnt
    FROM events
    WHERE event_type = 'error'
    GROUP BY 1, 2
    """.format(tsd=TS_D),
)
def q64(spark, sf_dir):
    """q48's tumbling-window agg executed as a REAL Structured Streaming
    query — file-source readStream, availableNow trigger, complete-mode
    memory sink — hash-matched against the same batch SQL oracle.
    Batch/stream parity is the reference's core promise (ingest loop →
    ClickHouse answers the same query, `lib/cacheManage.go:40`)."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format("w.start", TS_S).alias("win_start"), "event_type", "cnt"
        )
    )
    return _run_stream(agg, "complete")


@query(
    "q65_stream_dedup",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def q65(spark, sf_dir):
    """Streaming exact dedup: dropDuplicates over an unbounded stream
    (state-store backed), availableNow to completion.  Only the key
    columns are emitted so the result is order-independent and equals
    batch SELECT DISTINCT."""
    ev = _events_stream(spark, sf_dir)
    dedup_keys = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _run_stream(dedup_keys, "append")


@query(
    "q66_full_outer_join",
    """
    WITH a AS (
      SELECT o_custkey AS k, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spent_a
      FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey),
    b AS (
      SELECT o_custkey AS k, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spent_b
      FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey)
    SELECT coalesce(a.k, b.k) AS custkey,
           CAST(coalesce(spent_a, 0) AS DOUBLE) AS spent_open,
           CAST(coalesce(spent_b, 0) AS DOUBLE) AS spent_finished,
           (a.k IS NOT NULL AND b.k IS NOT NULL) AS in_both
    FROM a FULL OUTER JOIN b ON a.k = b.k
    """,
)
def q66(spark, sf_dir):
    """FULL OUTER join of two aggregated views of the same fact table —
    customers with open vs finished order spend, either side may miss."""
    o = _t(spark, sf_dir, "orders")
    a = (
        o.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.sum(_dec("o_totalprice")).alias("spent_a"))
    )
    b = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.sum(_dec("o_totalprice")).alias("spent_b"))
    )
    return a.join(b, a.k == b.k, "full_outer").select(
        F.coalesce(a.k, b.k).alias("custkey"),
        F.coalesce(F.col("spent_a"), F.lit(0).cast("decimal(18,2)"))
        .cast("double")
        .alias("spent_open"),
        F.coalesce(F.col("spent_b"), F.lit(0).cast("decimal(18,2)"))
        .cast("double")
        .alias("spent_finished"),
        (a.k.isNotNull() & b.k.isNotNull()).alias("in_both"),
    )


@query(
    "q67_ntile_ranks",
    """
    SELECT o_orderkey,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    """,
)
def q67(spark, sf_dir):
    """Distribution ranking functions: ntile / percent_rank / cume_dist
    with a total-order tiebreak so both engines rank identically."""
    o = _t(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "q68_pandas_udaf_geomean",
    """
    SELECT o_orderstatus,
           round(exp(avg(ln(CAST(o_totalprice AS DOUBLE)))), 2) AS geomean
    FROM orders GROUP BY o_orderstatus
    """,
)
def q68(spark, sf_dir):
    """Grouped-agg pandas UDAF (Arrow-batched) — the sanctioned custom-
    aggregate escape hatch when no built-in exists.  Geometric mean per
    order status; 2 dp rounding absorbs summation-order float noise
    (~1e-7 relative) between numpy and DuckDB."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: `from __future__ import annotations` makes
    # type-hint inference see strings it can't resolve for local names
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geomean(v):
        return float(np.exp(np.log(v.to_numpy(dtype="float64")).mean()))

    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(geomean(F.col("o_totalprice").cast("double")), 2).alias("geomean")
    )


@query(
    "q69_dedup_clusters",
    """
    WITH RECURSIVE corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
    ), sh AS (
      SELECT doc_id AS doc,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
             )) AS shl
      FROM corpus
    ), ex AS (
      SELECT doc, len(shl) AS n_sh, unnest(shl) AS shingle FROM sh
    ), pairs AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY a.doc, b.doc, a.n_sh, b.n_sh
      HAVING CAST(COUNT(*) AS DOUBLE)
             / CAST(a.n_sh + b.n_sh - COUNT(*) AS DOUBLE) >= 0.5
    ), edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ), reach AS (
      SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges) t
      UNION
      SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
    )
    SELECT u AS doc, MIN(v) AS cluster FROM reach GROUP BY u
    """,
)
def q69(spark, sf_dir):
    """Near-dup CLUSTER ASSIGNMENT: connected components over the q38
    Jaccard pair graph by iterative min-label propagation (the oracle
    computes the same transitive closure with a recursive CTE)."""
    d = _t(spark, sf_dir, "documents")
    corpus = d.select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    pairs = dedup.jaccard_pairs(corpus, "text", "doc_id", n=3, threshold=0.5)
    return dedup.cluster_assignments(pairs)


@query(
    "q70_stream_ingest_store",
    """
    SELECT event_id,
           'unknown:0' AS Device,
           CAST(CASE WHEN event_type = 'error' THEN 3 ELSE 6 END AS TINYINT) AS Severity,
           event_type || ',topic' || CAST(user_id % 5 AS VARCHAR)
             || CASE WHEN event_type = 'error' THEN '' ELSE ',odd' END AS cats,
           'msg ' || CAST(event_id AS VARCHAR) AS Message
    FROM events
    """,
)
def q70(spark, sf_dir):
    """The reference's ENTIRE hot path, end to end and oracle-checked:
    raw lines → Structured Streaming file source → P1-P8 parse →
    foreachBatch date-partitioned Parquet append (checkpointed) → batch
    read-back (`main.go:67-88` + `lib/cacheManage.go:12-65` as one
    pipeline).  Same synthesized corpus as q51; event_id recovered from
    the stored Message so the oracle can key on it."""
    import tempfile

    from ..sources.sinks import read_logs
    from ..streaming.ingest import start_ingest

    ev = _t(spark, sf_dir, "events")
    sev_tok = F.when(F.col("event_type") == "error", "error").otherwise("odd")
    raw = F.concat(
        F.col("event_type"),
        F.lit(","),
        sev_tok,
        F.lit(",topic"),
        (F.col("user_id") % 5).cast("string"),
        F.lit(" msg "),
        F.col("event_id").cast("string"),
    )
    base = scratch_dir("ingest_e2e_")
    src, store, ckpt = f"{base}/in", f"{base}/store", f"{base}/ckpt"
    ev.select(raw.alias("value")).coalesce(4).write.text(src)
    q = start_ingest(
        spark, src, store, ckpt, available_now=True, device_from_filename=False
    )
    q.awaitTermination(300)
    logs = read_logs(spark, store)
    return logs.select(
        F.split("Message", " ")[1].cast("bigint").alias("event_id"),
        "Device",
        "Severity",
        F.concat_ws(",", "Categories").alias("cats"),
        "Message",
    )


@query(
    "q71_frame_sample",
    """
    WITH f AS (
      SELECT doc_id, text,
             unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT), 2)) AS frame_idx
      FROM documents WHERE doc_id % 11 = 0)
    SELECT doc_id, frame_idx,
           substring(text, CAST(frame_idx * 64 + 1 AS INTEGER), 64) AS frame_text
    FROM f
    """,
)
def q71(spark, sf_dir):
    """Frame sampling (every 2nd 64-byte frame) through the one-to-many
    mapInPandas path; frames decoded back to UTF-8 so the oracle can
    state them with substring arithmetic (fixture text is ASCII)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 == 0)
    assets = multimodal.as_binary_assets(d)
    frames = multimodal.sample_frames(assets, every_n=2)
    return frames.select(
        "doc_id", "frame_idx", F.decode("frame", "UTF-8").alias("frame_text")
    )


@query(
    "q72_pivot",
    """
    SELECT user_id % 50 AS user_bucket,
           COUNT(*) FILTER (event_type = 'click') AS click,
           COUNT(*) FILTER (event_type = 'view') AS view,
           COUNT(*) FILTER (event_type = 'error') AS error,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase
    FROM events GROUP BY 1
    """,
)
def q72(spark, sf_dir):
    """Pivot (long→wide): event-type counts per user bucket.  Explicit
    value list keeps the plan a single pass (no distinct-values job) —
    the form that scales; the oracle states it as filtered counts."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy((F.col("user_id") % 50).alias("user_bucket"))
        .pivot("event_type", ["click", "view", "error", "purchase"])
        .count()
        .na.fill(0)
    )


@query(
    "q73_window_navigation",
    """
    SELECT o_custkey, o_orderkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice)
             OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                     AND UNBOUNDED FOLLOWING) AS last_price,
           nth_value(o_totalprice, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                     AND UNBOUNDED FOLLOWING) AS second_price
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q73(spark, sf_dir):
    """Window navigation: first_value / last_value / nth_value per
    customer order history (full-frame for last/nth so both engines see
    the whole partition)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.filter(F.col("o_custkey") < 200).select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(wf).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(wf).alias("second_price"),
    )


@query(
    "q74_levenshtein",
    """
    SELECT p_partkey, p_type,
           levenshtein(p_type, 'STANDARD BRUSHED COPPER') AS dist
    FROM part WHERE p_partkey % 20 = 0
    """,
)
def q74(spark, sf_dir):
    """Edit distance against a reference string — fuzzy text matching
    (ClickHouse editDistance analogue); identical DP semantics in both
    engines."""
    p = _t(spark, sf_dir, "part")
    return p.filter(F.col("p_partkey") % 20 == 0).select(
        "p_partkey",
        "p_type",
        F.levenshtein("p_type", F.lit("STANDARD BRUSHED COPPER")).alias("dist"),
    )


@query(
    "q75_salted_join",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q75(spark, sf_dir):
    """Skew-resistant salted join (explicit salting, SURVEY §4 scale
    posture) — row-identical to the plain join, which is exactly what the
    oracle states."""
    from ..operators.joins import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, o, on="l_orderkey", buckets=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("revenue"),
    )




@query(
    "q76_bucketed_join",
    """
    SELECT l_orderkey,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
           ANY_VALUE(o_orderstatus) AS status
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_custkey < 100
    GROUP BY l_orderkey
    """,
)
def q76(spark, sf_dir):
    """Shuffle-free co-located join over bucketed tables: both sides
    written bucketBy(8, orderkey) + sortBy once, then joined with zero
    Exchange (asserted in tests/test_plans.py).  At 100 TB this is the
    'pay the shuffle once at layout time' strategy for fact-fact joins."""
    import tempfile

    from ..operators.joins import write_bucketed

    _BUCKETED_SEQ[0] += 1
    seq = _BUCKETED_SEQ[0]
    base = scratch_dir("bucketed_")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    write_bucketed(li, f"b_lineitem_{seq}", "l_orderkey", 8, f"{base}/li")
    write_bucketed(o, f"b_orders_{seq}", "l_orderkey", 8, f"{base}/o")
    bl = spark.table(f"b_lineitem_{seq}")
    bo = spark.table(f"b_orders_{seq}")
    # merge hint: at tiny SF Catalyst would broadcast the small side; the
    # hint pins the SortMergeJoin so the plan demonstrates the bucketed
    # zero-shuffle shape this query exists to show (at 100 TB neither
    # side broadcasts and SMJ-over-buckets is what Catalyst picks anyway)
    return (
        bl.hint("merge")
        .join(bo, "l_orderkey")
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_dec("l_quantity")).cast("double").alias("qty"),
            F.any_value("o_orderstatus").alias("status"),
        )
    )


@query(
    "q77_stream_flap_detection",
    """
    SELECT 'u' || CAST(user_id AS VARCHAR) AS Device,
           COUNT(*) FILTER (event_type = 'error') AS n_errors,
           COUNT(*) FILTER (event_type = 'error') >= 5 AS flapping
    FROM events GROUP BY user_id
    """,
)
def q77(spark, sf_dir):
    """Arbitrary stateful streaming (applyInPandasWithState): per-device
    error counter with a flapping threshold, run as a REAL stream to
    completion.  The state update is a commutative sum, so the result is
    batch-order independent and the batch SQL oracle states it exactly
    (single-file source → one micro-batch → one update row per device)."""
    from ..streaming.analytics import flap_detection

    ev = _events_stream(spark, sf_dir)
    logs = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("Device"),
        F.when(F.col("event_type") == "error", 3).otherwise(6)
        .cast("byte")
        .alias("Severity"),
    )
    flap = flap_detection(logs, threshold=5)
    return _run_stream(flap, "update")


@query(
    "q78_unpivot",
    """
    WITH w AS (
      SELECT l_orderkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS price,
             SUM(CAST(l_discount AS DECIMAL(18,2))) AS discount,
             SUM(CAST(l_tax AS DECIMAL(18,2))) AS tax
      FROM lineitem WHERE l_orderkey < 2000 GROUP BY l_orderkey)
    SELECT l_orderkey, metric, CAST(val AS DOUBLE) AS val
    FROM w UNPIVOT (val FOR metric IN (price, discount, tax))
    """,
)
def q78(spark, sf_dir):
    """Unpivot (wide→long), the inverse reshaping of q72's pivot —
    per-order money columns melted to (metric, val) rows."""
    li = _t(spark, sf_dir, "lineitem")
    wide = (
        li.filter(F.col("l_orderkey") < 2000)
        .groupBy("l_orderkey")
        .agg(
            F.sum(_dec("l_extendedprice")).alias("price"),
            F.sum(_dec("l_discount")).alias("discount"),
            F.sum(_dec("l_tax")).alias("tax"),
        )
    )
    return wide.unpivot(
        "l_orderkey", ["price", "discount", "tax"], "metric", "val"
    ).withColumn("val", F.col("val").cast("double"))


@query(
    "q79_hll_sketch_rollup",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS du
      FROM events GROUP BY 1
    )
    SELECT (SELECT COUNT(*) FROM daily) AS n_days,
           (SELECT CAST(SUM(du) AS BIGINT) FROM daily) AS sum_daily_exact,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS total_users_exact,
           TRUE AS est_within_5pct
    """,
)
def q79(spark, sf_dir):
    """ClickHouse uniqState/uniqMerge parity: per-day HLL sketches of
    distinct users (hll_sketch_agg), then union-merged (hll_union_agg)
    into a total — the mergeable-sketch rollup that lets 100 TB distinct
    counts be maintained incrementally instead of recomputed.  Sketch
    bytes are impl-specific, so the checkable output is the exact totals
    plus a boolean asserting the merged estimate lands within 5%
    (lgConfigK=12 → ~1.6% standard error); oracle expects literal TRUE."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_daily"),
    )
    rolled = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_total_users"),
        F.count(F.lit(1)).alias("n_days"),
        F.sum("exact_daily").alias("sum_daily_exact"),
    )
    exact = ev.agg(F.countDistinct("user_id").alias("total_users_exact"))
    return rolled.crossJoin(exact).select(
        "n_days",
        "sum_daily_exact",
        "total_users_exact",
        (
            F.abs(F.col("est_total_users") - F.col("total_users_exact"))
            <= 0.05 * F.col("total_users_exact")
        ).alias("est_within_5pct"),
    )


@query(
    "q80_stream_sliding",
    """
    SELECT strftime(time_bucket(INTERVAL '1 minute', ts) - k * INTERVAL '1 minute',
                    '{tsd}') AS win_start,
           COUNT(*) AS cnt
    FROM events, (SELECT unnest(range(5)) AS k) offs
    WHERE event_type = 'error'
    GROUP BY 1
    """.format(tsd=TS_D),
)
def q80(spark, sf_dir):
    """q49's sliding-window agg (5 min window / 1 min slide) executed as
    a REAL stream — overlapping-window state, complete-mode memory sink,
    same batch SQL oracle."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.window("ts", "5 minutes", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.date_format("w.start", TS_S).alias("win_start"), "cnt")
    )
    return _run_stream(agg, "complete")


@query(
    "q81_stream_session",
    """
    WITH x AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '5 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), y AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM x
    )
    SELECT user_id, strftime(MIN(ts), '{tsfd}') AS session_start,
           COUNT(*) AS n_events
    FROM y GROUP BY user_id, sid
    """.format(tsfd=TSF_D),
)
def q81(spark, sf_dir):
    """q50's session windows executed as a REAL stream: merging session
    state (session_window + watermark), complete-mode memory sink, same
    gaps-and-islands oracle — the device-activity-session analytics the
    reference's log table exists for, under streaming execution."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", TSF_S).alias("session_start"),
            "n_events",
        )
    )
    return _run_stream(agg, "complete")


@query(
    "q82_right_join",
    """
    SELECT c_custkey, c_mktsegment,
           COUNT(o_orderkey) AS n_orders
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
)
def q82(spark, sf_dir):
    """RIGHT outer join (completing the outer-join matrix with q25 left /
    q66 full): every customer kept, orderless ones count 0."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "q83_setops_all",
    """
    WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'),
         b AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT 'intersect_all' AS op, k FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
    UNION ALL
    SELECT 'except_all' AS op, k FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    """,
)
def q83(spark, sf_dir):
    """Multiset set-ops (INTERSECT ALL / EXCEPT ALL — multiplicity
    preserved), completing q32's distinct-semantics set ops."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k"))
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("k")
    )
    return a.intersectAll(b).select(
        F.lit("intersect_all").alias("op"), "k"
    ).unionByName(a.exceptAll(b).select(F.lit("except_all").alias("op"), "k"))


@query(
    "q84_corpus_pipeline",
    """
    WITH RECURSIVE corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
    ), m AS (
      SELECT doc_id, text,
             len(string_split(text, ' ')) AS n_words,
             CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) AS alpha_ratio,
             CAST(len(list_filter(string_split(text, ' '),
                  w -> w IN ('the','and','of','to','a','in','is','it','for','on'))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio
      FROM corpus
    ), keep1 AS (
      SELECT doc_id, text FROM m
      WHERE n_words >= 20 AND alpha_ratio > 0.6 AND stop_ratio > 0.01
    ), d1 AS (
      SELECT MIN(doc_id) AS doc_id FROM keep1 GROUP BY md5(text)
    ), keep2 AS (
      SELECT k.doc_id, k.text FROM keep1 k JOIN d1 USING (doc_id)
    ), sh AS (
      SELECT doc_id AS doc,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
             )) AS shl
      FROM keep2
    ), ex AS (
      SELECT doc, len(shl) AS n_sh, unnest(shl) AS shingle FROM sh
    ), pairs AS (
      SELECT a.doc AS doc_a, b.doc AS doc_b
      FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc < b.doc
      GROUP BY a.doc, b.doc, a.n_sh, b.n_sh
      HAVING CAST(COUNT(*) AS DOUBLE)
             / CAST(a.n_sh + b.n_sh - COUNT(*) AS DOUBLE) >= 0.5
    ), edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ), reach AS (
      SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges) t
      UNION
      SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u
    ), clusters AS (
      SELECT u AS doc, MIN(v) AS cluster FROM reach GROUP BY u
    )
    SELECT doc_id FROM keep2
    WHERE doc_id NOT IN (SELECT doc FROM clusters WHERE doc <> cluster)
    """,
)
def q84(spark, sf_dir):
    """The COMPLETE training-corpus pipeline as one query — the reason a
    100 TB engine exists: quality gate (C4-style heuristics) → exact
    dedup (hash-groupBy, min-id keeper) → near-dup discovery (shingle
    inverted-index Jaccard) → connected-component clustering → keep one
    representative per cluster.  Every stage removes real rows on this
    corpus, and the whole chain hash-matches a single recursive-CTE
    oracle."""
    d = _t(spark, sf_dir, "documents")
    corpus = d.select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    # stage 1: quality gate (same metrics as q62)
    q = quality_columns(F.col("text"))
    keep1 = corpus.filter(
        (q["n_words"] >= 20)
        & (q["alpha_ratio"] > 0.6)
        & (q["stopword_ratio"] > 0.01)
    )
    # stage 2: exact dedup on content hash, min-id keeper — as a WINDOW
    # rank, not the old min-agg + self-join (round 17): identical
    # surviving rows (row_number()=1 ordered by doc_id per content hash
    # ≡ doc_id ∈ {min(doc_id) per hash}), one exchange instead of
    # agg + join, and — the measured bug — Catalyst's size estimate for
    # the keep1⋈keepers join inflated 20 000× (1.13 GB for 431 rows at
    # sf0.01; probed), which localCheckpoint PROPAGATES, so every
    # derived shuffle-width floor downstream (jaccard's _spread, the CC
    # loop) exploded to 4313 partitions — 127 s for a ~1 MB corpus, the
    # whole-sweep outlier.  The window output keeps the child's honest
    # estimate.  The checkpoint below still dedupes the two consumers
    # (near-dup stage + final anti-join).
    from pyspark.sql.window import Window as _W

    wdup = _W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy(
        "doc_id"
    )
    # DISK_ONLY (round-18 ADVICE): keep2 is corpus-scale rows INCLUDING
    # full text — the default deserialized MEMORY_AND_DISK level would
    # hold an on-heap copy of the corpus (the bm25 24 g-heap-at-20 M-docs
    # lesson; q433/q407 use the same level for the same reason).
    from pyspark import StorageLevel as _SL

    keep2 = (
        keep1.withColumn("_rk", F.row_number().over(wdup))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
        .localCheckpoint(eager=True, storageLevel=_SL.DISK_ONLY)
    )
    # stages 3+4: near-dup pairs -> connected components -> drop non-reps
    pairs = dedup.jaccard_pairs(keep2, "text", "doc_id", n=3, threshold=0.5)
    clusters = dedup.cluster_assignments(pairs)
    non_reps = clusters.filter(F.col("doc") != F.col("cluster")).select(
        F.col("doc").alias("doc_id")
    )
    return keep2.join(non_reps, "doc_id", "left_anti").select("doc_id")


@query(
    "q85_csv_json_sources",
    """
    SELECT l_returnflag,
           2 * COUNT(*) AS n_rows,
           CAST(2 * SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
    FROM lineitem WHERE l_orderkey < 1000
    GROUP BY l_returnflag
    """,
)
def q85(spark, sf_dir):
    """CSV and JSON-lines sources next to parquet: the same slice round-
    trips through both text formats (schemas passed EXPLICITLY — at
    100 TB schema inference is a full extra scan) and unions back to one
    aggregate, so format handling is value-exact or the oracle catches it."""
    import tempfile

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000).select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    base = scratch_dir("srcfmt_")
    li.write.option("header", True).csv(f"{base}/csv")
    li.write.json(f"{base}/json")
    schema = li.schema
    c = spark.read.schema(schema).option("header", True).csv(f"{base}/csv")
    j = spark.read.schema(schema).json(f"{base}/json")
    both = c.unionByName(j)
    return both.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_dec("l_quantity")).cast("double").alias("qty"),
    )


@query(
    "q86_rollup_reuse",
    """
    SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
)
def q86(spark, sf_dir):
    """Re-aggregable rollup layers (ClickHouse materialized-view /
    SummingMergeTree pattern): monthly totals derived from a DAILY
    pre-aggregate, never from raw rows.  count→sum-of-counts and
    sum→sum-of-sums re-aggregate losslessly, so the oracle (which hits
    raw) must agree — at 100 TB the daily layer is what you maintain
    incrementally and query repeatedly."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("value")).alias("v"),
    )
    return (
        daily.groupBy(F.date_format(F.date_trunc("month", "day"), "yyyy-MM").alias("month"))
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("v").cast("double").alias("total_value"),
        )
    )


@query(
    "q87_embedding_quantize",
    """
    WITH m AS (
      SELECT vec_id,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
      FROM embeddings)
    SELECT e.vec_id,
           CAST(round(127.0 * CAST(e.embedding[1] AS DOUBLE) / m.mx) AS TINYINT) AS q0,
           CAST(round(127.0 * CAST(e.embedding[2] AS DOUBLE) / m.mx) AS TINYINT) AS q1,
           round(m.mx / 127.0, 9) AS scale
    FROM embeddings e JOIN m USING (vec_id) WHERE e.vec_id % 9 = 0
    """,
)
def q87(spark, sf_dir):
    """Symmetric int8 quantization of embeddings (per-vector max-abs
    scale) — the 4× storage compression step of a production vector
    pipeline; first two quantized dims + the dequant scale are checked
    value-exact against the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    qd = F.transform(v, lambda x: F.round(F.lit(127.0) * x / mx).cast("byte"))
    return emb.filter(F.col("vec_id") % 9 == 0).select(
        "vec_id",
        F.element_at(qd, 1).alias("q0"),
        F.element_at(qd, 2).alias("q1"),
        F.round(mx / F.lit(127.0), 9).alias("scale"),
    )


@query(
    "q88_decontaminate",
    """
    WITH sp AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - 4, 0) + 1),
               i -> md5(array_to_string(list_slice(w, i, i + 4), ' '))
             ))) AS g
      FROM sp
    ), bench AS (
      SELECT DISTINCT g FROM sh WHERE doc_id % 7 = 0
    ), dirty AS (
      SELECT DISTINCT s.doc_id FROM sh s JOIN bench USING (g)
      WHERE s.doc_id % 7 <> 0
    )
    SELECT doc_id FROM documents
    WHERE doc_id % 7 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)
    """,
)
def q88(spark, sf_dir):
    """Benchmark decontamination (the GPT-3/PaLM-style n-gram filter): a
    training doc is dropped iff it shares ANY 5-word-gram with the held-out
    benchmark slice (doc_id % 7 = 0 stands in for the eval set).

    Scale shape: shingles are emitted inline under the explode (the fast
    Generate path, see operators/dedup.shingle_table), the join key is the
    shingle digest — fixed width, so the semi-join shuffle is compact — and
    the benchmark side (eval sets are tiny vs 100 TB of training data)
    broadcasts, so the training scan never shuffles.  md5 instead of
    xxhash64 only for DuckDB oracle portability.
    """
    d = _t(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    cnt = F.size(w) - F.lit(4)
    sh_arr = F.when(
        cnt > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), cnt),
                lambda i: F.md5(F.concat_ws(" ", F.slice(w, i, 5))),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = d.select("doc_id", F.explode(sh_arr).alias("g"))
    bench = sh.filter(F.col("doc_id") % 7 == 0).select("g").distinct()
    dirty = (
        sh.filter(F.col("doc_id") % 7 != 0)
        .join(F.broadcast(bench), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        d.filter(F.col("doc_id") % 7 != 0)
        .join(dirty, "doc_id", "left_anti")
        .select("doc_id")
    )


@query(
    "q89_hash_split",
    """
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                THEN 'train' ELSE 'eval' END AS split,
           substr(md5(CAST(doc_id AS VARCHAR)), 3, 1) AS fold
    FROM documents
    """,
)
def q89(spark, sf_dir):
    """Deterministic train/eval split + 16-fold bucket from a content-
    independent key hash — the reproducible-split primitive of a training
    pipeline.  Pure narrow projection: no shuffle, no RNG state, and the
    same row lands in the same split on ANY cluster size or re-run (what
    `rand(seed)` can NOT guarantee once partitioning changes).  Hex-prefix
    compare 'e6' ≈ 230/256 → ~90 % train."""
    d = _t(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    return d.select(
        "doc_id",
        F.when(F.substring(h, 1, 2) < "e6", "train").otherwise("eval").alias("split"),
        F.substring(h, 3, 1).alias("fold"),
    )


@query(
    "q90_stratified_sample",
    """
    WITH r AS (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents
    )
    SELECT lang, doc_id, n_lang FROM r WHERE rn <= 20
    """,
)
def q90(spark, sf_dir):
    """Deterministic stratified sampling: fixed-k per language stratum,
    ranked by content hash (a seedless, machine-independent shuffle).
    Scale shape: one shuffle on the stratum key; the per-stratum window
    is a rank-truncation so AQE-sized partitions stream through it — the
    pattern for 'balance 100 languages in a 100 TB corpus'."""
    d = _t(spark, sf_dir, "documents")
    win = Window.partitionBy("lang").orderBy(F.md5(F.col("text")), F.col("doc_id"))
    return (
        d.select(
            "lang",
            "doc_id",
            F.row_number().over(win).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n_lang"),
        )
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )


@query(
    "q91_sequence_packing",
    """
    WITH t AS (
      SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok
      FROM documents
    ), c AS (
      SELECT source, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT source, CAST((cum - n_tok) // 512 AS BIGINT) AS chunk_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS chunk_tokens
    FROM c GROUP BY 1, 2
    """,
)
def q91(spark, sf_dir):
    """Concat-and-chunk sequence packing: docs are laid end-to-end per
    source shard (deterministic doc_id order) and each doc is assigned to
    the 512-token context window its START offset falls in — exactly the
    packing policy of concatenation-style LLM pretraining loaders.
    Expressed as a running-sum window + floor-div, so packing 100 TB is
    one shuffle on the shard key; no greedy driver-side loop."""
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    win = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.select(
        "source",
        "doc_id",
        n_tok.alias("n_tok"),
        F.sum(n_tok).over(win).alias("cum"),
    )
    return c.groupBy(
        "source",
        F.floor((F.col("cum") - F.col("n_tok")) / F.lit(512)).alias("chunk_id"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("chunk_tokens"),
    )




@query(
    "q92_pii_redaction",
    r"""
    WITH pii AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or admin@test.org at 10.0.'
                  || CAST(doc_id % 256 AS VARCHAR) || '.25 now' AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                            '<EMAIL>', 'g'),
             '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g') AS clean,
           len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             AS n_emails,
           len(regexp_extract_all(raw, '\b\d{1,3}(\.\d{1,3}){3}\b')) AS n_ips
    FROM pii
    """,
)
def q92(spark, sf_dir):
    """PII redaction: scrub emails then IPv4s to typed placeholders and
    count what was removed — the compliance pass every training corpus
    goes through.  Pure narrow regexp projection (whole-stage codegen, no
    shuffle, no Python); the redacted STRING is value-hashed against the
    oracle, so the Java-regex and RE2 semantics are proven to agree on
    these patterns.  PII is injected deterministically (the fixture corpus
    has none) so every row exercises both rules."""
    d = _t(spark, sf_dir, "documents")
    raw = F.concat_ws(
        "",
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or admin@test.org at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".25 now"),
    )
    p = d.select("doc_id", raw.alias("raw"))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("raw"), _PII_EMAIL_RE, "<EMAIL>"),
        _PII_IP_RE,
        "<IP>",
    )
    return p.select(
        "doc_id",
        clean.alias("clean"),
        F.regexp_count(F.col("raw"), F.lit(_PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(F.col("raw"), F.lit(_PII_IP_RE)).alias("n_ips"),
    )


@query(
    "q93_stream_stream_join",
    """
    SELECT e.user_id,
           strftime(e.ts, '{tsfd}') AS err_ts,
           strftime(p.ts, '{tsfd}') AS pur_ts,
           round(p.value, 2) AS pur_value
    FROM events e JOIN events p
      ON e.user_id = p.user_id
     AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL 10 MINUTE
    WHERE e.event_type = 'error' AND p.event_type = 'purchase'
    """.format(tsfd=TSF_D),
)
def q93(spark, sf_dir):
    """STREAM-STREAM inner join executed as a real Structured Streaming
    query: error events matched to the same user's purchases within the
    following 10 minutes.  Both sides carry watermarks and the join
    condition bounds event-time distance, so Spark can expire join state
    — the unbounded-state trap of naive stream joins — and the result
    hash-matches the batch range-join oracle."""
    err = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select("user_id", F.col("ts").alias("err_ts"))
        .withWatermark("err_ts", "30 minutes")
    )
    pur = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("pur_ts"), "value")
        .withWatermark("pur_ts", "30 minutes")
    )
    j = err.join(
        pur,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("pur_ts") > F.col("err_ts"))
        & (F.col("pur_ts") <= F.col("err_ts") + F.expr("INTERVAL 10 MINUTES")),
        "inner",
    )
    out = j.select(
        "user_id",
        F.date_format("err_ts", TSF_S).alias("err_ts"),
        F.date_format("pur_ts", TSF_S).alias("pur_ts"),
        F.round("value", 2).alias("pur_value"),
    )
    return _run_stream(out, "append")


@query(
    "q94_udtf_ngrams",
    """
    WITH sel AS (
      SELECT doc_id, string_split(text, ' ') AS w
      FROM documents WHERE doc_id % 11 = 0
    ), g AS (
      SELECT doc_id, w, unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS pos
      FROM sel
    )
    SELECT doc_id, pos, array_to_string(list_slice(w, pos, pos + 2), ' ') AS ngram
    FROM g
    """,
)
def q94(spark, sf_dir):
    """Python UDTF (Spark 4 table function) via LATERAL join: a generator
    expanding each doc into (position, word-3-gram) rows — the UDTF row of
    SURVEY §2.3's UDF/UDAF/UDTF surface.  Deterministic, so it gets a full
    value oracle (DuckDB unnest(range)).  Kept off the hot path by design:
    `explode(transform(...))` covers this natively (q34/q38/q88) ~10×
    cheaper; the UDTF exists to prove the extension point."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, ngram: string")
    class NGrams:
        def eval(self, text: str, n: int):
            ws = text.split(" ")
            for i in range(len(ws) - n + 1):
                yield i + 1, " ".join(ws[i : i + n])

    spark.udtf.register("ngrams_gen", NGrams)
    d = _t(spark, sf_dir, "documents")
    d.filter(F.col("doc_id") % 11 == 0).select("doc_id", "text").createOrReplaceTempView(
        "docs_udtf_v"
    )
    return spark.sql(
        "SELECT doc_id, g.pos AS pos, g.ngram AS ngram "
        "FROM docs_udtf_v, LATERAL ngrams_gen(text, 3) AS g"
    )


@query(
    "q95_argmax",
    """
    SELECT o_custkey,
           arg_max(o_orderkey, CAST(o_totalprice AS DECIMAL(18,2))*100000000 + o_orderkey)
             AS best_order,
           arg_min(o_orderkey, CAST(o_totalprice AS DECIMAL(18,2))*100000000 + o_orderkey)
             AS worst_order,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
)
def q95(spark, sf_dir):
    """argMax/argMin (ClickHouse's workhorse "value at the extremum"
    aggregate) via Spark's max_by/min_by — single hash aggregate, no
    window, no self-join.  The ordering key is an EXACT decimal composite
    (price·10^8 + orderkey) so ties are impossible and both engines pick
    the identical row — a float composite would interleave key ranges and
    diverge."""
    o = _t(spark, sf_dir, "orders")
    ordk = _dec("o_totalprice") * F.lit(100000000) + F.col("o_orderkey")
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", ordk).alias("best_order"),
        F.min_by("o_orderkey", ordk).alias("worst_order"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "q96_gapfill_locf",
    """
    WITH spine AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-05',
                                    TIMESTAMP '2024-01-05 23:59:00',
                                    INTERVAL 1 MINUTE)) AS m
    ), a AS (
      SELECT time_bucket(INTERVAL '1 minute', ts) AS m,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS v
      FROM events
      WHERE event_type = 'purchase'
        AND ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-06'
      GROUP BY 1
    )
    SELECT strftime(spine.m, '{tsd}') AS minute,
           last_value(a.v IGNORE NULLS)
             OVER (ORDER BY spine.m ROWS UNBOUNDED PRECEDING) AS v_filled,
           CASE WHEN a.v IS NULL THEN 1 ELSE 0 END AS is_gap
    FROM spine LEFT JOIN a ON spine.m = a.m
    """.format(tsd=TS_D),
)
def q96(spark, sf_dir):
    """Gap-fill over a generated time spine + last-observation-carried-
    forward (ClickHouse `WITH FILL` / timeseries interpolation): minutes
    with no purchases inherit the previous minute's average.  The spine is
    `sequence()`+explode — no driver loop — and the LOCF is
    `last(ignorenulls)` over an ordered frame.  Single-partition window
    here (one day); at scale the spine and fill partition by (device, day)
    so state stays bounded per key."""
    ev = _t(spark, sf_dir, "events")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.to_timestamp(F.lit("2024-01-05 00:00:00")),
                F.to_timestamp(F.lit("2024-01-05 23:59:00")),
                F.expr("INTERVAL 1 MINUTE"),
            )
        ).alias("m")
    )
    a = (
        ev.filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.to_timestamp(F.lit("2024-01-05")))
            & (F.col("ts") < F.to_timestamp(F.lit("2024-01-06")))
        )
        .groupBy(F.date_trunc("minute", "ts").alias("m"))
        .agg(
            (
                F.sum(_dec("value")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("v")
        )
    )
    win = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return spine.join(a, "m", "left").select(
        F.date_format("m", TS_S).alias("minute"),
        F.last("v", ignorenulls=True).over(win).alias("v_filled"),
        F.when(F.col("v").isNull(), 1).otherwise(0).alias("is_gap"),
    )


@query(
    "q97_funnel",
    """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL 7 DAY
      GROUP BY 1
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        AND e.ts <= s2.t2 + INTERVAL 7 DAY
      GROUP BY 1
    )
    SELECT 1 + CAST(s2.user_id IS NOT NULL AS INT)
             + CAST(s3.user_id IS NOT NULL AS INT) AS funnel_level,
           COUNT(*) AS n_users
    FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    GROUP BY 1
    """,
)
def q97(spark, sf_dir):
    """Ordered conversion funnel (ClickHouse `windowFunnel`): view →
    click within 7 days → purchase within 7 more days; users bucketed by
    the deepest stage reached.  Each stage is one aggregation + one
    equi-join on user_id — all three shuffles share the same key, so at
    scale they co-partition and AQE collapses the exchanges; no
    per-user event-list collection."""
    ev = _t(spark, sf_dir, "events")
    week = F.expr("INTERVAL 7 DAYS")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.join(s1, "user_id")
        .filter(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + week)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.join(s2, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + week)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    lvl = (
        F.lit(1)
        + F.col("t2").isNotNull().cast("int")
        + F.col("t3").isNotNull().cast("int")
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .groupBy(lvl.alias("funnel_level"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "q98_moment_stats",
    """
    WITH q AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS xc,
             CAST(hour(ts) AS BIGINT) AS h
      FROM events
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS nd,
             CAST(SUM(xc) AS DOUBLE) AS sx,
             CAST(SUM(xc * xc) AS DOUBLE) AS sxx,
             CAST(SUM(h) AS DOUBLE) AS sh,
             CAST(SUM(h * h) AS DOUBLE) AS shh,
             CAST(SUM(xc * h) AS DOUBLE) AS sxh
      FROM q GROUP BY 1
    )
    SELECT event_type,
           CAST(nd AS BIGINT) AS n,
           sx / (100.0 * nd) AS mean_value,
           sqrt((sxx - sx * sx / nd) / (10000.0 * (nd - 1.0))) AS stddev_value,
           (nd * sxh - sx * sh)
             / sqrt((nd * sxx - sx * sx) * (nd * shh - sh * sh)) AS corr_value_hour
    FROM s
    """,
)
def q98(spark, sf_dir):
    """Statistical aggregates (stddev, Pearson correlation) computed from
    EXACT mergeable sufficient statistics — cent-quantized integer sums of
    x, x², h, h², x·h — instead of the built-in streaming accumulators.
    That is both the determinism trick (builtin stddev/corr is
    float-summation-order dependent, so Spark vs DuckDB would never hash-
    match) and the 100 TB pattern: the five moments are partial-aggregable
    per partition, mergeable across shards/days, and the final float math
    happens once per group."""
    ev = _t(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("xc"),
        F.hour("ts").cast("bigint").alias("h"),
    )
    s = q.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum("xc").cast("double").alias("sx"),
        F.sum(F.col("xc") * F.col("xc")).cast("double").alias("sxx"),
        F.sum("h").cast("double").alias("sh"),
        F.sum(F.col("h") * F.col("h")).cast("double").alias("shh"),
        F.sum(F.col("xc") * F.col("h")).cast("double").alias("sxh"),
    )
    nd, sx, sxx = F.col("nd"), F.col("sx"), F.col("sxx")
    sh, shh, sxh = F.col("sh"), F.col("shh"), F.col("sxh")
    return s.select(
        "event_type",
        nd.cast("bigint").alias("n"),
        (sx / (F.lit(100.0) * nd)).alias("mean_value"),
        F.sqrt((sxx - sx * sx / nd) / (F.lit(10000.0) * (nd - F.lit(1.0)))).alias(
            "stddev_value"
        ),
        (
            (nd * sxh - sx * sh)
            / F.sqrt((nd * sxx - sx * sx) * (nd * shh - sh * sh))
        ).alias("corr_value_hour"),
    )


@query(
    "q99_retention",
    """
    WITH f AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY 1
    ), u AS (
      SELECT f.user_id, f.d0,
             max(CASE WHEN CAST(e.ts AS DATE) = f.d0 + 1 THEN 1 ELSE 0 END) AS r1,
             max(CASE WHEN CAST(e.ts AS DATE) = f.d0 + 7 THEN 1 ELSE 0 END) AS r7
      FROM f JOIN events e USING (user_id) GROUP BY 1, 2
    )
    SELECT strftime(d0, '%Y-%m-%d') AS cohort,
           COUNT(*) AS cohort_size,
           CAST(SUM(r1) AS BIGINT) AS retained_d1,
           CAST(SUM(r7) AS BIGINT) AS retained_d7
    FROM u GROUP BY 1
    """,
)
def q99(spark, sf_dir):
    """Cohort retention (ClickHouse `retention`): users grouped by first-
    seen day, with day-1 and day-7 return flags.  Two aggregations and one
    join, ALL keyed on user_id — co-partitioned at scale — then a tiny
    final rollup on cohort day; no per-user timelines collected."""
    ev = _t(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d0"))
    u = (
        f.join(ev, "user_id")
        .groupBy("user_id", "d0")
        .agg(
            F.max(
                F.when(F.to_date("ts") == F.date_add(F.col("d0"), 1), 1).otherwise(0)
            ).alias("r1"),
            F.max(
                F.when(F.to_date("ts") == F.date_add(F.col("d0"), 7), 1).otherwise(0)
            ).alias("r7"),
        )
    )
    return u.groupBy(F.date_format("d0", "yyyy-MM-dd").alias("cohort")).agg(
        F.count(F.lit(1)).alias("cohort_size"),
        F.sum("r1").alias("retained_d1"),
        F.sum("r7").alias("retained_d7"),
    )


@query(
    "q100_string_agg",
    """
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS names,
           COUNT(*) AS n_nations
    FROM nation GROUP BY n_regionkey
    """,
)
def q100(spark, sf_dir):
    """Ordered string aggregation (string_agg / ClickHouse
    groupArray+arrayStringConcat): collect_list is unordered by contract
    (partition arrival order), so the deterministic form is
    array_join(array_sort(collect_list)) — sort INSIDE the group, after
    the shuffle, not a global orderBy."""
    n = _t(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("names"),
        F.count(F.lit(1)).alias("n_nations"),
    )


@query(
    "q101_stream_static_join",
    """
    SELECT e.event_type, c.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def q101(spark, sf_dir):
    """STREAM-STATIC join executed as a real streaming query: the event
    stream enriched against the static customer dimension (the classic
    "join the firehose to the dim table" topology).  The static side is
    broadcast to every micro-batch — no stream-side shuffle for the join,
    no join state to expire — then a windowless streaming aggregation in
    complete mode.  Hash-matches the batch join oracle."""
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey)
        .groupBy("event_type", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
    )
    return _run_stream(agg, "complete")


@query(
    "q102_label_centroids",
    """
    SELECT label, pos,
           CAST(SUM(CAST(round(CAST(embedding[pos] AS DOUBLE) * 1000000) AS BIGINT))
                AS DOUBLE) / (1000000.0 * CAST(COUNT(*) AS DOUBLE)) AS centroid,
           COUNT(*) AS n_vecs
    FROM embeddings, (SELECT unnest(range(1, 65)) AS pos)
    GROUP BY 1, 2
    """,
)
def q102(spark, sf_dir):
    """Per-label embedding centroids (the E-step of k-means / the class-
    prototype computation): posexplode to (label, dim, component), sum
    micro-quantized integer components (exact, mergeable, order-
    independent — float sums would diverge between engines and between
    cluster topologies), divide once at the end.  One shuffle keyed
    (label, dim) with map-side partial aggregation: 100 TB of vectors
    reduce to |labels|·dims rows."""
    e = _t(spark, sf_dir, "embeddings")
    x = e.select(
        "label", F.posexplode("embedding").alias("pos0", "comp")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("comp").cast("double") * 1000000).cast("bigint").alias("q"),
    )
    return x.groupBy("label", "pos").agg(
        (
            F.sum("q").cast("double")
            / (F.lit(1000000.0) * F.count(F.lit(1)).cast("double"))
        ).alias("centroid"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


@query(
    "q103_histogram",
    """
    WITH b AS (
      SELECT least(CAST(floor(value / 50.0) AS BIGINT), 9) AS bucket_id
      FROM events
    )
    SELECT bucket_id, COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS share
    FROM b GROUP BY bucket_id
    """,
)
def q103(spark, sf_dir):
    """Fixed-width histogram with a share-of-total column: floor-div
    bucketing (portable width_bucket), hash agg, then a window over the
    10-row AGGREGATED result for the normalization — the total is
    computed from the tiny aggregate, never a second scan of the fact
    table."""
    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        F.least(F.floor(F.col("value") / F.lit(50.0)).cast("bigint"), F.lit(9)).alias(
            "bucket_id"
        )
    )
    agg = b.groupBy("bucket_id").agg(F.count(F.lit(1)).alias("n"))
    return agg.select(
        "bucket_id",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy()).cast("double")
        ).alias("share"),
    )


@query(
    "q104_sequence_match",
    """
    SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq,
           CAST(contains(string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id),
                         'vcp') AS INT) AS has_vcp
    FROM events GROUP BY 1, 2
    """,
)
def q104(spark, sf_dir):
    """Event-sequence pattern matching (ClickHouse `sequenceMatch`): each
    user-day's events collapse to an ordered initial-letter string and the
    contiguous view→click→purchase motif is detected with plain substring
    search.  Ordering inside the group is total (ts, event_id), imposed by
    array_sort AFTER the shuffle — collect_list order is explicitly not
    relied on.  One shuffle on (user, day); pattern evaluation is per-group
    string ops, trivially parallel at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("ts"),
                        F.col("event_id"),
                        F.substring("event_type", 1, 1).alias("c"),
                    )
                )
            ),
            lambda x: x["c"],
        ),
        "",
    )
    return (
        ev.groupBy("user_id", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"))
        .agg(seq.alias("seq"))
        .select(
            "user_id",
            "day",
            "seq",
            (F.instr("seq", "vcp") > 0).cast("int").alias("has_vcp"),
        )
    )


@query(
    "q105_ip_range_enrich",
    """
    WITH e AS (
      SELECT (10*16777216) + ((user_id % 4) * 65536) + (event_id % 65536) AS ipn
      FROM events
    ), dim(subnet, lo, hi) AS (
      VALUES ('10.0.0.0/16', 10*16777216,          10*16777216 +  65535),
             ('10.1.0.0/16', 10*16777216 +  65536, 10*16777216 + 131071),
             ('10.2.0.0/16', 10*16777216 + 131072, 10*16777216 + 196607),
             ('10.3.0.0/16', 10*16777216 + 196608, 10*16777216 + 262143)
    )
    SELECT subnet, COUNT(*) AS n_events
    FROM e JOIN dim ON e.ipn BETWEEN dim.lo AND dim.hi
    GROUP BY subnet
    """,
)
def q105(spark, sf_dir):
    """CIDR/range-table enrichment — the log-analytics classic "which
    subnet did this packet come from" — as a broadcast theta-join: the
    range dim (always tiny) is broadcast, so each event scans a handful of
    ranges with NO shuffle of the fact side; at 100 TB the alternative
    (sort-merge on a synthetic prefix) is never needed below ~10⁵ ranges.
    IPs are synthesized deterministically from the fixture columns."""
    ev = _t(spark, sf_dir, "events")
    base = 10 * 16777216
    dim = spark.createDataFrame(
        [
            ("10.0.0.0/16", base, base + 65535),
            ("10.1.0.0/16", base + 65536, base + 131071),
            ("10.2.0.0/16", base + 131072, base + 196607),
            ("10.3.0.0/16", base + 196608, base + 262143),
        ],
        "subnet string, lo long, hi long",
    )
    e = ev.select(
        (
            F.lit(base)
            + (F.col("user_id") % 4) * 65536
            + (F.col("event_id") % 65536)
        ).alias("ipn")
    )
    return (
        e.join(F.broadcast(dim), (F.col("ipn") >= F.col("lo")) & (F.col("ipn") <= F.col("hi")))
        .groupBy("subnet")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "q106_parallel_arrays",
    """
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS word,
           unnest(list_transform(string_split(text, ' '), w -> len(w))) AS wlen
    FROM documents WHERE doc_id % 17 = 0
    """,
)
def q106(spark, sf_dir):
    """Positional multi-array explode (ClickHouse `ARRAY JOIN a, b`):
    two parallel arrays unnested in lockstep via arrays_zip + explode —
    one Generate node, no join, duplicate words preserved (multiset
    semantics, unlike a position-join reconstruction)."""
    d = _t(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    t = d.filter(F.col("doc_id") % 17 == 0).select(
        "doc_id",
        w.alias("ws"),
        F.transform(w, lambda x: F.length(x)).alias("ls"),
    )
    return t.select("doc_id", F.explode(F.arrays_zip("ws", "ls")).alias("z")).select(
        "doc_id",
        F.col("z.ws").alias("word"),
        F.col("z.ls").cast("bigint").alias("wlen"),
    )


@query(
    "q107_compaction",
    """
    SELECT event_type, COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events WHERE event_id % 3 = 0
    GROUP BY event_type
    """,
)
def q107(spark, sf_dir):
    """Small-file compaction as a first-class maintenance op: a 64-file
    store (one file per micro-batch, the streaming sink's natural debris)
    is rewritten to its size-targeted file count by `compact_parquet`,
    then queried — the aggregate must match the oracle on the ORIGINAL
    rows, proving the rewrite is lossless.  File-count assertions live in
    tests/test_compaction.py."""
    import tempfile

    from ..sources.sinks import compact_parquet

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 3 == 0)
    base = scratch_dir("compact_q_") + "/store"
    ev.repartition(64).write.parquet(base)
    compact_parquet(spark, base, target_bytes=64 << 20)
    back = spark.read.parquet(base)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_dec("value")).cast("double").alias("total_value"),
    )


@query(
    "q108_sliding_distinct",
    """
    WITH x AS (
      SELECT user_id,
             unnest(generate_series(
               time_bucket(INTERVAL '1 minute', ts) - INTERVAL 4 MINUTE,
               time_bucket(INTERVAL '1 minute', ts),
               INTERVAL 1 MINUTE)) AS w
      FROM events
      WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-02'
    )
    SELECT strftime(w, '{tsd}') AS win_start, COUNT(DISTINCT user_id) AS uniq_users
    FROM x GROUP BY 1
    """.format(tsd=TS_D),
)
def q108(spark, sf_dir):
    """EXACT distinct users per 5-minute sliding window (1-minute slide)
    — the uniq-per-sliding-window op Spark's window frames can't express
    (no COUNT DISTINCT over frames).  Each event fans out to exactly the
    5 windows that contain it (explode of a 5-element sequence — bounded,
    unlike a range self-join), then one distinct-agg per window start.
    The fan-out factor equals window/slide, constant at any scale."""
    ev = _t(spark, sf_dir, "events")
    m = F.date_trunc("minute", F.col("ts"))
    x = ev.filter(
        (F.col("event_type") == "error")
        & (F.col("ts") < F.to_timestamp(F.lit("2024-01-02")))
    ).select(
        "user_id",
        F.explode(
            F.sequence(
                m - F.expr("INTERVAL 4 MINUTES"), m, F.expr("INTERVAL 1 MINUTE")
            )
        ).alias("w"),
    )
    return x.groupBy(F.date_format("w", TS_S).alias("win_start")).agg(
        F.countDistinct("user_id").alias("uniq_users")
    )


@query(
    "q109_tpch_q6",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q109(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change): THE pure-scan-throughput
    probe — all four predicates push down to the parquet scan, the
    projection reads three columns, and the whole query is one
    whole-stage-codegen stage ending in a scalar aggregate.  Decimal
    product keeps the sum order-independent."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query(
    "q110_replacing_upsert",
    """
    WITH base AS (
      SELECT event_id, event_type, round(value, 2) AS value, 1 AS version
      FROM events WHERE event_id % 2 = 0
    ), upd AS (
      SELECT event_id, event_type, round(value * 2, 2) AS value, 2 AS version
      FROM events WHERE event_id % 4 = 0 OR event_id % 5 = 1
    ), u AS (
      SELECT * FROM base UNION ALL SELECT * FROM upd
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY event_id
                                   ORDER BY version DESC) AS rn
      FROM u
    )
    SELECT event_id, event_type, value, version FROM r WHERE rn = 1
    """,
)
def q110(spark, sf_dir):
    """Keyed upsert with latest-version-wins (ClickHouse
    ReplacingMergeTree / MERGE INTO): a store seeded with version-1 rows
    receives a mixed batch of updates (existing keys, doubled value) and
    inserts (new keys), via `sinks.upsert_parquet`.  The read-back store
    must row-for-row match the oracle's window-dedup replay — proving the
    merge keeps exactly the right version of every key."""
    import tempfile

    from ..sources.sinks import upsert_parquet

    ev = _t(spark, sf_dir, "events")
    base = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id",
        "event_type",
        F.round("value", 2).alias("value"),
        F.lit(1).alias("version"),
    )
    upd = ev.filter((F.col("event_id") % 4 == 0) | (F.col("event_id") % 5 == 1)).select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 2, 2).alias("value"),
        F.lit(2).alias("version"),
    )
    store = scratch_dir("upsert_q_") + "/store"
    base.write.parquet(store)
    upsert_parquet(spark, store, upd, keys=["event_id"], version_col="version")
    return spark.read.parquet(store)


@query(
    "q383_stream_stream_left_outer",
    """
    WITH err AS (
      SELECT user_id, ts AS err_ts FROM events
      WHERE event_type = 'error' AND ts IS NOT NULL
    ), pur AS (
      SELECT user_id AS p_user, ts AS pur_ts, value FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL
    ), wm AS (
      -- the final global watermark: min of the two per-stream maxima
      -- (ms-floored, Spark's watermark precision) minus the 30 min delay
      SELECT to_timestamp((LEAST((SELECT epoch_ms(MAX(err_ts)) FROM err),
                                 (SELECT epoch_ms(MAX(pur_ts)) FROM pur))
                           - 1800000) / 1000.0) AS w
    ), matched AS (
      SELECT e.user_id, e.err_ts, p.pur_ts, round(p.value, 2) AS pur_value
      FROM err e JOIN pur p ON e.user_id = p.p_user
       AND p.pur_ts > e.err_ts
       AND p.pur_ts <= e.err_ts + INTERVAL 10 MINUTE
    ), unmatched AS (
      SELECT e.user_id, e.err_ts,
             CAST(NULL AS TIMESTAMP) AS pur_ts,
             CAST(NULL AS DOUBLE) AS pur_value
      FROM err e
      WHERE NOT EXISTS (
              SELECT 1 FROM pur p WHERE p.p_user = e.user_id
                AND p.pur_ts > e.err_ts
                AND p.pur_ts <= e.err_ts + INTERVAL 10 MINUTE)
        AND e.err_ts + INTERVAL 10 MINUTE < (SELECT w FROM wm)
    )
    SELECT user_id,
           strftime(err_ts, '{tsfd}') AS err_ts,
           strftime(pur_ts, '{tsfd}') AS pur_ts,
           pur_value
    FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
    """.format(tsfd=TSF_D),
)
def q383(spark, sf_dir):
    """STREAM-STREAM LEFT OUTER interval join as a real Structured
    Streaming query — the semantics q93's inner join can't show: an
    unmatched error row is held in join state until the global
    watermark (min of both streams' max-event-time minus the 30 min
    delay) passes its match window (err_ts + 10 min), and only then
    emits with NULL purchase columns.  Errors whose window is still
    open at end-of-stream are deliberately withheld — the oracle
    replicates the exact watermark arithmetic (ms-floored, strict <),
    so the NULL-emission cutoff itself is value-verified."""
    err = (
        _events_stream(spark, sf_dir)
        .filter((F.col("event_type") == "error") & F.col("ts").isNotNull())
        .select("user_id", F.col("ts").alias("err_ts"))
        .withWatermark("err_ts", "30 minutes")
    )
    pur = (
        _events_stream(spark, sf_dir)
        .filter((F.col("event_type") == "purchase") & F.col("ts").isNotNull())
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("pur_ts"),
            "value",
        )
        .withWatermark("pur_ts", "30 minutes")
    )
    j = err.join(
        pur,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("pur_ts") > F.col("err_ts"))
        & (F.col("pur_ts") <= F.col("err_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    )
    out = j.select(
        "user_id",
        F.date_format("err_ts", TSF_S).alias("err_ts"),
        F.date_format("pur_ts", TSF_S).alias("pur_ts"),
        F.round("value", 2).alias("pur_value"),
    )
    return _run_stream(out, "append")


@query(
    "q384_stream_stream_full_outer",
    """
    WITH err AS (
      SELECT user_id, ts AS err_ts FROM events
      WHERE event_type = 'error' AND ts IS NOT NULL
    ), pur AS (
      SELECT user_id AS p_user, ts AS pur_ts FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL
    ), wm AS (
      SELECT to_timestamp((LEAST((SELECT epoch_ms(MAX(err_ts)) FROM err),
                                 (SELECT epoch_ms(MAX(pur_ts)) FROM pur))
                           - 1800000) / 1000.0) AS w
    ), matched AS (
      SELECT e.user_id, e.err_ts, p.pur_ts
      FROM err e JOIN pur p ON e.user_id = p.p_user
       AND p.pur_ts > e.err_ts
       AND p.pur_ts <= e.err_ts + INTERVAL 10 MINUTE
    ), unmatched_err AS (
      -- error side: state holds until wm passes the whole match window
      SELECT e.user_id, e.err_ts, CAST(NULL AS TIMESTAMP) AS pur_ts
      FROM err e
      WHERE NOT EXISTS (
              SELECT 1 FROM pur p WHERE p.p_user = e.user_id
                AND p.pur_ts > e.err_ts
                AND p.pur_ts <= e.err_ts + INTERVAL 10 MINUTE)
        AND e.err_ts + INTERVAL 10 MINUTE < (SELECT w FROM wm)
    ), unmatched_pur AS (
      -- purchase side: only EARLIER errors can match (err_ts < pur_ts),
      -- so its state is dead as soon as wm passes pur_ts itself
      SELECT CAST(NULL AS BIGINT) AS user_id,
             CAST(NULL AS TIMESTAMP) AS err_ts, p.pur_ts
      FROM pur p
      WHERE NOT EXISTS (
              SELECT 1 FROM err e WHERE e.user_id = p.p_user
                AND p.pur_ts > e.err_ts
                AND p.pur_ts <= e.err_ts + INTERVAL 10 MINUTE)
        AND p.pur_ts < (SELECT w FROM wm)
    )
    SELECT user_id,
           strftime(err_ts, '{tsfd}') AS err_ts,
           strftime(pur_ts, '{tsfd}') AS pur_ts
    FROM (SELECT * FROM matched
          UNION ALL SELECT * FROM unmatched_err
          UNION ALL SELECT * FROM unmatched_pur)
    """.format(tsfd=TSF_D),
)
def q384(spark, sf_dir):
    """STREAM-STREAM FULL OUTER interval join — completes the streaming
    join matrix (q93 inner, q383 left).  The two sides have DIFFERENT
    state lifetimes, both value-verified: an unmatched error emits once
    the watermark passes err_ts + 10 min (its whole match window), but
    an unmatched purchase emits as soon as the watermark passes pur_ts
    itself, because only EARLIER errors can ever match it — the
    asymmetry Spark derives from the interval condition, replicated
    exactly by the oracle's two cutoffs."""
    err = (
        _events_stream(spark, sf_dir)
        .filter((F.col("event_type") == "error") & F.col("ts").isNotNull())
        .select("user_id", F.col("ts").alias("err_ts"))
        .withWatermark("err_ts", "30 minutes")
    )
    pur = (
        _events_stream(spark, sf_dir)
        .filter((F.col("event_type") == "purchase") & F.col("ts").isNotNull())
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("pur_ts"))
        .withWatermark("pur_ts", "30 minutes")
    )
    j = err.join(
        pur,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("pur_ts") > F.col("err_ts"))
        & (F.col("pur_ts") <= F.col("err_ts") + F.expr("INTERVAL 10 MINUTES")),
        "full_outer",
    )
    out = j.select(
        "user_id",
        F.date_format("err_ts", TSF_S).alias("err_ts"),
        F.date_format("pur_ts", TSF_S).alias("pur_ts"),
    )
    return _run_stream(out, "append")


@query(
    "q401_stream_stream_right_outer",
    """
    WITH err AS (
      SELECT user_id, ts AS err_ts FROM events
      WHERE event_type = 'error' AND ts IS NOT NULL
    ), pur AS (
      SELECT user_id AS p_user, ts AS pur_ts FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL
    ), wm AS (
      SELECT to_timestamp((LEAST((SELECT epoch_ms(MAX(err_ts)) FROM err),
                                 (SELECT epoch_ms(MAX(pur_ts)) FROM pur))
                           - 1800000) / 1000.0) AS w
    ), matched AS (
      SELECT p.p_user, e.err_ts, p.pur_ts
      FROM err e JOIN pur p ON e.user_id = p.p_user
       AND p.pur_ts > e.err_ts
       AND p.pur_ts <= e.err_ts + INTERVAL 10 MINUTE
    ), unmatched_pur AS (
      SELECT p.p_user, CAST(NULL AS TIMESTAMP) AS err_ts, p.pur_ts
      FROM pur p
      WHERE NOT EXISTS (
              SELECT 1 FROM err e WHERE e.user_id = p.p_user
                AND p.pur_ts > e.err_ts
                AND p.pur_ts <= e.err_ts + INTERVAL 10 MINUTE)
        AND p.pur_ts < (SELECT w FROM wm)
    )
    SELECT p_user,
           strftime(err_ts, '{tsfd}') AS err_ts,
           strftime(pur_ts, '{tsfd}') AS pur_ts
    FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched_pur)
    """.format(tsfd=TSF_D),
)
def q401(spark, sf_dir):
    """STREAM-STREAM RIGHT OUTER interval join — the last cell of the
    streaming join matrix (q93 inner, q383 left, q384 full).  Only the
    purchase side emits unmatched rows, and its state lifetime is the
    SHORT one from q384's asymmetry: since only EARLIER errors can
    match a purchase, an unmatched purchase emits as soon as the
    global watermark passes pur_ts itself — no +10 min window hold.
    The oracle replicates exactly that single cutoff."""
    err = (
        _events_stream(spark, sf_dir)
        .filter((F.col("event_type") == "error") & F.col("ts").isNotNull())
        .select("user_id", F.col("ts").alias("err_ts"))
        .withWatermark("err_ts", "30 minutes")
    )
    pur = (
        _events_stream(spark, sf_dir)
        .filter((F.col("event_type") == "purchase") & F.col("ts").isNotNull())
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("pur_ts"))
        .withWatermark("pur_ts", "30 minutes")
    )
    j = err.join(
        pur,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("pur_ts") > F.col("err_ts"))
        & (F.col("pur_ts") <= F.col("err_ts") + F.expr("INTERVAL 10 MINUTES")),
        "right_outer",
    )
    out = j.select(
        "p_user",
        F.date_format("err_ts", TSF_S).alias("err_ts"),
        F.date_format("pur_ts", TSF_S).alias("pur_ts"),
    )
    return _run_stream(out, "append")


@query(
    "q404_join_mv_incremental",
    """
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def q404(spark, sf_dir):
    """JOIN-view incremental maintenance (`sources/mv.refresh_join_mv_
    fact/_dim`) — the AggregatingMergeTree-over-a-JOIN pattern: the
    per-nation order aggregate is maintained under interleaved,
    OUT-OF-ORDER inserts to both the fact and the dimension side
    (orders in three batches, customers in two, arriving O₀ C₀ O₁ C₁
    O₂ — the first fact batch lands before ANY dimension row exists).
    Fact partials whose customer has not arrived wait in a keyed
    PENDING state and are released the moment their dim batch lands;
    nothing ever rescans fact history — every refresh is
    O(batch + touched keys).  The final view state must equal the
    oracle's one-shot join aggregate over all rows, proving no partial
    was lost, double-folded, or released to the wrong group."""
    import tempfile

    from ..sources.mv import (
        read_join_mv,
        refresh_join_mv_dim,
        refresh_join_mv_fact,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    root = scratch_dir("jmv_q_") + "/mv"
    fact = lambda i: orders.filter(F.col("o_orderkey") % 3 == i)
    dim = lambda i: cust.filter(F.col("o_custkey") % 2 == i)
    refresh_join_mv_fact(fact(0), root, "o_custkey", "c_nationkey", "o_totalprice")
    refresh_join_mv_dim(dim(0), root, "o_custkey", "c_nationkey")
    refresh_join_mv_fact(fact(1), root, "o_custkey", "c_nationkey", "o_totalprice")
    refresh_join_mv_dim(dim(1), root, "o_custkey", "c_nationkey")
    refresh_join_mv_fact(fact(2), root, "o_custkey", "c_nationkey", "o_totalprice")
    return read_join_mv(spark, root).select(
        "c_nationkey",
        F.col("n").alias("n_orders"),
        F.col("s").cast("double").alias("sum_totalprice"),
    )


@query(
    "q411_join_mv_with_deletes",
    """
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey % 7 <> 0
    GROUP BY c.c_nationkey
    """,
)
def q411(spark, sf_dir):
    """Join-view IVM under DELETES (q404 + retractions): every fact
    batch is followed by a delete batch retracting its o_orderkey%7==0
    rows, at three different lifecycle points — before any dimension
    exists (the retraction cancels inside PENDING), with partial
    dimension coverage (mixed view/pending negatives), and after full
    coverage (pure view negatives).  Count/sum are self-inverting, so
    deletes fold as negated partials with zero rescans; zeroed groups
    leave the state entirely.  Final view == the oracle's one-shot
    aggregate over the surviving rows."""
    import tempfile

    from ..sources.mv import (
        read_join_mv,
        refresh_join_mv_dim,
        refresh_join_mv_fact,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    root = scratch_dir("jmvd_q_") + "/mv"
    fact = lambda i: orders.filter(F.col("o_orderkey") % 3 == i)
    dele = lambda i: fact(i).filter(F.col("o_orderkey") % 7 == 0)
    dim = lambda i: cust.filter(F.col("o_custkey") % 2 == i)
    args = (root, "o_custkey", "c_nationkey", "o_totalprice")
    refresh_join_mv_fact(fact(0), *args)
    refresh_join_mv_fact(dele(0), *args, sign=-1)   # cancels in pending
    refresh_join_mv_dim(dim(0), root, "o_custkey", "c_nationkey")
    refresh_join_mv_fact(fact(1), *args)
    refresh_join_mv_fact(dele(1), *args, sign=-1)   # mixed view/pending
    refresh_join_mv_dim(dim(1), root, "o_custkey", "c_nationkey")
    refresh_join_mv_fact(fact(2), *args)
    refresh_join_mv_fact(dele(2), *args, sign=-1)   # pure view negatives
    return read_join_mv(spark, root).select(
        "c_nationkey",
        F.col("n").alias("n_orders"),
        F.col("s").cast("double").alias("sum_totalprice"),
    )


@query(
    "q421_collapsing_final",
    """
    WITH e AS (
      SELECT user_id,
             CAST(value AS DECIMAL(18,2)) AS v,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS seq,
             lag(CAST(value AS DECIMAL(18,2)))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ), s AS (
      SELECT user_id, seq, v, 1 AS sign FROM e
      UNION ALL
      SELECT user_id, seq - 1, prev, -1 FROM e WHERE prev IS NOT NULL
    )
    SELECT user_id,
           CAST(SUM(sign) AS BIGINT) AS net_sign,
           CAST(arg_max(v, CASE WHEN sign = 1 THEN seq END) AS DOUBLE)
             AS last_value,
           CAST(SUM(sign * v) AS DOUBLE) AS signed_sum
    FROM s GROUP BY user_id ORDER BY user_id
    """,
)
def q421(spark, sf_dir):
    """CollapsingMergeTree FINAL read (CH table-engine semantics; the
    reference's MergeTree target `main.go:61-76` is the append-only
    world this engine exists for): each per-user event is written as a
    (state, +1) insert and the previous state's (-1) cancel, and the
    FINAL survivor per user is recovered by ONE hash aggregation —
    max_by state among +1 rows gated on sum(sign) > 0 — no window, no
    join, no merge simulation.  signed_sum telescopes to exactly the
    surviving state (sum(v*sign) == last value), which the oracle
    checks value-exact; net_sign == 1 proves every cancel paired."""
    from ..operators.engines import collapse_final

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            "ts",
            "event_id",
            _dec("value").alias("v"),
        )
        .withColumn("seq", F.row_number().over(w))
        .withColumn("prev", F.lag("v").over(w))
    )
    signed = e.select(
        "user_id",
        F.explode(
            F.concat(
                F.array(F.struct(F.col("seq"), F.col("v"), F.lit(1).alias("sign"))),
                F.when(
                    F.col("prev").isNotNull(),
                    F.array(
                        F.struct(
                            (F.col("seq") - 1).alias("seq"),
                            F.col("prev").alias("v"),
                            F.lit(-1).alias("sign"),
                        )
                    ),
                ).otherwise(F.array()),
            )
        ).alias("r"),
    ).select("user_id", "r.seq", "r.v", "r.sign")
    # signed_sum telescopes inside the SAME aggregate the collapse runs
    agg_check = signed.groupBy("user_id").agg(
        F.sum(F.col("sign") * F.col("v")).cast("double").alias("signed_sum")
    )
    final = collapse_final(
        signed, keys=["user_id"], value_cols=["v"], order_col="seq"
    )
    return (
        final.join(agg_check, "user_id")
        .select(
            "user_id",
            "net_sign",
            F.col("v").cast("double").alias("last_value"),
            "signed_sum",
        )
        .orderBy("user_id")
    )


@query(
    "q422_versioned_collapsing_final",
    """
    WITH e AS (
      SELECT user_id,
             CAST(value AS DECIMAL(18,2)) AS v,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS seq,
             lag(CAST(value AS DECIMAL(18,2)))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
             COUNT(*) OVER (PARTITION BY user_id) AS n_ev
      FROM events
    ), s AS (
      SELECT user_id, seq AS version, v, 1 AS sign FROM e
      UNION ALL
      SELECT user_id, seq - 1, prev, -1 FROM e WHERE prev IS NOT NULL
      UNION ALL
      -- at-least-once producer re-sends the terminal state for user%5==0
      SELECT user_id, seq, v, 1 FROM e
      WHERE user_id % 5 = 0 AND seq = n_ev
    )
    SELECT user_id, version,
           CAST(arg_max(v, sign) AS DOUBLE) AS value,
           CAST(SUM(sign) AS BIGINT) AS net
    FROM s GROUP BY user_id, version
    HAVING SUM(sign) <> 0
    ORDER BY user_id, version
    """,
)
def q422(spark, sf_dir):
    """VersionedCollapsingMergeTree FINAL read: cancels pair with
    inserts by (key, version) — arrival ORDER is irrelevant, which is
    the engine's whole reason to exist — so the read is one hash
    aggregation on (user_id, version) with net-zero groups vanishing.
    An at-least-once producer re-sends the terminal state for every
    user_id%5==0 (CH keeps the copies), so those survivors carry
    net=2 while everyone else's carry net=1; the oracle replays the
    pairing declaratively."""
    from ..operators.engines import versioned_collapse_final

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = (
        _t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", _dec("value").alias("v"))
        .withColumn("seq", F.row_number().over(w))
        .withColumn("prev", F.lag("v").over(w))
        .withColumn("n_ev", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
    )
    resend = F.when(
        (F.col("user_id") % 5 == 0) & (F.col("seq") == F.col("n_ev")),
        F.array(
            F.struct(
                F.col("seq").alias("version"),
                F.col("v"),
                F.lit(1).alias("sign"),
            )
        ),
    ).otherwise(F.array())
    signed = e.select(
        "user_id",
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("seq").alias("version"),
                        F.col("v"),
                        F.lit(1).alias("sign"),
                    )
                ),
                F.when(
                    F.col("prev").isNotNull(),
                    F.array(
                        F.struct(
                            (F.col("seq") - 1).alias("version"),
                            F.col("prev").alias("v"),
                            F.lit(-1).alias("sign"),
                        )
                    ),
                ).otherwise(F.array()),
                resend,
            )
        ).alias("r"),
    ).select("user_id", "r.version", "r.v", "r.sign")
    return (
        versioned_collapse_final(
            signed, keys=["user_id"], version_col="version", value_cols=["v"]
        )
        .select(
            "user_id",
            "version",
            F.col("v").cast("double").alias("value"),
            "net",
        )
        .orderBy("user_id", "version")
    )
