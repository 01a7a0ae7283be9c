"""Time series, text, geo, stats tests, media probe (q171-q230).

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


@query(
    "q171_url_functions",
    """
    WITH u AS (
      SELECT event_id,
             'https://shard-' || CAST(user_id % 4 AS VARCHAR)
               || '.example.com/' || event_type || '/item?uid='
               || CAST(user_id AS VARCHAR) || '&v=' || CAST(event_id % 7 AS VARCHAR)
               AS url
      FROM events WHERE event_id % 13 = 0
    )
    SELECT event_id,
           regexp_extract(url, '^https://([^/]+)/', 1) AS host,
           regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '[?&]uid=([^&]*)', 1) AS uid_param,
           'https' AS protocol
    FROM u
    """,
)
def q171(spark, sf_dir):
    """URL function family (ClickHouse domain()/path()/
    extractURLParameter()): Spark's parse_url (java.net.URI-backed)
    against a regex oracle on deterministically-synthesized well-formed
    URLs — host, path, a named query parameter, protocol.  All JVM-side;
    no UDF."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 13 == 0)
    url = F.concat(
        F.lit("https://shard-"),
        (F.col("user_id") % 4).cast("string"),
        F.lit(".example.com/"),
        F.col("event_type"),
        F.lit("/item?uid="),
        F.col("user_id").cast("string"),
        F.lit("&v="),
        (F.col("event_id") % 7).cast("string"),
    )
    u = ev.select("event_id", url.alias("url"))
    return u.select(
        "event_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("uid")).alias("uid_param"),
        F.parse_url("url", F.lit("PROTOCOL")).alias("protocol"),
    )


@query(
    "q172_new_vs_returning",
    """
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
    )
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           COUNT(DISTINCT e.user_id) AS dau,
           COUNT(DISTINCT CASE WHEN CAST(ts AS DATE) = f.first_day
                               THEN e.user_id END) AS new_users,
           COUNT(DISTINCT CASE WHEN CAST(ts AS DATE) > f.first_day
                               THEN e.user_id END) AS returning_users
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY strftime(CAST(ts AS DATE), '%Y-%m-%d')
    """,
)
def q172(spark, sf_dir):
    """New-vs-returning daily active users (first-touch attribution —
    the uniqIf-on-registration-day ClickHouse pattern): a per-user MIN
    first-seen day joined back to the fact, then conditional distinct
    counts per day.  The first_seen aggregate is one row per user (tiny
    vs events) and broadcasts; both aggregations shuffle on the same
    user/day keys."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("d").alias("first_day"))
    return (
        ev.join(F.broadcast(first_seen), "user_id")
        .groupBy(F.date_format("d", "yyyy-MM-dd").alias("day"))
        .agg(
            F.countDistinct("user_id").alias("dau"),
            F.countDistinct(
                F.when(F.col("d") == F.col("first_day"), F.col("user_id"))
            ).alias("new_users"),
            F.countDistinct(
                F.when(F.col("d") > F.col("first_day"), F.col("user_id"))
            ).alias("returning_users"),
        )
    )


@query(
    "q173_stream_topk",
    """
    SELECT user_id, cnt FROM (
      SELECT user_id, COUNT(*) AS cnt,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id) AS rn
      FROM events GROUP BY user_id
    ) WHERE rn <= 5
    """,
)
def q173(spark, sf_dir):
    """Streaming LEADERBOARD: complete-mode aggregation + ORDER BY +
    LIMIT in the SAME streaming query (Spark permits the sorted-limit
    only in complete mode — the live 'current top-5' surface a ClickHouse
    user gets from a totals-ordered MV).  Drained with availableNow, the
    final emission must equal the batch exact top-5 with the user_id
    tiebreak.  State is one row per user; the sort sees only the
    aggregated leaderboard, never raw events."""
    ev = _events_stream(spark, sf_dir)
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("user_id"))
        .limit(5)
    )
    return _run_stream(top, "complete")


@query(
    "q174_max_concurrency",
    """
    WITH spans AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             MIN(epoch_us(ts)) AS s, MAX(epoch_us(ts)) AS e
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), pts AS (
      SELECT day, s AS t, 1 AS delta, user_id FROM spans
      UNION ALL
      SELECT day, e AS t, -1 AS delta, user_id FROM spans
    ), running AS (
      SELECT day,
             SUM(delta) OVER (PARTITION BY day
                              ORDER BY t, delta DESC, user_id) AS conc
      FROM pts
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(MAX(conc) AS BIGINT) AS max_concurrent
    FROM running GROUP BY strftime(day, '%Y-%m-%d')
    """,
)
def q174(spark, sf_dir):
    """ClickHouse maxIntersections: the peak number of simultaneously-
    active user sessions per day, by sweep line — each span emits a +1 at
    its start and a -1 at its end, a running sum over the time-ordered
    points traces concurrency, and the max per day is the answer.  The
    tiebreak (delta DESC at equal t) makes touching intervals count as
    overlapping, identically on both engines.  One window shuffle on day;
    2 rows per span regardless of span length — the shape that replaces
    a quadratic interval self-join at scale."""
    ev = _t(spark, sf_dir, "events")
    spans = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.min(F.unix_micros("ts")).alias("s"),
        F.max(F.unix_micros("ts")).alias("e"),
    )
    # one scan + one aggregate: each span explodes into its two sweep
    # points (a union of the aggregate would scan and aggregate twice)
    pts = spans.select(
        "day",
        "user_id",
        F.explode(
            F.array(
                F.struct(F.col("s").alias("t"), F.lit(1).alias("delta")),
                F.struct(F.col("e").alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("p"),
    ).select("day", F.col("p.t").alias("t"), F.col("p.delta").alias("delta"), "user_id")
    w = Window.partitionBy("day").orderBy(
        F.col("t"), F.col("delta").desc(), F.col("user_id")
    )
    running = pts.select("day", F.sum("delta").over(w).alias("conc"))
    return running.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day")).agg(
        F.max("conc").alias("max_concurrent")
    )


@query(
    "q175_paragraph_dedup",
    """
    WITH paras AS (
      SELECT doc_id, s // 10 AS pidx,
             array_to_string(list_slice(string_split(text, ' '), s + 1, s + 10), ' ')
               AS para
      FROM documents, UNNEST(range(0, len(string_split(text, ' ')), 10)) AS u(s)
    ), keep AS (
      SELECT doc_id, pidx, para,
             ROW_NUMBER() OVER (PARTITION BY md5(para)
                                ORDER BY doc_id, pidx) AS occ
      FROM paras
    )
    SELECT doc_id,
           COUNT(*) AS kept_paras,
           string_agg(para, ' ' ORDER BY pidx) AS dedup_text
    FROM keep WHERE occ = 1
    GROUP BY doc_id
    """,
)
def q175(spark, sf_dir):
    """PARAGRAPH-level exact dedup (the CCNet/C4 recipe: drop repeated
    boilerplate chunks corpus-wide, keep each paragraph's FIRST
    occurrence, reassemble the survivors in order).  Paragraph = 10-word
    chunk here (fixture texts have no sentence structure).  Plan: narrow
    chunk explode → one shuffle on the content hash for the
    first-occurrence window → one shuffle back on doc_id for ordered
    reassembly.  Document-level dedup (q36-q40) can't remove shared
    boilerplate inside otherwise-unique docs; this is the op that does."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(0).cast("bigint"),
        (F.size(toks) - 1).cast("bigint"),
        F.lit(10).cast("bigint"),
    )
    paras = d.select(
        "doc_id", F.col("text"), F.explode(starts).alias("s")
    ).select(
        "doc_id",
        (F.col("s") / 10).cast("bigint").alias("pidx"),
        F.concat_ws(
            " ", F.slice(F.split(F.col("text"), " "), F.col("s").cast("int") + 1, 10)
        ).alias("para"),
    )
    w = Window.partitionBy(F.md5("para")).orderBy("doc_id", "pidx")
    keep = paras.withColumn("occ", F.row_number().over(w)).filter(F.col("occ") == 1)
    ordered = F.sort_array(F.collect_list(F.struct("pidx", "para")))
    return keep.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("kept_paras"),
        F.concat_ws(
            " ", F.transform(ordered, lambda x: x["para"])
        ).alias("dedup_text"),
    )


@query(
    "q176_time_weighted_avg",
    """
    WITH seg AS (
      SELECT user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
               - epoch_us(ts) AS dur_us
      FROM events
    )
    SELECT user_id,
           CAST(SUM(cents * dur_us) AS DOUBLE)
             / CAST(SUM(dur_us) AS DOUBLE) / 100.0 AS twap,
           CAST(SUM(dur_us) AS BIGINT) AS total_us
    FROM seg WHERE dur_us IS NOT NULL
    GROUP BY user_id
    """,
)
def q176(spark, sf_dir):
    """TIME-WEIGHTED average (TWAP / ClickHouse avgWeighted with
    hold-until-next-event durations): each reading holds until the next
    one, so its weight is the inter-event gap in exact integer
    microseconds; value becomes integer cents.  cents×µs products stay
    within int64 (10^4 × 10^11), sums are exact, and the single division
    happens once at the end — deterministic across engines.  One window
    shuffle on user_id feeding the aggregate on the same key (exchange
    reuse)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = (_dec("value") * 100).cast("bigint")
    seg = ev.select(
        "user_id",
        cents.alias("cents"),
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    return seg.groupBy("user_id").agg(
        (
            F.sum(F.col("cents") * F.col("dur_us")).cast("double")
            / F.sum("dur_us").cast("double")
            / F.lit(100.0)
        ).alias("twap"),
        F.sum("dur_us").alias("total_us"),
    )


@query(
    "q177_file_introspection",
    """
    SELECT 'lineitem.parquet' AS file,
           COUNT(*) AS n_rows,
           MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
    FROM lineitem
    """,
)
def q177(spark, sf_dir):
    """Storage introspection — the `system.parts` / `_part` virtual
    column analogue: per physical parquet file, row count and key range
    via the input_file_name() metadata column.  This is how an operator
    answers "which files would a key-range query touch, and is the
    layout sorted enough to prune?" without any external catalog.  The
    fixture table is a single file, so the oracle states the per-file
    row as the table totals (DuckDB's read_parquet(filename=true) is
    the equivalent surface for multi-file stores)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.withColumn(
            "file", F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)
        )
        .groupBy("file")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_orderkey").alias("min_key"),
            F.max("l_orderkey").alias("max_key"),
        )
    )


@query(
    "q178_union_by_name",
    """
    SELECT event_id, user_id, source_ver, extra
    FROM (
      SELECT event_id, user_id, 'v1' AS source_ver, NULL AS extra
      FROM events WHERE event_id % 10 = 0
      UNION ALL BY NAME
      SELECT user_id, 'v2' AS source_ver, event_id,
             event_type AS extra
      FROM events WHERE event_id % 10 = 5
    )
    """,
)
def q178(spark, sf_dir):
    """Schema-evolution union: two versions of a feed — v2 adds a column
    and declares its columns in a different order — merged by NAME with
    NULL back-fill (Spark unionByName(allowMissingColumns=True) ↔ DuckDB
    UNION ALL BY NAME).  Positional UNION would silently misalign
    columns; name-based resolution is the evolution-safe surface."""
    ev = _t(spark, sf_dir, "events")
    v1 = ev.filter(F.col("event_id") % 10 == 0).select(
        "event_id", "user_id", F.lit("v1").alias("source_ver")
    )
    v2 = ev.filter(F.col("event_id") % 10 == 5).select(
        "user_id",
        F.lit("v2").alias("source_ver"),
        "event_id",
        F.col("event_type").alias("extra"),
    )
    return v1.unionByName(v2, allowMissingColumns=True).select(
        "event_id", "user_id", "source_ver", "extra"
    )


@query(
    "q179_summap_merge",
    """
    SELECT user_id,
           string_agg(event_type || ':' ||
                      CAST(CAST(total * 100 AS BIGINT) AS VARCHAR),
                      ',' ORDER BY event_type) AS merged_map
    FROM (
      SELECT user_id, event_type,
             SUM(CAST(value AS DECIMAL(18,2))) AS total
      FROM events GROUP BY user_id, event_type
    )
    GROUP BY user_id
    """,
)
def q179(spark, sf_dir):
    """sumMap MERGE (the -Merge combinator over map states): two
    partial sumMaps — early-half and late-half of the month — combined
    key-wise with map_zip_with(coalesce(a,0)+coalesce(b,0)).  This is
    how map-valued rollup layers merge without rescanning raw rows; the
    oracle computes the same totals flat.  Each half aggregates
    map-side, and the merge is a per-row array operation after one
    user_id shuffle."""
    ev = _t(spark, sf_dir, "events")
    mid = F.to_timestamp(F.lit("2024-01-15"))
    zero = F.lit(0).cast("decimal(18,2)")

    def half_map(df):
        per_key = df.groupBy("user_id", "event_type").agg(
            F.sum(_dec("value")).alias("v")
        )
        return per_key.groupBy("user_id").agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("event_type", "v")))
            ).alias("m")
        )

    a = half_map(ev.filter(F.col("ts") < mid)).withColumnRenamed("m", "ma")
    b = half_map(ev.filter(F.col("ts") >= mid)).withColumnRenamed("m", "mb")
    both = a.join(b, "user_id", "full_outer")
    empty = F.map_from_entries(
        F.array().cast("array<struct<event_type:string,v:decimal(28,2)>>")
    )
    merged = F.map_zip_with(
        F.coalesce("ma", empty),
        F.coalesce("mb", empty),
        lambda k, x, y: F.coalesce(x, zero) + F.coalesce(y, zero),
    )
    return both.select(
        "user_id",
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.map_entries(merged)),
                lambda e: F.concat(
                    e["key"],
                    F.lit(":"),
                    (e["value"] * 100).cast("bigint").cast("string"),
                ),
            ),
        ).alias("merged_map"),
    )


@query(
    "q180_sequence_next_node",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS occ
      FROM events
    )
    SELECT COALESCE(next_type, '(end)') AS next_after_signup,
           COUNT(*) AS n_users
    FROM seq WHERE event_type = 'signup' AND occ = 1
    GROUP BY COALESCE(next_type, '(end)')
    """,
)
def q180(spark, sf_dir):
    """ClickHouse sequenceNextNode: what does each user do immediately
    AFTER their first signup?  lead() over the full per-user timeline +
    a per-(user,type) occurrence rank isolates the first signup; NULL
    next (signup was the last event) becomes an explicit '(end)' node.
    Both windows share the user_id partitioning — one shuffle."""
    ev = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wt = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(wu).alias("next_type"),
        F.row_number().over(wt).alias("occ"),
    )
    return (
        seq.filter((F.col("event_type") == "signup") & (F.col("occ") == 1))
        .groupBy(F.coalesce("next_type", F.lit("(end)")).alias("next_after_signup"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "q181_bounding_ratio",
    """
    SELECT user_id,
           CAST(arg_max(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT),
                        lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                          || lpad(CAST(event_id AS VARCHAR), 12, '0'))
                - arg_min(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT),
                          lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                            || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS DOUBLE)
             / CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS DOUBLE)
             AS slope_cents_per_us
    FROM events
    GROUP BY user_id
    HAVING MAX(epoch_us(ts)) > MIN(epoch_us(ts))
    """,
)
def q181(spark, sf_dir):
    """ClickHouse boundingRatio: the end-to-end slope of each user's
    value series — (last value − first value) / (last ts − first ts).
    First/last picked by max_by/min_by on the q160 zero-padded string
    composite key (exact, no tie ambiguity); the division is the only
    float op and happens once per group on exact integer cents/µs."""
    ev = _t(spark, sf_dir, "events")
    key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    cents = (_dec("value") * 100).cast("bigint")
    us = F.unix_micros("ts")
    return (
        ev.groupBy("user_id")
        .agg(
            F.max_by(cents, key).alias("last_c"),
            F.min_by(cents, key).alias("first_c"),
            F.max(us).alias("max_us"),
            F.min(us).alias("min_us"),
        )
        .filter(F.col("max_us") > F.col("min_us"))
        .select(
            "user_id",
            (
                (F.col("last_c") - F.col("first_c")).cast("double")
                / (F.col("max_us") - F.col("min_us")).cast("double")
            ).alias("slope_cents_per_us"),
        )
    )


@query(
    "q182_json_array_roundtrip",
    """
    WITH built AS (
      SELECT user_id,
             to_json(list(struct_pack(
               i := event_id,
               c := CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
               ORDER BY event_id)) AS j
      FROM events WHERE user_id % 9 = 0 GROUP BY user_id
    ), parsed AS (
      SELECT user_id, x.i AS i, x.c AS c
      FROM built, UNNEST(json_transform(j, '[{"i":"BIGINT","c":"BIGINT"}]')) AS u(x)
    )
    SELECT user_id, COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS cents_sum,
           MIN(i) AS min_id
    FROM parsed GROUP BY user_id
    """,
)
def q182(spark, sf_dir):
    """Nested-JSON array round trip (the events.props surface taken to
    depth): each user's readings serialize into ONE json array of
    objects (to_json of sorted structs), parse back with an explicit
    array<struct> schema (from_json), explode, and re-aggregate — the
    final numbers must survive the trip exactly even though the two
    engines' JSON writers differ in formatting.  Exact integer cents
    only; no float ever enters a JSON literal."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 9 == 0)
    cents = (_dec("value") * 100).cast("bigint")
    built = ev.groupBy("user_id").agg(
        F.to_json(
            F.sort_array(
                F.collect_list(F.struct(F.col("event_id").alias("i"), cents.alias("c")))
            )
        ).alias("j")
    )
    parsed = built.select(
        "user_id",
        F.explode(
            F.from_json("j", "array<struct<i:bigint,c:bigint>>")
        ).alias("x"),
    )
    return parsed.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x.c").alias("cents_sum"),
        F.min("x.i").alias("min_id"),
    )


@query(
    "q183_counter_rate",
    """
    WITH deltas AS (
      SELECT user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
               - LAG(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
      FROM events
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN d > 0 THEN d ELSE 0 END) AS BIGINT) AS delta_sum_cents,
           COUNT(CASE WHEN d < 0 THEN 1 END) AS n_resets
    FROM deltas WHERE d IS NOT NULL
    GROUP BY user_id
    """,
)
def q183(spark, sf_dir):
    """Counter-rate extraction (ClickHouse deltaSum / Prometheus
    rate()): treat each user's value series as a monotone counter that
    occasionally resets — sum only the POSITIVE deltas and count the
    resets.  A lag window in exact integer cents feeding an aggregate on
    the same key (window partitioning reused, q176 pattern); the
    monitoring op a syslog/metrics store must answer over counters that
    wrap on process restart."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = (_dec("value") * 100).cast("bigint")
    deltas = ev.select(
        "user_id", (cents - F.lag(cents).over(w)).alias("d")
    ).filter(F.col("d").isNotNull())
    return deltas.groupBy("user_id").agg(
        F.sum(F.when(F.col("d") > 0, F.col("d")).otherwise(0)).alias(
            "delta_sum_cents"
        ),
        F.count(F.when(F.col("d") < 0, 1)).alias("n_resets"),
    )


@query(
    "q184_zorder_store",
    """
    SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM events
    WHERE user_id BETWEEN 20 AND 40 AND event_id BETWEEN 1000 AND 60000
    GROUP BY event_type
    """,
)
def q184(spark, sf_dir):
    """Z-ORDER clustered store (`operators/layout.py` — the Delta/Iceberg
    ZORDER BY primitive from native bit expressions): events rewritten
    clustered on the Morton interleave of (user_id, event_id), then a
    conjunctive range query on BOTH columns runs against the store and
    must equal the oracle on the raw table.  tests/test_layout.py proves
    the layout property itself (row-group min/max narrow on both
    columns); this query proves the rewrite is lossless through the
    same gate every maintenance op passes."""
    import tempfile

    from ..operators.layout import write_zordered

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    store = scratch_dir("zq_") + "/store"
    write_zordered(ev, store, "user_id", "event_id", bits=12, n_files=4)
    back = spark.read.parquet(store)
    return (
        back.filter(
            F.col("user_id").between(20, 40) & F.col("event_id").between(1000, 60000)
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("id_sum"))
    )


@query(
    "q185_transition_matrix",
    """
    WITH pairs AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events
    ), counts AS (
      SELECT src, dst, COUNT(*) AS n FROM pairs
      WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE) AS p
    FROM counts
    """,
)
def q185(spark, sf_dir):
    """Event-type TRANSITION MATRIX (first-order Markov counts + row-
    normalized probabilities): consecutive event pairs per user via lead,
    counted per (src, dst), with p = n / row-total computed from exact
    integer counts in one window pass over the tiny 5×5 matrix.  The
    heavy work (lag pairing) is one user_id window shuffle; the
    normalization touches 25 rows."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    counts = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    row_total = F.sum("n").over(Window.partitionBy("src"))
    return counts.select(
        "src",
        "dst",
        "n",
        (F.col("n").cast("double") / row_total.cast("double")).alias("p"),
    )


@query(
    "q186_volume_anomaly",
    """
    WITH buckets AS (
      SELECT time_bucket(INTERVAL '10 minutes', ts) AS b, COUNT(*) AS cnt
      FROM events WHERE event_type = 'error' GROUP BY 1
    ), stats AS (
      SELECT COUNT(*) AS n, SUM(cnt) AS s1, SUM(cnt * cnt) AS s2 FROM buckets
    )
    SELECT strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket, cnt,
           (CAST(cnt AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             / sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                    - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) AS z
    FROM buckets CROSS JOIN stats
    WHERE CAST(cnt AS DOUBLE)
          > CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)
            + 2.0 * sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                         - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                             * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
    """,
)
def q186(spark, sf_dir):
    """LOG-VOLUME SPIKE ALERTING — the syslog capstone: bucket error
    counts into 10-minute windows, compute the population mean/std from
    exact integer moments over the buckets (q98 rule — counts are ints,
    so s1/s2 are exact), and flag buckets above mean + 2σ with their
    z-score.  The moments are ONE tiny row broadcast into the bucket
    frame; at 100 TB the bucket table is minutes×devices, not raw rows,
    so the alert scan touches pre-aggregated data only."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    buckets = ev.groupBy(
        F.window("ts", "10 minutes").getField("start").alias("b")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    stats = buckets.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    std = F.sqrt(F.col("s2").cast("double") / nd - mean * mean)
    return (
        buckets.join(F.broadcast(stats))
        .filter(F.col("cnt").cast("double") > mean + F.lit(2.0) * std)
        .select(
            F.date_format("b", TS_S).alias("bucket"),
            "cnt",
            ((F.col("cnt").cast("double") - mean) / std).alias("z"),
        )
    )


@query(
    "q187_topk_with_ties",
    """
    SELECT user_id, cnt FROM (
      SELECT user_id, COUNT(*) AS cnt,
             RANK() OVER (ORDER BY COUNT(*) DESC) AS rk
      FROM events GROUP BY user_id
    ) WHERE rk <= 3
    """,
)
def q187(spark, sf_dir):
    """Top-k WITH TIES (ClickHouse LIMIT ... WITH TIES / SQL FETCH FIRST
    k ROWS WITH TIES): rank() instead of row_number(), so every user
    tied with the 3rd-most-active survives — the cutoff is value-defined
    and needs no arbitrary tiebreak.  Spark plans the rank filter as
    WindowGroupLimit, so partial top-k is computed map-side before the
    single-partition rank."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.col("cnt").desc())
    return (
        counts.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
        .select("user_id", "cnt")
    )


@query(
    "q188_iqr_outliers",
    """
    WITH q AS (
      SELECT event_type,
             round(quantile_cont(value, 0.25), 4) AS q1,
             round(quantile_cont(value, 0.75), 4) AS q3
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, q.q1, q.q3,
           COUNT(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                        OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
                      THEN 1 END) AS n_outliers,
           COUNT(*) AS n
    FROM events e JOIN q ON e.event_type = q.event_type
    GROUP BY e.event_type, q.q1, q.q3
    """,
)
def q188(spark, sf_dir):
    """Tukey IQR outlier detection per group (the box-plot fence rule —
    the robust sibling of q115's z-score): exact interpolated quartiles
    per event_type (q14's percentile ↔ quantile_cont parity, rounded),
    fences at q1/q3 ∓ 1.5·IQR computed in identical expression order on
    both engines, then a broadcast join back over the raw rows counts
    the escapees.  Two passes total: the tiny quartile dim broadcasts."""
    ev = _t(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.25)), 4).alias("q1"),
        F.round(F.percentile("value", F.lit(0.75)), 4).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo = F.col("q1") - F.lit(1.5) * iqr
    hi = F.col("q3") + F.lit(1.5) * iqr
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count(
                F.when((F.col("value") < lo) | (F.col("value") > hi), 1)
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q189_interval_length_sum",
    """
    WITH spans AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             MIN(epoch_us(ts)) AS s, MAX(epoch_us(ts)) AS e
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), m AS (
      SELECT day, s, e,
             MAX(e) OVER (PARTITION BY day ORDER BY s, e, user_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS pmax
      FROM spans
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(SUM(GREATEST(e - GREATEST(COALESCE(pmax, s), s), 0))
                AS BIGINT) AS busy_us,
           COUNT(*) AS n_spans
    FROM m GROUP BY strftime(day, '%Y-%m-%d')
    """,
)
def q189(spark, sf_dir):
    """ClickHouse intervalLengthSum: the length of the UNION of
    possibly-overlapping intervals — here, per day, the total time at
    least one user session was active (the complement of q174's peak
    concurrency on the same span set).  Sweep line as a prefix maximum:
    spans sort by start within the day, each contributes the part of
    [s, e] past the running max of all earlier ends —
    greatest(0, e - greatest(prev_max_end, s)) — and the per-day sum of
    those clamped pieces is exactly the union length, overlap counted
    once.  One window shuffle on day, O(n log n), no quadratic interval
    self-join; the (s, e, user_id) tiebreak makes the prefix order — and
    the oracle — deterministic.  Zero-length spans contribute 0."""
    ev = _t(spark, sf_dir, "events")
    spans = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.min(F.unix_micros("ts")).alias("s"),
        F.max(F.unix_micros("ts")).alias("e"),
    )
    w = (
        Window.partitionBy("day")
        .orderBy("s", "e", "user_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = F.greatest(
        F.col("e") - F.greatest(F.coalesce(F.max("e").over(w), F.col("s")), F.col("s")),
        F.lit(0).cast("long"),
    )
    return (
        spans.select("day", contrib.alias("piece"))
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum("piece").alias("busy_us"),
            F.count(F.lit(1)).alias("n_spans"),
        )
    )


@query(
    "q190_incremental_mv",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(user_id) AS BIGINT) AS uid_sum,
           round(CAST(SUM(user_id) AS DOUBLE) / COUNT(*), 4) AS uid_avg
    FROM events
    GROUP BY event_type
    """,
)
def q190(spark, sf_dir):
    """Incremental materialized-view maintenance (`sources/mv.py` — the
    ClickHouse AggregatingMergeTree-MV analogue): events arrive in three
    batches (event_id % 3 slices), each refresh folds ONLY its batch's
    partial (count, sum) states into the group-sized MV via the snapshot
    store's atomic versioned commits, and the final read-time
    finalization (avg = sum/n on exact integer sums) must equal the
    oracle's full GROUP BY over everything — incremental == recompute.
    The raw table is scanned once per batch and never again; at 100 TB
    the serving read touches kilobytes of state, not the history."""
    import hashlib
    import os
    import shutil
    import tempfile

    from ..sources.mv import read_mv, refresh_mv

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    # Deterministic per-sf scratch path, wiped at the START of each
    # invocation: repeated runs reuse (never accumulate) one dir, and the
    # returned frame reads the live snapshot files — no driver collect.
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"syslog_spark_mv_q190_{tag}")
    shutil.rmtree(path, ignore_errors=True)
    for i in range(3):
        refresh_mv(
            ev.filter(F.col("event_id") % 3 == i),
            path,
            keys=["event_type"],
            sum_cols=["user_id"],
            batch_id=i,
        )
    state = read_mv(spark, path)
    return state.select(
        "event_type",
        "n",
        F.col("sum_user_id").alias("uid_sum"),
        F.round(F.col("sum_user_id").cast("double") / F.col("n"), 4).alias("uid_avg"),
    )


@query(
    "q191_welch_ttest",
    """
    WITH q AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS xc,
             user_id % 2 AS g
      FROM events
    ), s AS (
      SELECT event_type,
             CAST(COUNT(CASE WHEN g = 0 THEN 1 END) AS DOUBLE) AS n0,
             CAST(COUNT(CASE WHEN g = 1 THEN 1 END) AS DOUBLE) AS n1,
             CAST(SUM(CASE WHEN g = 0 THEN xc ELSE 0 END) AS DOUBLE) AS s0,
             CAST(SUM(CASE WHEN g = 1 THEN xc ELSE 0 END) AS DOUBLE) AS s1,
             CAST(SUM(CASE WHEN g = 0 THEN xc * xc ELSE 0 END) AS DOUBLE) AS ss0,
             CAST(SUM(CASE WHEN g = 1 THEN xc * xc ELSE 0 END) AS DOUBLE) AS ss1
      FROM q GROUP BY 1
    ), v AS (
      SELECT event_type, n0, n1, s0, s1,
             (ss0 - s0 * s0 / n0) / (n0 - 1.0) / n0 AS se0,
             (ss1 - s1 * s1 / n1) / (n1 - 1.0) / n1 AS se1
      FROM s
    )
    SELECT event_type,
           CAST(n0 AS BIGINT) AS n_a,
           CAST(n1 AS BIGINT) AS n_b,
           s0 / (100.0 * n0) AS mean_a,
           s1 / (100.0 * n1) AS mean_b,
           (s0 / n0 - s1 / n1) / sqrt(se0 + se1) AS t_stat,
           (se0 + se1) * (se0 + se1)
             / (se0 * se0 / (n0 - 1.0) + se1 * se1 / (n1 - 1.0)) AS dof
    FROM v
    """,
)
def q191(spark, sf_dir):
    """ClickHouse welchTTest: two-sample unequal-variance t-statistic with
    Welch-Satterthwaite degrees of freedom, here an A/B read-out per
    event_type over user cohorts (user_id parity).  Determinism the q98
    way: the only data-dependent aggregation is six exact integer sums
    (conditional n / Σx / Σx² per cohort, cent-quantized), partial-agg
    mergeable per partition; every float op after that is a fixed-order
    expression both engines round identically.  One shuffle on
    event_type, no second pass over the data."""
    ev = _t(spark, sf_dir, "events")
    g = F.col("user_id") % 2
    xc = F.round(F.col("value") * 100).cast("bigint")
    q = ev.select("event_type", xc.alias("xc"), g.alias("g"))
    s = q.groupBy("event_type").agg(
        F.count(F.when(F.col("g") == 0, 1)).cast("double").alias("n0"),
        F.count(F.when(F.col("g") == 1, 1)).cast("double").alias("n1"),
        F.sum(F.when(F.col("g") == 0, F.col("xc")).otherwise(0))
        .cast("double")
        .alias("s0"),
        F.sum(F.when(F.col("g") == 1, F.col("xc")).otherwise(0))
        .cast("double")
        .alias("s1"),
        F.sum(F.when(F.col("g") == 0, F.col("xc") * F.col("xc")).otherwise(0))
        .cast("double")
        .alias("ss0"),
        F.sum(F.when(F.col("g") == 1, F.col("xc") * F.col("xc")).otherwise(0))
        .cast("double")
        .alias("ss1"),
    )
    n0, n1, s0, s1 = F.col("n0"), F.col("n1"), F.col("s0"), F.col("s1")
    v = s.select(
        "event_type",
        "n0",
        "n1",
        "s0",
        "s1",
        ((F.col("ss0") - s0 * s0 / n0) / (n0 - F.lit(1.0)) / n0).alias("se0"),
        ((F.col("ss1") - s1 * s1 / n1) / (n1 - F.lit(1.0)) / n1).alias("se1"),
    )
    se0, se1 = F.col("se0"), F.col("se1")
    return v.select(
        "event_type",
        n0.cast("bigint").alias("n_a"),
        n1.cast("bigint").alias("n_b"),
        (s0 / (F.lit(100.0) * n0)).alias("mean_a"),
        (s1 / (F.lit(100.0) * n1)).alias("mean_b"),
        ((s0 / n0 - s1 / n1) / F.sqrt(se0 + se1)).alias("t_stat"),
        (
            (se0 + se1)
            * (se0 + se1)
            / (se0 * se0 / (n0 - F.lit(1.0)) + se1 * se1 / (n1 - F.lit(1.0)))
        ).alias("dof"),
    )


@query(
    "q192_cramers_v",
    """
    WITH cells AS (
      SELECT event_type AS a, hour(ts) AS b, CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT a, b, o,
             CAST(SUM(o) OVER (PARTITION BY a) AS BIGINT) AS ra,
             CAST(SUM(o) OVER (PARTITION BY b) AS BIGINT) AS cb,
             CAST(SUM(o) OVER () AS BIGINT) AS n
      FROM cells
    ), t AS (
      SELECT a, b, n,
             CAST(o * n - ra * cb AS DOUBLE) * CAST(o * n - ra * cb AS DOUBLE)
               / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE)) AS term
      FROM m
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT a) AS BIGINT) AS n_types,
           CAST(COUNT(DISTINCT b) AS BIGINT) AS n_hours,
           list_reduce(list(term ORDER BY a, b), (x, y) -> x + y)
             / CAST(MAX(n) AS DOUBLE) AS chi2,
           sqrt(list_reduce(list(term ORDER BY a, b), (x, y) -> x + y)
                  / CAST(MAX(n) AS DOUBLE)
                / (CAST(MAX(n) AS DOUBLE)
                   * CAST(LEAST(COUNT(DISTINCT a) - 1,
                                COUNT(DISTINCT b) - 1) AS DOUBLE))) AS cramers_v
    FROM t
    """,
)
def q192(spark, sf_dir):
    """ClickHouse cramersV / contingency: chi-square association between
    event_type and hour-of-day.  The heavy pass is one COUNT(*) groupBy
    over the contingency cells; marginals come from window sums over the
    cell table (types x 24 rows, not the raw data).  Each cell's term
    uses the integer identity (o*n - ra*cb)^2/(ra*cb) — exact int64
    inputs, float only at the last step — and the cross-cell float sum
    folds in sorted (a, b) order on BOTH engines (sort_array + aggregate
    here, list(ORDER BY) + list_reduce in DuckDB), so summation order
    can't perturb the hash.  At 100 TB the cell table is KB-sized; only
    the first groupBy touches the data."""
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("a"), F.hour("ts").alias("b")
    ).agg(F.count(F.lit(1)).alias("o"))
    m = (
        cells.withColumn("ra", F.sum("o").over(Window.partitionBy("a")))
        .withColumn("cb", F.sum("o").over(Window.partitionBy("b")))
        .withColumn(
            "n", F.sum("o").over(Window.partitionBy())
        )
    )
    d = F.col("o") * F.col("n") - F.col("ra") * F.col("cb")
    t = m.select(
        "a",
        "b",
        "n",
        (
            d.cast("double")
            * d.cast("double")
            / (F.col("ra").cast("double") * F.col("cb").cast("double"))
        ).alias("term"),
    )
    fold = F.aggregate(
        F.sort_array(F.collect_list(F.struct("a", "b", "term"))),
        F.lit(0.0),
        lambda acc, x: acc + x["term"],
    )
    nd = F.max("n").cast("double")
    chi2 = fold / nd
    k = F.least(
        F.count_distinct(F.col("a")) - 1, F.count_distinct(F.col("b")) - 1
    ).cast("double")
    return t.agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.count_distinct(F.col("a")).cast("bigint").alias("n_types"),
        F.count_distinct(F.col("b")).cast("bigint").alias("n_hours"),
        chi2.alias("chi2"),
        F.sqrt(chi2 / (nd * k)).alias("cramers_v"),
    )


@query(
    "q193_entropy",
    """
    WITH c AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY 1, 2
    ), s AS (
      SELECT source, lang, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
      FROM c
    ), t AS (
      SELECT source, lang, n,
             CAST(cnt AS DOUBLE) * log2(CAST(cnt AS DOUBLE)) AS w
      FROM s
    )
    SELECT source,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           round(log2(CAST(MAX(n) AS DOUBLE))
                 - list_reduce(list(w ORDER BY lang), (x, y) -> x + y)
                   / CAST(MAX(n) AS DOUBLE), 6) AS lang_entropy_bits
    FROM t GROUP BY source
    """,
)
def q193(spark, sf_dir):
    """ClickHouse entropy: Shannon entropy of the language mix per corpus
    source (a training-data diversity metric).  H = log2(n) - (1/n)
    SUM(c*log2(c)) over the per-(source, lang) count table — the raw scan
    is one groupBy; everything after runs on the tiny cell table.  The
    per-lang float terms fold in sorted lang order on both engines, and
    the result is rounded to 6 dp because log2 is the one op IEEE does
    NOT pin to the last ulp across libm implementations (sub-ulp input
    differences are ~1e-15 relative, far inside the rounding margin)."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    s = c.withColumn("n", F.sum("cnt").over(Window.partitionBy("source")))
    t = s.select(
        "source",
        "lang",
        "n",
        (F.col("cnt").cast("double") * F.log2(F.col("cnt").cast("double"))).alias(
            "w"
        ),
    )
    fold = F.aggregate(
        F.sort_array(F.collect_list(F.struct("lang", "w"))),
        F.lit(0.0),
        lambda acc, x: acc + x["w"],
    )
    nd = F.max("n").cast("double")
    return t.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.round(F.log2(nd) - fold / nd, 6).alias("lang_entropy_bits"),
    )


@query(
    "q194_spearman_rank_corr",
    """
    WITH r AS (
      SELECT event_type,
             2 * RANK() OVER (PARTITION BY event_type ORDER BY value NULLS LAST)
               + COUNT(*) OVER (PARTITION BY event_type ORDER BY value NULLS LAST
                                RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
               - 1 AS rx,
             2 * RANK() OVER (PARTITION BY event_type ORDER BY user_id NULLS LAST)
               + COUNT(*) OVER (PARTITION BY event_type ORDER BY user_id NULLS LAST
                                RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
               - 1 AS ry
      FROM events
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS nd,
             CAST(SUM(rx) AS DOUBLE) AS sx,
             CAST(SUM(ry) AS DOUBLE) AS sy,
             CAST(SUM(rx * rx) AS DOUBLE) AS sxx,
             CAST(SUM(ry * ry) AS DOUBLE) AS syy,
             CAST(SUM(rx * ry) AS DOUBLE) AS sxy
      FROM r GROUP BY 1
    )
    SELECT event_type,
           CAST(nd AS BIGINT) AS n,
           (nd * sxy - sx * sy)
             / sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)) AS spearman_rho
    FROM s
    """,
)
def q194(spark, sf_dir):
    """ClickHouse rankCorr: Spearman rank correlation between event value
    and user_id per event_type.  Tie-averaged ranks come from the
    identity avg_rank = rank + (peers-1)/2, doubled to 2*rank + peers - 1
    so they stay INTEGER (no half-fraction floats); Pearson over the
    doubled ranks equals Pearson over the averaged ranks because
    correlation is affine-invariant.  Peer counts use the RANGE CURRENT
    ROW..CURRENT ROW peers frame, so both rank and peers share ONE
    partitioning (event_type) — one exchange, two in-partition sorts.
    From there it is the q98 exact-moment pattern: six integer sums,
    fixed-order float finish.  rx <= 2n keeps SUM(rx*rx) inside int64 up
    to ~1e6 rows per group; beyond that, quantile-bucket ranks first."""
    ev = _t(spark, sf_dir, "events")
    # Explicit NULLS LAST: Spark's default asc ordering is NULLS FIRST,
    # DuckDB's is NULLS LAST — pinned on both sides so rank parity (and
    # hence spearman_rho) survives nullable value/user_id data.
    wv = Window.partitionBy("event_type").orderBy(F.asc_nulls_last("value"))
    wu = Window.partitionBy("event_type").orderBy(F.asc_nulls_last("user_id"))
    peers_v = (
        F.count(F.lit(1))
        .over(wv.rangeBetween(Window.currentRow, Window.currentRow))
    )
    peers_u = (
        F.count(F.lit(1))
        .over(wu.rangeBetween(Window.currentRow, Window.currentRow))
    )
    r = ev.select(
        "event_type",
        (F.lit(2) * F.rank().over(wv) + peers_v - 1).alias("rx"),
        (F.lit(2) * F.rank().over(wu) + peers_u - 1).alias("ry"),
    )
    s = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum("rx").cast("double").alias("sx"),
        F.sum("ry").cast("double").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast("double").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("double").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("double").alias("sxy"),
    )
    nd, sx, sy = F.col("nd"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        "event_type",
        nd.cast("bigint").alias("n"),
        (
            (nd * sxy - sx * sy)
            / F.sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy))
        ).alias("spearman_rho"),
    )


@query(
    "q196_simple_linear_regression",
    """
    WITH q AS (
      SELECT event_type, user_id AS x,
             CAST(round(value * 100) AS BIGINT) AS yc
      FROM events
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(yc) AS DOUBLE) AS sy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(yc * yc) AS DOUBLE) AS syy,
             CAST(SUM(x * yc) AS DOUBLE) AS sxy
      FROM q GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) / 100.0 AS slope,
           (sy / 100.0
              - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0) / 100.0 * sx)
             / n AS intercept,
           (n * sxy - sx * sy) * (n * sxy - sx * sy)
             / NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0) AS r2
    FROM s
    """,
)
def q196(spark, sf_dir):
    """ClickHouse simpleLinearRegression (and ANSI regr_slope /
    regr_intercept / regr_r2): least-squares y=value on x=user_id per
    event_type.  Deliberately NOT Spark's regr_* aggregates — their
    float accumulation order varies with partitioning; here the only
    data-dependent aggregation is six exact integer sums (y
    cent-quantized), so both engines compute bit-identical doubles in a
    fixed-order scalar epilogue.  One shuffle, partial-agg mergeable —
    the same plan at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.col("user_id").alias("x"),
        F.round(F.col("value") * 100).cast("bigint").alias("yc"),
    )
    s = q.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("yc").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("yc") * F.col("yc")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("yc")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # NULLIF-guard group-dependent denominators (constant-x group, zero
    # variance): Spark non-ANSI and DuckDB ieee_floating_point_ops
    # disagree on x/0.0 (NULL vs inf/nan) — guarded identically on both
    # engines so degenerate groups produce NULL identically.
    slope = (
        (n * sxy - sx * sy)
        / F.nullif(n * sxx - sx * sx, F.lit(0.0))
        / F.lit(100.0)
    )
    return s.select(
        "event_type",
        n.cast("bigint").alias("n"),
        slope.alias("slope"),
        ((sy / F.lit(100.0) - slope * sx) / n).alias("intercept"),
        (
            (n * sxy - sx * sy)
            * (n * sxy - sx * sy)
            / F.nullif(
                (n * sxx - sx * sx) * (n * syy - sy * sy), F.lit(0.0)
            )
        ).alias("r2"),
    )


@query(
    "q197_student_ttest",
    """
    WITH q AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS xc,
             user_id % 2 AS g
      FROM events
    ), s AS (
      SELECT event_type,
             CAST(COUNT(CASE WHEN g = 0 THEN 1 END) AS DOUBLE) AS n0,
             CAST(COUNT(CASE WHEN g = 1 THEN 1 END) AS DOUBLE) AS n1,
             CAST(SUM(CASE WHEN g = 0 THEN xc ELSE 0 END) AS DOUBLE) AS s0,
             CAST(SUM(CASE WHEN g = 1 THEN xc ELSE 0 END) AS DOUBLE) AS s1,
             CAST(SUM(CASE WHEN g = 0 THEN xc * xc ELSE 0 END) AS DOUBLE) AS ss0,
             CAST(SUM(CASE WHEN g = 1 THEN xc * xc ELSE 0 END) AS DOUBLE) AS ss1
      FROM q GROUP BY 1
    ), v AS (
      SELECT event_type, n0, n1, s0, s1,
             ((ss0 - s0 * s0 / NULLIF(n0, 0))
              + (ss1 - s1 * s1 / NULLIF(n1, 0)))
               / NULLIF(n0 + n1 - 2.0, 0) AS sp2
      FROM s
    )
    SELECT event_type,
           CAST(n0 AS BIGINT) AS n_a,
           CAST(n1 AS BIGINT) AS n_b,
           (s0 / NULLIF(n0, 0) - s1 / NULLIF(n1, 0))
             / NULLIF(sqrt(sp2 * (1.0 / NULLIF(n0, 0)
                                  + 1.0 / NULLIF(n1, 0))), 0) AS t_stat,
           n0 + n1 - 2.0 AS dof
    FROM v
    """,
)
def q197(spark, sf_dir):
    """ClickHouse studentTTest: two-sample POOLED-variance t-statistic
    (the equal-variance twin of q191's welchTTest) over the same user
    cohorts.  Same determinism contract: exact integer sums, fixed-order
    float epilogue, one shuffle."""
    ev = _t(spark, sf_dir, "events")
    g = F.col("user_id") % 2
    xc = F.round(F.col("value") * 100).cast("bigint")
    q = ev.select("event_type", xc.alias("xc"), g.alias("g"))
    s = q.groupBy("event_type").agg(
        F.count(F.when(F.col("g") == 0, 1)).cast("double").alias("n0"),
        F.count(F.when(F.col("g") == 1, 1)).cast("double").alias("n1"),
        F.sum(F.when(F.col("g") == 0, F.col("xc")).otherwise(0))
        .cast("double")
        .alias("s0"),
        F.sum(F.when(F.col("g") == 1, F.col("xc")).otherwise(0))
        .cast("double")
        .alias("s1"),
        F.sum(F.when(F.col("g") == 0, F.col("xc") * F.col("xc")).otherwise(0))
        .cast("double")
        .alias("ss0"),
        F.sum(F.when(F.col("g") == 1, F.col("xc") * F.col("xc")).otherwise(0))
        .cast("double")
        .alias("ss1"),
    )
    n0, n1, s0, s1 = F.col("n0"), F.col("n1"), F.col("s0"), F.col("s1")
    # degenerate-cohort guards mirrored in the oracle SQL (see q196 note)
    zero = F.lit(0.0)
    n0g, n1g = F.nullif(n0, zero), F.nullif(n1, zero)
    v = s.select(
        "event_type",
        "n0",
        "n1",
        "s0",
        "s1",
        (
            ((F.col("ss0") - s0 * s0 / n0g) + (F.col("ss1") - s1 * s1 / n1g))
            / F.nullif(n0 + n1 - F.lit(2.0), zero)
        ).alias("sp2"),
    )
    return v.select(
        "event_type",
        n0.cast("bigint").alias("n_a"),
        n1.cast("bigint").alias("n_b"),
        (
            (s0 / n0g - s1 / n1g)
            / F.nullif(
                F.sqrt(F.col("sp2") * (F.lit(1.0) / n0g + F.lit(1.0) / n1g)),
                zero,
            )
        ).alias("t_stat"),
        (n0 + n1 - F.lit(2.0)).alias("dof"),
    )


@query(
    "q198_mann_whitney",
    """
    WITH q AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS xc,
             user_id % 2 AS g
      FROM events
    ), pv AS (
      SELECT event_type, xc,
             COUNT(*) AS nt,
             COUNT(CASE WHEN g = 0 THEN 1 END) AS n0v
      FROM q GROUP BY 1, 2
    ), w AS (
      SELECT event_type, xc, nt, n0v,
             SUM(nt) OVER (PARTITION BY event_type ORDER BY xc
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - nt AS cum_prev
      FROM pv
    ), s AS (
      SELECT event_type,
             SUM(n0v) AS n0,
             SUM(nt) - SUM(n0v) AS n1,
             SUM(nt) AS n,
             SUM(n0v * (2 * cum_prev + nt + 1)) AS r0x2,
             SUM(nt * nt * nt - nt) AS ties
      FROM w GROUP BY 1
    )
    SELECT event_type,
           CAST(n0 AS BIGINT) AS n_a, CAST(n1 AS BIGINT) AS n_b,
           CAST(r0x2 AS DOUBLE) / 2.0
             - CAST(n0 AS DOUBLE) * CAST(n0 + 1 AS DOUBLE) / 2.0 AS u_a,
           CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)
             - (CAST(r0x2 AS DOUBLE) / 2.0
                - CAST(n0 AS DOUBLE) * CAST(n0 + 1 AS DOUBLE) / 2.0) AS u_b,
           (CAST(r0x2 AS DOUBLE) / 2.0
             - CAST(n0 AS DOUBLE) * CAST(n0 + 1 AS DOUBLE) / 2.0
             - CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) / 2.0)
           / NULLIF(sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) / 12.0
                  * (CAST(n + 1 AS DOUBLE)
                     - CAST(ties AS DOUBLE)
                       / NULLIF(CAST(n AS DOUBLE)
                                * CAST(n - 1 AS DOUBLE), 0))), 0) AS z
    FROM s
    """,
)
def q198(spark, sf_dir):
    """ClickHouse mannWhitneyUTest: rank-sum U (with midrank tie
    handling and tie-corrected normal approximation z) between user
    cohorts per event_type.  Every aggregation is an exact INTEGER sum —
    midranks are kept doubled (2·cum_prev + nt + 1 is integral) so even
    the rank sum is exact; the float epilogue is fixed-order.  Two
    shuffles: groupBy (event_type, value) then a window per event_type —
    the rank table is |distinct values|-sized, not |rows|-sized."""
    ev = _t(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("xc"),
        (F.col("user_id") % 2).alias("g"),
    )
    pv = q.groupBy("event_type", "xc").agg(
        F.count(F.lit(1)).alias("nt"),
        F.count(F.when(F.col("g") == 0, 1)).alias("n0v"),
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("xc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = pv.withColumn("cum_prev", F.sum("nt").over(win) - F.col("nt"))
    nt, n0v = F.col("nt"), F.col("n0v")
    s = w.groupBy("event_type").agg(
        F.sum(n0v).alias("n0"),
        (F.sum(nt) - F.sum(n0v)).alias("n1"),
        F.sum(nt).alias("n"),
        F.sum(n0v * (F.lit(2) * F.col("cum_prev") + nt + F.lit(1))).alias("r0x2"),
        F.sum(nt * nt * nt - nt).alias("ties"),
    )
    n0d = F.col("n0").cast("double")
    n1d = F.col("n1").cast("double")
    nd = F.col("n").cast("double")
    r0 = F.col("r0x2").cast("double") / F.lit(2.0)
    u_a = r0 - n0d * (F.col("n0") + F.lit(1)).cast("double") / F.lit(2.0)
    # degenerate-cohort guards mirrored in the oracle SQL (see q196 note)
    sigma = F.sqrt(
        n0d
        * n1d
        / F.lit(12.0)
        * (
            (F.col("n") + F.lit(1)).cast("double")
            - F.col("ties").cast("double")
            / F.nullif(
                nd * (F.col("n") - F.lit(1)).cast("double"), F.lit(0.0)
            )
        )
    )
    return s.select(
        "event_type",
        F.col("n0").alias("n_a"),
        F.col("n1").alias("n_b"),
        u_a.alias("u_a"),
        (n0d * n1d - u_a).alias("u_b"),
        ((u_a - n0d * n1d / F.lit(2.0)) / F.nullif(sigma, F.lit(0.0))).alias(
            "z"
        ),
    )


@query(
    "q199_ks_test",
    """
    WITH q AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS xc,
             user_id % 2 AS g
      FROM events
    ), pv AS (
      SELECT event_type, xc,
             COUNT(CASE WHEN g = 0 THEN 1 END) AS c0,
             COUNT(CASE WHEN g = 1 THEN 1 END) AS c1
      FROM q GROUP BY 1, 2
    ), w AS (
      SELECT event_type,
             SUM(c0) OVER (PARTITION BY event_type ORDER BY xc
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum0,
             SUM(c1) OVER (PARTITION BY event_type ORDER BY xc
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1
      FROM pv
    ), tot AS (
      SELECT event_type, SUM(c0) AS n0, SUM(c1) AS n1 FROM pv GROUP BY 1
    ), d AS (
      SELECT w.event_type,
             MAX(abs(w.cum0 * t.n1 - w.cum1 * t.n0)) AS dnum
      FROM w JOIN tot t ON w.event_type = t.event_type
      GROUP BY 1
    )
    SELECT d.event_type,
           CAST(t.n0 AS BIGINT) AS n_a, CAST(t.n1 AS BIGINT) AS n_b,
           CAST(dnum AS DOUBLE)
             / NULLIF(CAST(t.n0 AS DOUBLE) * CAST(t.n1 AS DOUBLE), 0)
             AS d_stat,
           CAST(dnum AS DOUBLE)
             / NULLIF(CAST(t.n0 AS DOUBLE) * CAST(t.n1 AS DOUBLE), 0)
             * sqrt(CAST(t.n0 AS DOUBLE) * CAST(t.n1 AS DOUBLE)
                    / (CAST(t.n0 AS DOUBLE) + CAST(t.n1 AS DOUBLE))) AS ks_z
    FROM d JOIN tot t ON d.event_type = t.event_type
    """,
)
def q199(spark, sf_dir):
    """ClickHouse kolmogorovSmirnovTest: two-sample KS statistic
    D = max |ECDF_a − ECDF_b| between user cohorts per event_type, plus
    the scaled z = D·√(n_a·n_b/(n_a+n_b)).  The max is taken over the
    INTEGER quantity |cum0·n1 − cum1·n0| (exact, order-independent) and
    only divided at the end — no float comparisons inside the max.  Same
    two-shuffle shape as q198."""
    ev = _t(spark, sf_dir, "events")
    q = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("xc"),
        (F.col("user_id") % 2).alias("g"),
    )
    pv = q.groupBy("event_type", "xc").agg(
        F.count(F.when(F.col("g") == 0, 1)).alias("c0"),
        F.count(F.when(F.col("g") == 1, 1)).alias("c1"),
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("xc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = pv.select(
        "event_type",
        F.sum("c0").over(win).alias("cum0"),
        F.sum("c1").over(win).alias("cum1"),
    )
    tot = pv.groupBy("event_type").agg(
        F.sum("c0").alias("n0"), F.sum("c1").alias("n1")
    )
    d = (
        w.join(tot, "event_type")
        .groupBy("event_type")
        .agg(
            F.max(
                F.abs(F.col("cum0") * F.col("n1") - F.col("cum1") * F.col("n0"))
            ).alias("dnum")
        )
    )
    n0d = F.col("n0").cast("double")
    n1d = F.col("n1").cast("double")
    # degenerate-cohort guard mirrored in the oracle SQL (see q196 note)
    d_stat = F.col("dnum").cast("double") / F.nullif(n0d * n1d, F.lit(0.0))
    return (
        d.join(tot, "event_type")
        .select(
            "event_type",
            F.col("n0").alias("n_a"),
            F.col("n1").alias("n_b"),
            d_stat.alias("d_stat"),
            (d_stat * F.sqrt(n0d * n1d / (n0d + n1d))).alias("ks_z"),
        )
    )


@query(
    "q200_lttb_downsample",
    """
    WITH base AS (
      SELECT event_type, event_id, ts,
             epoch_us(ts) AS xm,
             CAST(round(value * 100) AS BIGINT) AS yc
      FROM events
    ), b2 AS (
      SELECT *, xm - MIN(xm) OVER (PARTITION BY event_type) AS xr FROM base
    ), b3 AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY xr, event_id) AS rn
      FROM b2
    ), b4 AS (
      SELECT *, CAST(floor((rn - 1) / 50.0) AS BIGINT) AS bucket FROM b3
    ), agg AS (
      SELECT event_type, bucket, COUNT(*) AS n,
             SUM(xr) AS sx, SUM(yc) AS sy
      FROM b4 GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, MAX(rn) AS nmax, MAX(bucket) AS bmax
      FROM b4 GROUP BY 1
    ), mid AS (
      SELECT p.event_type, p.bucket, p.rn, p.ts, p.yc,
             abs( (CAST(ap.sx AS HUGEINT) * an.n - CAST(an.sx AS HUGEINT) * ap.n)
                    * (CAST(p.yc AS HUGEINT) * ap.n - ap.sy)
                - (CAST(ap.sx AS HUGEINT) - CAST(p.xr AS HUGEINT) * ap.n)
                    * (CAST(an.sy AS HUGEINT) * ap.n - CAST(ap.sy AS HUGEINT) * an.n)
             ) AS s_abs
      FROM b4 p
      JOIN agg ap ON ap.event_type = p.event_type AND ap.bucket = p.bucket - 1
      JOIN agg an ON an.event_type = p.event_type AND an.bucket = p.bucket + 1
    ), midpick AS (
      SELECT event_type, ts, yc FROM (
        SELECT *, row_number() OVER (PARTITION BY event_type, bucket
                                     ORDER BY s_abs DESC, rn) AS pick
        FROM mid) m
      WHERE pick = 1
    ), edges AS (
      SELECT b.event_type, b.ts, b.yc
      FROM b4 b JOIN tot t ON b.event_type = t.event_type
      WHERE b.rn = 1 OR b.rn = t.nmax
    )
    SELECT event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           yc / 100.0 AS val
    FROM (SELECT * FROM midpick UNION ALL SELECT * FROM edges) u
    """,
)
def q200(spark, sf_dir):
    """ClickHouse largestTriangleThreeBuckets: per-series time-series
    downsampling to ~n/50 visually-representative points.

    Parallel variant: strict LTTB anchors each bucket's triangle on the
    PREVIOUSLY SELECTED point — an inherently sequential scan.  Here both
    anchors are neighbor-bucket AVERAGES (the right anchor already is in
    strict LTTB), which decouples every bucket and turns the pass into
    groupBy + two small equi-joins + one window — embarrassingly parallel
    per series, the form you want at 100 TB.  First/last points are kept
    exactly (LTTB's fixed endpoints).

    Trade-off vs q211 (the strict ClickHouse-exact variant): this one
    parallelizes WITHIN a series (windows + joins, no Python), so one
    multi-billion-point series still scales out; q211 matches ClickHouse
    ``largestTriangleThreeBuckets`` 1:1 but is sequential within a series
    (parallel only across series).  Pick q200 for throughput on few huge
    series, q211 for output parity with ClickHouse.

    Determinism: the triangle-area argmax is taken over an EXACT integer
    metric — x as micros relative to the series start, y in cents, the
    area comparison multiplied through by n_prev·n_next so no division
    ever happens (DECIMAL(38,0) here, HUGEINT in the oracle; ~1e22 max,
    both exact), ties broken by row number.  Output is integers and
    fixed-order scalars only."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "event_id",
        "ts",
        F.unix_micros(F.col("ts")).alias("xm"),
        F.round(F.col("value") * 100).cast("bigint").alias("yc"),
    )
    ws = Window.partitionBy("event_type")
    b2 = base.withColumn("xr", F.col("xm") - F.min("xm").over(ws))
    wrn = Window.partitionBy("event_type").orderBy("xr", "event_id")
    b4 = b2.withColumn("rn", F.row_number().over(wrn)).withColumn(
        "bucket", F.floor((F.col("rn") - 1) / F.lit(50.0)).cast("bigint")
    )
    agg = b4.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xr").alias("sx"),
        F.sum("yc").alias("sy"),
    )
    tot = b4.groupBy("event_type").agg(
        F.max("rn").alias("nmax"), F.max("bucket").alias("bmax")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ap = agg.select(
        F.col("event_type").alias("p_et"),
        (F.col("bucket") + 1).alias("p_b"),
        F.col("n").alias("np"),
        F.col("sx").alias("sxp"),
        F.col("sy").alias("syp"),
    )
    an = agg.select(
        F.col("event_type").alias("n_et"),
        (F.col("bucket") - 1).alias("n_b"),
        F.col("n").alias("nn"),
        F.col("sx").alias("sxn"),
        F.col("sy").alias("syn"),
    )
    mid = (
        b4.join(
            ap, (F.col("event_type") == F.col("p_et")) & (F.col("bucket") == F.col("p_b"))
        )
        .join(
            an, (F.col("event_type") == F.col("n_et")) & (F.col("bucket") == F.col("n_b"))
        )
        .withColumn(
            "s_abs",
            F.abs(
                (dec(F.col("sxp")) * F.col("nn") - dec(F.col("sxn")) * F.col("np"))
                * (dec(F.col("yc")) * F.col("np") - dec(F.col("syp")))
                - (dec(F.col("sxp")) - dec(F.col("xr")) * F.col("np"))
                * (dec(F.col("syn")) * F.col("np") - dec(F.col("syp")) * F.col("nn"))
            ),
        )
    )
    wpick = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("s_abs").desc(), F.col("rn").asc()
    )
    midpick = (
        mid.withColumn("pick", F.row_number().over(wpick))
        .filter(F.col("pick") == 1)
        .select("event_type", "ts", "yc")
    )
    edges = (
        b4.join(tot, "event_type")
        .filter((F.col("rn") == 1) | (F.col("rn") == F.col("nmax")))
        .select("event_type", "ts", "yc")
    )
    u = midpick.unionByName(edges)
    return u.select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        (F.col("yc") / F.lit(100.0)).alias("val"),
    )


# Geo family (ClickHouse greatCircleDistance / pointInPolygon) — the
# Spark Column and the oracle SQL for the polygon test are generated from
# this ONE vertex list by functions/geo.py, so the engines cannot drift.


@query(
    "q201_geo_functions",
    """
    SELECT event_id,
           {inside} AS inside,
           round({dist}, 6) AS dist_km
    FROM (
      SELECT event_id,
             {px} AS px,
             {py} AS py,
             CAST({py} AS DOUBLE) / 20.0 AS lat,
             CAST({px} AS DOUBLE) / 10.0 AS lon
      FROM events
      WHERE event_id % 997 = 0
    )
    """.format(
        px=_GEO_PX,
        py=_GEO_PY,
        inside=_geo.sql_point_in_polygon("px", "py", _GEO_PENTAGON),
        dist=_geo.sql_haversine_km("lat", "lon", "48.8566", "2.3522"),
    ),
)
def q201(spark, sf_dir):
    """ClickHouse geo family: pointInPolygon (EXACT division-free integer
    ray casting — see functions/geo.py; Column and oracle SQL generated
    from the same vertex list) and greatCircleDistance (haversine,
    rounded to 6 dp for the q193 cross-libm rule) on a deterministic
    integer grid synthesized from the fixture columns.  Pure native
    expressions in a single projection — no UDFs, no shuffle at all."""
    ev = _t(spark, sf_dir, "events")
    px = (F.col("event_id") % 2000) - 1000
    py = ((F.col("user_id") * 7 + F.col("event_id")) % 2000) - 1000
    base = ev.filter(F.col("event_id") % 997 == 0).select(
        "event_id",
        px.alias("px"),
        py.alias("py"),
        (py.cast("double") / 20.0).alias("lat"),
        (px.cast("double") / 10.0).alias("lon"),
    )
    return base.select(
        "event_id",
        _geo.point_in_polygon(F.col("px"), F.col("py"), _GEO_PENTAGON).alias("inside"),
        F.round(
            _geo.haversine_km(
                F.col("lat"), F.col("lon"), F.lit(48.8566), F.lit(2.3522)
            ),
            6,
        ).alias("dist_km"),
    )


@query(
    "q202_point_in_polygon_agg",
    """
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(CASE WHEN {inside} THEN 1 END) AS n_inside
    FROM (
      SELECT event_type, {px} AS px, {py} AS py FROM events
    )
    GROUP BY event_type
    """.format(
        px=_GEO_PX,
        py=_GEO_PY,
        inside=_geo.sql_point_in_polygon("px", "py", _GEO_PENTAGON),
    ),
)
def q202(spark, sf_dir):
    """Full-corpus polygon containment counts per event_type — the
    aggregate form of q201's exact integer test, so the whole pipeline
    (projection + conditional count) is bit-deterministic: one shuffle,
    partial-agg mergeable, the geofence-analytics shape at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    px = (F.col("event_id") % 2000) - 1000
    py = ((F.col("user_id") * 7 + F.col("event_id")) % 2000) - 1000
    base = ev.select("event_type", px.alias("px"), py.alias("py"))
    inside = _geo.point_in_polygon(F.col("px"), F.col("py"), _GEO_PENTAGON)
    return base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(inside, 1)).alias("n_inside"),
    )


@query(
    "q203_ip_functions",
    """
    WITH q AS (
      SELECT event_id,
             (10 * 16777216) + ((user_id % 4) * 65536) + (event_id % 65536) AS ipn
      FROM events WHERE event_id % 499 = 0
    )
    SELECT event_id, ipn,
           CAST(ipn // 16777216 AS VARCHAR) || '.' ||
           CAST((ipn // 65536) % 256 AS VARCHAR) || '.' ||
           CAST((ipn // 256) % 256 AS VARCHAR) || '.' ||
           CAST(ipn % 256 AS VARCHAR) AS ip_str,
           ipn // 65536 = (10 * 16777216 + 65536) // 65536 AS in_10_1_0_0_16,
           ipn - (ipn % 256) AS net_24
    FROM q
    """,
)
def q203(spark, sf_dir):
    """ClickHouse IPv4 function family (IPv4NumToString /
    IPv4StringToNum round-trip / isIPAddressInRange / CIDR-to-range):
    pure integer/string expressions, no shuffle — the conversions that
    feed q105's range-dim enrichment.  The CIDR membership test is the
    div-by-block-size form (ipn div 2^(32-prefix) equality), which is
    what a 100 TB scan wants: sargable integer arithmetic, no string
    parsing in the hot path."""
    ev = _t(spark, sf_dir, "events")
    ipn = (
        F.lit(10 * 16777216)
        + (F.col("user_id") % 4) * 65536
        + (F.col("event_id") % 65536)
    )
    q = ev.filter(F.col("event_id") % 499 == 0).select(
        "event_id", ipn.alias("ipn")
    )
    n = F.col("ipn")
    ip_str = F.concat_ws(
        ".",
        (n / 16777216).cast("bigint").cast("string"),
        ((n / 65536).cast("bigint") % 256).cast("string"),
        ((n / 256).cast("bigint") % 256).cast("string"),
        (n % 256).cast("string"),
    )
    return q.select(
        "event_id",
        "ipn",
        ip_str.alias("ip_str"),
        (
            (n / 65536).cast("bigint")
            == F.lit((10 * 16777216 + 65536) // 65536)
        ).alias("in_10_1_0_0_16"),
        (n - (n % 256)).alias("net_24"),
    )


@query(
    "q204_ngram_distance",
    """
    WITH q AS (
      SELECT doc_id, lower(substr(text, 1, 60)) AS s
      FROM documents WHERE doc_id % 17 = 0
    ), g AS (
      SELECT doc_id, s,
             list_distinct(list_transform(
               range(1, greatest(len(s) - 2, 0) + 1),
               i -> substr(s, i, 3))) AS tg
      FROM q
    ), n AS (
      SELECT list_distinct(list_transform(
               range(1, len('spark table query fast scan') - 2 + 1),
               i -> substr('spark table query fast scan', i, 3))) AS ng
    )
    SELECT doc_id,
           round(1.0 - 2.0 * CAST(len(list_intersect(tg, ng)) AS DOUBLE)
                   / CAST(len(tg) + len(ng) AS DOUBLE), 6) AS ngram_dist,
           len(list_filter(['stream', 'vector', 'hash'],
                           w -> contains(s, w))) > 0 AS multi_match
    FROM g, n
    """,
)
def q204(spark, sf_dir):
    """ClickHouse fuzzy text search: ngramDistance (character-trigram
    distance, here over DISTINCT trigram sets — ClickHouse's multiset
    profile is noted as a deviation) and multiSearchAny (any-of-needles
    containment) as pure native higher-order expressions.  Counts are
    exact set sizes, the only float op is one fixed-order division —
    bit-deterministic.  No shuffle: a single projection over the scan,
    the fuzzy-dedup-candidate shape at corpus scale."""
    d = _t(spark, sf_dir, "documents")
    needle = "spark table query fast scan"

    def trigrams(col):
        # guarded: Spark's sequence(1, 0) DESCENDS instead of producing
        # an empty array (DuckDB's range(1, 1) is empty) — same guard as
        # dedup.shingle_table
        cnt = F.length(col) - 2
        return F.when(
            cnt > 0,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), cnt), lambda i: col.substr(i, F.lit(3))
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    q = d.filter(F.col("doc_id") % 17 == 0).select(
        "doc_id", F.lower(F.col("text").substr(1, 60)).alias("s")
    )
    g = q.select(
        "doc_id",
        "s",
        trigrams(F.col("s")).alias("tg"),
        trigrams(F.lit(needle)).alias("ng"),
    )
    inter = F.size(F.array_intersect(F.col("tg"), F.col("ng")))
    return g.select(
        "doc_id",
        F.round(
            F.lit(1.0)
            - F.lit(2.0)
            * inter.cast("double")
            / (F.size("tg") + F.size("ng")).cast("double"),
            6,
        ).alias("ngram_dist"),
        F.exists(
            F.array(F.lit("stream"), F.lit("vector"), F.lit("hash")),
            lambda w: F.col("s").contains(w),
        ).alias("multi_match"),
    )


@query(
    "q205_topk_weighted",
    """
    WITH w AS (
      SELECT event_type, user_id,
             SUM(CAST(round(value * 100) AS BIGINT)) AS wt
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT event_type, user_id, wt,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY wt DESC, user_id) AS rk
      FROM w
    )
    SELECT event_type,
           string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY rk) AS top_users,
           string_agg(CAST(wt AS VARCHAR), ',' ORDER BY rk) AS top_weights
    FROM r WHERE rk <= 3 GROUP BY event_type
    """,
)
def q205(spark, sf_dir):
    """ClickHouse topKWeighted: heaviest keys by accumulated weight (here
    users by exact cent-summed value) as an array-valued aggregate, exact
    and fully ordered (weight DESC, key ASC tiebreak).  Two-stage shape:
    partial-agg the weights, rank inside each group, collect the tiny
    top-3 — the per-group state is O(k), mergeable at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    w = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("wt")
    )
    rw = Window.partitionBy("event_type").orderBy(
        F.col("wt").desc(), F.col("user_id").asc()
    )
    r = w.withColumn("rk", F.row_number().over(rw)).filter(F.col("rk") <= 3)
    sorted_structs = F.array_sort(
        F.collect_list(F.struct("rk", "user_id", "wt"))
    )
    return r.groupBy("event_type").agg(
        F.array_join(
            F.transform(sorted_structs, lambda s: s["user_id"].cast("string")), ","
        ).alias("top_users"),
        F.array_join(
            F.transform(sorted_structs, lambda s: s["wt"].cast("string")), ","
        ).alias("top_weights"),
    )


@query(
    "q206_moving_agg_arrays",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type, day, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mv
      FROM d
    )
    SELECT event_type,
           string_agg(CAST(mv AS VARCHAR), ',' ORDER BY day) AS moving_sums,
           string_agg(CAST(CAST(round(CAST(mv AS DOUBLE) * 1000.0 / 3.0) AS BIGINT)
                           AS VARCHAR), ',' ORDER BY day) AS moving_avg_millis
    FROM m GROUP BY event_type
    """,
)
def q206(spark, sf_dir):
    """ClickHouse groupArrayMovingSum / groupArrayMovingAvg: the moving
    window aggregates materialized as ORDERED ARRAYS per group (one row
    per series, the sparkline-feed shape).  Counts are exact integers;
    the avg is emitted as a scaled integer (×1000, thirds never land on
    .5 so both engines round identically); arrays serialize to ordered
    CSV strings (q145's rule — the driver hashes scalars).
    One shuffle to daily grain, one window, one tiny collect."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    mw = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-2, Window.currentRow)
    )
    m = d.withColumn("mv", F.sum("c").over(mw))
    sorted_structs = F.array_sort(F.collect_list(F.struct("day", "mv")))
    return m.groupBy("event_type").agg(
        F.array_join(
            F.transform(sorted_structs, lambda s: s["mv"].cast("string")), ","
        ).alias("moving_sums"),
        F.array_join(
            F.transform(
                sorted_structs,
                lambda s: F.round(s["mv"].cast("double") * 1000.0 / F.lit(3.0))
                .cast("bigint")
                .cast("string"),
            ),
            ",",
        ).alias("moving_avg_millis"),
    )


@query(
    "q207_sequence_count",
    """
    WITH s AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           len(regexp_extract_all(seq, 'e[^p]*p')) AS n_error_then_purchase
    FROM s
    WHERE len(regexp_extract_all(seq, 'e[^p]*p')) > 0
    """,
)
def q207(spark, sf_dir):
    """ClickHouse sequenceCount('(?1).*(?2)'): NON-OVERLAPPING count of
    "error, then eventually purchase" per user.  The per-user timeline
    collapses to an ordered initial-letter string (q104's total-order
    rule: array_sort on (ts, event_id) after the shuffle) and the greedy
    left-to-right pairing IS regex scanning with 'e[^p]*p' — both
    engines' regex engines make the same leftmost non-overlapping
    matches.  Per-key state is the bounded event string, one shuffle."""
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
    s = ev.groupBy("user_id").agg(seq.alias("seq"))
    cnt = F.size(F.regexp_extract_all(F.col("seq"), F.lit("e[^p]*p"), F.lit(0)))
    return s.select("user_id", cnt.alias("n_error_then_purchase")).filter(
        F.col("n_error_then_purchase") > 0
    )


@query(
    "q208_array_combinators",
    """
    WITH q AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '), w -> len(w)) AS ls
      FROM documents WHERE doc_id % 23 = 0
    )
    SELECT doc_id,
           array_to_string(list_transform(
             range(1, len(ls) + 1),
             i -> CAST(list_reduce(list_slice(ls, 1, i), (a, b) -> a + b)
                       AS VARCHAR)), ',') AS cumsum,
           array_to_string(list_transform(
             range(1, len(ls) + 1),
             i -> CAST(CASE WHEN i = 1 THEN 0
                            ELSE ls[i] - ls[i - 1] END AS VARCHAR)), ',')
             AS diffs,
           len(list_distinct(ls)) AS n_uniq_lens
    FROM q
    """,
)
def q208(spark, sf_dir):
    """ClickHouse array combinator tail: arrayCumSum, arrayDifference
    (first element 0, CH convention), arrayEnumerateUniq-adjacent
    distinct count — all native higher-order expressions over the
    word-length array.  Exact integers, serialized to CSV per q145's
    rule; single projection, no shuffle.  The O(n²) prefix-fold in the
    oracle is DuckDB-side only — Spark computes the cumsum in one linear
    aggregate fold carrying (acc, list) state."""
    d = _t(spark, sf_dir, "documents")
    ls = F.transform(F.split(F.col("text"), " "), lambda w: F.length(w))
    q = d.filter(F.col("doc_id") % 23 == 0).select("doc_id", ls.alias("ls"))
    # linear cumulative sum: fold once, appending the running total
    cumsum = F.aggregate(
        F.col("ls"),
        F.struct(
            F.lit(0).alias("acc"), F.array().cast("array<int>").alias("out")
        ),
        lambda st, x: F.struct(
            (st["acc"] + x).alias("acc"),
            F.concat(st["out"], F.array(st["acc"] + x)).alias("out"),
        ),
        lambda st: st["out"],
    )
    diffs = F.transform(
        F.sequence(F.lit(1), F.size("ls")),
        lambda i: F.when(i == 1, F.lit(0)).otherwise(
            F.element_at(F.col("ls"), i) - F.element_at(F.col("ls"), i - 1)
        ),
    )
    return q.select(
        "doc_id",
        F.array_join(F.transform(cumsum, lambda x: x.cast("string")), ",").alias(
            "cumsum"
        ),
        F.array_join(F.transform(diffs, lambda x: x.cast("string")), ",").alias(
            "diffs"
        ),
        F.size(F.array_distinct("ls")).cast("bigint").alias("n_uniq_lens"),
    )


@query(
    "q209_snapshot_bloom_read",
    """
    SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY event_type
    """,
)
def q209(spark, sf_dir):
    """Bloom skip-index pruning through the oracle gate: events are
    committed to the snapshot store one event_type per file with a
    per-file bloom over event_type, then the point-lookup read drops
    every file whose bloom proves 'purchase' absent BEFORE Spark opens
    anything — equality skipping where min/max ranges are useless (every
    file's string range spans the alphabet).  The real filter still
    applies; the oracle checks byte-identical results vs a full scan."""
    import tempfile

    from ..sources.snapshots import read_snapshot, write_snapshot

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    path = scratch_dir("snapbloom_") + "/store"
    for et_mod in range(4):
        write_snapshot(
            ev.filter(F.crc32(F.col("event_type")) % 4 == et_mod).coalesce(1),
            path,
            bloom_cols=["event_type"],
        )
    pruned = read_snapshot(spark, path, bloom=("event_type", "purchase"))
    return (
        pruned.filter(F.col("event_type") == "purchase")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("id_sum"))
    )


@query(
    "q210_mg_heavy_hitters",
    """
    SELECT CAST(user_id AS VARCHAR) AS user_id,
           COUNT(*) AS exact_cnt,
           TRUE AS mg_sound
    FROM events
    GROUP BY user_id
    ORDER BY exact_cnt DESC, CAST(user_id AS BIGINT)
    LIMIT 5
    """,
)
def q210(spark, sf_dir):
    """ClickHouse approximate topK (SpaceSaving/Misra-Gries) beside the
    exact q145: a mergeable k-counter sketch per partition
    (`operators/sketches.py`), shuffling k rows per partition instead of
    every key.  The oracle pins the sketch's PROVABLE soundness
    predicate: present keys satisfy est ≤ exact ≤ est + err_total,
    absent keys satisfy exact ≤ err_total — TRUE by theorem for any
    processing order, so the boolean is oracle-stable even though the
    sketch itself is order-sensitive.  Top-5 rows are the exact counts
    (deterministic tiebreak) so values hash-match."""
    from ..operators.sketches import mg_summarize

    ev = _t(spark, sf_dir, "events")
    sk = mg_summarize(ev, "user_id", k=64)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    w5 = Window.orderBy(F.col("exact_cnt").desc(), F.col("user_id").asc())
    top5 = (
        exact.withColumn("rk", F.row_number().over(w5))
        .filter(F.col("rk") <= 5)
        .select(F.col("user_id").cast("string").alias("user_id"), "exact_cnt")
    )
    err_total = sk.select("err_total").limit(1)
    joined = (
        top5.crossJoin(F.broadcast(err_total))
        .join(
            F.broadcast(sk.select(F.col("value").alias("user_id"), "est")),
            "user_id",
            "left",
        )
    )
    sound = (
        F.col("est").isNull() & (F.col("exact_cnt") <= F.col("err_total"))
    ) | (
        F.col("est").isNotNull()
        & (F.col("est") <= F.col("exact_cnt"))
        & (F.col("exact_cnt") <= F.col("est") + F.col("err_total"))
    )
    return joined.select("user_id", "exact_cnt", sound.alias("mg_sound"))


@query(
    "q211_lttb_strict",
    """
    WITH RECURSIVE base AS (
      SELECT event_type, event_id, ts,
             epoch_us(ts) AS xm,
             CAST(round(value * 100) AS BIGINT) AS yc
      FROM events
    ), b2 AS (
      SELECT *, xm - MIN(xm) OVER (PARTITION BY event_type) AS xr FROM base
    ), b3 AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY xr, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n_tot
      FROM b2
    ), interior AS (
      SELECT *, CAST(floor((rn - 2) / 50.0) AS BIGINT) AS bucket
      FROM b3 WHERE rn >= 2 AND rn <= n_tot - 1
    ), bsum AS (
      SELECT event_type, bucket, COUNT(*) AS n,
             SUM(xr) AS sx, SUM(yc) AS sy
      FROM interior GROUP BY 1, 2
    ), lastp AS (
      SELECT event_type, xr AS lx, yc AS ly FROM b3
      WHERE rn = n_tot AND n_tot > 1
    ), ranchor AS (
      SELECT b.event_type, b.bucket,
             COALESCE(nx.n, 1) AS nn,
             CAST(COALESCE(nx.sx, l.lx) AS HUGEINT) AS sxn,
             CAST(COALESCE(nx.sy, l.ly) AS HUGEINT) AS syn
      FROM bsum b
      LEFT JOIN bsum nx ON nx.event_type = b.event_type
                       AND nx.bucket = b.bucket + 1
      JOIN lastp l ON l.event_type = b.event_type
    ), sel AS (
      SELECT event_type, CAST(-1 AS BIGINT) AS bucket,
             CAST(xr AS HUGEINT) AS ax, CAST(yc AS HUGEINT) AS ay, ts
      FROM b3 WHERE rn = 1
      UNION ALL
      SELECT q.event_type, q.bucket, q.ax, q.ay, q.ts FROM (
        SELECT s.event_type, i.bucket,
               CAST(i.xr AS HUGEINT) AS ax, CAST(i.yc AS HUGEINT) AS ay,
               i.ts,
               row_number() OVER (
                 PARTITION BY s.event_type
                 ORDER BY abs(
                     (s.ax * r.nn - r.sxn) * (CAST(i.yc AS HUGEINT) - s.ay)
                   - (s.ax - CAST(i.xr AS HUGEINT)) * (r.syn - s.ay * r.nn)
                 ) DESC, i.rn ASC) AS rk
        FROM sel s
        JOIN interior i ON i.event_type = s.event_type
                       AND i.bucket = s.bucket + 1
        JOIN ranchor r ON r.event_type = s.event_type
                      AND r.bucket = s.bucket + 1
      ) q WHERE q.rk = 1
    )
    SELECT event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           yc / 100.0 AS val
    FROM (
      SELECT event_type, ts, CAST(ay AS BIGINT) AS yc
      FROM sel WHERE bucket >= 0
      UNION ALL
      SELECT event_type, ts, yc FROM b3
      WHERE rn = 1 OR (rn = n_tot AND n_tot > 1)
    ) u
    """,
)
def q211(spark, sf_dir):
    """ClickHouse largestTriangleThreeBuckets EXACT semantics: the strict
    SEQUENTIAL variant, where each bucket's triangle is anchored on the
    PREVIOUSLY SELECTED point (q200 is the embarrassingly-parallel
    neighbor-bucket-average variant; its docstring cross-references the
    trade-off).  Selection is inherently a per-series scan, so the Spark
    shape is applyInPandas per series — parallel ACROSS series (the only
    parallelism the strict semantics admit), sequential within.

    Shared structure with q200: points ordered by (x, event_id), x as
    micros relative to the series start, y in cents, bucket width 50,
    first/last points fixed.  Interior rows rn∈[2, N-1] form buckets
    floor((rn-2)/50); bucket b's right anchor is bucket b+1's average
    (the LAST point for the final bucket), its left anchor the point
    selected in bucket b-1.  The area argmax multiplies through by the
    right bucket's row count so no division occurs — Python arbitrary-
    precision ints here, HUGEINT in the oracle's recursive CTE (the
    sequential selection IS expressible in SQL: one recursive step per
    bucket carrying the anchor) — and ties break to the smaller row
    number.  Both engines therefore select the identical point set."""
    import pandas as pd

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "event_id",
        "ts",
        F.unix_micros(F.col("ts")).alias("xm"),
        F.round(F.col("value") * 100).cast("bigint").alias("yc"),
    )
    ws = Window.partitionBy("event_type")
    b2 = base.withColumn("xr", F.col("xm") - F.min("xm").over(ws))

    def pick(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            ["xr", "event_id"], kind="mergesort"
        ).reset_index(drop=True)
        n = len(pdf)
        xs = [int(v) for v in pdf["xr"]]
        ys = [int(v) for v in pdf["yc"]]
        sel = [0]
        if n > 2:
            n_buckets = (n - 2 + 49) // 50
            ax, ay = xs[0], ys[0]
            for b in range(n_buckets):
                lo, hi = 1 + 50 * b, min(1 + 50 * (b + 1), n - 1)
                if b < n_buckets - 1:
                    nlo, nhi = hi, min(1 + 50 * (b + 2), n - 1)
                    nn = nhi - nlo
                    sxn = sum(xs[nlo:nhi])
                    syn = sum(ys[nlo:nhi])
                else:
                    nn, sxn, syn = 1, xs[n - 1], ys[n - 1]
                best, best_a = lo, -1
                for i in range(lo, hi):
                    a2 = abs(
                        (ax * nn - sxn) * (ys[i] - ay)
                        - (ax - xs[i]) * (syn - ay * nn)
                    )
                    if a2 > best_a:
                        best_a, best = a2, i
                sel.append(best)
                ax, ay = xs[best], ys[best]
        if n > 1:
            sel.append(n - 1)
        out = pdf.iloc[sel]
        return pd.DataFrame(
            {
                "event_type": out["event_type"],
                "ts": out["ts"],
                "yc": out["yc"],
            }
        )

    picked = b2.groupBy("event_type").applyInPandas(
        pick, "event_type string, ts timestamp, yc long"
    )
    return picked.select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        (F.col("yc") / F.lit(100.0)).alias("val"),
    )


@query(
    "q212_kurtosis",
    """
    SELECT event_type,
           CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_val,
           round(
           (CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
              - 4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
              + 6.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
              - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
           / NULLIF((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
               - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
              * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
               - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))), 0), 6)
             AS kurt_cents
    FROM (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS s1,
             SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                 * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS DECIMAL(38,0))) AS s2,
             SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                 * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS DECIMAL(38,0))
                 * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS s3,
             SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                 * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS DECIMAL(38,0))
                 * CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                        * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                        AS DECIMAL(38,0))) AS s4
      FROM events GROUP BY event_type
    )
    """,
)
def q212(spark, sf_dir):
    """Population KURTOSIS (ClickHouse kurtPop) — the q153 skewPop rule
    extended to the 4th moment: integer-cent values, exact mergeable
    moment sums s1..s4 (s3/s4 in DECIMAL(38,0) / HUGEINT so nothing
    rounds), and kurt = m4_central / var² assembled in one double
    epilogue, rounded to 6 dp on both engines (the long float pipeline
    can drift ULPs under engine codegen/FMA differences even with
    identical token order — measured 3 ULP on one group at sf0.01).
    NULLIF-guarded for zero-variance groups (q196 rule).  One shuffle,
    map-side partial-aggregable — the 100 TB plan."""
    ev = _t(spark, sf_dir, "events")
    cents = (_dec("value") * 100).cast("bigint")
    c2 = (cents * cents).cast("decimal(38,0)")
    base = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s1"),
        # s2 widened to DECIMAL(38,0) like s3/s4: SUM over BIGINT products
        # silently wraps in non-ANSI Spark while DuckDB promotes to
        # HUGEINT — widening keeps the engines bit-identical for large
        # cent magnitudes instead of diverging silently (round-5 advice).
        F.sum(c2).alias("s2"),
        F.sum(c2 * cents).alias("s3"),
        F.sum(c2 * c2).alias("s4"),
    )
    nd = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / nd
    r2 = F.col("s2").cast("double") / nd
    r3 = F.col("s3").cast("double") / nd
    r4 = F.col("s4").cast("double") / nd
    var = r2 - m1 * m1
    m4c = (
        r4
        - F.lit(4.0) * m1 * r3
        + F.lit(6.0) * m1 * m1 * r2
        - F.lit(3.0) * m1 * m1 * m1 * m1
    )
    return base.select(
        "event_type",
        (m1 / F.lit(100.0)).alias("mean_val"),
        # 6-dp rounding: raw moment sums are engine-identical (verified),
        # but the 10-op double epilogue can drift a few ULP across
        # engines' codegen (FMA contraction) — the q193 cross-libm rule
        # applies to long float pipelines too.
        F.round(m4c / F.nullif(var * var, F.lit(0.0)), 6).alias("kurt_cents"),
    )


@query(
    "q213_entropy",
    """
    WITH c AS (
      SELECT event_type, user_id % 64 AS b, COUNT(*) AS cb
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT event_type, SUM(cb) AS n,
             SUM(CAST(cb AS DOUBLE) * log2(CAST(cb AS DOUBLE))) AS sclgc
      FROM c GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(log2(CAST(n AS DOUBLE)) - sclgc / CAST(n AS DOUBLE), 6)
             AS entropy_bits
    FROM t
    """,
)
def q213(spark, sf_dir):
    """Shannon ENTROPY (ClickHouse entropy) of the user-bucket
    distribution per event_type: H = log2(n) − Σ c·log2(c) / n over
    exact integer counts.  log2 is a cross-libm function and the Σ is a
    64-term float sum, so the output follows the repo's 6-dp rounding
    rule (q193/q201 precedent): term-order variation is ~1e-13, five
    orders below the rounding granularity.  Two shuffles (bucket counts,
    then per-type), both tiny."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("event_type", (F.col("user_id") % 64).alias("b")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    cbd = F.col("cb").cast("double")
    t = c.groupBy("event_type").agg(
        F.sum("cb").alias("n"),
        F.sum(cbd * F.log2(cbd)).alias("sclgc"),
    )
    nd = F.col("n").cast("double")
    return t.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.log2(nd) - F.col("sclgc") / nd, 6).alias("entropy_bits"),
    )


@query(
    "q214_delta_sum",
    """
    WITH o AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc,
             LAG(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
               OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN prev IS NOT NULL AND yc > prev
                         THEN yc - prev ELSE 0 END) AS DOUBLE) / 100.0
             AS delta_sum,
           COUNT(CASE WHEN prev IS NOT NULL AND yc > prev THEN 1 END)
             AS n_rises
    FROM o GROUP BY event_type
    """,
)
def q214(spark, sf_dir):
    """ClickHouse deltaSum: the sum of POSITIVE deltas of a time-ordered
    series per event_type (counter-rate analysis for monotonic-ish
    gauges).  Values in integer cents, deltas via LAG over the total
    order (ts, event_id), exact integer sum — no float until the final
    /100.  One window + one groupBy, both on event_type: a single
    shuffle reused across the two steps."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    yc = (_dec("value") * 100).cast("bigint")
    o = ev.select("event_type", "ts", "event_id", yc.alias("yc")).withColumn(
        "prev", F.lag("yc").over(w)
    )
    rise = F.col("prev").isNotNull() & (F.col("yc") > F.col("prev"))
    return o.groupBy("event_type").agg(
        (
            F.sum(F.when(rise, F.col("yc") - F.col("prev")).otherwise(0))
            .cast("double")
            / F.lit(100.0)
        ).alias("delta_sum"),
        F.count(F.when(rise, 1)).alias("n_rises"),
    )


@query(
    "q215_bounding_ratio",
    """
    WITH o AS (
      SELECT event_type, epoch_us(ts) AS xm,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM events
    ), f AS (
      SELECT event_type, xm AS x0, yc AS y0 FROM o WHERE rn_a = 1
    ), l AS (
      SELECT event_type, xm AS x1, yc AS y1 FROM o WHERE rn_z = 1
    )
    SELECT f.event_type,
           (CAST(l.y1 - f.y0 AS DOUBLE) / 100.0)
             / NULLIF(CAST(l.x1 - f.x0 AS DOUBLE) / 1000000.0, 0)
             AS slope_per_sec
    FROM f JOIN l ON f.event_type = l.event_type
    """,
)
def q215(spark, sf_dir):
    """ClickHouse boundingRatio: (last_y − first_y)/(last_x − first_x)
    per series — the endpoint slope in value-units per second.  First
    and last are taken under the same total order (ts, event_id) used
    everywhere else; both coordinates stay exact integers (cents,
    micros) until the single final division, NULLIF-guarded for a
    single-point series.  Two windows over one shuffle + a self-join of
    two 1-row-per-group frames."""
    ev = _t(spark, sf_dir, "events")
    wa = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wz = Window.partitionBy("event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    yc = (_dec("value") * 100).cast("bigint")
    o = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.unix_micros(F.col("ts")).alias("xm"),
        yc.alias("yc"),
    ).withColumns(
        {"rn_a": F.row_number().over(wa), "rn_z": F.row_number().over(wz)}
    )
    f = o.filter(F.col("rn_a") == 1).select(
        "event_type", F.col("xm").alias("x0"), F.col("yc").alias("y0")
    )
    last = o.filter(F.col("rn_z") == 1).select(
        "event_type", F.col("xm").alias("x1"), F.col("yc").alias("y1")
    )
    return f.join(last, "event_type").select(
        "event_type",
        (
            ((F.col("y1") - F.col("y0")).cast("double") / F.lit(100.0))
            / F.nullif(
                (F.col("x1") - F.col("x0")).cast("double") / F.lit(1e6),
                F.lit(0.0),
            )
        ).alias("slope_per_sec"),
    )


@query(
    "q216_cramers_v",
    """
    WITH cells AS (
      SELECT event_type AS x, user_id % 8 AS y, COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ), rows_t AS (
      SELECT x, SUM(o) AS rx FROM cells GROUP BY 1
    ), cols_t AS (
      SELECT y, SUM(o) AS cy FROM cells GROUP BY 1
    ), tot AS (
      SELECT SUM(o) AS n, COUNT(DISTINCT x) AS r, COUNT(DISTINCT y) AS c
      FROM cells
    ), chi AS (
      SELECT SUM(
               (CAST(cells.o AS DOUBLE)
                - CAST(rt.rx AS DOUBLE) * CAST(ct.cy AS DOUBLE)
                  / CAST(t.n AS DOUBLE))
               * (CAST(cells.o AS DOUBLE)
                  - CAST(rt.rx AS DOUBLE) * CAST(ct.cy AS DOUBLE)
                    / CAST(t.n AS DOUBLE))
               / (CAST(rt.rx AS DOUBLE) * CAST(ct.cy AS DOUBLE)
                  / CAST(t.n AS DOUBLE))
             ) AS chi2
      FROM cells
      JOIN rows_t rt ON rt.x = cells.x
      JOIN cols_t ct ON ct.y = cells.y
      CROSS JOIN tot t
    )
    SELECT CAST(t.n AS BIGINT) AS n,
           round(chi.chi2, 6) AS chi2,
           round(sqrt(chi.chi2 / (CAST(t.n AS DOUBLE)
                 * (CASE WHEN t.r < t.c THEN t.r ELSE t.c END - 1))), 6)
             AS cramers_v
    FROM chi CROSS JOIN tot t
    """,
)
def q216(spark, sf_dir):
    """ClickHouse cramersV: association strength between event_type and
    a user bucket via the chi-squared contingency statistic,
    V = √(χ²/(n·(min(r,c)−1))).  The contingency table is exact integer
    counts (one shuffle); χ² is a ~40-cell float sum, so chi2/V follow
    the 6-dp rounding rule.  Row/column totals re-derive FROM the cells
    (no second scan); the cells frame is tiny, so every join here is a
    broadcast in practice."""
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("x"), (F.col("user_id") % 8).alias("y")
    ).agg(F.count(F.lit(1)).alias("o"))
    rows_t = cells.groupBy("x").agg(F.sum("o").alias("rx"))
    cols_t = cells.groupBy("y").agg(F.sum("o").alias("cy"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("x").alias("r"),
        F.countDistinct("y").alias("c"),
    )
    od = F.col("o").cast("double")
    e = (
        F.col("rx").cast("double")
        * F.col("cy").cast("double")
        / F.col("n").cast("double")
    )
    chi = (
        cells.join(F.broadcast(rows_t), "x")
        .join(F.broadcast(cols_t), "y")
        .crossJoin(F.broadcast(tot))
        .agg(F.sum((od - e) * (od - e) / e).alias("chi2"))
    )
    mind = F.when(F.col("r") < F.col("c"), F.col("r")).otherwise(F.col("c"))
    return chi.crossJoin(F.broadcast(tot)).select(
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("chi2"), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("n").cast("double") * (mind - F.lit(1)).cast("double"))
            ),
            6,
        ).alias("cramers_v"),
    )


@query(
    "q217_theils_u",
    """
    WITH cells AS (
      SELECT event_type AS x, user_id % 8 AS y, COUNT(*) AS cxy
      FROM events GROUP BY 1, 2
    ), hx AS (
      SELECT SUM(CAST(cx AS DOUBLE) * log2(CAST(cx AS DOUBLE))) AS sx
      FROM (SELECT x, SUM(cxy) AS cx FROM cells GROUP BY 1)
    ), hy AS (
      SELECT SUM(CAST(cy AS DOUBLE) * log2(CAST(cy AS DOUBLE))) AS sy
      FROM (SELECT y, SUM(cxy) AS cy FROM cells GROUP BY 1)
    ), hxy AS (
      SELECT SUM(CAST(cxy AS DOUBLE) * log2(CAST(cxy AS DOUBLE))) AS sxy,
             SUM(cxy) AS n
      FROM cells
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((hx.sx + hy.sy - hxy.sxy
                  - CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE)))
                 / NULLIF(hx.sx - CAST(n AS DOUBLE) * log2(CAST(n AS DOUBLE)),
                          0), 6) AS theils_u
    FROM hxy CROSS JOIN hx CROSS JOIN hy
    """,
)
def q217(spark, sf_dir):
    """ClickHouse theilsU: the uncertainty coefficient
    U(X|Y) = (H(X) − H(X|Y)) / H(X) for X = event_type, Y = user bucket.
    Expanded over integer counts it needs only three Σ c·log2(c) sums
    (marginal-x, marginal-y, joint) plus n·log2(n):
    U = (Sx + Sy − Sxy − n·log2 n) / (Sx − n·log2 n).  Counts are exact;
    the log2 sums follow the 6-dp rounding rule; NULLIF guards the
    degenerate single-category case where H(X) = 0.  Everything derives
    from ONE cells aggregation — a single shuffle."""
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("x"), (F.col("user_id") % 8).alias("y")
    ).agg(F.count(F.lit(1)).alias("cxy"))
    cxd = F.col("cx").cast("double")
    cyd = F.col("cy").cast("double")
    cxyd = F.col("cxy").cast("double")
    hx = (
        cells.groupBy("x")
        .agg(F.sum("cxy").alias("cx"))
        .agg(F.sum(cxd * F.log2(cxd)).alias("sx"))
    )
    hy = (
        cells.groupBy("y")
        .agg(F.sum("cxy").alias("cy"))
        .agg(F.sum(cyd * F.log2(cyd)).alias("sy"))
    )
    hxy = cells.agg(
        F.sum(cxyd * F.log2(cxyd)).alias("sxy"), F.sum("cxy").alias("n")
    )
    nd = F.col("n").cast("double")
    nlg = nd * F.log2(nd)
    return (
        hxy.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            F.col("n").cast("bigint").alias("n"),
            F.round(
                (F.col("sx") + F.col("sy") - F.col("sxy") - nlg)
                / F.nullif(F.col("sx") - nlg, F.lit(0.0)),
                6,
            ).alias("theils_u"),
        )
    )


@query(
    "q218_hh_twophase",
    """
    SELECT CAST(user_id AS VARCHAR) AS value,
           COUNT(*) AS exact_cnt
    FROM events
    GROUP BY user_id
    ORDER BY exact_cnt DESC, CAST(user_id AS VARCHAR)
    LIMIT 5
    """,
)
def q218(spark, sf_dir):
    """JVM-native two-phase approximate topK (`operators/sketches.py:
    hh_twophase`) beside q210's one-pass Misra-Gries: hash-bucket
    candidate selection (agg state and shuffle capped at `buckets`
    regardless of key cardinality) + broadcast-semi-join exact verify.
    The oracle is the PLAIN exact top-5: phase 2 counts are exact and
    the capture guarantee (bucket_count ≥ exact count) puts every
    fixture heavy hitter far above the 512-bucket candidate threshold,
    so the two-phase result IS the exact answer — a full value oracle,
    stronger than a soundness-predicate pin."""
    from ..operators.sketches import hh_twophase

    ev = _t(spark, sf_dir, "events")
    return hh_twophase(ev, "user_id", k=5).select("value", "exact_cnt")


@query(
    "q219_media_probe",
    """
    SELECT doc_id,
           'png' AS format,
           CAST(doc_id % 100 + 1 AS INT) AS width,
           CAST(doc_id % 37 + 1 AS INT) AS height
    FROM documents
    WHERE doc_id % 53 = 0
    """,
)
def q219(spark, sf_dir):
    """REAL media decode round-trip (the round-4 'partial multimodal'
    upgrade): build genuinely valid PNG files executor-side (struct +
    zlib IHDR/IDAT/IEND — no codec libraries needed for container
    structure) with dimensions derived from doc_id, then recover those
    dimensions with `operators/multimodal.py:probe_media`, a real
    binary header parser.  The oracle computes the expected dimensions
    arithmetically — so a hash match proves the prober actually parsed
    the bytes it was handed.  Pixel decode (IDAT inflation to pixels)
    remains the documented environment stub; format identification and
    container metadata are no longer faked."""
    import struct
    import zlib

    import pandas as pd

    from ..operators.multimodal import probe_media

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 53 == 0
    ).select("doc_id")

    def build_and_probe(it):
        def png(w: int, h: int) -> bytes:
            def chunk(typ: bytes, data: bytes) -> bytes:
                c = typ + data
                return (
                    struct.pack(">I", len(data))
                    + c
                    + struct.pack(">I", zlib.crc32(c))
                )

            ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
            raw = b"".join(b"\x00" + b"\x7f" * w for _ in range(h))
            return (
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b"")
            )

        for pdf in it:
            probed = [
                probe_media(png(int(d) % 100 + 1, int(d) % 37 + 1))
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "format": [p[0] for p in probed],
                    "width": pd.array([p[1] for p in probed], dtype="int32"),
                    "height": pd.array([p[2] for p in probed], dtype="int32"),
                }
            )

    return docs.mapInPandas(
        build_and_probe,
        "doc_id long, format string, width int, height int",
    )


@query(
    "q220_repetition_signals",
    """
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
    ), w AS (
      SELECT doc_id, w, i
      FROM d, LATERAL (
        SELECT unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS w,
               generate_subscripts(list_filter(string_split(lower(text), ' '),
                                               x -> x <> ''), 1) AS i)
    ), tri AS (
      SELECT doc_id,
             w || ' ' || lead(w, 1) OVER (PARTITION BY doc_id ORDER BY i)
               || ' ' || lead(w, 2) OVER (PARTITION BY doc_id ORDER BY i) AS g,
             lead(w, 2) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      FROM w
    ), per_g AS (
      SELECT doc_id, g, COUNT(*) AS c
      FROM tri WHERE w2 IS NOT NULL GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_3grams,
           round(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
             AS dup_3gram_frac,
           round(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
             AS top_3gram_frac
    FROM per_g GROUP BY doc_id
    """,
)
def q220(spark, sf_dir):
    """Gopher/C4-style REPETITION quality signals — the data-quality
    filter family's missing member beside q44's length/alpha/stopword
    ratios: per document, the duplicate word-3gram fraction
    (1 − distinct/total) and the top-3gram occupancy (most frequent
    3-gram's share).  High values flag boilerplate/spam for corpus
    filtering.

    Tokenization is engine-identical by construction: split on single
    space, drop empties, lowercase; 3-grams built with two window leads
    over the exploded positions (not a UDF) so both engines assemble
    the same grams.  Shape: one explode (rows = words), one groupBy
    (doc_id, gram), one groupBy doc_id — all counts integer-exact, the
    two fractions 6-dp rounded.  Docs with <3 words drop out on both
    engines identically (no gram rows)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    words = F.filter(
        F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit("")
    )
    w = d.select("doc_id", F.posexplode(words).alias("i", "w"))
    win = Window.partitionBy("doc_id").orderBy("i")
    tri = (
        w.withColumn("w1", F.lead("w", 1).over(win))
        .withColumn("w2", F.lead("w", 2).over(win))
        .filter(F.col("w2").isNotNull())
        .select(
            "doc_id",
            F.concat_ws(" ", "w", "w1", "w2").alias("g"),
        )
    )
    per_g = tri.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    total = F.sum("c").cast("double")
    return per_g.groupBy("doc_id").agg(
        F.sum("c").alias("n_3grams"),
        F.round(
            F.lit(1.0) - F.count(F.lit(1)).cast("double") / total, 6
        ).alias("dup_3gram_frac"),
        F.round(F.max("c").cast("double") / total, 6).alias("top_3gram_frac"),
    )


@query(
    "q221_series_decompose",
    """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), w AS (
      SELECT event_type, h, y,
             CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS BIGINT) AS s5,
             COUNT(*) OVER (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS w5
      FROM b
    ), season AS (
      SELECT event_type, EXTRACT(hour FROM h) AS hod,
             CAST(SUM(5 * y - s5) AS BIGINT) AS sn,
             COUNT(*) AS nh
      FROM w WHERE w5 = 5 GROUP BY 1, 2
    )
    SELECT w.event_type,
           strftime(w.h, '%Y-%m-%d %H:%M:%S') AS hour_s,
           CAST(w.y AS DOUBLE) / 100.0 AS y_val,
           round(CAST(w.s5 AS DOUBLE) / CAST(w.w5 AS DOUBLE) / 100.0, 6)
             AS trend,
           round(CAST(se.sn AS DOUBLE) / (5.0 * CAST(se.nh AS DOUBLE))
                 / 100.0, 6) AS seasonal
    FROM w
    JOIN season se ON se.event_type = w.event_type
                  AND se.hod = EXTRACT(hour FROM w.h)
    WHERE w.w5 = 5
    """,
)
def q221(spark, sf_dir):
    """ClickHouse seriesDecomposeSTL, the deterministic additive-lite
    variant: hourly per-type series split into TREND (centered 5-bucket
    moving average), SEASONAL (hour-of-day mean of the detrended
    series), and implicitly residual = y − trend − seasonal.

    Every aggregation is integer-exact: bucket sums are cents, the
    window sum s5 is an exact integer, and the detrended quantity is
    kept as the exact integer 5·y − s5 (full windows only, w5 = 5) so
    the seasonal mean is ONE division of two exact integers — no float
    accumulates across rows on either engine.  Edge buckets (partial
    windows) are excluded from both output and seasonal fitting
    identically.  Two window passes + one small join on (type, hod) —
    the hourly frame is |types|·|hours|, thousands of rows at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    yc = (_dec("value") * 100).cast("bigint")
    b = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.sum(yc).alias("y"))
    win = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-2, 2)
    )
    w = b.withColumn("s5", F.sum("y").over(win)).withColumn(
        "w5", F.count(F.lit(1)).over(win)
    )
    full = w.filter(F.col("w5") == 5)
    season = full.groupBy(
        F.col("event_type").alias("se_et"), F.hour("h").alias("hod")
    ).agg(
        F.sum(F.lit(5) * F.col("y") - F.col("s5")).alias("sn"),
        F.count(F.lit(1)).alias("nh"),
    )
    return (
        full.withColumn("w_hod", F.hour("h"))
        .join(
            F.broadcast(season),
            (F.col("event_type") == F.col("se_et"))
            & (F.col("w_hod") == F.col("hod")),
        )
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_s"),
            (F.col("y").cast("double") / F.lit(100.0)).alias("y_val"),
            F.round(
                F.col("s5").cast("double")
                / F.col("w5").cast("double")
                / F.lit(100.0),
                6,
            ).alias("trend"),
            F.round(
                F.col("sn").cast("double")
                / (F.lit(5.0) * F.col("nh").cast("double"))
                / F.lit(100.0),
                6,
            ).alias("seasonal"),
        )
    )


@query(
    "q222_tukey_outliers",
    """
    WITH c AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
      FROM events
    ), f AS (
      SELECT event_type,
             quantile_cont(yc, 0.25) AS q1,
             quantile_cont(yc, 0.75) AS q3
      FROM c GROUP BY 1
    )
    SELECT c.event_type,
           COUNT(*) AS n,
           round((f.q1 - 1.5 * (f.q3 - f.q1)) / 100.0, 6) AS fence_lo,
           round((f.q3 + 1.5 * (f.q3 - f.q1)) / 100.0, 6) AS fence_hi,
           COUNT(CASE WHEN CAST(c.yc AS DOUBLE) < f.q1 - 1.5 * (f.q3 - f.q1)
                        OR CAST(c.yc AS DOUBLE) > f.q3 + 1.5 * (f.q3 - f.q1)
                      THEN 1 END) AS n_outliers
    FROM c JOIN f ON f.event_type = c.event_type
    GROUP BY c.event_type, f.q1, f.q3
    """,
)
def q222(spark, sf_dir):
    """ClickHouse seriesOutliersDetectTukey: interquartile fences
    (q1 − 1.5·IQR, q3 + 1.5·IQR) per series and the count of points
    outside them.  Quartiles are exact interpolated percentiles over
    integer cents (the q14 precedent — Spark percentile ==
    DuckDB quantile_cont semantics); the fence arithmetic is a fixed
    3-op float expression on two exact quantiles, and the outlier
    predicate compares integers against those fences.  One percentile
    aggregation + one broadcast join back — two passes over events, no
    wide shuffle beyond the groupBy."""
    ev = _t(spark, sf_dir, "events")
    yc = (_dec("value") * 100).cast("bigint")
    c = ev.select("event_type", yc.alias("yc"))
    f = c.groupBy("event_type").agg(
        F.percentile("yc", F.lit(0.25)).alias("q1"),
        F.percentile("yc", F.lit(0.75)).alias("q3"),
    )
    lo = F.col("q1") - F.lit(1.5) * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + F.lit(1.5) * (F.col("q3") - F.col("q1"))
    out = F.col("yc").cast("double") < lo
    out2 = F.col("yc").cast("double") > hi
    return (
        c.join(F.broadcast(f), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(out | out2, 1)).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            F.round(lo / F.lit(100.0), 6).alias("fence_lo"),
            F.round(hi / F.lit(100.0), 6).alias("fence_hi"),
            "n_outliers",
        )
    )


@query(
    "q223_array_set_ops",
    """
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split(lower(text), ' '),
                                       x -> x <> '')) AS ws
      FROM documents WHERE doc_id % 5 = 0
    )
    SELECT doc_id,
           COALESCE(array_to_string(
             array_sort(array_intersect(ws,
               ['the','and','of','to','a'])), ','), '') AS common_csv,
           CAST(len(list_distinct(list_concat(ws,
               ['the','and','of','to','a']))) AS BIGINT) AS n_union,
           CAST(len(list_filter(ws,
               x -> NOT list_contains(['the','and','of','to','a'], x)))
             AS BIGINT) AS n_except
    FROM d
    """,
)
def q223(spark, sf_dir):
    """ClickHouse array set-operation family — arrayIntersect /
    arrayUnion(arrayDistinct(arrayConcat)) / arrayExcept — over each
    document's distinct word set against a fixed function-word list.
    The intersect is exported as a SORTED CSV string (the repo's
    array-export rule: engines' internal set orders differ, the sorted
    serialization doesn't); union/except are exported as sizes.  All
    native Spark array functions on one projection — no shuffle at all
    beyond the scan."""
    stop = F.array(*[F.lit(s) for s in ["the", "and", "of", "to", "a"]])
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    ws = F.array_distinct(
        F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit(""))
    )
    return d.select(
        "doc_id",
        F.concat_ws(",", F.array_sort(F.array_intersect(ws, stop))).alias(
            "common_csv"
        ),
        F.size(F.array_union(ws, stop)).cast("bigint").alias("n_union"),
        F.size(F.array_except(ws, stop)).cast("bigint").alias("n_except"),
    )


@query(
    "q224_png_pixel_decode",
    """
    WITH d AS (
      SELECT doc_id,
             (doc_id % 61) + 4 AS w,
             (doc_id % 23) + 2 AS h,
             CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS c
      FROM documents WHERE doc_id % 7 = 0
    )
    SELECT d.doc_id,
           CAST(d.w AS INT) AS width,
           CAST(d.h AS INT) AS height,
           CAST(d.c AS INT) AS channels,
           CAST(SUM((d.doc_id*7 + 13*t.k) % 251) AS BIGINT) AS px_sum,
           round(AVG(CAST((d.doc_id*7 + 13*t.k) % 251 AS DOUBLE)), 6)
             AS px_mean,
           CAST(MIN((d.doc_id*7 + 13*t.k) % 251) AS INT) AS px_min,
           CAST(MAX((d.doc_id*7 + 13*t.k) % 251) AS INT) AS px_max
    FROM d, LATERAL (SELECT unnest(range(0, d.w * d.h * d.c)) AS k) t
    GROUP BY d.doc_id, d.w, d.h, d.c
    """,
)
def q224(spark, sf_dir):
    """REAL PNG PIXEL decode round trip — closes the round-5 verdict's
    last 'partial' cell (pixel decode was `NotImplementedError`; now
    `operators/multimodal.py:decode_png_pixels` inflates IDAT with
    stdlib zlib and reverses all five scanline filters).

    Executor-side, each selected doc builds a genuinely valid PNG whose
    pixel bytes follow the arithmetic pattern v(k) = (doc_id·7+13k) mod
    251 and whose rows are filtered with filter type (row mod 5) — so
    Sub/Up/Average/Paeth encoding is all present in the fixture bytes.
    The file then goes through the REAL distributed decode path
    (`decode_assets`, Arrow-batched mapInPandas) and the decoded pixel
    statistics are compared against the oracle's closed-form arithmetic
    over the same pattern.  A decoder that mis-reversed any filter, got
    the Paeth predictor wrong, or mis-concatenated IDAT would produce
    different sums — this is a full value oracle on actual decoded
    bytes, not on container metadata.  Per-asset output is O(1); bytes
    never visit the driver — the shape that holds on a 100 TB binary
    column."""
    import pandas as pd

    from ..operators.multimodal import decode_assets, encode_png

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id")
    )

    def build(it):
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = d % 61 + 4, d % 23 + 2
                c = 1 if d % 2 == 0 else 3
                n = w * h * c
                px = bytes((d * 7 + 13 * k) % 251 for k in range(n))
                payloads.append(encode_png(px, w, h, c, [r % 5 for r in range(h)]))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    assets = docs.mapInPandas(build, "doc_id long, payload binary")
    dec = decode_assets(assets)
    return dec.select(
        "doc_id",
        "width",
        "height",
        "channels",
        F.col("val_sum").alias("px_sum"),
        F.round(
            F.col("val_sum").cast("double") / F.col("n_values").cast("double"), 6
        ).alias("px_mean"),
        F.col("val_min").cast("int").alias("px_min"),
        F.col("val_max").cast("int").alias("px_max"),
    )


@query(
    "q228_wav_pcm_decode",
    """
    WITH d AS (
      SELECT doc_id,
             8000 * (1 + doc_id % 3) AS rate,
             1 + doc_id % 2 AS ch,
             ((doc_id % 50) + 5) * (1 + doc_id % 2) AS n
      FROM documents WHERE doc_id % 13 = 3
    )
    SELECT d.doc_id,
           CAST(d.rate AS INT) AS sample_rate,
           CAST(d.ch AS INT) AS channels,
           CAST(d.n AS BIGINT) AS n_samples,
           CAST(SUM(((d.doc_id*11 + 17*t.k) % 65536) - 32768) AS BIGINT)
             AS s_sum,
           CAST(MIN(((d.doc_id*11 + 17*t.k) % 65536) - 32768) AS BIGINT)
             AS s_min,
           CAST(MAX(((d.doc_id*11 + 17*t.k) % 65536) - 32768) AS BIGINT)
             AS s_max
    FROM d, LATERAL (SELECT unnest(range(0, d.n)) AS k) t
    GROUP BY d.doc_id, d.rate, d.ch, d.n
    """,
)
def q228(spark, sf_dir):
    """REAL WAV PCM SAMPLE decode round trip — the cheap sibling of
    q224 (`decode_wav_samples`: RIFF chunk walk + 16-bit little-endian
    PCM via numpy frombuffer, stdlib only).  Executor-side fixtures
    carry int16 samples s(k) = ((doc_id·11+17k) mod 65536) − 32768 —
    spanning the full signed range including byte-order-sensitive
    values — through encode_wav → decode_assets; sums/extrema must
    match the oracle's closed-form arithmetic.  An endianness or
    sign-extension bug anywhere in the sample path changes s_sum."""
    import pandas as pd

    from ..operators.multimodal import decode_assets, encode_wav

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 13 == 3)
        .select("doc_id")
    )

    def build(it):
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                rate = 8000 * (1 + d % 3)
                ch = 1 + d % 2
                n = (d % 50 + 5) * ch
                samples = [((d * 11 + 17 * k) % 65536) - 32768 for k in range(n)]
                payloads.append(encode_wav(samples, rate, ch))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    assets = docs.mapInPandas(build, "doc_id long, payload binary")
    dec = decode_assets(assets)
    return dec.select(
        "doc_id",
        "sample_rate",
        "channels",
        F.col("n_values").alias("n_samples"),
        F.col("val_sum").alias("s_sum"),
        F.col("val_min").alias("s_min"),
        F.col("val_max").alias("s_max"),
    )


@query(
    "q225_tdigest_quantiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50_exact,
           round(quantile_cont(value, 0.9), 4) AS p90_exact,
           TRUE AS ok_p10, TRUE AS ok_p50, TRUE AS ok_p90, TRUE AS ok_p99,
           TRUE AS state_bounded
    FROM events GROUP BY event_type
    """,
)
def q225(spark, sf_dir):
    """Mergeable t-digest quantiles (ClickHouse quantileTDigest) — the
    approximate-agg family the round-5 verdict flagged as absent: unlike
    percentile_approx (q61, an opaque JVM GK sketch), this sketch's
    STATE is exported and mergeable (`operators/sketches.py:
    tdigest_partials` → `tdigest_merge_quantiles`), the uniqState/q79
    pattern for quantiles.  Level 1 digests per group per input
    partition inside mapInPandas — raw values never shuffle, only
    ≤ ~2·δ centroid pairs per (partition, group); level 2 merges
    centroid multisets per group.  O(δ) state at every node is what
    survives 100 TB where exact percentile's full per-group sort
    cannot.

    Oracle pattern (q61 rule): the sketch estimate is engine-specific,
    so the checkable output is the exact interpolated percentiles plus
    booleans asserting each t-digest estimate lies between the exact
    quantiles at q ∓ 3% rank (δ=100 → max centroid span ≈ π/δ ≈ 3.1%
    rank at the median, tighter at tails) and that the merged digest
    kept ≤ 2δ centroids.  The oracle expects literal TRUE everywhere."""
    from ..operators.sketches import tdigest_quantiles

    probs = [0.1, 0.5, 0.9, 0.99]
    tol = 0.03
    lo_hi = []
    for p in probs:
        lo_hi += [max(p - tol, 0.0), min(p + tol, 1.0)]

    ev = _t(spark, sf_dir, "events")
    td = tdigest_quantiles(
        ev.select("event_type", "value"), "value", ["event_type"], probs, 100.0
    )
    exact = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("p50"),
        F.percentile("value", F.lit(0.9)).alias("p90"),
        F.percentile("value", F.array(*[F.lit(x) for x in lo_hi])).alias("b"),
    )
    j = td.join(exact, "event_type")
    oks = [
        (
            (F.element_at("quantiles", i + 1) >= F.element_at("b", 2 * i + 1))
            & (F.element_at("quantiles", i + 1) <= F.element_at("b", 2 * i + 2))
        ).alias(f"ok_p{int(p * 100)}")
        for i, p in enumerate(probs)
    ]
    return j.select(
        "event_type",
        F.round("p50", 4).alias("p50_exact"),
        F.round("p90", 4).alias("p90_exact"),
        *oks,
        (F.col("n_centroids") <= 200).alias("state_bounded"),
    )


@query(
    "q226_retention",
    """
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS m1,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS m2,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS m3
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(m1 AS INT) AS r1,
           CAST(m1 * m2 AS INT) AS r2,
           CAST(m1 * m3 AS INT) AS r3
    FROM per_user
    """,
)
def q226(spark, sf_dir):
    """ClickHouse ``retention(cond1, ..., condN)`` — the funnel-holding
    aggregate a log table invites (round-5 verdict #4): per user,
    r1 = 1 iff the anchor condition (signup) ever held; r_i (i>1) = 1
    iff the anchor AND condition i both held on some rows — NOT
    sequenced (that's q76/q207 sequenceMatch territory), just
    co-occurrence against the anchor, exactly CH's semantics.

    One scan, one shuffle: each condition is a conditional MAX —
    associative, map-side partial-aggregable — and the retention vector
    is assembled from the N maxima per group.  At 100 TB this is the
    same plan as any groupBy count: no joins, no windows, state = N
    bits per live group."""
    ev = _t(spark, sf_dir, "events")

    def hit(cond):
        return F.max(F.when(cond, 1).otherwise(0))

    per_user = ev.groupBy("user_id").agg(
        hit(F.col("event_type") == "signup").alias("m1"),
        hit(F.col("event_type") == "view").alias("m2"),
        hit(F.col("event_type") == "purchase").alias("m3"),
    )
    return per_user.select(
        "user_id",
        F.col("m1").cast("int").alias("r1"),
        (F.col("m1") * F.col("m2")).cast("int").alias("r2"),
        (F.col("m1") * F.col("m3")).cast("int").alias("r3"),
    )


@query(
    "q227_array_enumerate_uniq",
    """
    WITH d AS (
      SELECT doc_id,
             list_slice(list_filter(string_split(lower(text), ' '),
                                    x -> x <> ''), 1, 12) AS ws
      FROM documents WHERE doc_id % 11 = 4
    )
    SELECT doc_id,
           array_to_string(ws, ',') AS words_csv,
           array_to_string(
             list_transform(range(1, len(ws) + 1),
               i -> len(list_filter(ws[1:i], y -> y = ws[i]))),
             ',') AS enum_csv
    FROM d
    """,
)
def q227(spark, sf_dir):
    """ClickHouse ``arrayEnumerateUniq`` — per element, its occurrence
    number among equal elements so far ([a,b,a] → [1,1,2]).  Expressed
    natively as a higher-order composition: transform-with-index over
    the array, counting equal elements in the prefix slice — no UDF,
    whole-stage codegen, zero shuffle beyond the scan.  The prefix
    count is O(n²) per array, so the word array is capped at 12
    elements (the same cap the oracle applies); for unbounded arrays
    the posexplode + window row_number shape (q28 family) is the
    alternative at one shuffle.  Output serialized positionally as CSV
    (array order is deterministic here — the repo's array-export rule
    only forces sorting when engines' set orders could differ)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 == 4)
    ws = F.slice(
        F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit("")),
        1,
        12,
    )
    d = d.select("doc_id", ws.alias("ws"))
    enum = F.transform(
        "ws",
        lambda x, i: F.size(
            F.filter(
                F.slice("ws", 1, i + 1), lambda y: y == x
            )
        ),
    )
    return d.select(
        "doc_id",
        F.concat_ws(",", "ws").alias("words_csv"),
        F.concat_ws(",", enum).alias("enum_csv"),
    )


@query(
    "q229_series_gap_fill",
    """
    WITH f AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events WHERE user_id % 23 = 0
    ), c AS (
      SELECT event_type, bucket, COUNT(*) AS n, SUM(cents) AS cents
      FROM f GROUP BY 1, 2
    ), r AS (
      SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
      FROM c GROUP BY 1
    ), g AS (
      SELECT event_type,
             unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
      FROM r
    )
    SELECT g.event_type,
           strftime(g.bucket, '%Y-%m-%d %H:%M:%S') AS bucket_s,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
           CAST(COALESCE(c.cents, 0) AS BIGINT) AS cents
    FROM g LEFT JOIN c ON g.event_type = c.event_type AND g.bucket = c.bucket
    """,
)
def q229(spark, sf_dir):
    """ClickHouse ``ORDER BY ... WITH FILL STEP`` — dense time-series
    output over a sparse input: every hour bucket between each group's
    first and last observation appears, zero-filled where no events
    landed.  Spark shape: one aggregation to hourly counts, a tiny
    per-group (min, max) agg, ``sequence(lo, hi, INTERVAL 1 HOUR)`` +
    explode to build the dense grid WITHOUT a generator UDF, then a
    left join of grid ← counts on (group, bucket).  At 100 TB the grid
    is groups × buckets — metadata-sized next to the input — and the
    one data-sized shuffle is the same hash-agg any groupBy pays; the
    grid join keys on the already-aggregated (small) side."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 23 == 0)
    counts = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((_dec("value") * 100).cast("bigint")).alias("cents"),
    )
    rng = counts.groupBy("event_type").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = rng.select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket"),
    )
    out = grid.join(counts, ["event_type", "bucket"], "left")
    return out.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_s"),
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        F.coalesce("cents", F.lit(0)).cast("bigint").alias("cents"),
    )


@query(
    "q230_series_interpolate",
    """
    WITH f AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events WHERE user_id % 199 = 7
    ), c AS (
      SELECT event_type, bucket, MAX(cents) AS val
      FROM f GROUP BY 1, 2
    ), r AS (
      SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
      FROM c GROUP BY 1
    ), g AS (
      SELECT event_type,
             unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
      FROM r
    ), j AS (
      SELECT g.event_type, g.bucket, c.val,
             CAST(epoch(g.bucket) AS BIGINT) / 3600 AS i,
             CASE WHEN c.val IS NOT NULL
                  THEN CAST(epoch(g.bucket) AS BIGINT) / 3600 END AS ki
      FROM g LEFT JOIN c
        ON g.event_type = c.event_type AND g.bucket = c.bucket
    ), w AS (
      SELECT *,
             last_value(val IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             last_value(ki IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pi,
             first_value(val IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             first_value(ki IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ni
      FROM j
    )
    SELECT event_type,
           strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_s,
           CAST(val IS NOT NULL AS INT) AS known,
           CAST(floor((CASE WHEN val IS NOT NULL THEN CAST(val AS DOUBLE)
                      ELSE CAST(pv AS DOUBLE)
                           + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
                             * (CAST(i - pi AS DOUBLE)
                                / CAST(ni - pi AS DOUBLE))
                 END / 100.0) * 1000000.0 + 0.5) AS DOUBLE)
             / 1000000.0 AS interp_val
    FROM w
    """,
)
def q230(spark, sf_dir):
    """ClickHouse ``WITH FILL ... INTERPOLATE`` — the q229 dense grid
    with gap values LINEARLY INTERPOLATED between the neighboring known
    points instead of zero-filled.  The neighbors come from
    ignore-nulls running windows (``last_value IGNORE NULLS`` backward,
    ``first_value IGNORE NULLS`` forward — both engines share the
    semantics), the abscissa is the exact integer hour index, and the
    interpolation is one deterministic double expression identical
    token-for-token on both engines (q153 rule).  Grid endpoints are
    always known (the grid spans min..max of PRESENT buckets), so every
    gap is interior and the divisor ni − pi is never zero on gap rows.
    Two window passes over the grid reuse one (group, bucket) sort —
    Catalyst runs both frames in a single Window node."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 199 == 7)
    c = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.max((_dec("value") * 100).cast("bigint")).alias("val"))
    rng = c.groupBy("event_type").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = rng.select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket"),
    )
    i = (F.unix_timestamp("bucket") / 3600).cast("bigint")
    j = grid.join(c, ["event_type", "bucket"], "left").select(
        "event_type",
        "bucket",
        "val",
        i.alias("i"),
        F.when(F.col("val").isNotNull(), i).alias("ki"),
    )
    from pyspark.sql.window import Window

    back = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w = j.select(
        "*",
        F.last("val", ignorenulls=True).over(back).alias("pv"),
        F.last("ki", ignorenulls=True).over(back).alias("pi"),
        F.first("val", ignorenulls=True).over(fwd).alias("nv"),
        F.first("ki", ignorenulls=True).over(fwd).alias("ni"),
    )
    interp = F.when(
        F.col("val").isNotNull(), F.col("val").cast("double")
    ).otherwise(
        F.col("pv").cast("double")
        + (F.col("nv").cast("double") - F.col("pv").cast("double"))
        * (
            (F.col("i") - F.col("pi")).cast("double")
            / (F.col("ni") - F.col("pi")).cast("double")
        )
    )
    # round-to-6dp via floor(x*1e6 + 0.5): engine round() internals
    # differ on .5-ulp boundaries (found by the sf0.001 sweep — one
    # boundary row in 3301), but this form is pure IEEE mult/add/floor,
    # token-identical on both engines, hence bit-identical.
    return w.select(
        "event_type",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_s"),
        F.col("val").isNotNull().cast("int").alias("known"),
        (
            F.floor(
                (interp / F.lit(100.0)) * F.lit(1000000.0) + F.lit(0.5)
            ).cast("double")
            / F.lit(1000000.0)
        ).alias("interp_val"),
    )


@query(
    "q363_running_delta",
    """
    WITH ev AS (
      SELECT event_id, user_id,
             CAST(value AS DECIMAL(18,2)) AS v,
             ts
      FROM events
      WHERE event_type = 'click' AND value IS NOT NULL
        AND ts IS NOT NULL AND user_id IS NOT NULL
    ), w AS (
      SELECT event_id, user_id, v,
             COALESCE(v - lag(v) OVER ord, CAST(0 AS DECIMAL(18,2)))
               AS rd,
             CAST(SUM(v) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW)
                  AS DECIMAL(18,2)) AS ra,
             lag(v) OVER ord IS NULL AS first_row
      FROM ev
      WINDOW ord AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id,
           CAST(rd AS DOUBLE) AS running_diff,
           CAST(ra AS DOUBLE) AS running_acc,
           CAST((SELECT CAST(COALESCE(SUM(CASE WHEN NOT w2.first_row
                                     AND w2.rd > 0 THEN w2.rd END), 0)
                 AS DECIMAL(18,2))
                 FROM w w2 WHERE w2.user_id = w.user_id)
                AS DOUBLE) AS delta_sum
    FROM w
    """,
)
def q363(spark, sf_dir):
    """ClickHouse ``runningDifference`` / ``runningAccumulate`` /
    ``deltaSum`` / ``deltaSumTimestamp`` as ORDER-SAFE window
    analytics.  CH's running* functions are block-order-dependent
    (deprecated for that reason) and deltaSumTimestamp exists precisely
    to pin merge order to a time column; the Spark-first re-expression
    makes the ordering explicit — one window per user ordered by
    (ts, event_id) — so the semantics are deterministic on ANY
    partitioning/merge schedule, which is the property CH's timestamped
    variant approximates.  runningDifference's first-row-is-0
    convention is kept; deltaSum ignores negative deltas and the
    first-row pseudo-delta (CH sums only consecutive-difference
    increases).  All arithmetic in DECIMAL(18,2): the per-row diffs and
    the cumulative sum are exact, so the oracle hash can't be perturbed
    by float association.  One shuffle (hash by user_id), both window
    passes and the full-partition delta-sum reuse the same sort — no
    Python, no extra exchange."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "click")
            & F.col("value").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select(
            "event_id",
            "user_id",
            F.col("value").cast("decimal(18,2)").alias("v"),
            "ts",
        )
    )
    ord_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run_w = ord_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    all_w = Window.partitionBy("user_id")
    prev = F.lag("v").over(ord_w)
    rd = F.coalesce(
        F.col("v") - prev, F.lit(0).cast("decimal(18,2)")
    )
    staged = ev.select(
        "event_id",
        "user_id",
        rd.alias("rd"),
        F.sum("v").over(run_w).cast("decimal(18,2)").alias("ra"),
        prev.isNull().alias("first_row"),
    )
    pos = F.when(
        ~F.col("first_row") & (F.col("rd") > 0), F.col("rd")
    )
    return staged.select(
        "event_id",
        "user_id",
        F.col("rd").cast("double").alias("running_diff"),
        F.col("ra").cast("double").alias("running_acc"),
        F.coalesce(
            F.sum(pos).over(all_w), F.lit(0).cast("decimal(28,2)")
        )
        .cast("decimal(18,2)")
        .cast("double")
        .alias("delta_sum"),
    )


@query(
    "q364_url_functions",
    """
    WITH u AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'https'
                             ELSE 'ftp' END
             || '://'
             || CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
             || 'host' || CAST(doc_id % 50 AS VARCHAR)
             || CASE doc_id % 5 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.org'
                                ELSE '.com' END
             || CASE WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END
             || '/p' || CAST(doc_id % 9 AS VARCHAR) || '/item'
             || CASE WHEN doc_id % 2 = 0
                     THEN '?q=v' || CAST(doc_id % 11 AS VARCHAR)
                          || '&utm=x' ELSE '' END
             || CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END
             AS url
      FROM documents WHERE doc_id % 3 != 2 OR doc_id % 10 < 7
    ), hostp AS (
      SELECT doc_id, url,
             regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1)
               AS proto,
             regexp_extract(url,
               '^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//(?:[^/?#@]*@)?([^/?#]*)',
               1) AS auth
      FROM u
    )
    SELECT doc_id, url, proto AS protocol,
           regexp_extract(auth, '^([^:]*)', 1) AS host,
           CASE WHEN regexp_extract(auth, '^([^:]*)', 1) LIKE 'www.%'
                THEN substr(regexp_extract(auth, '^([^:]*)', 1), 5)
                ELSE regexp_extract(auth, '^([^:]*)', 1)
           END AS host_nowww,
           CASE WHEN auth = '' THEN ''
                ELSE list_extract(string_split(
                       regexp_extract(auth, '^([^:]*)', 1), '.'), -1)
           END AS tld,
           CASE WHEN regexp_extract(auth, ':(\\d+)$', 1) = '' THEN 0
                ELSE CAST(regexp_extract(auth, ':(\\d+)$', 1) AS INT)
           END AS port,
           regexp_extract(
             regexp_replace(url,
               '^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//(?:[^/?#@]*@)?[^/?#]*',
               ''), '^([^?#]*)', 1) AS upath,
           regexp_extract(url, '\\?([^#]*)', 1) AS qs,
           regexp_replace(url, '\\?[^#]*', '') AS no_qs,
           regexp_extract(url, '[?&]q=([^&#]*)', 1) AS param_q,
           regexp_extract(url, '[?&]missing=([^&#]*)', 1) AS param_missing
    FROM hostp
    """,
)
def q364(spark, sf_dir):
    """ClickHouse URL-function family (`functions/url.py`): protocol /
    domain / domainWithoutWWW / topLevelDomain / port / path /
    queryString / cutQueryString / extractURLParameter, every one a
    native regexp/split expression inside whole-stage codegen.  The
    fixture URLs are built IN-PLAN from doc_id (scheme x www x
    multi-label-TLD x port x query x fragment rotation — 3x2x3x2x2x2
    shapes incl. a filter with a composite predicate so ids aren't
    contiguous), and the oracle re-parses the same construction with
    DuckDB's independent regexp engine — a parser that mishandled
    credentials-less authorities, ports, fragments, or bare parameters
    would diverge on some rotation cell.  Zero shuffles: scan ->
    project, the whole query is one codegen stage."""
    from ..functions import url as U

    docs = (
        _t(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 3 != 2) | (F.col("doc_id") % 10 < 7))
        .select("doc_id")
    )
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 3 == 0, F.lit("http"))
        .when(d % 3 == 1, F.lit("https"))
        .otherwise(F.lit("ftp")),
        F.lit("://"),
        F.when(d % 4 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("host"),
        (d % 50).cast("string"),
        F.when(d % 5 == 0, F.lit(".co.uk"))
        .when(d % 5 == 1, F.lit(".org"))
        .otherwise(F.lit(".com")),
        F.when(d % 7 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/p"),
        (d % 9).cast("string"),
        F.lit("/item"),
        F.when(
            d % 2 == 0,
            F.concat(F.lit("?q=v"), (d % 11).cast("string"), F.lit("&utm=x")),
        ).otherwise(F.lit("")),
        F.when(d % 6 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    with_url = docs.select("doc_id", url.alias("url"))
    u = F.col("url")
    return with_url.select(
        "doc_id",
        "url",
        U.protocol(u).alias("protocol"),
        U.domain(u).alias("host"),
        U.domain_without_www(u).alias("host_nowww"),
        U.top_level_domain(u).alias("tld"),
        U.url_port(u).alias("port"),
        U.url_path(u).alias("upath"),
        U.query_string(u).alias("qs"),
        U.cut_query_string(u).alias("no_qs"),
        U.extract_url_parameter(u, "q").alias("param_q"),
        U.extract_url_parameter(u, "missing").alias("param_missing"),
    )


@query(
    "q368_array_manipulation",
    """
    WITH a AS (
      SELECT doc_id,
             generate_series(doc_id % 5,
                             doc_id % 5 + doc_id % 7 + 2) AS l,
             CAST(doc_id % 4 AS INT) AS rot
      FROM documents WHERE doc_id % 11 = 3
    )
    SELECT doc_id,
           array_to_string(l, ',') AS l,
           array_to_string(l[2:4], ',') AS sl,
           array_to_string(l[-2:], ',') AS sl_neg,
           array_to_string(CASE WHEN len(l) >= 4 THEN l[1:4]
                ELSE list_concat(l, list_transform(
                       generate_series(1, 4 - len(l)), x -> 0)) END,
             ',') AS res4,
           array_to_string(list_concat(l, list_transform(
               generate_series(1, 9 - len(l)), x -> -1)), ',') AS res9,
           array_to_string(CASE WHEN rot = 0 THEN l
                ELSE list_concat(l[(rot + 1):], l[1:rot]) END, ',')
             AS rotl,
           CAST(GREATEST(len(l) - 2, 0) AS INT) AS n_shingles,
           array_to_string(flatten(list_transform(
               generate_series(1, len(l) - 2),
               i -> l[i:i+2])), ',') AS shingles_flat
    FROM a
    """,
)
def q368(spark, sf_dir):
    """ClickHouse array-manipulation tail — ``arraySlice`` (positive
    AND negative 1-based offsets), ``arrayResize`` (truncate / pad
    with an extender), ``arrayRotateLeft``, ``arrayShingles`` — every
    one a composition of native slice/concat/array_repeat/transform
    (no UDF, codegen end to end).  Fixture arrays are built in-plan
    with sequence() at 7 lengths x 4 rotations; DuckDB re-derives with
    ITS bracket-slicing and list_* functions, which have genuinely
    different index conventions (inclusive ends, negative wraps) — an
    off-by-one in either mapping shows up on some (length, rotation)
    cell.  Outputs are comma-joined per the repo's parity convention
    (the driver's value hasher compares scalars); shingles are
    flattened with their count so every element and boundary is still
    pinned."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 11 == 3)
        .select("doc_id")
    )
    d = F.col("doc_id")
    a = docs.select(
        "doc_id",
        F.sequence(d % 5, d % 5 + d % 7 + 2).alias("arr"),
        (d % 4).cast("int").alias("rot"),
    )
    # NB: the input array is named `arr`, not `l` — the string output
    # column below is aliased `l`, and inside a transform() lambda a
    # same-name reference would resolve to that lateral alias.
    l, rot = F.col("arr"), F.col("rot")
    n = F.size(l)
    res = lambda size, pad: F.when(
        n >= size, F.slice(l, 1, size)
    ).otherwise(F.concat(l, F.array_repeat(F.lit(pad).cast("bigint"), size - n)))
    cw = lambda c: F.concat_ws(",", c.cast("array<string>"))
    return a.select(
        "doc_id",
        cw(l).alias("l"),
        cw(F.slice(l, 2, 3)).alias("sl"),
        cw(F.slice(l, -2, 2)).alias("sl_neg"),
        cw(res(4, 0)).alias("res4"),
        cw(res(9, -1)).alias("res9"),
        cw(
            F.when(rot == 0, l).otherwise(
                F.concat(F.slice(l, rot + 1, n - rot), F.slice(l, 1, rot))
            )
        ).alias("rotl"),
        F.greatest(n - 2, F.lit(0)).cast("int").alias("n_shingles"),
        cw(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), n - 2), lambda i: F.slice(l, i, 3)
                )
            )
        ).alias("shingles_flat"),
    )


@query(
    "q424_changepoint_cusum",
    """
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT event_type, day, c,
             row_number() OVER w AS k,
             SUM(c) OVER w AS sk,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(c) OVER (PARTITION BY event_type) AS sn
      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ), stat AS (
      SELECT event_type, day, k, n,
             abs(n * sk - k * sn) AS g,
             sk, sn,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(n * sk - k * sn) DESC, day)
               AS pick
      FROM s WHERE k < n
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS cp_day,
           CAST(g AS BIGINT) AS stat,
           CAST(1000000 * sk // k AS BIGINT) AS mean_before_ppm,
           CAST(1000000 * (sn - sk) // (n - k) AS BIGINT) AS mean_after_ppm
    FROM stat WHERE pick = 1 ORDER BY event_type
    """,
)
def q424(spark, sf_dir):
    """CUSUM-type single changepoint per event_type over the daily
    count series: the split k maximizing |n*S_k - k*S_n| (the integer
    rescaling of the classic |S_k - (k/n)S_n| CUSUM statistic, so the
    argmax is EXACT — no float ever enters), ties broken to the
    earliest day; per-side means reported in exact ppm via floor
    division.  Binary segmentation's first step, pure windows — one
    shuffle on event_type, no recursion, no Python."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type").orderBy("day")
    wa = Window.partitionBy("event_type")
    s = (
        d.withColumn("k", F.row_number().over(w))
        .withColumn("sk", F.sum("c").over(w))
        .withColumn("n", F.count(F.lit(1)).over(wa))
        .withColumn("sn", F.sum("c").over(wa))
        .filter(F.col("k") < F.col("n"))
        .withColumn("g", F.abs(F.col("n") * F.col("sk") - F.col("k") * F.col("sn")))
    )
    pick = Window.partitionBy("event_type").orderBy(F.desc("g"), "day")
    return (
        s.withColumn("pick", F.row_number().over(pick))
        .filter(F.col("pick") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("cp_day"),
            F.col("g").cast("bigint").alias("stat"),
            F.expr("1000000 * sk DIV k").cast("bigint").alias("mean_before_ppm"),
            F.expr("1000000 * (sn - sk) DIV (n - k)")
            .cast("bigint")
            .alias("mean_after_ppm"),
        )
        .orderBy("event_type")
    )


@query(
    "q426_first_significant_subdomain",
    """
    WITH u AS (
      SELECT doc_id,
             CASE doc_id % 6
               WHEN 0 THEN 'http://news.host' || CAST(doc_id % 20 AS VARCHAR)
                           || '.com.tr/x'
               WHEN 1 THEN 'https://www.host' || CAST(doc_id % 20 AS VARCHAR)
                           || '.co.uk?q=1'
               WHEN 2 THEN 'http://host' || CAST(doc_id % 20 AS VARCHAR)
                           || '.org/p'
               WHEN 3 THEN '//cdn.host' || CAST(doc_id % 20 AS VARCHAR)
                           || '.io/a'
               WHEN 4 THEN 'http://localhost:9000/z'
               ELSE 'mailto:user@nowhere'
             END AS url
      FROM documents WHERE doc_id % 11 = 3
    ), h AS (
      SELECT doc_id, url,
             regexp_extract(
               regexp_extract(url,
                 '^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//(?:[^/?#@]*@)?([^/?#]*)',
                 1), '^([^:]*)', 1) AS host
      FROM u
    ), p AS (
      SELECT doc_id, url, host, string_split(host, '.') AS parts
      FROM h
    )
    SELECT doc_id, url,
           CASE WHEN host = '' THEN ''
                WHEN len(parts) >= 3 AND list_extract(parts, -2) IN
                     ('com','net','org','co') THEN list_extract(parts, -3)
                WHEN len(parts) >= 2 THEN list_extract(parts, -2)
                ELSE host END AS fsd,
           CASE WHEN host = '' THEN ''
                WHEN len(parts) >= 3 AND list_extract(parts, -2) IN
                     ('com','net','org','co')
                  THEN array_to_string(list_slice(parts, -3, -1), '.')
                WHEN len(parts) >= 2
                  THEN array_to_string(list_slice(parts, -2, -1), '.')
                ELSE host END AS cut_fsd
    FROM p ORDER BY doc_id
    """,
)
def q426(spark, sf_dir):
    """CH ``firstSignificantSubdomain`` / ``cutToFirstSignificantSubdomain``
    (functions/url.py) over a hostile URL grid — deep two-level TLDs
    (com.tr via 'com', co.uk via 'co'), plain second-level (.org, .io),
    single-label hosts with ports, and authority-free URLs ('') — the
    registrable-domain rollup key of every per-site crawl-mixing stat.
    Native split/element_at/slice expressions, zero regex beyond the
    shared authority parse; the oracle replays the same com/net/org/co
    heuristic with DuckDB list ops."""
    from ..functions.url import (
        cut_to_first_significant_subdomain,
        first_significant_subdomain,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 == 3)
    k = (F.col("doc_id") % 20).cast("string")
    url = (
        F.when(F.col("doc_id") % 6 == 0,
               F.concat(F.lit("http://news.host"), k, F.lit(".com.tr/x")))
        .when(F.col("doc_id") % 6 == 1,
              F.concat(F.lit("https://www.host"), k, F.lit(".co.uk?q=1")))
        .when(F.col("doc_id") % 6 == 2,
              F.concat(F.lit("http://host"), k, F.lit(".org/p")))
        .when(F.col("doc_id") % 6 == 3,
              F.concat(F.lit("//cdn.host"), k, F.lit(".io/a")))
        .when(F.col("doc_id") % 6 == 4, F.lit("http://localhost:9000/z"))
        .otherwise(F.lit("mailto:user@nowhere"))
    )
    u = docs.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        "url",
        first_significant_subdomain("url").alias("fsd"),
        cut_to_first_significant_subdomain("url").alias("cut_fsd"),
    ).orderBy("doc_id")


def _binseg_round_sql(src: str, tag: str, min_len: int = 3,
                      thr_ppm: int = 20000) -> str:
    """One binary-segmentation round as DuckDB CTE text (the exact
    mirror of operators/changepoints.py's window sequence)."""
    return f"""
    {tag}_s AS (
      SELECT event_type, day, v, seg,
             row_number() OVER w AS k,
             SUM(v) OVER w AS sk,
             COUNT(*) OVER ws AS n,
             SUM(v) OVER ws AS sn
      FROM {src}
      WINDOW w AS (PARTITION BY event_type, seg ORDER BY day),
             ws AS (PARTITION BY event_type, seg)
    ), {tag}_g AS (
      SELECT *, CASE WHEN k >= {min_len} AND k <= n - {min_len}
                     THEN abs(n * sk - k * sn) ELSE -1 END AS g
      FROM {tag}_s
    ), {tag}_b AS (
      SELECT *, MAX(g) OVER ws2 AS gmax
      FROM {tag}_g WINDOW ws2 AS (PARTITION BY event_type, seg)
    ), {tag}_c AS (
      SELECT *, MIN(CASE WHEN g = gmax THEN k END) OVER ws3 AS cp,
             (gmax > 0 AND gmax * 1000000 >= {thr_ppm} * n * sn) AS accept
      FROM {tag}_b WINDOW ws3 AS (PARTITION BY event_type, seg)
    ), {tag} AS (
      SELECT event_type, day, v,
             CASE WHEN accept THEN seg * 2 + CASE WHEN k > cp THEN 1 ELSE 0 END
                  ELSE seg * 2 END AS seg
      FROM {tag}_c
    )"""


@query(
    "q427_binary_segmentation",
    f"""
    WITH d0 AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), d AS (
      SELECT event_type, day,
             c * (1 + CASE WHEN dayofmonth(day) >= 11 THEN 1 ELSE 0 END
                    + CASE WHEN dayofmonth(day) >= 21 THEN 1 ELSE 0 END) AS v,
             0 AS seg
      FROM d0
    ),{_binseg_round_sql("d", "r1")},{_binseg_round_sql("r1", "r2")}
    SELECT event_type,
           row_number() OVER (PARTITION BY event_type ORDER BY MIN(day))
             AS seg_idx,
           strftime(MIN(day), '%Y-%m-%d') AS start_day,
           strftime(MAX(day), '%Y-%m-%d') AS end_day,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(1000000 * SUM(v) // COUNT(*) AS BIGINT) AS mean_ppm
    FROM r2 GROUP BY event_type, seg
    ORDER BY event_type, seg_idx
    """,
)
def q427(spark, sf_dir):
    """Multi-changepoint binary segmentation (q424's CUSUM statistic,
    recursed): per event_type the daily count series carries a planted
    two-step regime shift (x1 -> x2 from day 11, -> x3 from day 21), and
    two segmentation rounds recover the pieces — each round two window
    passes per (type, segment), split accepted only when the EXACT
    integer relative statistic clears 2% (g*1e6 >= thr*n*sn), both
    sides >= 3 points.  No self-join, no Python, no recursion in the
    plan — depth is static composition (`operators/changepoints.py`);
    the oracle replays both rounds as CTE mirrors."""
    from ..operators.changepoints import binary_segmentation

    ev = _t(spark, sf_dir, "events")
    dom = F.dayofmonth("day")
    d = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "event_type",
            "day",
            (
                F.col("c")
                * (
                    F.lit(1)
                    + (dom >= 11).cast("bigint")
                    + (dom >= 21).cast("bigint")
                )
            ).alias("v"),
        )
    )
    seg = binary_segmentation(
        d, ["event_type"], "day", "v", depth=2, min_len=3, thr_ppm=20000
    )
    return seg.select(
        "event_type",
        "seg_idx",
        F.date_format("start", "yyyy-MM-dd").alias("start_day"),
        F.date_format("end", "yyyy-MM-dd").alias("end_day"),
        "n_points",
        "mean_ppm",
    ).orderBy("event_type", "seg_idx")


@query(
    "q428_logfmt_extract",
    """
    WITH raw AS (
      SELECT 'user=' || CAST(user_id AS VARCHAR)
             || ' type=' || event_type
             || ' cents=' || CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
                                       AS BIGINT) AS VARCHAR)
             || ' seq=' || CAST(event_id % 1000 AS VARCHAR) AS line
      FROM events
    ), kv AS (
      SELECT CAST(regexp_extract(line, 'user=([^ ]+)', 1) AS BIGINT) AS u,
             regexp_extract(line, 'type=([^ ]+)', 1) AS t,
             CAST(regexp_extract(line, 'cents=([^ ]+)', 1) AS BIGINT) AS c,
             CAST(regexp_extract(line, 'seq=([^ ]+)', 1) AS BIGINT) AS s
      FROM raw
    )
    SELECT t AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users,
           CAST(SUM(c) AS BIGINT) AS total_cents,
           CAST(MAX(s) AS BIGINT) AS max_seq
    FROM kv GROUP BY t ORDER BY t
    """,
)
def q428(spark, sf_dir):
    """logfmt / CH ``extractKeyValuePairs``-style structured-log
    parsing: the canonical 'k=v k2=v2' log line round-trips through
    Spark's native ``str_to_map`` (regex delimiters — one codegen
    projection, the structured twin of the P1-P8 syslog parse) and the
    typed fields aggregate exactly; the oracle parses the SAME lines
    with per-key regexes — two independent parsers must agree.  The
    dialect shim maps extractKeyValuePairs to this str_to_map form."""
    ev = _t(spark, sf_dir, "events")
    line = F.concat(
        F.lit("user="), F.col("user_id").cast("string"),
        F.lit(" type="), F.col("event_type"),
        F.lit(" cents="),
        (_dec("value") * 100).cast("bigint").cast("string"),
        F.lit(" seq="), (F.col("event_id") % 1000).cast("string"),
    )
    m = F.expr("str_to_map(line, ' ', '=')")
    kv = ev.select(line.alias("line")).select(
        m.getItem("user").cast("bigint").alias("u"),
        m.getItem("type").alias("t"),
        m.getItem("cents").cast("bigint").alias("c"),
        m.getItem("seq").cast("bigint").alias("s"),
    )
    return (
        kv.groupBy(F.col("t").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("u").alias("n_users"),
            F.sum("c").alias("total_cents"),
            F.max("s").alias("max_seq"),
        )
        .orderBy("event_type")
    )


@query(
    "q430_gopher_quality",
    """
    WITH base AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 5 = 0
                  THEN array_to_string(list_slice(string_split(text, ' '),
                                                  1, 25), ' ')
                  ELSE text END AS t1
      FROM documents
    ), d AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 0 THEN t1 || ' ## ## ## ## ##'
                  ELSE t1 END AS t
      FROM base
    ), m AS (
      SELECT source,
             len(string_split(t, ' ')) AS n_words,
             length(replace(t, ' ', '')) AS wl_sum,
             length(t) - length(replace(t, '#', '')) AS hc,
             (' ' || t || ' ' LIKE '% the %') AS has_the,
             (' ' || t || ' ' LIKE '% a %') AS has_a
      FROM d
    ), r AS (
      SELECT source,
             (n_words >= 30 AND n_words <= 100000) AS r1,
             (3 * n_words <= wl_sum AND wl_sum <= 10 * n_words) AS r2,
             (10 * hc < n_words) AS r3,
             (10 * (n_words - hc // 2) >= 8 * n_words) AS r4,
             (has_the AND has_a) AS r5
      FROM m
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN NOT r1 THEN 1 ELSE 0 END) AS BIGINT)
             AS fail_word_count,
           CAST(SUM(CASE WHEN NOT r2 THEN 1 ELSE 0 END) AS BIGINT)
             AS fail_mean_word_len,
           CAST(SUM(CASE WHEN NOT r3 THEN 1 ELSE 0 END) AS BIGINT)
             AS fail_symbol_ratio,
           CAST(SUM(CASE WHEN NOT r4 THEN 1 ELSE 0 END) AS BIGINT)
             AS fail_alpha_words,
           CAST(SUM(CASE WHEN NOT r5 THEN 1 ELSE 0 END) AS BIGINT)
             AS fail_stop_words,
           CAST(SUM(CASE WHEN r1 AND r2 AND r3 AND r4 AND r5
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
    FROM r GROUP BY source ORDER BY source
    """,
)
def q430(spark, sf_dir):
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1) as
    one UDF-free rule matrix over ``documents``: word-count bounds,
    mean-word-length bounds (cross-multiplied integers — no float
    division anywhere), symbol-to-word ratio, alphabetic-word fraction,
    and stop-word presence.  Thresholds are scaled to the synthetic
    corpus (min 30 words; stop set = the corpus's two function words
    'the'/'a' standing in for Gopher's 2-of-8 list) and the corpus is
    deterministically perturbed so every rule actually fires: doc_id%5
    docs are truncated to 25 words (trips the word-count floor),
    doc_id%7 docs get five '##' symbol tokens appended (trips the
    symbol-ratio and alpha-fraction rules).  Per-source fail counts per
    rule + overall pass count, all exact integers.  Every expression is
    whole-stage-codegen string/arithmetic; the single exchange keys on
    ``source`` with map-side partial aggregation."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t1 = F.when(
        did % 5 == 0, F.concat_ws(" ", F.slice(F.split("text", " "), 1, 25))
    ).otherwise(F.col("text"))
    d = docs.select(
        "source",
        F.when(did % 7 == 0, F.concat(t1, F.lit(" ## ## ## ## ##")))
        .otherwise(t1)
        .alias("t"),
    )
    from ..functions.text import gopher_rules

    rules = gopher_rules(F.col("t"))
    r = d.select(
        "source",
        rules["r_word_count"].alias("r1"),
        rules["r_mean_word_len"].alias("r2"),
        rules["r_symbol_ratio"].alias("r3"),
        rules["r_alpha_words"].alias("r4"),
        rules["r_stop_words"].alias("r5"),
    )

    def _fails(c, name):
        return F.sum(F.when(~F.col(c), 1).otherwise(0)).cast("bigint").alias(name)

    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            _fails("r1", "fail_word_count"),
            _fails("r2", "fail_mean_word_len"),
            _fails("r3", "fail_symbol_ratio"),
            _fails("r4", "fail_alpha_words"),
            _fails("r5", "fail_stop_words"),
            F.sum(
                F.when(
                    F.col("r1") & F.col("r2") & F.col("r3") & F.col("r4") & F.col("r5"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_pass"),
        )
        .orderBy("source")
    )


@query(
    "q431_c4_line_filters",
    """
    WITH w AS (
      SELECT doc_id, source,
             unnest(string_split(text, ' ')) AS word,
             unnest(range(0, len(string_split(text, ' ')))) AS pos
      FROM documents
    ), l0 AS (
      SELECT doc_id, source, pos // 7 AS line_id,
             string_agg(word, ' ' ORDER BY pos) AS line,
             CAST(COUNT(*) AS BIGINT) AS nw
      FROM w GROUP BY doc_id, source, pos // 7
    ), l1 AS (
      SELECT doc_id, source, line_id,
             CASE WHEN doc_id % 11 = 0 AND line_id = 0
                  THEN 'javascript ' || line ELSE line END AS line,
             nw + CASE WHEN doc_id % 11 = 0 AND line_id = 0
                       THEN 1 ELSE 0 END AS nw
      FROM l0
    ), l2 AS (
      SELECT doc_id, source, line_id,
             CASE WHEN doc_id % 13 = 0 AND line_id = 1
                  THEN line || ' {' ELSE line END AS line,
             nw + CASE WHEN doc_id % 13 = 0 AND line_id = 1
                       THEN 1 ELSE 0 END AS nw
      FROM l1
    ), l3 AS (
      SELECT doc_id, source, line_id, nw,
             CASE WHEN (doc_id + line_id) % 4 <> 0
                  THEN line || '.' ELSE line END AS line
      FROM l2
    ), lr AS (
      SELECT doc_id, source, line_id, nw, line,
             (line LIKE '%.' AND nw >= 5
              AND ' ' || line || ' ' NOT LIKE '% javascript %') AS keep,
             (line LIKE '%{%') AS has_brace
      FROM l3
    ), docs_r AS (
      SELECT doc_id, source,
             CAST(COUNT(*) AS BIGINT) AS lines_total,
             CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS lines_kept_doc,
             MAX(CASE WHEN has_brace THEN 1 ELSE 0 END) AS has_brace,
             CAST(SUM(CASE WHEN keep THEN nw ELSE 0 END) AS BIGINT)
               AS words_kept_doc,
             CAST(SUM(CASE WHEN keep THEN length(line) ELSE 0 END)
                  AS BIGINT) AS chars_kept_doc
      FROM lr GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs_total,
           CAST(SUM(CASE WHEN has_brace = 0 AND lines_kept_doc >= 3
                    THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
           CAST(SUM(lines_total) AS BIGINT) AS lines_total,
           CAST(SUM(lines_kept_doc) AS BIGINT) AS lines_kept,
           CAST(SUM(CASE WHEN has_brace = 0 AND lines_kept_doc >= 3
                    THEN words_kept_doc ELSE 0 END) AS BIGINT)
             AS words_kept,
           CAST(SUM(CASE WHEN has_brace = 0 AND lines_kept_doc >= 3
                    THEN chars_kept_doc ELSE 0 END) AS BIGINT)
             AS chars_kept
    FROM docs_r GROUP BY source ORDER BY source
    """,
)
def q431(spark, sf_dir):
    """C4-style line-level quality filtering (Raffel et al. 2020 §2.2).
    Round-11 (verdict directive 7, the q433 hash-key discipline applied
    here): the LINE TEXT IS NEVER MATERIALIZED.  Every downstream rule
    is a pure function of per-word features — ends-in-'.' is the
    max-pos word's suffix, the 'javascript' token check is a word-
    equality count with a last-word correction (the appended terminal
    '.' fuses into the LAST token, so a trailing 'javascript' escapes
    the token match exactly as it does in the rebuilt-string form),
    line length is sum(len(word)) + (nw-1) separators, brace is a
    per-word contains — so the (doc_id, source, line_id) aggregate
    ships 5 numeric partial buffers per line instead of a collect_list
    of every word (at 100 TB the old partials carried the whole corpus
    text through the first exchange).  Deterministic perturbations
    (javascript token on doc%11 line 0, '{' on doc%13 line 1, '.'
    withheld on (doc+line)%4==0) are applied as feature arithmetic
    (+11/+2/+1 chars), not string concat.  Exchanges key on
    (doc_id, line_id) then doc_id then source — all linear, no joins.
    The oracle rebuilds the actual line strings and applies the rules
    verbatim, so the feature arithmetic is value-checked end to end."""
    docs = _t(spark, sf_dir, "documents")
    did, lid = F.col("doc_id"), F.col("line_id")
    w = docs.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", " ")).alias("pos", "word"),
    )
    lf = w.groupBy(
        "doc_id", "source", F.expr("pos DIV 7").alias("line_id")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("nw0"),
        F.sum(F.length("word")).cast("bigint").alias("sum_len"),
        F.sum((F.col("word") == "javascript").cast("int")).alias("cnt_js"),
        F.max(F.col("word").contains("{")).alias("any_brace0"),
        # the max-pos word's features: struct max is lexicographic on
        # pos first, so this is "the last word of the line"
        F.max(
            F.struct(
                F.col("pos").alias("p"),
                F.col("word").endswith(".").alias("dot"),
                (F.col("word") == "javascript").alias("js"),
            )
        ).alias("last"),
    )
    js_l = (did % 11 == 0) & (lid == 0)  # 'javascript ' prefixed
    br_l = (did % 13 == 0) & (lid == 1)  # ' {' appended
    dot_l = (did + lid) % 4 != 0  # '.' appended
    nw = F.col("nw0") + js_l.cast("int") + br_l.cast("int")
    line_len = (
        F.col("sum_len")
        + F.col("nw0")
        - 1
        + F.when(js_l, 11).otherwise(0)
        + F.when(br_l, 2).otherwise(0)
        + F.when(dot_l, 1).otherwise(0)
    )
    ends_dot = dot_l | (~br_l & F.col("last.dot"))
    # token-boundary 'javascript': any NON-last occurrence always
    # matches; a LAST-word occurrence matches only if something was
    # appended after it (' {') or no '.' fused into it
    any_js = (
        js_l
        | (F.col("cnt_js") - F.col("last.js").cast("int") > 0)
        | (F.col("last.js") & (br_l | ~dot_l))
    )
    has_brace = F.col("any_brace0") | br_l
    keep = ends_dot & (nw >= 5) & ~any_js
    lr = lf.select(
        "doc_id",
        "source",
        nw.alias("nw"),
        line_len.alias("line_len"),
        keep.alias("keep"),
        has_brace.alias("has_brace"),
    )
    dr = lr.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("lines_total"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("lines_kept_doc"),
        F.max(F.when(F.col("has_brace"), 1).otherwise(0)).alias("has_brace"),
        F.sum(F.when(F.col("keep"), F.col("nw")).otherwise(0))
        .cast("bigint")
        .alias("words_kept_doc"),
        F.sum(F.when(F.col("keep"), F.col("line_len")).otherwise(0))
        .cast("bigint")
        .alias("chars_kept_doc"),
    )
    dk = (F.col("has_brace") == 0) & (F.col("lines_kept_doc") >= 3)
    return (
        dr.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs_total"),
            F.sum(F.when(dk, 1).otherwise(0)).cast("bigint").alias("docs_kept"),
            F.sum("lines_total").cast("bigint").alias("lines_total"),
            F.sum("lines_kept_doc").cast("bigint").alias("lines_kept"),
            F.sum(F.when(dk, F.col("words_kept_doc")).otherwise(0))
            .cast("bigint")
            .alias("words_kept"),
            F.sum(F.when(dk, F.col("chars_kept_doc")).otherwise(0))
            .cast("bigint")
            .alias("chars_kept"),
        )
        .orderBy("source")
    )


@query(
    "q433_line_dedup",
    """
    WITH w AS (
      SELECT doc_id, source,
             unnest(string_split(text, ' ')) AS word,
             unnest(range(0, len(string_split(text, ' ')))) AS pos
      FROM documents
    ), content AS (
      SELECT doc_id, source, pos // 7 AS line_id,
             string_agg(word, ' ' ORDER BY pos) AS line
      FROM w GROUP BY doc_id, source, pos // 7
    ), lines AS (
      SELECT doc_id, source, line FROM content
      UNION ALL
      SELECT doc_id, source,
             'subscribe to ' || source || ' updates today' AS line
      FROM documents
      UNION ALL
      SELECT doc_id, source,
             'copyright ' || source || ' all rights reserved' AS line
      FROM documents
    ), df AS (
      SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS line_df
      FROM lines GROUP BY line
    ), j AS (
      SELECT l.doc_id, l.source, l.line, d.line_df,
             (d.line_df < 20) AS keep
      FROM lines l JOIN df d ON l.line = d.line
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS lines_total,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             AS lines_kept,
           CAST(SUM(CASE WHEN NOT keep THEN length(line) + 1
                    ELSE 0 END) AS BIGINT) AS chars_removed,
           CAST(COUNT(DISTINCT CASE WHEN NOT keep THEN doc_id END)
                AS BIGINT) AS docs_affected
    FROM j GROUP BY source ORDER BY source
    """,
)
def q433(spark, sf_dir):
    """CCNet-style cross-document line deduplication (Wenzek et al.
    2020 §3.1: drop lines whose document frequency across the corpus
    exceeds a threshold — the standard boilerplate/header/footer
    remover in web-crawl pipelines).  Documents shred to 7-word lines;
    two deterministic boilerplate lines per document (a per-source
    'subscribe' header and 'copyright' footer) model the repeated chrome
    CCNet targets.

    100 TB shape (round-10 directive 2): NO exchange ships line text.
    Each line is reduced to (line_key = portable_hash60(line),
    line_len = length(line)) BEFORE the first shuffle, so the
    document-frequency aggregate shuffles (bigint, doc_id) pairs and
    the keep-flag join-back shuffles (bigint, doc_id, source, int) —
    8-byte keys either side, never the raw 7-word string (~40 B/row
    saved per exchanged row; at 100 TB that exchange previously
    shipped text).  A 60-bit collision would merge two distinct
    lines' df counts — at 2^-60 per pair this is the same accepted
    trade as every fingerprint-dedup operator here, and the DuckDB
    oracle (which groups by raw line) stays hash-equal at every test
    scale.  The df table is |distinct lines| — orders of magnitude
    smaller than the corpus.  Output: per-source kept/removed line
    counts, bytes removed, and documents touched — all exact
    integers."""
    from ..functions.text import shred_lines
    from ..operators.dedup import portable_hash60

    docs = _t(spark, sf_dir, "documents")
    content = shred_lines(docs).select("doc_id", "source", "line")
    header = docs.select(
        "doc_id",
        "source",
        F.concat(F.lit("subscribe to "), F.col("source"), F.lit(" updates today")).alias(
            "line"
        ),
    )
    footer = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("copyright "), F.col("source"), F.lit(" all rights reserved")
        ).alias("line"),
    )
    lines = (
        content.unionByName(header)
        .unionByName(footer)
        .select(
            "doc_id",
            "source",
            portable_hash60(F.col("line")).alias("line_key"),
            F.length("line").alias("line_len"),
        )
    )
    # the hashed-line table feeds BOTH the document-frequency aggregate
    # and the keep-flag join-back; lazily each side re-ran the 3-way
    # union + shred + hash (round 17 — the "before" plan scanned the
    # corpus 12×, plans/r17/q433_line_dedup_before.txt).  One DISK_ONLY
    # checkpoint of the narrow (doc_id, source, line_key, line_len)
    # rows (~30 B/line, far cheaper to re-read than the text is to
    # re-shred) halves the heavy work; values bit-identical.
    from pyspark import StorageLevel

    lines = lines.localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    df_t = lines.groupBy("line_key").agg(
        F.countDistinct("doc_id").cast("bigint").alias("line_df")
    )
    j = lines.join(df_t, "line_key").withColumn("keep", F.col("line_df") < 20)
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("lines_total"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("lines_kept"),
            F.sum(F.when(~F.col("keep"), F.col("line_len") + 1).otherwise(0))
            .cast("bigint")
            .alias("chars_removed"),
            F.countDistinct(F.when(~F.col("keep"), F.col("doc_id")))
            .cast("bigint")
            .alias("docs_affected"),
        )
        .orderBy("source")
    )


@query(
    "q435_pii_luhn_scan",
    """
    WITH c AS (
      SELECT event_id, event_type, user_id,
             list_aggregate(list_transform(range(0, 15),
               j -> CAST(CASE WHEN j % 2 = 0
                    THEN CASE WHEN 2 * ((event_id * (j + 3) + user_id * 7
                                         + j * j) % 10) > 9
                         THEN 2 * ((event_id * (j + 3) + user_id * 7
                                    + j * j) % 10) - 9
                         ELSE 2 * ((event_id * (j + 3) + user_id * 7
                                    + j * j) % 10) END
                    ELSE (event_id * (j + 3) + user_id * 7 + j * j) % 10
                    END AS BIGINT)), 'sum') AS t,
             array_to_string(list_transform(range(0, 15),
               j -> CAST((event_id * (j + 3) + user_id * 7 + j * j) % 10
                         AS VARCHAR)), '') AS d15
      FROM events
    ), lines AS (
      SELECT event_type,
             'uid=' || CAST(user_id AS VARCHAR) || ' card=' || d15 ||
             CAST(CASE WHEN event_id % 2 = 0 THEN (10 - t % 10) % 10
                  ELSE ((10 - t % 10) % 10 + 1) % 10 END AS VARCHAR) ||
             ' tel=' || CAST(100 + user_id % 900 AS VARCHAR) || '-' ||
             CAST(1000 + event_id % 9000 AS VARCHAR) AS raw
      FROM c
    ), scan AS (
      SELECT event_type, raw,
             regexp_extract_all(raw, '[0-9]{16}') AS cards,
             len(regexp_extract_all(raw, '[0-9]{3}-[0-9]{4}')) AS n_phones
      FROM lines
    ), judged AS (
      SELECT event_type, n_phones, len(cards) AS n_cands,
             len(list_filter(cards, s ->
               list_aggregate(list_transform(range(0, 16), i ->
                 CAST(CASE WHEN i % 2 = 1
                      THEN CASE WHEN 2 * CAST(substring(reverse(s),
                                              i + 1, 1) AS BIGINT) > 9
                           THEN 2 * CAST(substring(reverse(s),
                                         i + 1, 1) AS BIGINT) - 9
                           ELSE 2 * CAST(substring(reverse(s),
                                         i + 1, 1) AS BIGINT) END
                      ELSE CAST(substring(reverse(s), i + 1, 1) AS BIGINT)
                      END AS BIGINT)), 'sum') % 10 = 0)) AS n_valid
      FROM scan
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(n_cands) AS BIGINT) AS n_candidates,
           CAST(SUM(n_valid) AS BIGINT) AS n_luhn_valid,
           CAST(SUM(n_cands - n_valid) AS BIGINT) AS n_luhn_invalid,
           CAST(SUM(n_phones) AS BIGINT) AS n_phones
    FROM judged GROUP BY event_type ORDER BY event_type
    """,
)
def q435(spark, sf_dir):
    """PII scanning with Luhn validation — the precision step q92's
    regex redaction lacks: a 16-digit match is only a REAL card number
    if its Luhn checksum closes, which is what separates actionable
    PII from order ids at pipeline scale.  Card numbers are
    deterministically synthesized (15 payload digits from integer
    arithmetic; even event_ids get the true Luhn check digit, odd ones
    a corrupted one — so exactly half the candidates validate), then
    the DETECTOR independently re-extracts `[0-9]{16}` runs and folds
    the doubled-digit checksum over the extracted STRING with a native
    higher-order aggregate — construction and validation share no
    arithmetic.  Phone-shaped tokens counted alongside.  Everything is
    one codegen projection + one event_type-keyed aggregate; no UDF,
    no shuffle of raw text."""
    ev = _t(spark, sf_dir, "events")
    dig = (
        "(event_id * (j + 3) + user_id * 7 + j * j) % 10"
    )
    d15 = F.expr(
        f"concat_ws('', transform(sequence(0, 14), j -> CAST({dig} AS STRING)))"
    )
    t = F.expr(
        f"""aggregate(transform(sequence(0, 14), j ->
              CASE WHEN j % 2 = 0
                   THEN CASE WHEN 2 * ({dig}) > 9 THEN 2 * ({dig}) - 9
                        ELSE 2 * ({dig}) END
                   ELSE {dig} END),
            CAST(0 AS BIGINT), (acc, x) -> acc + x)"""
    )
    check = (10 - t % 10) % 10
    final = F.when(F.col("event_id") % 2 == 0, check).otherwise((check + 1) % 10)
    raw = F.concat(
        F.lit("uid="),
        F.col("user_id").cast("string"),
        F.lit(" card="),
        d15,
        final.cast("int").cast("string"),
        F.lit(" tel="),
        (100 + F.col("user_id") % 900).cast("string"),
        F.lit("-"),
        (1000 + F.col("event_id") % 9000).cast("string"),
    )
    scan = ev.select("event_type", raw.alias("raw")).select(
        "event_type",
        F.expr("regexp_extract_all(raw, '[0-9]{16}', 0)").alias("cards"),
        F.size(F.expr("regexp_extract_all(raw, '[0-9]{3}-[0-9]{4}', 0)")).alias(
            "n_phones"
        ),
    )
    luhn_ok = (
        """aggregate(transform(sequence(0, 15), i ->
             CASE WHEN i % 2 = 1
                  THEN CASE WHEN 2 * CAST(substring(reverse(s), i + 1, 1)
                                          AS BIGINT) > 9
                       THEN 2 * CAST(substring(reverse(s), i + 1, 1)
                                     AS BIGINT) - 9
                       ELSE 2 * CAST(substring(reverse(s), i + 1, 1)
                                     AS BIGINT) END
                  ELSE CAST(substring(reverse(s), i + 1, 1) AS BIGINT)
             END),
           CAST(0 AS BIGINT), (acc, x) -> acc + x) % 10 = 0"""
    )
    judged = scan.select(
        "event_type",
        "n_phones",
        F.size("cards").alias("n_cands"),
        F.size(F.expr(f"filter(cards, s -> {luhn_ok})")).alias("n_valid"),
    )
    return (
        judged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("n_cands").cast("bigint").alias("n_candidates"),
            F.sum("n_valid").cast("bigint").alias("n_luhn_valid"),
            F.sum(F.col("n_cands") - F.col("n_valid"))
            .cast("bigint")
            .alias("n_luhn_invalid"),
            F.sum("n_phones").cast("bigint").alias("n_phones"),
        )
        .orderBy("event_type")
    )


@query(
    "q438_log_template_mining",
    """
    WITH raw AS (
      SELECT user_id, event_type,
             'conn from 10.0.' || CAST(user_id % 256 AS VARCHAR) || '.'
             || CAST(event_id % 256 AS VARCHAR) || ' port '
             || CAST(1024 + event_id % 60000 AS VARCHAR) || ' '
             || event_type || ' latency '
             || CAST(event_id % 500 AS VARCHAR) || 'ms req 0x'
             || substring(md5(CAST(event_id AS VARCHAR)), 1, 8) AS line
      FROM events
    ), t AS (
      SELECT user_id, event_type,
             regexp_replace(
               regexp_replace(
                 regexp_replace(line,
                   '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+', '<IP>', 'g'),
                 '0x[0-9a-f]+', '<HEX>', 'g'),
               '[0-9]+', '<N>', 'g') AS template
      FROM raw
    )
    SELECT template,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM t GROUP BY template ORDER BY template
    """,
)
def q438(spark, sf_dir):
    """Log template mining (the Drain-family first pass): unstructured
    log lines collapse to templates by masking the variable parts —
    IPv4s, hex tokens, then bare numbers, in that order (an IP masked
    number-first would shred into four '<N>' islands) — and the
    template becomes the group key.  The fleet's distinct message
    SHAPES (one per event_type here) fall out of a 3-regex codegen
    projection + template-keyed aggregates; this is the unstructured
    twin of q428's logfmt parse and what turns 100 TB of raw syslog
    into a browsable template catalog.  Lines are synthesized with
    deterministic variable parts so both engines mask the same text.

    Round-11 hash-key discipline (verdict directive 7): the heavy
    exchange here is the DISTINCT-user stage — Spark's distinct-agg
    rewrite keys it on (template, user_id), shipping the ~70-byte
    template string once per distinct pair.  Restructured: distinct
    pairs and the per-template counts both key on xxhash64(template)
    (8 bytes); the template text crosses the wire only in the tiny
    post-partial-agg catalog frame (rows = distinct templates), and
    the two frames join back on the hash.  The hash never surfaces in
    the output, so the unchanged oracle checks the reduction."""
    ev = _t(spark, sf_dir, "events")
    line = F.concat(
        F.lit("conn from 10.0."),
        (F.col("user_id") % 256).cast("string"),
        F.lit("."),
        (F.col("event_id") % 256).cast("string"),
        F.lit(" port "),
        (1024 + F.col("event_id") % 60000).cast("string"),
        F.lit(" "),
        F.col("event_type"),
        F.lit(" latency "),
        (F.col("event_id") % 500).cast("string"),
        F.lit("ms req 0x"),
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
    )
    template = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                line, r"[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+", "<IP>"
            ),
            r"0x[0-9a-f]+",
            "<HEX>",
        ),
        r"[0-9]+",
        "<N>",
    )
    base = ev.select("user_id", template.alias("template")).select(
        "user_id", "template", F.xxhash64("template").alias("th")
    )
    catalog = (
        base.groupBy("th", "template")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    users = (
        base.select("th", "user_id")
        .distinct()
        .groupBy("th")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )
    return (
        catalog.join(users, "th")
        .select("template", "n", "n_users")
        .orderBy("template")
    )


@query(
    "q443_chat_transcript_stats",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_convs,
           CAST(SUM(3) AS BIGINT) AS turns,
           CAST(SUM(2) AS BIGINT) AS user_turns,
           CAST(SUM(length('reply ') * (user_id % 5 + 1)
                    + length(event_type)) AS BIGINT) AS asst_chars,
           CAST(SUM(CASE WHEN 1 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS starts_user
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q443(spark, sf_dir):
    """Chat-transcript analytics — the conversation-shaped corpus an
    instruction-tuning pipeline audits: JSON turn arrays parse through
    native ``from_json`` (array<struct<role, content>>), explode to
    turns, and aggregate to per-source stats (turn counts, role split,
    assistant byte volume, user-first contract).  The transcripts are
    deterministically synthesized so the ORACLE derives every statistic
    from the construction arithmetic alone — the Spark side must earn
    the same numbers by actually parsing the JSON it was handed (two
    fully independent code paths).  Parse + explode + one aggregate:
    no UDF, no driver round trip."""
    ev = _t(spark, sf_dir, "events")
    reply = F.concat(
        F.expr("repeat('reply ', user_id % 5 + 1)"), F.col("event_type")
    )
    j = F.concat(
        F.lit('[{"role":"user","content":"ask about '),
        F.col("event_type"),
        F.lit('"},{"role":"assistant","content":"'),
        reply,
        F.lit('"},{"role":"user","content":"thanks"}]'),
    )
    turns = ev.select("event_type", j.alias("j")).select(
        "event_type",
        F.posexplode(
            F.from_json("j", "array<struct<role:string,content:string>>")
        ).alias("pos", "turn"),
    )
    per_conv_cols = turns.select(
        "event_type",
        "pos",
        F.col("turn.role").alias("role"),
        F.length("turn.content").alias("clen"),
    )
    return (
        per_conv_cols.groupBy("event_type")
        .agg(
            (F.count(F.lit(1)) / 3).cast("bigint").alias("n_convs"),
            F.count(F.lit(1)).cast("bigint").alias("turns"),
            F.sum(F.when(F.col("role") == "user", 1).otherwise(0))
            .cast("bigint")
            .alias("user_turns"),
            F.sum(F.when(F.col("role") == "assistant", F.col("clen")).otherwise(0))
            .cast("bigint")
            .alias("asst_chars"),
            F.sum(
                F.when((F.col("pos") == 0) & (F.col("role") == "user"), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("starts_user"),
        )
        .orderBy("event_type")
    )


@query(
    "q446_curation_funnel",
    """
    WITH m AS (
      SELECT doc_id, source, text,
             len(string_split(text, ' ')) AS n_words,
             length(replace(text, ' ', '')) AS wl_sum,
             (' ' || text || ' ' LIKE '% the %'
              AND ' ' || text || ' ' LIKE '% a %') AS has_stops
      FROM documents
    ), q AS (
      SELECT doc_id, source, text, n_words,
             (n_words >= 30 AND n_words <= 100000
              AND 3 * n_words <= wl_sum AND wl_sum <= 10 * n_words
              AND has_stops) AS ok
      FROM m
    ), d AS (
      SELECT source, md5(text) AS h,
             CAST(MIN(n_words) AS BIGINT) AS n_words,
             CAST(COUNT(*) AS BIGINT) AS copies
      FROM q WHERE ok GROUP BY source, md5(text)
    )
    SELECT s.source,
           CAST(s.n_docs AS BIGINT) AS n_docs,
           CAST(s.n_quality AS BIGINT) AS n_quality,
           CAST(COALESCE(d2.n_unique, 0) AS BIGINT) AS n_unique,
           CAST(COALESCE(d2.tokens_kept, 0) AS BIGINT) AS tokens_kept,
           CAST(COALESCE(CAST((d2.tokens_kept + 511) // 512 AS BIGINT), 0)
                AS BIGINT) AS packed_seqs
    FROM (
      SELECT source, COUNT(*) AS n_docs,
             SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS n_quality
      FROM q GROUP BY source
    ) s
    LEFT JOIN (
      SELECT source, COUNT(*) AS n_unique, SUM(n_words) AS tokens_kept
      FROM d GROUP BY source
    ) d2 USING (source)
    ORDER BY s.source
    """,
)
def q446(spark, sf_dir):
    """The curation funnel END-TO-END — the composition story behind
    the individual operators: Gopher-style quality gate
    (functions/text.gopher_rules, the 3 rules that fire on this raw
    corpus) → exact dedup on md5(text) keeping one survivor per
    (source, digest) → whitespace token budget → 512-token packed
    sequence count (the ceil arithmetic of greedy concat packing).
    Every stage is the verified kernel of its standalone query
    (q430/q36/q44/q379); this one proves they compose without a UDF or
    an extra exchange class: scan → row-local rules → one (source,
    digest) aggregate → one source aggregate."""
    from ..functions.text import gopher_rules

    docs = _t(spark, sf_dir, "documents")
    rules = gopher_rules(F.col("text"))
    q = docs.select(
        "doc_id",
        "source",
        "text",
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
        (
            rules["r_word_count"]
            & rules["r_mean_word_len"]
            & rules["r_stop_words"]
        ).alias("ok"),
    )
    stage = q.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_quality"),
    )
    d = (
        q.filter(F.col("ok"))
        .groupBy("source", F.md5("text").alias("h"))
        .agg(F.min("n_words").cast("bigint").alias("n_words"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_unique"),
            F.sum("n_words").cast("bigint").alias("tokens_kept"),
        )
    )
    out = stage.join(d, "source", "left")
    return out.select(
        "source",
        "n_docs",
        "n_quality",
        F.coalesce("n_unique", F.lit(0)).cast("bigint").alias("n_unique"),
        F.coalesce("tokens_kept", F.lit(0))
        .cast("bigint")
        .alias("tokens_kept"),
        F.coalesce(
            ((F.col("tokens_kept") + 511) - (F.col("tokens_kept") + 511) % 512)
            / 512,
            F.lit(0),
        )
        .cast("bigint")
        .alias("packed_seqs"),
    ).orderBy("source")


@query(
    "q453_gopher_repetition",
    """
    WITH w AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS word,
             unnest(range(0, len(string_split(text, ' ')))) AS pos
      FROM documents
    ), lines AS (
      SELECT doc_id, pos // 7 AS line_id,
             string_agg(word, ' ' ORDER BY pos) AS line
      FROM w GROUP BY doc_id, pos // 7
    ), lc AS (
      SELECT doc_id, line, COUNT(*) AS c,
             CAST(length(line) AS BIGINT) AS ln
      FROM lines GROUP BY doc_id, line
    ), lstat AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_lines,
             CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
               AS dup_lines,
             CAST(SUM(c * ln) AS BIGINT) AS line_chars,
             CAST(SUM(CASE WHEN c >= 2 THEN c * ln ELSE 0 END) AS BIGINT)
               AS dup_line_chars
      FROM lc GROUP BY doc_id
    ), bg AS (
      SELECT a.doc_id,
             a.word || ' ' || b.word AS bigram,
             CAST(length(a.word) + length(b.word) AS BIGINT) AS bl
      FROM w a JOIN w b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    ), bgc AS (
      SELECT doc_id, bigram, COUNT(*) AS c, MIN(bl) AS bl
      FROM bg GROUP BY doc_id, bigram
    ), bstat AS (
      SELECT doc_id,
             MAX(c) AS top_bg_count,
             MAX(struct_pack(c := c, bl := bl)) AS top,
             CAST(SUM(c * bl) AS BIGINT) AS bg_chars
      FROM bgc GROUP BY doc_id
    )
    SELECT l.doc_id,
           l.n_lines,
           (l.dup_lines * 1000000) // l.n_lines AS dup_line_ppm,
           (l.dup_line_chars * 1000000) // l.line_chars
             AS dup_line_char_ppm,
           CAST(b.top_bg_count AS BIGINT) AS top_bigram_count,
           ((b.top).c * (b.top).bl * 1000000) // b.bg_chars
             AS top_bigram_char_ppm,
           ((l.dup_lines * 1000000) // l.n_lines <= 300000) AND
           (((b.top).c * (b.top).bl * 1000000) // b.bg_chars <= 200000)
             AS keep
    FROM lstat l JOIN bstat b USING (doc_id)
    ORDER BY l.doc_id
    """,
)
def q453(spark, sf_dir):
    """Gopher REPETITION filters (Rae et al. 2021 §A1.1 — the
    other half of the quality gate q430's length/symbol/stop-word rules
    don't cover): duplicate-line fraction (count- and character-
    weighted, lines = the repo's 7-word shred, q431/q433 convention)
    and top-2-gram character fraction, as exact ppm integers plus the
    paper's keep thresholds (dup-line ≤ 30 %, top-bigram chars ≤ 20 %).

    Scale shape (round-11 hash-key discipline from birth): line stats
    are a PURE PROJECTION — the 7-word slices hash to 64-bit
    signatures inside a transform over the words array, and dup
    detection is array_sort + adjacent-equality (O(n log n) row-local,
    safe for a million-word document), so the line tier adds ZERO
    exchanges.  Bigram stats
    explode to (doc_id, xxhash64(bigram)) — 8-byte keys, never the
    bigram text — into one (doc, hash)-keyed count and a doc-keyed
    max/sum.  The oracle groups the actual line and bigram STRINGS, so
    hash collisions or slice-boundary drift would hash-mismatch.

    Ties for the top bigram need no text tiebreak at all: the output
    only uses the winner's count × char-weight, which is identical
    across any (count, char-weight) tie — so the bigram TEXT never
    crosses an exchange on either engine's plan."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    n_lines = F.expr("CAST(ceil(size(split(text, ' ')) / 7.0) AS INT)")
    # per-line (hash, char-length) structs — row-local, no exchange
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.struct(
            F.xxhash64(
                F.concat_ws(" ", F.slice(words, i * 7 + 1, 7))
            ).alias("h"),
            F.length(
                F.concat_ws(" ", F.slice(words, i * 7 + 1, 7))
            ).cast("bigint").alias("ln"),
        ),
    )
    # dup detection is SORT + adjacent-equality over the hash array —
    # O(n log n) per doc instead of the naive all-pairs filter, so a
    # pathological million-word document stays row-local-cheap
    base = docs.select(
        "doc_id", "text", F.array_sort(lines).alias("S")
    )
    n_l = F.size("S")
    dup_flags = F.transform(
        F.sequence(F.lit(1), n_l),
        lambda i: F.struct(
            (
                F.when(
                    i > 1,
                    F.element_at("S", i)["h"]
                    == F.element_at("S", i - 1)["h"],
                ).otherwise(F.lit(False))
                | F.when(
                    i < n_l,
                    F.element_at("S", i)["h"]
                    == F.element_at("S", i + 1)["h"],
                ).otherwise(F.lit(False))
            ).alias("d"),
            F.element_at("S", i)["ln"].alias("ln"),
        ),
    )
    lstat = base.select(
        "doc_id",
        "text",
        n_l.cast("bigint").alias("n_lines"),
        F.aggregate(
            dup_flags,
            F.lit(0).cast("bigint"),
            lambda a, x: a + F.when(x["d"], 1).otherwise(0),
        ).alias("dup_lines"),
        F.aggregate(
            F.col("S"),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x["ln"],
        ).alias("line_chars"),
        F.aggregate(
            dup_flags,
            F.lit(0).cast("bigint"),
            lambda a, x: a + F.when(x["d"], x["ln"]).otherwise(0),
        ).alias("dup_line_chars"),
    )
    # bigram tier: hash IN THE PROJECTION (zip_with over shifted array
    # slices — no window, so no pre-hash shuffle of raw words), then
    # explode only the 8-byte (hash, len) pairs
    pair_structs = F.zip_with(
        F.slice(words, 1, F.greatest(n_words - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(n_words - 1, F.lit(0))),
        lambda a, b: F.struct(
            F.xxhash64(F.concat_ws(" ", a, b)).alias("bh"),
            (F.length(a) + F.length(b)).cast("bigint").alias("bl"),
        ),
    )
    bg = docs.select("doc_id", F.explode(pair_structs).alias("b")).select(
        "doc_id", F.col("b.bh").alias("bh"), F.col("b.bl").alias("bl")
    )
    bgc = bg.groupBy("doc_id", "bh").agg(
        F.count(F.lit(1)).alias("c"),
        F.min("bl").alias("bl"),
    )
    bstat = bgc.groupBy("doc_id").agg(
        F.max("c").cast("bigint").alias("top_bigram_count"),
        (
            F.max(F.struct("c", "bl"))["c"]
            * F.max(F.struct("c", "bl"))["bl"]
        ).cast("bigint").alias("top_bg_chars"),
        F.sum(F.col("c") * F.col("bl")).cast("bigint").alias("bg_chars"),
    )
    out = lstat.join(bstat, "doc_id")
    dlp = F.expr("dup_lines * 1000000 DIV n_lines")
    dlcp = F.expr("dup_line_chars * 1000000 DIV line_chars")
    tbcp = F.expr("top_bg_chars * 1000000 DIV bg_chars")
    return out.select(
        "doc_id",
        "n_lines",
        dlp.alias("dup_line_ppm"),
        dlcp.alias("dup_line_char_ppm"),
        "top_bigram_count",
        tbcp.alias("top_bigram_char_ppm"),
        ((dlp <= 300000) & (tbcp <= 200000)).alias("keep"),
    ).orderBy("doc_id")
