"""Sketches, array combinators, stats, ANN/PQ, encodings (q231-q280).

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
    _stream_fork,
    _t,
)


@query(
    "q231_array_fold",
    """
    WITH d AS (
      SELECT doc_id,
             list_transform(
               list_slice(list_filter(string_split(lower(text), ' '),
                                      x -> x <> ''), 1, 12),
               w -> CAST(length(w) AS BIGINT)) AS lens
      FROM documents WHERE doc_id % 9 = 2
    )
    SELECT doc_id,
           CAST(len(lens) AS INT) AS n_words,
           list_reduce(list_prepend(CAST(0 AS BIGINT), lens),
                       (acc, x) -> (acc * 31 + x) % 1000003) AS fold_hash,
           list_reduce(list_prepend(CAST(0 AS BIGINT), lens),
                       (acc, x) -> greatest(acc, x)) AS fold_max
    FROM d
    """,
)
def q231(spark, sf_dir):
    """ClickHouse ``arrayFold`` — a general left fold over an array with
    an explicit initial accumulator, here a 31-polynomial rolling hash
    (mod 1 000 003 each step so the accumulator never overflows) and a
    running max over the first-12 word lengths.  Spark's ``F.aggregate``
    IS arrayFold (initial + merge lambda); DuckDB's ``list_reduce`` has
    no initial value, so the oracle prepends the identity element — the
    two spellings are then step-for-step identical.  All native
    higher-order expressions: zero shuffle, whole-stage codegen."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 9 == 2)
    lens = F.transform(
        F.slice(
            F.filter(
                F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit("")
            ),
            1,
            12,
        ),
        lambda w: F.length(w).cast("bigint"),
    )
    d = d.select("doc_id", lens.alias("lens"))
    fold_hash = F.aggregate(
        "lens",
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * 31 + x) % 1000003,
    )
    fold_max = F.aggregate(
        "lens", F.lit(0).cast("bigint"), lambda acc, x: F.greatest(acc, x)
    )
    return d.select(
        "doc_id",
        F.size("lens").alias("n_words"),
        fold_hash.alias("fold_hash"),
        fold_max.alias("fold_max"),
    )


@query(
    "q232_sparkbar",
    """
    WITH c AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type, MAX(n) AS mx FROM c GROUP BY 1
    )
    SELECT c.event_type,
           CAST(COUNT(*) AS INT) AS n_days,
           string_agg(
             chr(9600 + CAST(greatest(1.0,
               ceil(CAST(c.n AS DOUBLE) * 8.0 / CAST(m.mx AS DOUBLE)))
               AS INT)), '' ORDER BY c.day) AS bar
    FROM c JOIN m ON c.event_type = m.event_type
    GROUP BY c.event_type
    """,
)
def q232(spark, sf_dir):
    """ClickHouse ``sparkbar`` — the inline unicode bar chart aggregate:
    per event_type, daily counts rendered as ▁▂▃▄▅▆▇█ (block element
    U+2581..U+2588 = level 1..8, level = ceil(8·n/max)).  Ordering
    inside an aggregate differs by engine — Spark's collect_list has no
    ORDER BY, DuckDB's string_agg does — so the Spark side sorts an
    array of (day, level) structs (array_sort is total on structs) and
    transforms to characters; the oracle uses the ordered string_agg.
    The level math is small-integer-exact double arithmetic, identical
    on both engines.  One shuffle (the daily pre-aggregation); the
    per-group state is days × 16 bytes."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    m = c.groupBy("event_type").agg(F.max("n").alias("mx"))
    j = c.join(m, "event_type")
    level = F.greatest(
        F.lit(1.0),
        F.ceil(F.col("n").cast("double") * 8.0 / F.col("mx").cast("double")),
    ).cast("int")
    j = j.select("event_type", F.struct("day", level.alias("lv")).alias("e"))
    # explicit U+2581..U+2588 ramp: Spark's char()/chr() is the ASCII
    # function (mods the code point by 256), so the block elements are
    # indexed from a literal array instead
    ramp = F.array(*[F.lit(chr(0x2580 + i)) for i in range(1, 9)])
    return (
        j.groupBy("event_type")
        .agg(F.array_sort(F.collect_list("e")).alias("es"))
        .select(
            "event_type",
            F.size("es").alias("n_days"),
            F.concat_ws(
                "",
                F.transform("es", lambda e: F.element_at(ramp, e["lv"])),
            ).alias("bar"),
        )
    )


@query(
    "q233_group_array_intersect",
    """
    WITH d AS (
      SELECT doc_id, user_id % 40 AS grp,
             list_distinct(list_filter(string_split(lower(text), ' '),
                                       x -> length(x) >= 6)) AS ws
      FROM (SELECT doc_id, doc_id AS user_id, text FROM documents
            WHERE doc_id % 3 = 1)
    ), x AS (
      SELECT grp, w, COUNT(DISTINCT doc_id) AS n_docs
      FROM d, LATERAL (SELECT unnest(ws) AS w) u
      GROUP BY grp, w
    ), sz AS (
      SELECT grp, COUNT(*) AS n FROM d GROUP BY grp
    )
    SELECT x.grp,
           CAST(sz.n AS BIGINT) AS n_docs,
           COALESCE(array_to_string(array_sort(
             list(w) FILTER (WHERE x.n_docs = sz.n)), ','), '')
             AS common_csv
    FROM x JOIN sz ON x.grp = sz.grp
    GROUP BY x.grp, sz.n
    """,
)
def q233(spark, sf_dir):
    """ClickHouse ``groupArrayIntersect`` — the aggregate that
    intersects an array column ACROSS rows (elements present in every
    row of the group).  No fold over collected arrays (that would pull
    whole groups into one task): explode to (group, element, doc),
    distinct, count per (group, element), and keep elements whose doc
    count equals the group size — two hash aggregations, fully
    distributed, the shape that survives groups of millions of rows.
    Export as sorted CSV (array-export rule).  Words ≥ 6 chars and
    ~4-doc groups (doc_id % 40) make the fixture non-trivial: 32 of 40
    groups intersect non-empty at sf0.01, the rest pin the empty case
    (left join + '')."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 1)
        .select(
            "doc_id",
            (F.col("doc_id") % 40).alias("grp"),
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.col("text")), " "),
                    lambda x: F.length(x) >= 6,
                )
            ).alias("ws"),
        )
    )
    sz = d.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
    x = (
        d.select("grp", "doc_id", F.explode("ws").alias("w"))
        .distinct()
        .groupBy("grp", "w")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    common = (
        x.join(F.broadcast(sz), "grp")
        .filter(F.col("n_docs") == F.col("n"))
        .groupBy("grp", "n")
        .agg(F.array_sort(F.collect_list("w")).alias("ws"))
        .select("grp", "n", F.concat_ws(",", "ws").alias("common_csv"))
    )
    # groups whose intersection is empty still appear (left join + '')
    return (
        sz.join(common.drop("n"), "grp", "left")
        .select(
            "grp",
            F.col("n").cast("bigint").alias("n_docs"),
            F.coalesce("common_csv", F.lit("")).alias("common_csv"),
        )
    )


@query(
    "q234_format_readable",
    """
    WITH src AS (
      SELECT event_id,
             event_id * event_id % 2147483647 AS b,
             event_id * 37 % 5000000 AS q
      FROM events WHERE event_id % 101 = 7
    ), r AS (
      SELECT event_id, b, q,
             CAST(floor((CAST(b AS DOUBLE) * 200.0 + 1073741824.0)
                        / 2147483648.0) AS BIGINT) AS g100,
             CAST(floor((CAST(b AS DOUBLE) * 200.0 + 1048576.0)
                        / 2097152.0) AS BIGINT) AS m100,
             CAST(floor((CAST(b AS DOUBLE) * 200.0 + 1024.0)
                        / 2048.0) AS BIGINT) AS k100,
             CAST(floor((CAST(q AS DOUBLE) * 200.0 + 1000000.0)
                        / 2000000.0) AS BIGINT) AS mm100,
             CAST(floor((CAST(q AS DOUBLE) * 200.0 + 1000.0)
                        / 2000.0) AS BIGINT) AS t100
      FROM src
    )
    SELECT event_id,
           CASE
             WHEN b >= 1073741824 THEN
               CAST(g100 // 100 AS VARCHAR) || '.'
               || lpad(CAST(g100 % 100 AS VARCHAR), 2, '0') || ' GiB'
             WHEN b >= 1048576 THEN
               CAST(m100 // 100 AS VARCHAR) || '.'
               || lpad(CAST(m100 % 100 AS VARCHAR), 2, '0') || ' MiB'
             WHEN b >= 1024 THEN
               CAST(k100 // 100 AS VARCHAR) || '.'
               || lpad(CAST(k100 % 100 AS VARCHAR), 2, '0') || ' KiB'
             ELSE CAST(b AS VARCHAR) || ' B'
           END AS size_readable,
           CASE
             WHEN q >= 1000000 THEN
               CAST(mm100 // 100 AS VARCHAR) || '.'
               || lpad(CAST(mm100 % 100 AS VARCHAR), 2, '0') || ' million'
             WHEN q >= 1000 THEN
               CAST(t100 // 100 AS VARCHAR) || '.'
               || lpad(CAST(t100 % 100 AS VARCHAR), 2, '0') || ' thousand'
             ELSE CAST(q AS VARCHAR)
           END AS qty_readable
    FROM r
    """,
)
def q234(spark, sf_dir):
    """ClickHouse ``formatReadableSize`` / ``formatReadableQuantity`` —
    human-readable scaling with CH's fixed two-decimal rendering
    ('14.10 MiB', '142.27 thousand').  The rounded hundredths are
    computed in EXACT integer arithmetic — r100 = floor((v·200 +
    divisor) / (2·divisor)), half-up by construction, with every
    intermediate < 2^53 so the double floor is exact — because
    round(double, 2) diverges between engines on .xx5 ties (Spark
    rounds the decimal string, DuckDB the binary double; measured on
    142.265 → 142.27 vs 142.26).  The digits are then assembled with
    intpart || '.' || lpad(frac) — identical rendering by construction,
    no float formatting anywhere.  Zero shuffle — a projection."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 101 == 7)
    b = (F.col("event_id") * F.col("event_id") % 2147483647).alias("b")
    q = (F.col("event_id") * 37 % 5000000).alias("q")
    d = ev.select("event_id", b, q)

    def r100(col, div):
        return F.floor(
            (F.col(col).cast("double") * 200.0 + float(div)) / (2.0 * div)
        ).cast("bigint")

    def render(r, suffix):
        return F.concat(
            (r / 100).cast("bigint").cast("string"),
            F.lit("."),
            F.lpad((r % 100).cast("string"), 2, "0"),
            F.lit(suffix),
        )

    def readable(col, units, plain_suffix=""):
        out = F.concat(F.col(col).cast("string"), F.lit(plain_suffix))
        for thresh, suffix in reversed(units):
            out = F.when(
                F.col(col) >= thresh, render(r100(col, thresh), suffix)
            ).otherwise(out)
        return out

    size_units = [
        (1073741824, " GiB"),
        (1048576, " MiB"),
        (1024, " KiB"),
    ]
    qty_units = [(1000000, " million"), (1000, " thousand")]
    return d.select(
        "event_id",
        readable("b", size_units, " B").alias("size_readable"),
        readable("q", qty_units).alias("qty_readable"),
    )


@query(
    "q235_vector_distances",
    """
    WITH p AS (
      SELECT a.vec_id,
             a.embedding AS va, b.embedding AS vb
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id % 4 = 0
    ), z AS (
      SELECT vec_id,
             list_transform(range(1, len(va) + 1),
               i -> CAST(va[i] AS DOUBLE) - CAST(vb[i] AS DOUBLE)) AS d,
             list_transform(range(1, len(va) + 1),
               i -> CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)) AS pr,
             list_transform(va, x -> CAST(x AS DOUBLE)) AS da,
             list_transform(vb, x -> CAST(x AS DOUBLE)) AS db
      FROM p
    )
    SELECT vec_id,
           round(list_reduce(list_prepend(0.0,
             list_transform(d, x -> abs(x))), (a, x) -> a + x), 6) AS l1,
           round(sqrt(list_reduce(list_prepend(0.0,
             list_transform(d, x -> x * x)), (a, x) -> a + x)), 6) AS l2,
           round(list_reduce(list_prepend(0.0,
             list_transform(d, x -> abs(x))), (a, x) -> greatest(a, x)), 6)
             AS linf,
           round(list_reduce(list_prepend(0.0, pr), (a, x) -> a + x), 6)
             AS dot_product,
           round(1.0 - list_reduce(list_prepend(0.0, pr), (a, x) -> a + x)
             / (sqrt(list_reduce(list_prepend(0.0,
                  list_transform(da, x -> x * x)), (a, x) -> a + x))
                * sqrt(list_reduce(list_prepend(0.0,
                    list_transform(db, x -> x * x)), (a, x) -> a + x))), 6)
             AS cosine_distance
    FROM z
    """,
)
def q235(spark, sf_dir):
    """ClickHouse vector distance family — L1Distance / L2Distance /
    LinfDistance / dotProduct / cosineDistance — over ``array<float>``
    embeddings as NATIVE higher-order expressions (zip_with for the
    elementwise combine, F.aggregate for the sequential left fold whose
    summation ORDER matches DuckDB's list_reduce fold exactly — the
    functions/vectors.py determinism rule, so the doubles agree
    bit-for-bit before the 6-dp export rounding).  Pairs are consecutive
    vec_ids via a self-join; at 100 TB the distance kernel itself is a
    zero-shuffle projection — the join is whatever pairing the workload
    implies (here equi on vec_id+1, broadcast-able for bounded query
    sets, q41's shape)."""
    from ..functions.vectors import dot, norm, to_double

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 4 == 0).select(
        "vec_id", F.col("embedding").alias("va")
    )
    b = emb.select((F.col("vec_id") - 1).alias("vec_id"),
                   F.col("embedding").alias("vb"))
    p = a.join(b, "vec_id")
    da, db = to_double(F.col("va")), to_double(F.col("vb"))
    d = F.zip_with(da, db, lambda x, y: x - y)
    absd = F.transform(d, lambda x: F.abs(x))
    l1 = F.aggregate(absd, F.lit(0.0), lambda acc, x: acc + x)
    l2 = F.sqrt(
        F.aggregate(
            F.transform(d, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    linf = F.aggregate(absd, F.lit(0.0), lambda acc, x: F.greatest(acc, x))
    dp = dot(da, db)
    cosd = F.lit(1.0) - dp / (norm(da) * norm(db))
    return p.select(
        "vec_id",
        F.round(l1, 6).alias("l1"),
        F.round(l2, 6).alias("l2"),
        F.round(linf, 6).alias("linf"),
        F.round(dp, 6).alias("dot_product"),
        F.round(cosd, 6).alias("cosine_distance"),
    )


@query(
    "q236_anova",
    """
    WITH m AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS s1,
             SUM(CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                 * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS DECIMAL(38,0))) AS s2
      FROM events GROUP BY event_type
    ), t AS (
      SELECT COUNT(*) AS k, SUM(n) AS nn, SUM(s1) AS g1, SUM(s2) AS g2,
             SUM(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                 / CAST(n AS DOUBLE)) AS bterm
      FROM m
    )
    SELECT CAST(k AS INT) AS k, CAST(nn AS BIGINT) AS n,
           round((bterm - CAST(g1 AS DOUBLE) * CAST(g1 AS DOUBLE)
                          / CAST(nn AS DOUBLE))
                 / (CAST(k AS DOUBLE) - 1.0)
                 / NULLIF((CAST(g2 AS DOUBLE) - bterm)
                          / (CAST(nn AS DOUBLE) - CAST(k AS DOUBLE)), 0.0), 6)
             AS f_stat,
           CAST(k - 1 AS BIGINT) AS dof_between,
           CAST(nn - k AS BIGINT) AS dof_within
    FROM t
    """,
)
def q236(spark, sf_dir):
    """ClickHouse ``analysisOfVariance`` (one-way ANOVA F) — does mean
    spend differ across event types?  F = (SSB/(k−1)) / (SSW/(N−k))
    with SSB = Σ s1_g²/n_g − S1²/N and SSW = Σ s2_g − Σ s1_g²/n_g, all
    from the same exact integer moments the t-test family uses (s2
    widened to DECIMAL(38,0), q212 rule).  Two-level aggregation: the
    data-sized shuffle is the per-group moment pass; the second agg
    reduces k=5 rows, where the one float sum (Σ s1²/n over groups)
    follows the q216 precedent — a tiny cross-group double sum under
    the 6-dp export rule.  NULLIF guards the zero-within-variance
    degenerate case (q196 rule)."""
    ev = _t(spark, sf_dir, "events")
    cents = (_dec("value") * 100).cast("bigint")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s1"),
        F.sum((cents * cents).cast("decimal(38,0)")).alias("s2"),
    )
    nd = F.col("n").cast("double")
    s1d = F.col("s1").cast("double")
    t = m.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s1").alias("g1"),
        F.sum("s2").alias("g2"),
        F.sum(s1d * s1d / nd).alias("bterm"),
    )
    kd = F.col("k").cast("double")
    nnd = F.col("nn").cast("double")
    ssb = F.col("bterm") - F.col("g1").cast("double") * F.col("g1").cast(
        "double"
    ) / nnd
    ssw = F.col("g2").cast("double") - F.col("bterm")
    f_stat = (ssb / (kd - F.lit(1.0))) / F.nullif(
        ssw / (nnd - kd), F.lit(0.0)
    )
    return t.select(
        F.col("k").cast("int").alias("k"),
        F.col("nn").cast("bigint").alias("n"),
        F.round(f_stat, 6).alias("f_stat"),
        (F.col("k") - 1).cast("bigint").alias("dof_between"),
        (F.col("nn") - F.col("k")).cast("bigint").alias("dof_within"),
    )


@query(
    "q237_cramers_v_bias_corrected",
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
           round(sqrt(
             greatest(0.0,
               chi.chi2 / CAST(t.n AS DOUBLE)
               - (CAST(t.r AS DOUBLE) - 1.0) * (CAST(t.c AS DOUBLE) - 1.0)
                 / (CAST(t.n AS DOUBLE) - 1.0))
             / NULLIF(least(
                 CAST(t.r AS DOUBLE)
                 - (CAST(t.r AS DOUBLE) - 1.0) * (CAST(t.r AS DOUBLE) - 1.0)
                   / (CAST(t.n AS DOUBLE) - 1.0),
                 CAST(t.c AS DOUBLE)
                 - (CAST(t.c AS DOUBLE) - 1.0) * (CAST(t.c AS DOUBLE) - 1.0)
                   / (CAST(t.n AS DOUBLE) - 1.0)) - 1.0, 0.0)), 6)
             AS cramers_v_bc
    FROM chi CROSS JOIN tot t
    """,
)
def q237(spark, sf_dir):
    """ClickHouse ``cramersVBiasCorrected`` — Bergsma's small-sample
    correction on q216's Cramér's V: φ²_corr = max(0, χ²/n −
    (r−1)(c−1)/(n−1)), r̃ = r − (r−1)²/(n−1), c̃ = c − (c−1)²/(n−1),
    V = √(φ²_corr / (min(r̃, c̃) − 1)).  Same exact-integer contingency
    cells and broadcast-joined marginals as q216; only the epilogue
    differs — shared 6-dp rule, greatest(0, ·) for the truncation the
    estimator defines, NULLIF for the degenerate 1×1 table."""
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
    nd = F.col("n").cast("double")
    rd = F.col("r").cast("double")
    cd = F.col("c").cast("double")
    phi2c = F.greatest(
        F.lit(0.0),
        F.col("chi2") / nd - (rd - 1.0) * (cd - 1.0) / (nd - 1.0),
    )
    r_t = rd - (rd - 1.0) * (rd - 1.0) / (nd - 1.0)
    c_t = cd - (cd - 1.0) * (cd - 1.0) / (nd - 1.0)
    v = F.sqrt(phi2c / F.nullif(F.least(r_t, c_t) - 1.0, F.lit(0.0)))
    return chi.crossJoin(F.broadcast(tot)).select(
        F.col("n").cast("bigint").alias("n"),
        F.round(v, 6).alias("cramers_v_bc"),
    )


@query(
    "q238_geohash_encode",
    """
    SELECT event_id,
           {gh9} AS geohash9,
           {gh4} AS geohash4
    FROM (
      SELECT event_id,
             CAST(((user_id * 7 + event_id) % 2000) - 1000 AS DOUBLE) / 20.0
               AS lat,
             CAST((event_id % 2000) - 1000 AS DOUBLE) / 10.0 AS lon
      FROM events WHERE event_id % 499 = 11
    )
    """.format(
        gh9=_geo.sql_geohash_encode("lat", "lon", 9),
        gh4=_geo.sql_geohash_encode("lat", "lon", 4),
    ),
)
def q238(spark, sf_dir):
    """ClickHouse ``geohashEncode`` — closed-form native bit assembly
    (functions/geo.py:geohash_encode): the k-th bisection bit of a
    coordinate is floor(frac·2^(k+1)) mod 2 directly, so the whole
    geohash is one projection — no fold, no UDF, no shuffle.  Column
    expression and oracle SQL are generated from the SAME formula
    (the q201 pointInPolygon rule); the bit math itself is additionally
    pinned against the canonical published vectors (u4pruydqqvj) in
    tests/test_geo.py, independent of the oracle.  Same q201 fixture
    grid (lat = py/20 ∈ [-50,50], lon = px/10 ∈ [-100,100])."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 499 == 11)
    lat = (
        ((F.col("user_id") * 7 + F.col("event_id")) % 2000) - 1000
    ).cast("double") / 20.0
    lon = ((F.col("event_id") % 2000) - 1000).cast("double") / 10.0
    return ev.select(
        "event_id",
        _geo.geohash_encode(lat, lon, 9).alias("geohash9"),
        _geo.geohash_encode(lat, lon, 4).alias("geohash4"),
    )


@query(
    "q239_geohash_decode",
    """
    WITH pts AS (
      SELECT event_id,
             CAST(((user_id * 7 + event_id) % 2000) - 1000 AS DOUBLE) / 20.0
               AS lat,
             CAST((event_id % 2000) - 1000 AS DOUBLE) / 10.0 AS lon
      FROM events WHERE event_id % 499 = 11
    ), enc AS (
      SELECT event_id, lat, lon, {gh} AS gh FROM pts
    )
    SELECT event_id, gh,
           round({dlat}, 6) AS cell_lat,
           round({dlon}, 6) AS cell_lon,
           (abs(lat - {dlat}) <= {half_lat!r}
            AND abs(lon - {dlon}) <= {half_lon!r}) AS within_cell
    FROM enc
    """.format(
        gh=_geo.sql_geohash_encode("lat", "lon", 7),
        dlat=_geo.sql_geohash_decode("gh", 7)[0],
        dlon=_geo.sql_geohash_decode("gh", 7)[1],
        half_lat=180.0 / 2**17 / 2 * 1.0000001,
        half_lon=360.0 / 2**18 / 2 * 1.0000001,
    ),
)
def q239(spark, sf_dir):
    """ClickHouse ``geohashDecode`` — the closed-form inverse of q238:
    base32 chars → interleaved bits → cell indices → CELL CENTER.  The
    query is an encode→decode round trip on the q201 fixture grid with
    a pinned ``within_cell`` boolean (|coord − center| ≤ half the cell
    span, with a 1e-7 relative slack for the double multiply): a
    decoder bit-reversal or interleave error throws the center a whole
    cell away and flips the flag.  Both directions are pure projections
    generated from one formula on each engine."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 499 == 11)
    lat = (
        ((F.col("user_id") * 7 + F.col("event_id")) % 2000) - 1000
    ).cast("double") / 20.0
    lon = ((F.col("event_id") % 2000) - 1000).cast("double") / 10.0
    enc = ev.select(
        "event_id",
        lat.alias("lat"),
        lon.alias("lon"),
        _geo.geohash_encode(lat, lon, 7).alias("gh"),
    )
    dlat, dlon = _geo.geohash_decode(F.col("gh"), 7)
    half_lat = 180.0 / 2**17 / 2 * 1.0000001
    half_lon = 360.0 / 2**18 / 2 * 1.0000001
    return enc.select(
        "event_id",
        "gh",
        F.round(dlat, 6).alias("cell_lat"),
        F.round(dlon, 6).alias("cell_lon"),
        (
            (F.abs(F.col("lat") - dlat) <= half_lat)
            & (F.abs(F.col("lon") - dlon) <= half_lon)
        ).alias("within_cell"),
    )


@query(
    "q240_ngram_overlap_metrics",
    """
    WITH pairs AS (
      SELECT a.doc_id,
             list_filter(string_split(lower(a.text), ' '), x -> x <> '') AS cw,
             list_filter(string_split(lower(b.text), ' '), x -> x <> '') AS rw
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 6 = 0
    ), uni AS (
      SELECT doc_id, SUM(clip) AS clip1 FROM (
        SELECT p.doc_id, t.w,
               least(COUNT(*) FILTER (WHERE t.side = 'c'),
                     COUNT(*) FILTER (WHERE t.side = 'r')) AS clip
        FROM pairs p, LATERAL (
          SELECT unnest(p.cw) AS w, 'c' AS side
          UNION ALL
          SELECT unnest(p.rw) AS w, 'r' AS side) t
        GROUP BY p.doc_id, t.w
      ) GROUP BY doc_id
    ), big AS (
      SELECT doc_id, SUM(clip) AS clip2 FROM (
        SELECT p.doc_id, t.g,
               least(COUNT(*) FILTER (WHERE t.side = 'c'),
                     COUNT(*) FILTER (WHERE t.side = 'r')) AS clip
        FROM pairs p, LATERAL (
          SELECT unnest(list_transform(range(1, len(p.cw)),
                   i -> p.cw[i] || ' ' || p.cw[i + 1])) AS g, 'c' AS side
          UNION ALL
          SELECT unnest(list_transform(range(1, len(p.rw)),
                   i -> p.rw[i] || ' ' || p.rw[i + 1])) AS g, 'r' AS side) t
        GROUP BY p.doc_id, t.g
      ) GROUP BY doc_id
    )
    SELECT p.doc_id,
           CAST(len(p.cw) AS BIGINT) AS n_cand,
           CAST(len(p.rw) AS BIGINT) AS n_ref,
           CAST(COALESCE(u.clip1, 0) AS BIGINT) AS clip1,
           round(CAST(COALESCE(u.clip1, 0) AS DOUBLE)
                 / CAST(len(p.cw) AS DOUBLE), 6) AS bleu1_precision,
           round(CAST(COALESCE(u.clip1, 0) AS DOUBLE)
                 / CAST(len(p.rw) AS DOUBLE), 6) AS rouge1_recall,
           CAST(COALESCE(b.clip2, 0) AS BIGINT) AS clip2,
           round(CAST(COALESCE(b.clip2, 0) AS DOUBLE)
                 / CAST(len(p.cw) - 1 AS DOUBLE), 6) AS bleu2_precision
    FROM pairs p
    LEFT JOIN uni u ON u.doc_id = p.doc_id
    LEFT JOIN big b ON b.doc_id = p.doc_id
    """,
)
def q240(spark, sf_dir):
    """N-gram overlap evaluation metrics — clipped-count BLEU-1/BLEU-2
    precision and ROUGE-1 recall between candidate/reference document
    pairs, the eval-harness primitive a training-data pipeline runs at
    corpus scale (model outputs vs references).

    The clipped count Σ_w min(count_cand(w), count_ref(w)) is computed
    DISTRIBUTED: explode both sides tagged c/r, one conditional-count
    aggregation per (pair, gram), least() of the two counts, sum per
    pair — no per-pair Python, no multiset intersection in one task, so
    a 1 M-token document costs the same per-row work as a tweet.  The
    ratios are exact-integer / exact-integer divisions rounded 6 dp.
    Bigrams come from zip_with over the array and its shift — the
    gram constructor both engines share."""
    d = _t(spark, sf_dir, "documents")
    tok = lambda c: F.filter(  # noqa: E731
        F.split(F.lower(c), " "), lambda x: x != F.lit("")
    )
    a = d.filter(F.col("doc_id") % 6 == 0).select(
        "doc_id", tok(F.col("text")).alias("cw")
    )
    b = d.select((F.col("doc_id") - 1).alias("doc_id"),
                 tok(F.col("text")).alias("rw"))
    pairs = a.join(b, "doc_id")

    def bigrams(col):
        n = F.size(col)
        return F.zip_with(
            F.slice(col, 1, n - 1),
            F.slice(col, 2, n - 1),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )

    def clipped(gram_col_c, gram_col_r, out_name):
        c = pairs.select(
            "doc_id", F.explode(gram_col_c).alias("g"), F.lit("c").alias("side")
        )
        r = pairs.select(
            "doc_id", F.explode(gram_col_r).alias("g"), F.lit("r").alias("side")
        )
        both = c.unionByName(r)
        per_gram = both.groupBy("doc_id", "g").agg(
            F.least(
                F.count(F.when(F.col("side") == "c", 1)),
                F.count(F.when(F.col("side") == "r", 1)),
            ).alias("clip")
        )
        return per_gram.groupBy("doc_id").agg(F.sum("clip").alias(out_name))

    uni = clipped(F.col("cw"), F.col("rw"), "clip1")
    big = clipped(bigrams(F.col("cw")), bigrams(F.col("rw")), "clip2")
    out = (
        pairs.join(uni, "doc_id", "left")
        .join(big, "doc_id", "left")
        .select(
            "doc_id",
            F.size("cw").cast("bigint").alias("n_cand"),
            F.size("rw").cast("bigint").alias("n_ref"),
            F.coalesce("clip1", F.lit(0)).cast("bigint").alias("clip1"),
            F.round(
                F.coalesce("clip1", F.lit(0)).cast("double")
                / F.size("cw").cast("double"),
                6,
            ).alias("bleu1_precision"),
            F.round(
                F.coalesce("clip1", F.lit(0)).cast("double")
                / F.size("rw").cast("double"),
                6,
            ).alias("rouge1_recall"),
            F.coalesce("clip2", F.lit(0)).cast("bigint").alias("clip2"),
            F.round(
                F.coalesce("clip2", F.lit(0)).cast("double")
                / (F.size("cw") - 1).cast("double"),
                6,
            ).alias("bleu2_precision"),
        )
    )
    return out


@query(
    "q241_window_funnel_strict",
    """
    WITH coded AS (
      SELECT user_id,
             CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                  WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                  ELSE 'e' END AS code,
             ts, event_id
      FROM events
    ), s AS (
      SELECT user_id,
             string_agg(code, '' ORDER BY ts, event_id) AS seq
      FROM coded GROUP BY user_id
    )
    SELECT user_id,
           CAST(CASE
             WHEN regexp_matches(seq, 'v.*c.*p') THEN 3
             WHEN regexp_matches(seq, 'v.*c') THEN 2
             WHEN regexp_matches(seq, 'v') THEN 1
             ELSE 0 END AS INT) AS level_loose,
           CAST(CASE
             WHEN regexp_matches(seq, 'v[^vcp]*c[^vcp]*p') THEN 3
             WHEN regexp_matches(seq, 'v[^vcp]*c') THEN 2
             WHEN regexp_matches(seq, 'v') THEN 1
             ELSE 0 END AS INT) AS level_strict_order
    FROM s
    """,
)
def q241(spark, sf_dir):
    """ClickHouse ``windowFunnel(... , 'strict_order')`` — the funnel
    mode where an intervening FUNNEL-STEP event out of order breaks the
    chain (a second view or an early purchase between view and click
    kills the v→c advance), next to the loose ordered level for
    contrast.  Built on the q207 total-ordered event-string technique:
    one character per event, string assembled in exact (ts, event_id)
    order, and each strictness mode is ONE regex — strict_order's
    'no interruption' is precisely the [^vcp]* gap class.  One shuffle
    (the per-user string agg); the regex scan is linear per user.  The
    oracle shares the string construction and the identical regex
    (both engines' regex dialects agree on char classes)."""
    ev = _t(spark, sf_dir, "events")
    code = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    coded = ev.select(
        "user_id", F.struct("ts", "event_id", code.alias("code")).alias("e")
    )
    s = coded.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("e")), lambda x: x["code"]
            ),
            "",
        ).alias("seq")
    )

    def level(p3, p2):
        return (
            F.when(F.col("seq").rlike(p3), 3)
            .when(F.col("seq").rlike(p2), 2)
            .when(F.col("seq").rlike("v"), 1)
            .otherwise(0)
            .cast("int")
        )

    return s.select(
        "user_id",
        level("v.*c.*p", "v.*c").alias("level_loose"),
        level("v[^vcp]*c[^vcp]*p", "v[^vcp]*c").alias("level_strict_order"),
    )


@query(
    "q242_stream_tdigest",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50_exact,
           round(quantile_cont(value, 0.9), 4) AS p90_exact,
           TRUE AS ok_p10, TRUE AS ok_p50, TRUE AS ok_p90,
           TRUE AS state_bounded
    FROM events GROUP BY event_type
    """,
)
def q242(spark, sf_dir):
    """STREAMING t-digest — the exported-state property of q225's sketch
    doing the job it exists for: quantiles over an unbounded stream with
    O(δ) state.  A REAL file-source stream runs to completion with a
    foreachBatch sink that reduces each micro-batch to its per-group
    centroid partials (`tdigest_partials`, raw values never leave their
    batch partitions) and APPENDS the centroids to a store; after the
    stream drains, one merge pass (`tdigest_merge_quantiles`)
    re-clusters the accumulated state — batch boundaries just add one
    more merge level, which the digest's mergeability absorbs.  The
    oracle is the q225 tolerance pattern: exact interpolated quantiles
    plus booleans pinning the streamed digest inside q ∓ 3% rank and
    the merged state under 2δ centroids.  This is the 100 TB streaming
    shape: per-batch work is one narrow pass, accumulated state grows
    as centroid rows per batch (compactable), never as data."""
    import os
    import tempfile

    from ..operators.sketches import tdigest_merge_quantiles, tdigest_partials

    probs = [0.1, 0.5, 0.9]
    tol = 0.03
    lo_hi = []
    for p in probs:
        lo_hi += [max(p - tol, 0.0), min(p + tol, 1.0)]

    ev = _events_stream(spark, sf_dir).select("event_type", "value")
    base = scratch_dir("td_stream_")
    store = os.path.join(base, "centroids")

    def sink(batch_df, _batch_id):
        tdigest_partials(batch_df, "value", ["event_type"], 100.0).write.mode(
            "append"
        ).parquet(store)

    q = (
        reroot(ev, _stream_fork(spark)).writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    td = tdigest_merge_quantiles(
        spark.read.parquet(store), ["event_type"], probs, 100.0
    )
    exact = _t(spark, sf_dir, "events").groupBy("event_type").agg(
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


# =====================================================================
# Round 6 tail: association/CI family completion, theta-sketch set
# algebra, time-decayed window aggregates, sequence/time-series tail
# =====================================================================


@query(
    "q243_contingency",
    """
    WITH cells AS (
      SELECT event_type AS x, user_id % 8 AS y, COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ), rows_t AS (
      SELECT x, SUM(o) AS rx FROM cells GROUP BY 1
    ), cols_t AS (
      SELECT y, SUM(o) AS cy FROM cells GROUP BY 1
    ), tot AS (
      SELECT SUM(o) AS n FROM cells
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
           round(sqrt(chi.chi2 / (chi.chi2 + CAST(t.n AS DOUBLE))), 6)
             AS contingency_coef
    FROM chi CROSS JOIN tot t
    """,
)
def q243(spark, sf_dir):
    """ClickHouse ``contingency`` — Pearson's contingency coefficient
    C = sqrt(chi2 / (chi2 + n)), completing the association family
    (q216 cramersV, q217 theilsU, q237 cramersVBiasCorrected) over the
    same event_type x user-bucket table.  Identical scaffold to q216:
    exact integer contingency cells (one shuffle), row/col totals
    re-derived from the cells, every join a broadcast of a ~40-row
    frame; only the final normalization differs."""
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("x"), (F.col("user_id") % 8).alias("y")
    ).agg(F.count(F.lit(1)).alias("o"))
    rows_t = cells.groupBy("x").agg(F.sum("o").alias("rx"))
    cols_t = cells.groupBy("y").agg(F.sum("o").alias("cy"))
    tot = cells.agg(F.sum("o").alias("n"))
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
    return chi.crossJoin(F.broadcast(tot)).select(
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("chi2"), 6).alias("chi2"),
        F.round(
            F.sqrt(F.col("chi2") / (F.col("chi2") + F.col("n").cast("double"))),
            6,
        ).alias("contingency_coef"),
    )


@query(
    "q244_kmv_theta_distinct",
    """
    SELECT o_orderpriority AS set_expr,
           COUNT(DISTINCT o_custkey) AS exact_distinct,
           TRUE AS within_15pct
    FROM orders GROUP BY 1
    UNION ALL
    SELECT 'URGENT&HIGH' AS set_expr,
           COUNT(*) AS exact_distinct, TRUE AS within_15pct
    FROM (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
          INTERSECT
          SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH') t
    UNION ALL
    SELECT 'URGENT|HIGH' AS set_expr,
           COUNT(DISTINCT o_custkey) AS exact_distinct, TRUE AS within_15pct
    FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    UNION ALL
    SELECT 'URGENT-HIGH' AS set_expr,
           COUNT(*) AS exact_distinct, TRUE AS within_15pct
    FROM (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
          EXCEPT
          SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH') t
    """,
)
def q244(spark, sf_dir):
    """ClickHouse ``uniqTheta`` — KMV/theta distinct sketch with SET
    ALGEBRA (`operators/sketches.py:kmv_*`), the capability HLL (q13,
    q79) lacks: besides per-group distinct estimates, the retained
    k-minimum hashes act as a uniform sample of the distinct universe
    at rate theta, so |A∩B| ~= |{h in both, h < min(theta_a,theta_b)}|
    / theta and A∪B merges by re-trimming the hash union to k.  Level 1
    is O(k) state per (partition, group) via mapInPandas (hashes
    computed JVM-side); level 2 and all set ops are native array
    functions over single sketch rows.  k=1024 -> rel-stddev ~3.1%;
    measured worst case 5.6% at sf0.1, so the 15% envelope is ~5 sigma.
    The oracle pins exact counts and expects literal TRUE for every
    within_15pct — a broken estimator is a hard hash FAIL."""
    from ..operators.sketches import (
        kmv_anotb_estimate,
        kmv_intersect_estimate,
        kmv_sketch,
    )

    K = 1024
    o = _t(spark, sf_dir, "orders")
    sk = kmv_sketch(o, "o_custkey", ["o_orderpriority"], K)
    ex = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    ok = (
        F.abs(F.col("est_distinct") - F.col("exact_distinct"))
        <= 0.15 * F.col("exact_distinct")
    ).alias("within_15pct")
    per = sk.join(ex, "o_orderpriority").select(
        F.col("o_orderpriority").alias("set_expr"), "exact_distinct", ok
    )

    a = sk.filter(F.col("o_orderpriority") == "1-URGENT")
    b = sk.filter(F.col("o_orderpriority") == "2-HIGH")
    inter_est = kmv_intersect_estimate(a, b, K)
    exact_inter = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .intersect(
            o.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
        )
        .agg(F.count(F.lit(1)).alias("exact_distinct"))
    )
    inter_row = exact_inter.crossJoin(F.broadcast(inter_est)).select(
        F.lit("URGENT&HIGH").alias("set_expr"),
        "exact_distinct",
        (
            F.abs(F.col("est_intersect") - F.col("exact_distinct"))
            <= 0.15 * F.col("exact_distinct")
        ).alias("within_15pct"),
    )

    hu = F.slice(
        F.array_sort(F.array_distinct(F.concat("ha", "hb"))), 1, K
    )
    union_est = (
        a.select(F.col("kmv_hashes").alias("ha"))
        .crossJoin(F.broadcast(b.select(F.col("kmv_hashes").alias("hb"))))
        .select(hu.alias("h"))
        .select(
            F.when(F.size("h") < K, F.size("h").cast("double"))
            .otherwise(F.lit(float(K - 1)) / F.element_at("h", K))
            .alias("est_union")
        )
    )
    exact_union = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).agg(F.countDistinct("o_custkey").alias("exact_distinct"))
    union_row = exact_union.crossJoin(F.broadcast(union_est)).select(
        F.lit("URGENT|HIGH").alias("set_expr"),
        "exact_distinct",
        (
            F.abs(F.col("est_union") - F.col("exact_distinct"))
            <= 0.15 * F.col("exact_distinct")
        ).alias("within_15pct"),
    )
    anotb_est = kmv_anotb_estimate(a, b, K)
    exact_anotb = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .subtract(
            o.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
        )
        .agg(F.count(F.lit(1)).alias("exact_distinct"))
    )
    anotb_row = exact_anotb.crossJoin(F.broadcast(anotb_est)).select(
        F.lit("URGENT-HIGH").alias("set_expr"),
        "exact_distinct",
        (
            F.abs(F.col("est_anotb") - F.col("exact_distinct"))
            <= 0.15 * F.col("exact_distinct")
        ).alias("within_15pct"),
    )
    return (
        per.unionByName(inter_row)
        .unionByName(union_row)
        .unionByName(anotb_row)
    )


@query(
    "q245_time_decayed_agg",
    """
    WITH ev AS (
      SELECT event_id, event_type, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS tsec
      FROM events
      WHERE event_type IN ('click', 'error')
        AND value IS NOT NULL AND ts IS NOT NULL
    ), win AS (
      SELECT event_id, event_type, value, tsec,
             list({'t': tsec, 'v': value}) OVER (
               PARTITION BY event_type ORDER BY tsec
               RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS fr
      FROM ev
    )
    SELECT event_id, event_type,
           round(list_sum(list_transform(fr,
                 x -> x.v * exp((x.t - tsec) / 600.0))), 4) AS etd_sum,
           round(list_sum(list_transform(fr,
                 x -> exp((x.t - tsec) / 600.0))), 4) AS etd_count,
           round(list_sum(list_transform(fr,
                   x -> x.v * exp((x.t - tsec) / 600.0)))
                 / list_sum(list_transform(fr,
                   x -> exp((x.t - tsec) / 600.0))), 4) AS etd_avg,
           round(list_max(list_transform(fr,
                 x -> x.v * exp((x.t - tsec) / 600.0))), 4) AS etd_max
    FROM win
    """,
)
def q245(spark, sf_dir):
    """ClickHouse ``exponentialTimeDecayedAvg/Sum/Count/Max`` over a
    window frame: each row sees Sum_j v_j*e^((t_j-t_i)/tau) over the
    trailing hour (tau = 600 s), anchored at the CURRENT row's time —
    true time decay, unlike q161's row-count EWMA.  Anchoring at t_i
    keeps every exponent <= 0, so the computation is overflow-free for
    arbitrary time spans (the naive running-sum factorization
    e^(-t_i/tau)*Sum v_j e^(t_j/tau) overflows once the span exceeds
    ~700*tau).  Implementation: RANGE window on integer epoch seconds
    collects the frame's (t, v) structs, then native higher-order
    aggregates reduce them with the row's own t_i in scope — no Python
    anywhere.  Frame arrays are bounded by the horizon's event density,
    and the window partitioning (per event_type) is the same shape CH
    requires; 4-dp rounding absorbs peer-order float noise."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("click", "error")
            & F.col("value").isNotNull()
            & F.col("ts").isNotNull()
        )
        .select(
            "event_id",
            "event_type",
            "value",
            F.unix_timestamp("ts").alias("tsec"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("tsec")
        .rangeBetween(-3600, Window.currentRow)
    )
    df = ev.withColumn(
        "fr",
        F.collect_list(
            F.struct(F.col("tsec").alias("t"), F.col("value").alias("v"))
        ).over(w),
    )
    here = F.col("tsec").cast("double")

    def dec(x):
        return x["v"] * F.exp((x["t"].cast("double") - here) / 600.0)

    def wgt(x):
        return F.exp((x["t"].cast("double") - here) / 600.0)

    s = F.aggregate("fr", F.lit(0.0), lambda acc, x: acc + dec(x))
    c = F.aggregate("fr", F.lit(0.0), lambda acc, x: acc + wgt(x))
    m = F.array_max(F.transform("fr", dec))
    return df.select(
        "event_id",
        "event_type",
        F.round(s, 4).alias("etd_sum"),
        F.round(c, 4).alias("etd_count"),
        F.round(s / c, 4).alias("etd_avg"),
        F.round(m, 4).alias("etd_max"),
    )


@query(
    "q246_categorical_iv",
    """
    WITH base AS (
      SELECT user_id % 16 AS bucket,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS good
      FROM events WHERE user_id IS NOT NULL
    ), cells AS (
      SELECT bucket,
             SUM(good) AS g,
             COUNT(*) - SUM(good) AS b
      FROM base GROUP BY 1
    ), tot AS (
      SELECT SUM(g) AS gt, SUM(b) AS bt FROM cells
    )
    SELECT c.bucket,
           CAST(c.g AS BIGINT) AS n_good,
           CAST(c.b AS BIGINT) AS n_bad,
           round(CASE WHEN c.g = 0 OR c.b = 0 THEN NULL
                 ELSE ln((CAST(c.g AS DOUBLE) / t.gt)
                         / (CAST(c.b AS DOUBLE) / t.bt)) END, 6) AS woe,
           round(CASE WHEN c.g = 0 OR c.b = 0 THEN NULL
                 ELSE (CAST(c.g AS DOUBLE) / t.gt
                       - CAST(c.b AS DOUBLE) / t.bt)
                      * ln((CAST(c.g AS DOUBLE) / t.gt)
                           / (CAST(c.b AS DOUBLE) / t.bt)) END, 6)
             AS iv_contrib
    FROM cells c CROSS JOIN tot t
    """,
)
def q246(spark, sf_dir):
    """ClickHouse ``categoricalInformationValue``: weight-of-evidence
    and information-value contribution of a categorical predictor
    (user bucket) against a binary outcome (purchase).  Exact integer
    class counts per cell (one shuffle), class totals re-aggregated
    from the 16-row cells frame and broadcast; WoE/IV are float math
    over that tiny frame.  Degenerate cells (a class count of zero)
    yield NULL on both engines instead of +-inf."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    cells = ev.groupBy((F.col("user_id") % 16).alias("bucket")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("g"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 0).otherwise(1)
        ).alias("b"),
    )
    tot = cells.agg(F.sum("g").alias("gt"), F.sum("b").alias("bt"))
    dg = F.col("g").cast("double") / F.col("gt").cast("double")
    db = F.col("b").cast("double") / F.col("bt").cast("double")
    degenerate = (F.col("g") == 0) | (F.col("b") == 0)
    woe = F.when(degenerate, F.lit(None)).otherwise(F.log(dg / db))
    return cells.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.col("g").cast("bigint").alias("n_good"),
        F.col("b").cast("bigint").alias("n_bad"),
        F.round(woe, 6).alias("woe"),
        F.round((dg - db) * woe, 6).alias("iv_contrib"),
    )


@query(
    "q247_sequence_match_time",
    """
    WITH fe AS (
      SELECT user_id, event_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS tsec
      FROM events
      WHERE event_type IN ('signup', 'purchase') AND user_id IS NOT NULL
    ), nx AS (
      SELECT user_id, event_type, tsec,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY tsec, event_id) AS nxt,
             lead(tsec) OVER (
               PARTITION BY user_id ORDER BY tsec, event_id) AS nxt_tsec
      FROM fe
    )
    SELECT user_id,
           COALESCE(BOOL_OR(event_type = 'signup' AND nxt = 'purchase'
                            AND nxt_tsec - tsec <= 86400), FALSE) AS matched,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'signup'
                              AND nxt = 'purchase'
                              AND nxt_tsec - tsec <= 86400
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_matches
    FROM nx GROUP BY user_id
    """,
)
def q247(spark, sf_dir):
    """ClickHouse ``sequenceMatch('(?1)(?t<=86400)(?2)')`` /
    ``sequenceCount`` with a TIME-GAP constraint — the (?t<=n) operator
    q207/q241 don't exercise.  CH semantics: events matching no
    condition are skipped, so the pattern means "a cond-1 event
    directly followed, within the cond-filtered stream, by a cond-2
    event at most n seconds later".  One window pass per user over the
    pre-filtered stream (lead of type + time with a total-order
    tiebreak), then a per-user any/count aggregate — two shuffles on
    user_id, the second reusing the first's partitioning."""
    fe = (
        _t(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("signup", "purchase")
            & F.col("user_id").isNotNull()
        )
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_timestamp("ts").alias("tsec"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    nx = fe.select(
        "user_id",
        "event_type",
        "tsec",
        F.lead("event_type").over(w).alias("nxt"),
        F.lead("tsec").over(w).alias("nxt_tsec"),
    )
    hit = (
        (F.col("event_type") == "signup")
        & (F.col("nxt") == "purchase")
        & (F.col("nxt_tsec") - F.col("tsec") <= 86400)
    )
    return nx.groupBy("user_id").agg(
        F.coalesce(F.bool_or(hit), F.lit(False)).alias("matched"),
        F.coalesce(F.sum(F.when(hit, 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("n_matches"),
    )


@query(
    "q248_series_period_autocorr",
    """
    WITH hrs AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), bounds AS (
      SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hrs GROUP BY 1
    ), grid AS (
      SELECT b.event_type,
             CAST((epoch(gs.h) - epoch(b.h0)) / 3600 AS BIGINT) AS idx,
             gs.h
      FROM bounds b, LATERAL (
        SELECT unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS h
      ) gs
    ), series AS (
      SELECT g.event_type, g.idx,
             CAST(COALESCE(hrs.c, 0) AS DOUBLE) AS c
      FROM grid g
      LEFT JOIN hrs ON hrs.event_type = g.event_type AND hrs.h = g.h
    ), stats AS (
      SELECT s.event_type, m.mu,
             SUM((s.c - m.mu) * (s.c - m.mu)) AS ss
      FROM series s
      JOIN (SELECT event_type, AVG(c) AS mu FROM series GROUP BY 1) m
        ON m.event_type = s.event_type
      GROUP BY s.event_type, m.mu
    ), ac AS (
      SELECT s1.event_type, l.lag,
             SUM((s1.c - st.mu) * (s2.c - st.mu)) / st.ss AS r
      FROM series s1
      JOIN (SELECT unnest(generate_series(1, 48)) AS lag) l ON TRUE
      JOIN series s2 ON s2.event_type = s1.event_type
                    AND s2.idx = s1.idx + l.lag
      JOIN stats st ON st.event_type = s1.event_type
      GROUP BY s1.event_type, l.lag, st.ss
    )
    SELECT event_type, CAST(lag AS BIGINT) AS best_lag,
           round(r, 6) AS best_r
    FROM (SELECT *, row_number() OVER (
            PARTITION BY event_type ORDER BY round(r, 6) DESC, lag) AS rn
          FROM ac)
    WHERE rn = 1
    """,
)
def q248(spark, sf_dir):
    """ClickHouse ``seriesPeriodDetect`` analogue via autocorrelation:
    gap-filled hourly count series per event_type, ACF at lags 1..48 h,
    argmax lag reported with its coefficient.  The 100 TB shape: the
    raw scan collapses to |types| x |hours| aggregate rows FIRST (the
    only full-data shuffle); grid fill, the mean/SS pass, the 48-lag
    self-join, and the argmax all run on that compressed series, with
    the lag table and per-type stats broadcast.  Ranking compares
    6-dp-rounded coefficients with a lag tiebreak so float noise in
    the summation order can't flip the winner across engines."""
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hrs = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = hrs.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = bounds.select(
        "event_type",
        "h0",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    ).select(
        "event_type",
        ((F.unix_timestamp("h") - F.unix_timestamp("h0")) / 3600)
        .cast("bigint")
        .alias("idx"),
        "h",
    )
    series = (
        grid.join(hrs, ["event_type", "h"], "left")
        .select(
            "event_type",
            "idx",
            F.coalesce(F.col("c"), F.lit(0)).cast("double").alias("c"),
        )
    )
    mu = series.groupBy("event_type").agg(F.avg("c").alias("mu"))
    stats = (
        series.join(F.broadcast(mu), "event_type")
        .groupBy("event_type", "mu")
        .agg(
            F.sum(
                (F.col("c") - F.col("mu")) * (F.col("c") - F.col("mu"))
            ).alias("ss")
        )
    )
    lags = spark.range(1, 49).select(F.col("id").alias("lag"))
    s1 = series.alias("s1")
    s2 = series.select(
        F.col("event_type").alias("event_type2"),
        F.col("idx").alias("idx2"),
        F.col("c").alias("c2"),
    )
    ac = (
        s1.crossJoin(F.broadcast(lags))
        .join(
            s2,
            (F.col("event_type2") == F.col("event_type"))
            & (F.col("idx2") == F.col("idx") + F.col("lag")),
        )
        .join(F.broadcast(stats), "event_type")
        .groupBy("event_type", "lag", "ss")
        .agg(
            F.sum(
                (F.col("c") - F.col("mu")) * (F.col("c2") - F.col("mu"))
            ).alias("num")
        )
        .select(
            "event_type", "lag", (F.col("num") / F.col("ss")).alias("r")
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.round(F.col("r"), 6).desc(), F.col("lag")
    )
    return (
        ac.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("lag").cast("bigint").alias("best_lag"),
            F.round("r", 6).alias("best_r"),
        )
    )


@query(
    "q249_min_sample_size",
    """
    WITH base AS (
      SELECT event_type,
             AVG(CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END) AS p1,
             VAR_SAMP(value) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ), params AS (
      SELECT event_type, p1, v,
             LEAST(p1 + 0.02, 1.0) AS p2,
             (p1 + LEAST(p1 + 0.02, 1.0)) / 2 AS pb
      FROM base
    )
    SELECT event_type,
           round(p1, 6) AS baseline_rate,
           CAST(ceil(
             (1.959964 * sqrt(2 * pb * (1 - pb))
              + 0.841621 * sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
             * (1.959964 * sqrt(2 * pb * (1 - pb))
                + 0.841621 * sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
             / (0.02 * 0.02)) AS BIGINT) AS n_conversion,
           CAST(ceil(2 * v * (1.959964 + 0.841621)
                       * (1.959964 + 0.841621) / (5.0 * 5.0)) AS BIGINT)
             AS n_continuous
    FROM params
    """,
)
def q249(spark, sf_dir):
    """ClickHouse ``minSampleSizeConversion`` / ``minSampleSizeContinuous``:
    A/B-test power analysis from the data's own baseline.  Per
    event_type, the baseline conversion rate (value > 50) and sample
    variance feed the closed-form two-sample size formulas at
    alpha = 0.05, power = 0.8 (z constants pinned to 6 dp on both
    engines), MDE = 0.02 absolute for conversion and 5.0 for the
    continuous metric.  One aggregation pass; everything after is
    scalar math on 5 rows.  p2 is clamped to 1.0 so a saturated
    baseline can't produce a negative under the square root."""
    za, zb = 1.959964, 0.841621
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.groupBy("event_type").agg(
        F.avg(
            F.when(F.col("value") > 50, F.lit(1.0)).otherwise(F.lit(0.0))
        ).alias("p1"),
        F.var_samp("value").alias("v"),
    )
    p1 = F.col("p1")
    p2 = F.least(p1 + 0.02, F.lit(1.0))
    pb = (p1 + p2) / 2
    root = za * F.sqrt(2 * pb * (1 - pb)) + zb * F.sqrt(
        p1 * (1 - p1) + p2 * (1 - p2)
    )
    return base.select(
        "event_type",
        F.round(p1, 6).alias("baseline_rate"),
        F.ceil(root * root / (0.02 * 0.02)).cast("bigint").alias(
            "n_conversion"
        ),
        F.ceil(2 * F.col("v") * (za + zb) * (za + zb) / (5.0 * 5.0))
        .cast("bigint")
        .alias("n_continuous"),
    )


@query(
    "q250_gif_pixel_decode",
    """
    WITH d AS (
      SELECT doc_id,
             (doc_id % 47) + 3 AS w,
             (doc_id % 19) + 2 AS h
      FROM documents WHERE doc_id % 7 = 0
    ), px AS (
      SELECT d.doc_id, d.w, d.h, t.k,
             (d.doc_id * 5 + 11 * (t.k // 3)) % 251 AS i
      FROM d, LATERAL (SELECT unnest(range(0, d.w * d.h * 3)) AS k) t
    ), v AS (
      SELECT doc_id, w, h,
             CASE k % 3 WHEN 0 THEN i
                        WHEN 1 THEN (i * 3) % 256
                        ELSE (i * 7) % 256 END AS val
      FROM px
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           3 AS channels,
           CAST(SUM(val) AS BIGINT) AS px_sum,
           round(AVG(CAST(val AS DOUBLE)), 6) AS px_mean,
           CAST(MIN(val) AS INT) AS px_min,
           CAST(MAX(val) AS INT) AS px_max
    FROM v GROUP BY doc_id, w, h
    """,
)
def q250(spark, sf_dir):
    """REAL GIF PIXEL decode round trip — removes GIF from the 'needs
    codec libs' list: the variable-width LZW entropy decode is pure
    table arithmetic, implemented stdlib-only in
    `operators/multimodal.py:_gif_lzw_decode` / `decode_gif_pixels`
    (code width growth at 2^n, the KwKwK case, 4096-entry table reset,
    local color tables, and 4-pass interlacing all handled).

    Executor-side, each selected doc builds a genuinely valid GIF89a:
    palette entry j = (j, 3j mod 256, 7j mod 256), pixel index
    k -> (doc_id*5 + 11k) mod 251, every third doc INTERLACED so the
    row-reorder path is exercised.  The file runs through the real
    distributed decode path (`decode_assets`, Arrow-batched
    mapInPandas) and the decoded RGB statistics are compared against
    the oracle's closed-form arithmetic over the same palette mapping.
    A wrong LZW width transition, palette lookup, or interlace pass
    order changes the sums — a full value oracle on decoded bytes.
    Per-asset output is O(1); bytes never visit the driver."""
    import pandas as pd

    from ..operators.multimodal import decode_assets, encode_gif

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select("doc_id")
    )
    palette = b"".join(
        bytes([j, (j * 3) % 256, (j * 7) % 256]) for j in range(256)
    )

    def build(it):
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = d % 47 + 3, d % 19 + 2
                idx = bytes((d * 5 + 11 * k) % 251 for k in range(w * h))
                payloads.append(
                    encode_gif(idx, w, h, palette, interlace=(d % 3 == 0))
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    assets = docs.mapInPandas(build, "doc_id long, payload binary")
    dec = decode_assets(assets)
    return dec.select(
        "doc_id",
        "width",
        "height",
        F.col("channels").cast("int").alias("channels"),
        F.col("val_sum").alias("px_sum"),
        F.round(
            F.col("val_sum").cast("double") / F.col("n_values").cast("double"),
            6,
        ).alias("px_mean"),
        F.col("val_min").cast("int").alias("px_min"),
        F.col("val_max").cast("int").alias("px_max"),
    )


@query(
    "q251_array_auc",
    """
    WITH pts AS (
      SELECT event_type, value AS s,
             CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ), lvl AS (
      SELECT event_type, s,
             COUNT(*) AS n, SUM(y) AS npos
      FROM pts GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, s, n, npos,
             COALESCE(SUM(n) OVER (PARTITION BY event_type ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_less
      FROM lvl
    ), agg AS (
      SELECT event_type,
             SUM(npos) AS p,
             SUM(n) - SUM(npos) AS nneg,
             SUM(CAST(npos AS DOUBLE)
                 * (cum_less + (n + 1.0) / 2.0)) AS rank_sum
      FROM cum GROUP BY 1
    )
    SELECT event_type,
           CAST(p AS BIGINT) AS n_pos,
           CAST(nneg AS BIGINT) AS n_neg,
           round((rank_sum - p * (p + 1.0) / 2.0)
                 / (CAST(p AS DOUBLE) * nneg), 6) AS auc
    FROM agg
    """,
)
def q251(spark, sf_dir):
    """ClickHouse ``arrayAUC``: ROC AUC of a score against a binary
    label, via the rank formulation AUC = (R_pos − P(P+1)/2)/(P·N) with
    AVERAGE ranks for ties (equivalent to the trapezoid-over-thresholds
    definition CH uses).  The scale shape: scores collapse to DISTINCT
    score levels first (one shuffle, same cardinality as a histogram),
    the cumulative rank comes from a window over those levels, and the
    final reduce is per group — raw rows are never sorted globally.
    The label (user parity) is independent of the score, so AUC ~ 0.5;
    the oracle checks the exact 6-dp value, not the interpretation."""
    pts = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "event_type",
            F.col("value").alias("s"),
            F.when(F.col("user_id") % 3 == 0, 1).otherwise(0).alias("y"),
        )
    )
    lvl = pts.groupBy("event_type", "s").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("npos")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = lvl.withColumn(
        "cum_less", F.coalesce(F.sum("n").over(w), F.lit(0))
    )
    agg = cum.groupBy("event_type").agg(
        F.sum("npos").alias("p"),
        (F.sum("n") - F.sum("npos")).alias("nneg"),
        F.sum(
            F.col("npos").cast("double")
            * (F.col("cum_less") + (F.col("n") + 1.0) / 2.0)
        ).alias("rank_sum"),
    )
    return agg.select(
        "event_type",
        F.col("p").cast("bigint").alias("n_pos"),
        F.col("nneg").cast("bigint").alias("n_neg"),
        F.round(
            (F.col("rank_sum") - F.col("p") * (F.col("p") + 1.0) / 2.0)
            / (F.col("p").cast("double") * F.col("nneg")),
            6,
        ).alias("auc"),
    )


@query(
    "q252_group_array_sample",
    """
    WITH ranked AS (
      SELECT event_type, event_id,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS k,
           string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id)
             AS sample_ids
    FROM ranked WHERE rn <= 5 GROUP BY event_type
    """,
)
def q252(spark, sf_dir):
    """ClickHouse ``groupArraySample(k)`` with a DETERMINISTIC,
    engine-portable sampler: uniform sampling becomes "top-k by a
    content hash of the key" (md5 of the decimal id string, id
    tiebreak), which both engines compute bit-identically — so the
    oracle pins the exact sampled ids, not just the count.  At scale
    this is a per-group top-k (map-side partial possible via
    TakeOrdered semantics), not a reservoir walk; sampling stays
    stable under any repartitioning because the order key is content,
    not arrival."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    return (
        ev.select("event_type", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("event_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("sample_ids"),
        )
    )


@query(
    "q253_mean_z_test",
    """
    WITH q AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS xc,
             user_id % 2 AS g
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ), s AS (
      SELECT event_type,
             CAST(COUNT(CASE WHEN g = 0 THEN 1 END) AS DOUBLE) AS n0,
             CAST(COUNT(CASE WHEN g = 1 THEN 1 END) AS DOUBLE) AS n1,
             CAST(SUM(CASE WHEN g = 0 THEN xc ELSE 0 END) AS DOUBLE) AS s0,
             CAST(SUM(CASE WHEN g = 1 THEN xc ELSE 0 END) AS DOUBLE) AS s1,
             CAST(SUM(CASE WHEN g = 0 THEN xc * xc ELSE 0 END) AS DOUBLE)
               AS ss0,
             CAST(SUM(CASE WHEN g = 1 THEN xc * xc ELSE 0 END) AS DOUBLE)
               AS ss1
      FROM q GROUP BY 1
    ), z AS (
      SELECT event_type, n0, n1,
             (s0 / n0 - s1 / n1)
             / sqrt((ss0 / n0 - (s0 / n0) * (s0 / n0)) / n0
                    + (ss1 / n1 - (s1 / n1) * (s1 / n1)) / n1) AS zs
      FROM s
    ), p AS (
      SELECT event_type, n0, n1, zs,
             1.0 / (1.0 + 0.2316419 * abs(zs)) AS t
      FROM z
    )
    SELECT event_type,
           CAST(n0 AS BIGINT) AS n_a,
           CAST(n1 AS BIGINT) AS n_b,
           round(zs, 6) AS z_stat,
           round(2.0 * (exp(-zs * zs / 2.0) / sqrt(2.0 * pi())
                 * (0.319381530 * t - 0.356563782 * t * t
                    + 1.781477937 * t * t * t
                    - 1.821255978 * t * t * t * t
                    + 1.330274429 * t * t * t * t * t)), 6)
             AS p_two_sided
    FROM p
    """,
)
def q253(spark, sf_dir):
    """ClickHouse ``meanZTest``: two-sample z-statistic using the
    cohorts' own population variances, plus a two-sided p-value from
    the Abramowitz-Stegun 26.2.17 normal-tail polynomial — an EXPLICIT
    five-term formula both engines evaluate identically (neither Spark
    nor DuckDB exposes erfc), so the p-value is oracle-checkable to
    6 dp.  Determinism the q191 way: six exact cent-quantized integer
    sums per event_type (one shuffle, partial-agg mergeable), then
    fixed-order float math on a 5-row frame."""
    import math

    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    xc = F.round(F.col("value") * 100).cast("bigint")
    g = F.col("user_id") % 2
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
    m0, m1 = F.col("s0") / F.col("n0"), F.col("s1") / F.col("n1")
    v0 = F.col("ss0") / F.col("n0") - m0 * m0
    v1 = F.col("ss1") / F.col("n1") - m1 * m1
    zs = (m0 - m1) / F.sqrt(v0 / F.col("n0") + v1 / F.col("n1"))
    z = s.select("event_type", "n0", "n1", zs.alias("zs"))
    t = 1.0 / (1.0 + 0.2316419 * F.abs(F.col("zs")))
    poly = (
        0.319381530 * t
        - 0.356563782 * t * t
        + 1.781477937 * t * t * t
        - 1.821255978 * t * t * t * t
        + 1.330274429 * t * t * t * t * t
    )
    phi = F.exp(-F.col("zs") * F.col("zs") / 2.0) / math.sqrt(2.0 * math.pi)
    return z.select(
        "event_type",
        F.col("n0").cast("bigint").alias("n_a"),
        F.col("n1").cast("bigint").alias("n_b"),
        F.round(F.col("zs"), 6).alias("z_stat"),
        F.round(2.0 * phi * poly, 6).alias("p_two_sided"),
    )


@query(
    "q254_stream_mg_heavy_hitters",
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
def q254(spark, sf_dir):
    """STREAMING Misra-Gries heavy hitters — the frequency twin of
    q242's streaming t-digest: a real file-source stream whose
    foreachBatch sink reduces each micro-batch to its MG summary
    (value, est, err_total) and appends it to a store, releasing the
    batch's sketch cache immediately (`unpersist_mg`) so state never
    accumulates across batches.  One post-drain merge SUMS counters per
    value and ADDS the per-batch error bounds — MG's mergeability: each
    batch undercounts any key by at most its own err, so
    est_merged ≤ exact ≤ est_merged + Σ err_i for present keys and
    exact ≤ Σ err_i for absent ones, for ANY batch boundaries.  The
    oracle pins exactly that soundness predicate on the exact top-5
    (the q210 rule), so a merge that double-counted or dropped a batch
    is a hard FAIL."""
    import os
    import tempfile

    from ..operators.sketches import mg_summarize, unpersist_mg

    ev = _events_stream(spark, sf_dir).select("user_id")
    base = scratch_dir("mg_stream_")
    store = os.path.join(base, "partials")

    def sink(batch_df, batch_id):
        sk = mg_summarize(batch_df, "user_id", k=64)
        sk.select(
            F.lit(int(batch_id)).alias("batch_id"),
            F.col("value"),
            F.col("est"),
            F.col("err_total"),
        ).write.mode("append").parquet(store)
        unpersist_mg(sk)

    q = (
        reroot(ev, _stream_fork(spark)).writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    parts = spark.read.parquet(store)
    err_total = (
        parts.groupBy("batch_id")
        .agg(F.max("err_total").alias("e"))
        .agg(F.sum("e").alias("err_total"))
    )
    merged = parts.groupBy("value").agg(F.sum("est").alias("est"))

    exact = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    w5 = Window.orderBy(F.col("exact_cnt").desc(), F.col("user_id").asc())
    top5 = (
        exact.withColumn("rk", F.row_number().over(w5))
        .filter(F.col("rk") <= 5)
        .select(F.col("user_id").cast("string").alias("user_id"), "exact_cnt")
    )
    joined = top5.crossJoin(F.broadcast(err_total)).join(
        F.broadcast(merged.select(F.col("value").alias("user_id"), "est")),
        "user_id",
        "left",
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
    "q255_fuzzy_decontaminate",
    """
    WITH train AS (
      SELECT doc_id, text FROM documents
    ), eval_set AS (
      SELECT doc_id, text || ' eval' AS text
      FROM documents WHERE doc_id % 5 = 0
    ), consts AS (
      SELECT {a_list} AS ha, {b_list} AS hb
    ), sh_t AS (
      SELECT doc_id AS doc,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
               i -> CAST('0x' || substr(md5(array_to_string(
                      list_slice(string_split(text, ' '), i, i + 2), ' ')), 1, 15)
                    AS BIGINT)
             )) AS shl
      FROM train
    ), sh_e AS (
      SELECT doc_id AS doc,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
               i -> CAST('0x' || substr(md5(array_to_string(
                      list_slice(string_split(text, ' '), i, i + 2), ' ')), 1, 15)
                    AS BIGINT)
             )) AS shl
      FROM eval_set
    ), sig_t AS (
      SELECT doc,
             list_transform(range(0, 64), k ->
               list_min(list_transform(shl, x ->
                 ((x % 2147483647) * ha[k + 1] + hb[k + 1]) % 2147483647))
             ) AS sig
      FROM sh_t CROSS JOIN consts WHERE len(shl) > 0
    ), sig_e AS (
      SELECT doc,
             list_transform(range(0, 64), k ->
               list_min(list_transform(shl, x ->
                 ((x % 2147483647) * ha[k + 1] + hb[k + 1]) % 2147483647))
             ) AS sig
      FROM sh_e CROSS JOIN consts WHERE len(shl) > 0
    ), bands_t AS (
      SELECT doc, b AS band,
             CAST('0x' || substr(md5(array_to_string(
               list_slice(sig, b * 4 + 1, b * 4 + 4), '|')), 1, 15) AS BIGINT) AS bh
      FROM sig_t, UNNEST(range(0, 16)) AS t(b)
    ), bands_e AS (
      SELECT doc, b AS band,
             CAST('0x' || substr(md5(array_to_string(
               list_slice(sig, b * 4 + 1, b * 4 + 4), '|')), 1, 15) AS BIGINT) AS bh
      FROM sig_e, UNNEST(range(0, 16)) AS t(b)
    ), cand AS (
      SELECT DISTINCT x.doc AS train_doc, y.doc AS eval_doc
      FROM bands_t x JOIN bands_e y ON x.band = y.band AND x.bh = y.bh
    )
    SELECT c.train_doc, c.eval_doc,
           CAST(len(list_filter(range(1, 65), i -> st.sig[i] = se.sig[i]))
             AS DOUBLE) / 64.0 AS est_jaccard
    FROM cand c
    JOIN sig_t st ON st.doc = c.train_doc
    JOIN sig_e se ON se.doc = c.eval_doc
    WHERE CAST(len(list_filter(range(1, 65), i -> st.sig[i] = se.sig[i]))
            AS DOUBLE) / 64.0 >= 0.5
    """.format(
        a_list=list(dedup._MINHASH_A), b_list=list(dedup._MINHASH_B)
    ),
)
def q255(spark, sf_dir):
    """FUZZY benchmark decontamination — the near-dup sibling of q88's
    exact 5-gram overlap: MinHash signatures for the training corpus
    and the benchmark set (here: every 5th doc with one appended token,
    so matches are NEAR- not exact dups), CROSS-corpus LSH banding
    (`operators/dedup.py:minhash_lsh_cross_pairs` — the same
    linear-in-corpus equi-join as self-LSH, but between two universes,
    with the small benchmark side free to broadcast), then signature-
    agreement refinement at est_jaccard ≥ 0.5.  At 100 TB: train
    signatures are one shuffle; the benchmark side is tiny by
    definition, so contamination checking costs one broadcast-join scan
    over the banded train table.  The oracle re-derives the entire
    pipeline arithmetically (the q39 rule)."""
    d = _t(spark, sf_dir, "documents")
    train = d.select("doc_id", "text")
    eval_set = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(" eval")).alias("text")
    )
    sig_t = dedup.minhash_signatures(train, "text", "doc_id").localCheckpoint(
        eager=True
    )
    sig_e = dedup.minhash_signatures(
        eval_set, "text", "doc_id"
    ).localCheckpoint(eager=True)
    cand = dedup.minhash_lsh_cross_pairs(sig_t, sig_e)
    st = sig_t.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sa"))
    se = sig_e.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sb"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sa", "sb", lambda a, b: (a == b).cast("int")),
                lambda x: x == 1,
            )
        ).cast("double")
        / 64.0
    )
    return (
        cand.join(st, "doc_a")
        .join(F.broadcast(se), "doc_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= 0.5)
        .select(
            F.col("doc_a").alias("train_doc"),
            F.col("doc_b").alias("eval_doc"),
            "est_jaccard",
        )
    )


@query(
    "q256_dict_functions",
    """
    SELECT c.c_custkey,
           n.n_name AS nation_name,
           COALESCE(n2.n_name, 'UNKNOWN') AS shifted_nation,
           n3.n_nationkey IS NOT NULL AS has_shifted,
           CASE WHEN n.n_name IS NULL THEN NULL
                WHEN r.r_name IS NULL THEN n.n_name
                ELSE n.n_name || '>' || r.r_name END AS hierarchy
    FROM customer c
    LEFT JOIN nation n  ON n.n_nationkey = c.c_nationkey
    LEFT JOIN nation n2 ON n2.n_nationkey = c.c_nationkey + 20
    LEFT JOIN nation n3 ON n3.n_nationkey = c.c_nationkey + 20
    LEFT JOIN region r  ON r.r_regionkey = n.n_regionkey
    WHERE c.c_custkey % 13 = 0
    """,
)
def q256(spark, sf_dir):
    """ClickHouse external-dictionary surface (`functions/dicts.py`):
    dictGetOrNull / dictGetOrDefault / dictHas / dictGetHierarchy over
    the nation+region dims.  Each lookup is a BROADCAST left join —
    the Spark-native shape of CH's in-memory dictionary: the dictionary
    ships once, probes run inside codegen, the fact side never shuffles.
    The shifted key (+20) exercises the miss paths: NULL for
    dictGetOrNull, 'UNKNOWN' for the default variant, FALSE for
    dictHas.  The hierarchy walk (nation → region) is a fixed
    broadcast-join chain returning the names child-first, exported as a
    '>'-joined string for the hash compare."""
    from ..functions import dicts

    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 13 == 0)
        .select("c_custkey", "c_nationkey")
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    out = dicts.dict_get(
        c, "c_nationkey", nation, "n_nationkey", "n_name", out="nation_name"
    )
    out = dicts.dict_get_or_default(
        out,
        F.col("c_nationkey") + 20,
        nation,
        "n_nationkey",
        "n_name",
        "UNKNOWN",
        out="shifted_nation",
    )
    out = dicts.dict_has(
        out, F.col("c_nationkey") + 20, nation, "n_nationkey", out="has_shifted"
    )
    out = dicts.dict_get_hierarchy(
        out,
        "c_nationkey",
        [
            (nation, "n_nationkey", "n_name", "n_regionkey"),
            (region, "r_regionkey", "r_name", None),
        ],
        out="hier_arr",
    )
    return out.select(
        "c_custkey",
        "nation_name",
        "shifted_nation",
        "has_shifted",
        F.when(
            F.size("hier_arr") > 0, F.concat_ws(">", "hier_arr")
        ).alias("hierarchy"),
    )


@query(
    "q257_calibration_ece",
    """
    WITH scored AS (
      SELECT (CAST(doc_id * 2654435761 AS BIGINT) % 1000) / 1000.0 AS conf,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      FROM documents
    ), binned AS (
      SELECT CAST(floor(conf * 10) AS BIGINT) AS bin,
             COUNT(*) AS n,
             AVG(conf) AS avg_conf,
             AVG(y) AS acc
      FROM scored GROUP BY 1
    ), tot AS (
      SELECT SUM(n) AS nt,
             SUM(n * abs(acc - avg_conf)) / SUM(n) AS ece
      FROM binned
    )
    SELECT b.bin,
           CAST(b.n AS BIGINT) AS n,
           round(b.avg_conf, 6) AS avg_conf,
           round(b.acc, 6) AS observed_rate,
           round(t.ece, 6) AS ece
    FROM binned b CROSS JOIN tot t
    """,
)
def q257(spark, sf_dir):
    """Classifier-calibration evaluation for quality-filter pipelines:
    a reliability table (10 confidence deciles -> mean confidence vs
    observed positive rate) plus the Expected Calibration Error
    ECE = Σ (n_b/n)·|acc_b − conf_b|.  The 'classifier' is a
    deterministic hash score so both engines see identical confidences;
    the machinery — decile binning, per-bin aggregates, weighted
    deviation — is exactly what auditing a learned quality scorer over
    a 100 TB corpus needs: one shuffle to 10 bins, everything after is
    arithmetic on a 10-row frame (broadcast total)."""
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        (
            (F.col("doc_id") * F.lit(2654435761)).cast("bigint") % 1000
        ).cast("double").alias("raw"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
    ).select((F.col("raw") / 1000.0).alias("conf"), "y")
    binned = scored.groupBy(
        F.floor(F.col("conf") * 10).cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("conf").alias("avg_conf"),
        F.avg("y").alias("acc"),
    )
    tot = binned.agg(
        (
            F.sum(F.col("n") * F.abs(F.col("acc") - F.col("avg_conf")))
            / F.sum("n")
        ).alias("ece")
    )
    return binned.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.col("n").cast("bigint").alias("n"),
        F.round("avg_conf", 6).alias("avg_conf"),
        F.round("acc", 6).alias("observed_rate"),
        F.round("ece", 6).alias("ece"),
    )


@query(
    "q258_pr_auc",
    """
    WITH pts AS (
      SELECT event_type, value AS s,
             CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    ), lvl AS (
      SELECT event_type, s, COUNT(*) AS n, SUM(y) AS npos
      FROM pts GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, s,
             SUM(npos) OVER w AS cpos,
             SUM(n) OVER w AS cn,
             SUM(npos) OVER (PARTITION BY event_type) AS p
      FROM lvl
      WINDOW w AS (PARTITION BY event_type ORDER BY s DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), steps AS (
      SELECT event_type,
             (cpos - COALESCE(lag(cpos) OVER (
                PARTITION BY event_type ORDER BY s DESC), 0))
               / CAST(p AS DOUBLE) AS d_recall,
             CAST(cpos AS DOUBLE) / cn AS precision_at
      FROM cum
    )
    SELECT event_type,
           round(SUM(d_recall * precision_at), 6) AS pr_auc
    FROM steps GROUP BY event_type
    """,
)
def q258(spark, sf_dir):
    """Precision-Recall AUC (the imbalanced-data companion of q251's
    ROC AUC) by STEP integration over distinct score thresholds,
    descending: at each level, precision = cumpos/cumseen and the step
    width is that level's recall gain; PR-AUC = Σ Δrecall·precision —
    the standard right-step definition (equals average precision).
    Same scale shape as q251: raw rows collapse to score levels before
    any window; the integration is a window + sum over histogram-sized
    data.  The hash-label baseline makes PR-AUC ≈ the positive rate
    (~1/3) — the oracle checks the exact 6-dp value."""
    pts = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "event_type",
            F.col("value").alias("s"),
            F.when(F.col("user_id") % 3 == 0, 1).otherwise(0).alias("y"),
        )
    )
    lvl = pts.groupBy("event_type", "s").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("npos")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("s").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("event_type")
    wl = Window.partitionBy("event_type").orderBy(F.col("s").desc())
    cum = lvl.select(
        "event_type",
        "s",
        F.sum("npos").over(w).alias("cpos"),
        F.sum("n").over(w).alias("cn"),
        F.sum("npos").over(wp).alias("p"),
    )
    steps = cum.select(
        "event_type",
        (
            (F.col("cpos") - F.coalesce(F.lag("cpos").over(wl), F.lit(0)))
            / F.col("p").cast("double")
        ).alias("d_recall"),
        (F.col("cpos").cast("double") / F.col("cn")).alias("precision_at"),
    )
    return steps.groupBy("event_type").agg(
        F.round(F.sum(F.col("d_recall") * F.col("precision_at")), 6).alias(
            "pr_auc"
        )
    )


@query(
    "q259_pq_ann",
    """
    WITH ql AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(x * 1000) AS BIGINT)) AS qv
      FROM embeddings
    ), pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, 65),
                   i -> (q.qv[i] - c.qv[i]) * (q.qv[i] - c.qv[i])))
               AS BIGINT) AS d2
      FROM ql q JOIN ql c ON q.vec_id != c.vec_id
      WHERE q.vec_id % 50 = 0
    ), ranked AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY d2, neighbor_id) AS rk
      FROM pairs
    )
    SELECT query_id,
           string_agg(CAST(neighbor_id AS VARCHAR), ',' ORDER BY rk)
             AS exact_top10,
           TRUE AS recall_ok
    FROM ranked WHERE rk <= 10 GROUP BY query_id
    """,
)
def q259(spark, sf_dir):
    """Product-quantization ANN (`operators/similarity.py:pq_topk`) —
    the memory-compression scale path IVF (q63) doesn't cover: vectors
    collapse to m_sub=16 one-byte codes (~16× smaller than raw floats),
    queries scan CODES via a broadcast ADC lookup table, and only the
    100 ADC-best candidates per query get exact re-ranking.  Training
    (per-subspace Lloyd), encoding, and both distance passes run in
    integer-quantized arithmetic, so the whole pipeline is
    bit-deterministic under any partitioning.

    Output per query: the EXACT top-10 (which the DuckDB oracle
    re-derives verbatim — same quantized L2, same tiebreak) and a
    pinned recall boolean: the re-ranked PQ top-10 must capture ≥ 50%
    of the true top-10 (measured: ≥ 70% at every fixture scale for
    m=16, 32 codes, 100 candidates — on near-random synthetic vectors,
    the hardest case for PQ).  A broken codebook, ADC table, or re-rank
    drops recall to ~k/N and hard-FAILs the literal-TRUE oracle."""
    from ..operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    qi = lambda c: F.round(c.cast("double") * 1000).cast("bigint")  # noqa: E731
    qd = F.aggregate(
        F.zip_with("qv", "nv", lambda a, b: (qi(a) - qi(b)) * (qi(a) - qi(b))),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv")
    )

    # exact reference: quantized-L2 brute force, rank-ordered id string
    exact_scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("d2", qd)
    )
    we = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    exact10 = (
        exact_scored.withColumn("rk", F.row_number().over(we))
        .filter(F.col("rk") <= 10)
        .groupBy("query_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rk", "neighbor_id"))
                    ),
                    lambda s: s["neighbor_id"].cast("string"),
                ),
            ).alias("exact_top10"),
            F.collect_set("neighbor_id").alias("exact_ids"),
        )
    )

    # PQ: ADC top-100 candidates, then exact re-rank of just those
    cand = pq_topk(
        emb,
        k=100,
        m_sub=16,
        n_codes=32,
        query_pred=(F.col("vid") % 50 == 0),
    ).select("query_id", "neighbor_id")
    rer = (
        cand.join(q, "query_id")
        .join(c, "neighbor_id")
        .withColumn("d2", qd)
    )
    wr = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    pq10 = (
        rer.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 10)
        .groupBy("query_id")
        .agg(F.collect_set("neighbor_id").alias("pq_ids"))
    )
    return (
        exact10.join(pq10, "query_id")
        .select(
            "query_id",
            "exact_top10",
            (
                F.size(F.array_intersect("exact_ids", "pq_ids")) >= 5
            ).alias("recall_ok"),
        )
    )


@query(
    "q260_adaptive_histogram",
    """
    SELECT event_type,
           COUNT(value) AS n_exact,
           TRUE AS weight_ok,
           TRUE AS nbins_ok,
           TRUE AS bounds_ok,
           TRUE AS p50_ok
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
    """,
)
def q260(spark, sf_dir):
    """ClickHouse ``histogram(n)`` — the ADAPTIVE histogram (bins place
    themselves, no a-priori bounds), mergeable:
    `operators/sketches.py:adaptive_histogram` reuses the t-digest
    level-1 partials (bounded state, raw values never shuffle) and
    finishes with CH's closest-pair greedy merge down to n bins.

    The bins themselves are sketch-dependent, so the oracle pins the
    INVARIANTS that must hold exactly or within measured tolerance:
    weight conservation (Σ height == row count — centroid weights are
    integer counts, conserved exactly through every merge), bin-count
    bound, monotone bounds covering [min, max], and a histogram-read
    median within 10% of the data span of the exact p50 (measured ~1%
    at every fixture scale) — all literal-TRUE booleans, so a merge
    that loses weight or misplaces mass is a hard hash FAIL."""
    from ..operators.sketches import adaptive_histogram

    N_BINS = 10
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bins = adaptive_histogram(ev, "value", ["event_type"], N_BINS)

    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bin_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    wlag = Window.partitionBy("event_type").orderBy("bin_idx")
    enriched = bins.select(
        "event_type",
        "bin_idx",
        "lower",
        "upper",
        "height",
        F.sum("height").over(wcum).alias("cum"),
        F.sum("height").over(wall).alias("wtot"),
        F.max("bin_idx").over(wall).alias("max_idx"),
        F.lag("upper").over(wlag).alias("prev_upper"),
    )
    # histogram-read p50: first bin whose cumulative weight crosses n/2
    p50_bin = enriched.filter(F.col("cum") >= F.col("wtot") / 2.0)
    wfirst = Window.partitionBy("event_type").orderBy("bin_idx")
    p50_est = (
        p50_bin.withColumn("rk", F.row_number().over(wfirst))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            ((F.col("lower") + F.col("upper")) / 2.0).alias("p50_est"),
        )
    )
    per_group = enriched.groupBy("event_type").agg(
        F.sum("height").alias("wsum"),
        (F.max("bin_idx") + 1).alias("nbins"),
        F.min("lower").alias("blo"),
        F.max("upper").alias("bhi"),
        F.min(
            F.when(
                F.col("prev_upper").isNull()
                | (F.col("lower") >= F.col("prev_upper") - 1e-9),
                1,
            ).otherwise(0)
        ).alias("mono"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count("value").alias("n_exact"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.percentile("value", F.lit(0.5)).alias("p50_exact"),
    )
    j = (
        exact.join(per_group, "event_type")
        .join(p50_est, "event_type")
    )
    span = F.col("vmax") - F.col("vmin")
    return j.select(
        "event_type",
        "n_exact",
        (F.abs(F.col("wsum") - F.col("n_exact")) < 0.5).alias("weight_ok"),
        (F.col("nbins") <= N_BINS).alias("nbins_ok"),
        (
            (F.col("mono") == 1)
            & (F.col("blo") >= F.col("vmin") - 1e-9)
            & (F.col("bhi") <= F.col("vmax") + 1e-9)
        ).alias("bounds_ok"),
        (
            F.abs(F.col("p50_est") - F.col("p50_exact")) <= 0.10 * span
        ).alias("p50_ok"),
    )


@query(
    "q261_winnowing_fingerprints",
    """
    WITH docs AS (
      SELECT doc_id, text FROM documents
    ), snips AS (
      SELECT doc_id AS snip_id,
             array_to_string(list_slice(string_split(text, ' '), 1, 15), ' ')
               AS text
      FROM documents WHERE doc_id % 4 = 0
    ), gd AS (
      SELECT d.doc_id AS doc, t.i AS pos,
             len(string_split(d.text, ' ')) - 2 AS ng,
             CAST('0x' || substr(md5(array_to_string(
               list_slice(string_split(d.text, ' '), t.i, t.i + 2), ' ')),
               1, 15) AS BIGINT) AS h
      FROM docs d, LATERAL (
        SELECT unnest(range(1,
          greatest(len(string_split(d.text, ' ')) - 2, 0) + 1)) AS i) t
    ), gs AS (
      SELECT s.snip_id AS doc, t.i AS pos,
             len(string_split(s.text, ' ')) - 2 AS ng,
             CAST('0x' || substr(md5(array_to_string(
               list_slice(string_split(s.text, ' '), t.i, t.i + 2), ' ')),
               1, 15) AS BIGINT) AS h
      FROM snips s, LATERAL (
        SELECT unnest(range(1,
          greatest(len(string_split(s.text, ' ')) - 2, 0) + 1)) AS i) t
    ), fpd AS (
      SELECT DISTINCT doc, wmin AS fp FROM (
        SELECT doc, pos, ng,
               MIN(h) OVER (PARTITION BY doc ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        FROM gd)
      WHERE pos <= greatest(ng - 4, 0) + 1
    ), fps AS (
      SELECT DISTINCT doc, wmin AS fp FROM (
        SELECT doc, pos, ng,
               MIN(h) OVER (PARTITION BY doc ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        FROM gs)
      WHERE pos <= greatest(ng - 4, 0) + 1
    ), cnt AS (
      SELECT doc AS snip, COUNT(*) AS nfp FROM fps GROUP BY 1
    ), shared AS (
      SELECT s.doc AS snip, d.doc AS doc, COUNT(*) AS n_shared
      FROM fps s JOIN fpd d ON d.fp = s.fp GROUP BY 1, 2
    ), scored AS (
      SELECT sh.snip, sh.doc,
             round(CAST(sh.n_shared AS DOUBLE) / c.nfp, 6) AS containment
      FROM shared sh JOIN cnt c ON c.snip = sh.snip
    )
    SELECT snip AS snip_id, doc AS matched_doc, containment
    FROM (SELECT *, row_number() OVER (
            PARTITION BY snip ORDER BY containment DESC, doc) AS rn
          FROM scored)
    WHERE rn = 1
    """,
)
def q261(spark, sf_dir):
    """Winnowing fingerprints (the MOSS algorithm,
    `operators/dedup.py:winnow_fingerprints`) — SUBSTRING-robust
    matching, the failure mode of whole-document MinHash: a 15-word
    snippet quoted from a long doc has near-zero document Jaccard but,
    by the winnowing guarantee (any shared run of ≥ w+k−1 tokens yields
    a shared fingerprint), its winnowed minima collide with the source
    doc's.  Pipeline: positioned word-3-gram hashes in one Generate,
    min of every 4-hash window (one (doc, pos) window pass), distinct
    minima as the fingerprint inverted index, then
    containment(|FP_snip ∩ FP_doc| / |FP_snip|) via the same
    fixed-width equi-join currency as the shingle table.  The query
    plants snippets (first 15 words of every 4th doc) and reports each
    snippet's best-containment doc — expected: its own source, at high
    containment.  The oracle re-derives the full pipeline (portable
    md5-60 hashes, identical window semantics, round-before-rank)."""
    d = _t(spark, sf_dir, "documents")
    docs = d.select("doc_id", "text")
    snips = d.filter(F.col("doc_id") % 4 == 0).select(
        F.col("doc_id").alias("snip_id"),
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 15)).alias("text"),
    )
    fpd = dedup.winnow_fingerprints(docs, "text", "doc_id", k=3, w=4)
    fps = dedup.winnow_fingerprints(snips, "text", "snip_id", k=3, w=4)
    cnt = fps.groupBy(F.col("doc").alias("snip")).agg(
        F.count(F.lit(1)).alias("nfp")
    )
    shared = (
        fps.select(F.col("doc").alias("snip"), "fp")
        .join(fpd.select(F.col("doc").alias("doc"), "fp"), "fp")
        .groupBy("snip", "doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    scored = shared.join(cnt, "snip").select(
        "snip",
        "doc",
        F.round(
            F.col("n_shared").cast("double") / F.col("nfp"), 6
        ).alias("containment"),
    )
    w1 = Window.partitionBy("snip").orderBy(
        F.col("containment").desc(), F.col("doc").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            F.col("snip").alias("snip_id"),
            F.col("doc").alias("matched_doc"),
            "containment",
        )
    )


@query(
    "q262_aggregate_remainder_tail",
    """
    SELECT user_id,
           round(CAST(SUM(CAST(round(value * 100) AS BIGINT)
                          * (user_id % 5 + 1)) AS DOUBLE)
                 / 100.0 / SUM(user_id % 5 + 1), 6) AS avg_weighted,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_val,
           COUNT(value) AS cnt,
           CASE WHEN COUNT(DISTINCT event_type) = 1
                THEN MIN(event_type) ELSE NULL END AS single_event_type
    FROM events
    WHERE user_id IS NOT NULL AND value IS NOT NULL AND user_id % 7 = 0
    GROUP BY user_id
    """,
)
def q262(spark, sf_dir):
    """The last uncovered ClickHouse aggregate stragglers in one pass:
    ``avgWeighted`` (exact cent-quantized weighted mean — the integer
    numerator makes the result order-independent), ``sumCount`` (the
    (sum, count) pair, exported as exact-decimal double + bigint), and
    and ``singleValueOrNull`` (the value iff the group is single-valued,
    else NULL, via a countDistinct == 1 guard, one scan).
    Per-user groups over a sampled id range; one shuffle, all
    partial-agg mergeable."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & (F.col("user_id") % 7 == 0)
    )
    wgt = (F.col("user_id") % 5 + 1)
    cents = F.round(F.col("value") * 100).cast("bigint")
    return ev.groupBy("user_id").agg(
        F.round(
            F.sum(cents * wgt).cast("double") / 100.0 / F.sum(wgt),
            6,
        ).alias("avg_weighted"),
        (F.sum(cents).cast("double") / 100.0).alias("sum_val"),
        F.count("value").alias("cnt"),
        F.when(
            F.countDistinct("event_type") == 1, F.min("event_type")
        ).alias("single_event_type"),
    )


@query(
    "q263_encoding_functions",
    """
    WITH d AS (
      SELECT doc_id,
             substr(text, 1, 30) AS frag
      FROM documents WHERE doc_id % 9 = 0
    )
    SELECT doc_id,
           base64(encode(frag)) AS b64,
           decode(from_base64(base64(encode(frag)))) = frag AS b64_roundtrip,
           hex(frag) AS hexed,
           decode(unhex(hex(frag))) = frag AS hex_roundtrip,
           bin(doc_id) AS id_bin,
           hex(doc_id * 255) AS id_hex
    FROM d
    """,
)
def q263(spark, sf_dir):
    """ClickHouse encoding-function family: base64Encode/Decode,
    hex/unhex over strings, bin/hex over integers — byte-identical
    across engines (Spark and DuckDB both emit unpadded-uppercase hex
    and RFC 4648 base64; fragments are capped at 30 chars, below any
    MIME line-wrap boundary).  Both roundtrip booleans go through the
    full encode → decode cycle, so an alphabet or padding divergence is
    a hard FAIL, not just a different-looking string.  Pure projection,
    whole-stage codegen."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 9 == 0)
        .select("doc_id", F.substring("text", 1, 30).alias("frag"))
    )
    fb = F.col("frag").cast("binary")
    b64 = F.base64(fb)
    return d.select(
        "doc_id",
        b64.alias("b64"),
        (F.unbase64(b64).cast("string") == F.col("frag")).alias(
            "b64_roundtrip"
        ),
        F.hex("frag").alias("hexed"),
        (F.unhex(F.hex("frag")).cast("string") == F.col("frag")).alias(
            "hex_roundtrip"
        ),
        F.bin("doc_id").alias("id_bin"),
        F.hex(F.col("doc_id") * 255).alias("id_hex"),
    )




@query(
    "q264_script_detection",
    """
    WITH mixed AS (
      SELECT doc_id,
             substr(text, 1, 40)
               || ' ' || repeat(substr('{han}', doc_id % 10 + 1, 1),
                                CAST(doc_id % 4 AS INT))
               || repeat(substr('{cyr}', doc_id % 8 + 1, 1),
                         CAST(doc_id % 3 AS INT))
               || repeat(substr('{ar}', doc_id % 6 + 1, 1),
                         CAST(doc_id % 2 AS INT)) AS t
      FROM documents WHERE doc_id % 11 = 0
    ), counts AS (
      SELECT doc_id,
             len(regexp_extract_all(t, '\\p{{Han}}')) AS n_han,
             len(regexp_extract_all(t, '\\p{{Cyrillic}}')) AS n_cyr,
             len(regexp_extract_all(t, '\\p{{Arabic}}')) AS n_ar,
             len(regexp_extract_all(t, '[A-Za-z]')) AS n_latin
      FROM mixed
    )
    SELECT doc_id, n_han, n_cyr, n_ar, n_latin,
           CASE WHEN n_han >= n_cyr AND n_han >= n_ar AND n_han >= n_latin
                  THEN 'han'
                WHEN n_latin >= n_cyr AND n_latin >= n_ar THEN 'latin'
                WHEN n_cyr >= n_ar THEN 'cyrillic'
                ELSE 'arabic' END AS dominant_script
    FROM counts
    """.format(han=_SCRIPT_HAN, cyr=_SCRIPT_CYR, ar=_SCRIPT_AR),
)
def q264(spark, sf_dir):
    """Unicode SCRIPT detection — the corpus-curation sibling of q43's
    n-gram language ID, covering the scripts n-grams can't separate
    (Han/Cyrillic/Arabic vs Latin): per-script codepoint counts via
    Unicode script classes, dominant script by fixed precedence.  The
    cross-engine subtlety is the regex DIALECT: Java (Spark) spells
    script classes \\p{IsHan}, RE2 (DuckDB) spells them \\p{Han} — the
    two sides use different pattern strings for the same semantics, and
    the oracle proves they agree on every count.  Mixed-script text is
    constructed deterministically from literal alphabets (repeat counts
    keyed on doc_id) since the synthetic fixture is ASCII-only; the
    counting machinery is exactly what a 100 TB curation pass runs.
    Character-indexed substr is UTF-8-aware on both engines."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 11 == 0)
        .select(
            "doc_id",
            F.concat(
                F.substring("text", 1, 40),
                F.lit(" "),
                F.repeat(
                    F.substring(
                        F.lit(_SCRIPT_HAN), (F.col("doc_id") % 10 + 1).cast("int"), 1
                    ),
                    (F.col("doc_id") % 4).cast("int"),
                ),
                F.repeat(
                    F.substring(
                        F.lit(_SCRIPT_CYR), (F.col("doc_id") % 8 + 1).cast("int"), 1
                    ),
                    (F.col("doc_id") % 3).cast("int"),
                ),
                F.repeat(
                    F.substring(
                        F.lit(_SCRIPT_AR), (F.col("doc_id") % 6 + 1).cast("int"), 1
                    ),
                    (F.col("doc_id") % 2).cast("int"),
                ),
            ).alias("t"),
        )
    )
    counts = d.select(
        "doc_id",
        F.regexp_count("t", F.lit(r"\p{IsHan}")).alias("n_han"),
        F.regexp_count("t", F.lit(r"\p{IsCyrillic}")).alias("n_cyr"),
        F.regexp_count("t", F.lit(r"\p{IsArabic}")).alias("n_ar"),
        F.regexp_count("t", F.lit(r"[A-Za-z]")).alias("n_latin"),
    )
    han, cyr, ar, lat = (
        F.col("n_han"),
        F.col("n_cyr"),
        F.col("n_ar"),
        F.col("n_latin"),
    )
    dom = (
        F.when((han >= cyr) & (han >= ar) & (han >= lat), "han")
        .when((lat >= cyr) & (lat >= ar), "latin")
        .when(cyr >= ar, "cyrillic")
        .otherwise("arabic")
    )
    return counts.select(
        "doc_id",
        "n_han",
        "n_cyr",
        "n_ar",
        "n_latin",
        dom.alias("dominant_script"),
    )


@query(
    "q265_path_analysis",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events WHERE user_id IS NOT NULL
    ), collapsed AS (
      SELECT user_id, event_type,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS step
      FROM ordered WHERE prev IS NULL OR event_type != prev
    ), paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY step) AS path
      FROM collapsed WHERE step <= 5 GROUP BY user_id
    )
    SELECT path, COUNT(*) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 20
    """,
)
def q265(spark, sf_dir):
    """User-journey PATH analysis (the Sankey-diagram source, CH's
    sequenceNextNode generalized to whole paths): per user, the first 5
    steps of the event-type sequence with consecutive repeats collapsed
    (view>view>click becomes view>click), then path frequencies.  Two
    window passes sharing one user_id partitioning + one path-level
    aggregate; top-20 with a total-order tiebreak.  The repeat-collapse
    uses lag() within the SAME sort the step numbering uses, so both
    engines see identical paths."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w).alias("prev"),
    )
    kept = ordered.filter(
        F.col("prev").isNull() | (F.col("event_type") != F.col("prev"))
    )
    ws = Window.partitionBy("user_id").orderBy("ts", "event_id")
    collapsed = kept.withColumn("step", F.row_number().over(ws)).filter(
        F.col("step") <= 5
    )
    paths = collapsed.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("step", "event_type"))),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )


@query(
    "q266_orc_roundtrip",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_val
    FROM events
    WHERE value IS NOT NULL AND event_id % 3 = 0
    GROUP BY event_type
    """,
)
def q266(spark, sf_dir):
    """ORC source/sink round trip — the second columnar format beside
    Parquet (both are first-class Spark-native scans with pushdown and
    pruning): the filtered events subset is written as ORC (zstd) to a
    scratch dir, read BACK through the ORC reader, and aggregated; the
    oracle aggregates the same subset straight from parquet, so any
    value/type mangling through the ORC writer-reader pair (timestamp
    precision, decimal widening, NULL handling) breaks the hash."""
    import os
    import tempfile

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & (F.col("event_id") % 3 == 0))
        .select("event_id", "event_type", "value")
    )
    base = scratch_dir("orc_rt_")
    path = os.path.join(base, "events_orc")
    ev.write.mode("overwrite").option("compression", "zstd").orc(path)
    back = spark.read.orc(path)
    cents = F.round(F.col("value") * 100).cast("bigint")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents).cast("double") / 100.0).alias("sum_val"),
    )


@query(
    "q267_window_funnel_modes",
    """
    WITH coded AS (
      SELECT user_id,
             CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                  WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                  ELSE 'e' END AS code,
             CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
             ts, event_id
      FROM events WHERE user_id IS NOT NULL
    ), seqs AS (
      SELECT user_id,
             string_agg(code, '' ORDER BY ts, event_id) AS seq
      FROM coded GROUP BY user_id
    ), lv AS (
      SELECT user_id,
             MAX(CASE WHEN code = 'v' THEN 1 ELSE 0 END) AS l1,
             MAX(CASE WHEN code = 'c' AND min_v_before < tsec
                      THEN 1 ELSE 0 END) AS l2,
             MAX(CASE WHEN code = 'p' AND min_c2_before < tsec
                      THEN 1 ELSE 0 END) AS l3
      FROM (
        SELECT user_id, code, tsec, min_v_before,
               MIN(CASE WHEN code = 'c' AND min_v_before < tsec
                        THEN tsec END) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS min_c2_before
        FROM (
          SELECT user_id, code, tsec, ts, event_id,
                 MIN(CASE WHEN code = 'v' THEN tsec END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS min_v_before
          FROM coded)
      ) GROUP BY user_id
    )
    SELECT s.user_id,
           CAST(CASE
             WHEN regexp_matches(s.seq, 'v[^v]*c[^vc]*p') THEN 3
             WHEN regexp_matches(s.seq, 'v[^v]*c') THEN 2
             WHEN regexp_matches(s.seq, 'v') THEN 1
             ELSE 0 END AS INT) AS level_strict_dedup,
           CAST(CASE WHEN lv.l3 = 1 THEN 3
                     WHEN lv.l2 = 1 THEN 2
                     WHEN lv.l1 = 1 THEN 1
                     ELSE 0 END AS INT) AS level_strict_increase
    FROM seqs s JOIN lv ON lv.user_id = s.user_id
    """,
)
def q267(spark, sf_dir):
    """The two remaining ClickHouse ``windowFunnel`` modes beside loose
    (q97/q163) and strict_order (q241):

    - ``strict_dedup`` — a REPEAT of an already-matched condition
      interrupts the funnel (a second view before the click kills the
      v→c advance): one regex with per-step exclusion classes over the
      q207 total-ordered event string.
    - ``strict_increase`` — matched steps need STRICTLY increasing
      timestamps, which a regex over codes cannot see.  The Spark side
      is a greedy FOLD over the time-ordered event list with the state
      packed into one BIGINT (level·2^44 + last_matched_tsec) via
      native ``aggregate``.  The ORACLE deliberately uses a DIFFERENT
      formulation — running-window minima (earliest view before each
      click, earliest qualified click before each purchase) — which
      equals the greedy fold by the exchange argument (taking the
      earliest valid step only relaxes future constraints), so the two
      independent derivations cross-validate each other.  A
      ``list_reduce`` mirror of the fold was tried first and REJECTED:
      DuckDB 1.0's list_reduce returns different results for the same
      group depending on what other rows are in the table (2 of 1500
      users flipped at sf0.1; the same SQL filtered to those users
      gives the correct level) — a vectorization bug worth knowing
      about.  Second-truncated timestamps make real ties, so the
      mode's constraint actually bites.

    One shuffle per user; both modes evaluate on the same grouped pass."""
    T = 17592186044416  # 2^44
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    code = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    cid = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
        .otherwise(0)
        .cast("bigint")
    )
    packed = cid * T + F.unix_timestamp("ts")
    coded = ev.select(
        "user_id",
        F.struct(
            "ts", "event_id", code.alias("code"), packed.alias("ev")
        ).alias("e"),
    )
    s = coded.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("e")), lambda x: x["code"]
            ),
            "",
        ).alias("seq"),
        F.transform(
            F.array_sort(F.collect_list("e")), lambda x: x["ev"]
        ).alias("evs"),
    )
    dedup_level = (
        F.when(F.col("seq").rlike("v[^v]*c[^vc]*p"), 3)
        .when(F.col("seq").rlike("v[^v]*c"), 2)
        .when(F.col("seq").rlike("v"), 1)
        .otherwise(0)
        .cast("int")
    )

    def step(acc, x):
        lvl = (acc / T).cast("bigint")
        last = acc % T
        c = (x / T).cast("bigint")
        ts = x % T
        advance = (c == lvl + 1) & ((lvl == 0) | (ts > last))
        return F.when(advance, (lvl + 1) * T + ts).otherwise(acc)

    inc_level = (
        F.aggregate(
            F.concat(F.array(F.lit(0).cast("bigint")), F.col("evs")),
            F.lit(0).cast("bigint"),
            step,
        )
        / T
    ).cast("int")
    return s.select(
        "user_id",
        dedup_level.alias("level_strict_dedup"),
        inc_level.alias("level_strict_increase"),
    )


@query(
    "q268_running_uniques",
    """
    WITH firsts AS (
      SELECT user_id, CAST(min(date_trunc('day', ts)) AS DATE) AS first_day
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), new_by_day AS (
      SELECT first_day AS day, COUNT(*) AS new_users
      FROM firsts GROUP BY first_day
    ), dau AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(DISTINCT user_id) AS active_users
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           d.active_users,
           COALESCE(n.new_users, 0) AS new_users,
           CAST(SUM(COALESCE(n.new_users, 0)) OVER (
             ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW) AS BIGINT) AS cumulative_uniques
    FROM dau d LEFT JOIN new_by_day n ON n.day = d.day
    """,
)
def q268(spark, sf_dir):
    """Running CUMULATIVE distinct users by day — the classic growth
    metric that naive running `COUNT(DISTINCT)` windows cannot compute
    at scale (distinct state would accumulate across the whole frame).
    The scale-safe identity: cumulative uniques to day D = Σ over days
    ≤ D of users whose FIRST event falls on that day — one min-per-user
    shuffle (partial-agg mergeable), a tiny day-level frame, and a
    running sum over ~30 rows.  Daily actives ride the same scan."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    day = F.date_trunc("day", "ts").cast("date")
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("first_day"))
    new_by_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    dau = ev.groupBy(day.alias("day")).agg(
        F.countDistinct("user_id").alias("active_users")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    joined = dau.join(new_by_day, "day", "left").select(
        "day",
        "active_users",
        F.coalesce("new_users", F.lit(0)).alias("new_users"),
    )
    return joined.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "active_users",
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_uniques"),
    )


@query(
    "q269_light_stemmer",
    """
    WITH toks AS (
      SELECT lower(t.w) AS w
      FROM documents d, LATERAL (
        SELECT unnest(string_split(d.text, ' ')) AS w) t
      WHERE t.w != ''
    ), stemmed AS (
      SELECT regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(w, 'sses$', 'ss'),
                   'ies$', 'i'),
                 'ing$', ''),
               '([^s])s$', '\\\\1') AS stem
      FROM toks
    )
    SELECT stem, COUNT(*) AS cnt
    FROM stemmed WHERE stem != ''
    GROUP BY stem
    ORDER BY cnt DESC, stem
    LIMIT 20
    """,
)
def q269(spark, sf_dir):
    """ClickHouse ``stem()`` approximated by a deterministic LIGHT
    stemmer (S-stemmer + -ing strip): four ordered regex rules both
    engines apply identically — sses→ss, ies→i, -ing strip, trailing
    -s strip guarded so 'ss' survives.  Rule-based stemming is exactly
    what a vocabulary-normalization pass over a 100 TB corpus runs
    when per-token model inference is too expensive: one Generate, one
    hash aggregate on the stem, top-20 with a total-order tiebreak.
    (Snowball's full rule set is more of the same chained-regex
    machinery.)"""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    stem = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower("w"), "sses$", "ss"),
                "ies$",
                "i",
            ),
            "ing$",
            "",
        ),
        "([^s])s$",
        "$1",
    )
    return (
        toks.select(stem.alias("stem"))
        .filter(F.col("stem") != "")
        .groupBy("stem")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "stem")
        .limit(20)
    )


@query(
    "q270_snapshot_changefeed",
    """
    SELECT 'insert' AS change_type, event_type,
           COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM events WHERE event_id % 3 = 1
    GROUP BY event_type
    UNION ALL
    SELECT 'delete' AS change_type, event_type,
           COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM events WHERE event_id % 3 = 0 AND user_id % 5 = 0
    GROUP BY event_type
    """,
)
def q270(spark, sf_dir):
    """CDC changefeed READ between snapshot versions
    (`sources/snapshots.py:snapshot_diff`) — the consumer side of the
    store's mutation story (q165 writes, this reads what changed):
    v1 = the %3==0 slice, v2 = append of the %3==1 slice, v3 =
    transactional delete of uid%5==0 rows from the first slice.
    diff(v1 → v3) must surface exactly: INSERTS = the whole appended
    slice, DELETES = the erased rows — which the oracle derives
    straight from the base table.  Scale property: immutable data
    files named in both manifests are skipped WITHOUT READING — the
    diff's cost tracks the size of the change, not the table; the
    row-level exceptAll over just the changed-file subsets trims
    rewrite-copied rows out of the feed.  Updates would surface as
    delete+insert pairs, the standard changefeed encoding."""
    import tempfile

    from ..sources.snapshots import (
        rewrite_snapshot,
        snapshot_diff,
        write_snapshot,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    path = scratch_dir("cdcq_") + "/store"
    write_snapshot(ev.filter(F.col("event_id") % 3 == 0), path)  # v1
    write_snapshot(ev.filter(F.col("event_id") % 3 == 1), path)  # v2
    rewrite_snapshot(  # v3
        spark,
        path,
        lambda df: df.filter(
            ~((F.col("event_id") % 3 == 0) & (F.col("user_id") % 5 == 0))
        ),
    )
    feed = snapshot_diff(spark, path, 1, 3)
    return feed.groupBy(
        F.col("_change_type").alias("change_type"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
    )


@query(
    "q271_incremental_mv_changefeed",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           round(CAST(SUM(event_id) AS DOUBLE) / COUNT(*), 6) AS avg_event_id
    FROM events
    WHERE (event_id % 3 = 0 OR event_id % 3 = 1)
      AND NOT (event_id % 3 = 0 AND user_id % 5 = 0)
    GROUP BY event_type
    """,
)
def q271(spark, sf_dir):
    """TRUE incremental view maintenance, end to end
    (`sources/mv.py:refresh_mv_from_changefeed`): a per-type count/sum
    MV tracks a mutating snapshot store using ONLY CDC deltas — the
    append arrives as +partials, the GDPR-style delete-rewrite arrives
    as −partials from the changefeed (count/sum are self-inverting
    algebraic aggregates), and the raw table is never rescanned after
    the initial batch.  Sequence: v1 = %3==0 slice → MV init;
    v2 = append %3==1 → fold diff(v1,v2); v3 = delete uid%5==0 of the
    first slice → fold diff(v2,v3).  The final MV state must equal the
    oracle's direct aggregate over the equivalent filter — a drift of
    even one row in either direction breaks n / sum / avg.  Refresh
    cost is O(|change| + |groups|); the changefeed reads only changed
    files (q270)."""
    import tempfile

    from ..sources.mv import read_mv, refresh_mv, refresh_mv_from_changefeed
    from ..sources.snapshots import rewrite_snapshot, write_snapshot

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    base = scratch_dir("imvq_")
    src_path = base + "/source"
    mv_path = base + "/mv"

    s1 = ev.filter(F.col("event_id") % 3 == 0)
    write_snapshot(s1, src_path)  # v1
    refresh_mv(s1, mv_path, ["event_type"], ["event_id"], batch_id=1)

    write_snapshot(ev.filter(F.col("event_id") % 3 == 1), src_path)  # v2
    refresh_mv_from_changefeed(
        spark, mv_path, src_path, ["event_type"], ["event_id"], 1, 2,
        batch_id=2,
    )

    rewrite_snapshot(  # v3: transactional erasure
        spark,
        src_path,
        lambda df: df.filter(
            ~((F.col("event_id") % 3 == 0) & (F.col("user_id") % 5 == 0))
        ),
    )
    refresh_mv_from_changefeed(
        spark, mv_path, src_path, ["event_type"], ["event_id"], 2, 3,
        batch_id=3,
    )

    state = read_mv(spark, mv_path)
    return state.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_event_id").cast("bigint").alias("sum_event_id"),
        F.round(
            F.col("sum_event_id").cast("double") / F.col("n").cast("double"),
            6,
        ).alias("avg_event_id"),
    )


@query(
    "q272_sliding_distinct_kmv",
    """
    WITH days AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events WHERE user_id IS NOT NULL
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           (SELECT COUNT(DISTINCT e.user_id)
            FROM events e
            WHERE e.user_id IS NOT NULL
              AND CAST(date_trunc('day', e.ts) AS DATE)
                  BETWEEN d.day - INTERVAL 6 DAY AND d.day)
             AS exact_7d_uniques,
           TRUE AS kmv_within_10pct
    FROM days d
    """,
)
def q272(spark, sf_dir):
    """Sliding-window distinct via MERGEABLE sketches — the query exact
    distinct cannot serve at scale: 7-day rolling unique users needs
    either a 7× rescan per day or per-day distinct SETS merged over the
    window; HLL registers don't expose a native Spark window-merge, but
    KMV hash arrays DO, because the merge is pure array algebra.  Per
    day: the k smallest distinct user hashes (one sketch row per day,
    via `kmv_partials` + native per-day trim).  Per 7-day window: flatten
    the frame's arrays, array_distinct, re-trim to k — the same
    native merge as `kmv_merge`, just running INSIDE a window frame —
    then (k−1)/h_k.  Sketch state per day is O(k); the window pass
    touches day-level rows only.  The oracle pins the exact 7-day
    distinct (correlated per day) and a literal-TRUE 10% envelope
    (k=1024 → ~3.1% rel-stddev; measured well inside)."""
    from ..operators.sketches import kmv_partials

    K = 1024
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    day = F.date_trunc("day", "ts").cast("date")
    partials = kmv_partials(
        ev.select(day.alias("day"), "user_id"), "user_id", ["day"], K
    )
    per_day = partials.groupBy("day").agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("kmv_hashes")))),
            1,
            K,
        ).alias("h")
    )
    # window merge: flatten the 7-day frame's sketch arrays, re-trim
    wday = (
        Window.orderBy(F.col("day").cast("timestamp").cast("long"))
        .rangeBetween(-6 * 86400, 0)
    )
    merged = per_day.withColumn(
        "hw",
        F.slice(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("h").over(wday)))
            ),
            1,
            K,
        ),
    )
    est = F.when(
        F.size("hw") < K, F.size("hw").cast("double")
    ).otherwise(F.lit(float(K - 1)) / F.element_at("hw", K))
    with_est = merged.withColumn("est", est)

    exact = (
        ev.select(day.alias("d2"), "user_id")
        .alias("e")
        .join(
            per_day.select(F.col("day").alias("dref")).alias("r"),
            (F.col("e.d2") >= F.date_sub(F.col("r.dref"), 6))
            & (F.col("e.d2") <= F.col("r.dref")),
        )
        .groupBy("dref")
        .agg(F.countDistinct("user_id").alias("exact_7d_uniques"))
    )
    return (
        with_est.join(exact, with_est["day"] == exact["dref"])
        .select(
            F.date_format(with_est["day"], "yyyy-MM-dd").alias("day"),
            "exact_7d_uniques",
            (
                F.abs(F.col("est") - F.col("exact_7d_uniques"))
                <= 0.10 * F.col("exact_7d_uniques")
            ).alias("kmv_within_10pct"),
        )
    )


@query(
    "q273_bfs_frontier",
    """
    WITH RECURSIVE nodes AS (
      SELECT DISTINCT user_id AS id FROM events WHERE user_id IS NOT NULL
    ), edges AS (
      SELECT id AS src, (id * 2 + 1) % 1000 AS dst FROM nodes
      UNION ALL
      SELECT id AS src, (id * 3 + 7) % 1000 AS dst FROM nodes
    ), walk(node, d) AS (
      SELECT CAST(0 AS BIGINT) AS node, 0 AS d
      UNION ALL
      SELECT e.dst, w.d + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.d < 6
    )
    SELECT d AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(node) AS BIGINT) AS id_sum
    FROM (SELECT node, MIN(d) AS d FROM walk GROUP BY node)
    GROUP BY d
    """,
)
def q273(spark, sf_dir):
    """Distributed BFS — iterative frontier expansion, the graph
    traversal pattern connected components (q69) doesn't cover: from
    node 0 over a deterministic functional graph on the user-id space
    (each node points at 2n+1 mod 1000 and 3n+7 mod 1000), 6 levels of
    frontier ⋈ edges with visited-set subtraction.  Per round: ONE
    equi-join shuffle + localCheckpoint to truncate lineage (the same
    iterative-algorithm hygiene as q69); the frontier and visited set
    are node-sized, never edge-path-sized — at 100 TB the working set
    is the VERTEX set, which is what makes level-synchronous BFS the
    scalable formulation.  The oracle re-derives distances with a
    recursive CTE (UNION ALL walk bounded at depth 6, then MIN(d) per
    node), and the output compares the full per-level profile."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    nodes = ev.select(F.col("user_id").alias("id")).distinct()
    edges = nodes.select(
        F.col("id").alias("src"), ((F.col("id") * 2 + 1) % 1000).alias("dst")
    ).unionByName(
        nodes.select(
            F.col("id").alias("src"),
            ((F.col("id") * 3 + 7) % 1000).alias("dst"),
        )
    ).localCheckpoint(eager=True)

    spark_ = ev.sparkSession
    visited = spark_.createDataFrame([(0, 0)], "node long, dist int")
    frontier = visited
    for depth in range(1, 7):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(depth))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited.groupBy(F.col("dist").alias("dist")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum("node").cast("bigint").alias("id_sum"),
    )


@query(
    "q274_weighted_sample",
    """
    WITH scored AS (
      SELECT doc_id, n_chars,
             pow(
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)
                    AS BIGINT) / 4503599627370496.0,
               1.0 / n_chars) AS key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, round(key, 10) AS sample_key
    FROM (SELECT *, row_number() OVER (
            ORDER BY round(key, 10) DESC, doc_id) AS rn
          FROM scored)
    WHERE rn <= 25
    """,
)
def q274(spark, sf_dir):
    """Weighted random sampling WITHOUT replacement, the
    Efraimidis-Spirakis A-ES algorithm: each item draws u ~ U(0,1) and
    keeps key = u^(1/w); the k largest keys are an exact weighted
    sample.  The property that makes it THE distributed weighted
    sampler: keys are computed independently per row (one pass, no
    coordination), and top-k by key is a TakeOrdered — so a 100 TB
    weighted sample is one scan plus a k-row reduce, and the sample is
    reproducible because u comes from a content hash (md5 of the id,
    13 hex digits → exact /2^52 in both engines) rather than an RNG.
    Weights here are document lengths — longer docs proportionally more
    likely, the standard token-budget corpus-sampling move.  The
    oracle re-derives keys bit-identically; ranking compares
    10-dp-rounded keys with an id tiebreak."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
    ).cast("double") / float(1 << 52)
    key = F.pow(u, 1.0 / F.col("n_chars"))
    scored = d.select("doc_id", "n_chars", F.round(key, 10).alias("key"))
    w = Window.orderBy(F.col("key").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 25)
        .select("doc_id", "n_chars", F.col("key").alias("sample_key"))
    )


@query(
    "q275_rendezvous_hashing",
    """
    WITH assign AS (
      SELECT user_id,
             (SELECT b FROM (
                SELECT t.b,
                       CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
                            || '#' || CAST(t.b AS VARCHAR)), 1, 15)
                         AS BIGINT) AS hv
                FROM (SELECT unnest(range(0, 8)) AS b) t
              ) x ORDER BY hv DESC, b LIMIT 1) AS bucket8,
             (SELECT b FROM (
                SELECT t.b,
                       CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
                            || '#' || CAST(t.b AS VARCHAR)), 1, 15)
                         AS BIGINT) AS hv
                FROM (SELECT unnest(range(0, 8)) AS b) t
                WHERE t.b != 3
              ) x ORDER BY hv DESC, b LIMIT 1) AS bucket7
      FROM (SELECT DISTINCT user_id FROM events
            WHERE user_id IS NOT NULL) u
    )
    SELECT CAST(bucket8 AS INT) AS bucket8,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN bucket7 != bucket8 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_remapped,
           BOOL_AND(bucket7 = bucket8 OR bucket8 = 3) AS only_removed_moved
    FROM assign GROUP BY bucket8
    """,
)
def q275(spark, sf_dir):
    """Rendezvous (highest-random-weight) hashing — the consistent
    partition-assignment scheme behind CH's consistent-hash functions
    and every shard router: key → argmax over buckets of
    hash(key, bucket).  Its defining guarantee, pinned EXACTLY by the
    oracle: removing bucket 3 remaps ONLY the keys that lived on
    bucket 3 (every other key's argmax is untouched) —
    ``only_removed_moved`` must be literal TRUE per group, and
    ``n_remapped`` is 0 for every surviving bucket.  Native shape: the
    per-key argmax is a transform over a constant 8-element array +
    array_max — a pure projection, no join, no shuffle beyond the
    final count; at 100 TB this is exactly how a repartition-free
    shard-assignment audit runs.  Hashes are the portable md5-60
    currency, so DuckDB reproduces the argmax bit-for-bit."""
    from ..operators.dedup import portable_hash60

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    u = ev.select("user_id").distinct()

    def argmax_bucket(exclude=None):
        buckets = [b for b in range(8) if b != exclude]
        hv = [
            F.struct(
                portable_hash60(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit("#"),
                        F.lit(str(b)),
                    )
                ).alias("hv"),
                F.lit(-b).alias("negb"),
            )
            for b in buckets
        ]
        return (-F.array_max(F.array(*hv))["negb"]).cast("int")

    assign = u.select(
        "user_id",
        argmax_bucket().alias("bucket8"),
        argmax_bucket(exclude=3).alias("bucket7"),
    )
    return assign.groupBy("bucket8").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(
            F.when(F.col("bucket7") != F.col("bucket8"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_remapped"),
        F.bool_and(
            (F.col("bucket7") == F.col("bucket8")) | (F.col("bucket8") == 3)
        ).alias("only_removed_moved"),
    )






@query("q276_corr_matrix", _corrm_oracle())
def q276(spark, sf_dir):
    """ClickHouse ``corrMatrix``: ALL pairwise Pearson correlations of
    four lineitem measures in ONE aggregation pass — n + 4 sums +
    4 square-sums + 6 cross-sums, every one an EXACT integer
    (cent/basis-point quantized, widened to DECIMAL(38,0)/HUGEINT so
    1e19-magnitude squares can't wrap), then a fixed-order float
    epilogue per pair rounded to 6 dp.  One shuffle total vs six
    separate corr() scans — the q98 mergeable-moments rule generalized
    to the matrix, which is how feature-correlation audits run over
    100 TB feature tables."""
    li = _t(spark, sf_dir, "lineitem")
    names = [c for c, _ in _CORRM_COLS]
    q = {
        c: F.round(F.col(c) * s).cast("bigint").cast("decimal(38,0)")
        for c, s in _CORRM_COLS
    }
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in names:
        aggs.append(F.sum(q[c]).alias(f"s_{c}"))
        aggs.append(F.sum(q[c] * q[c]).alias(f"ss_{c}"))
    pairs = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            aggs.append(F.sum(q[a] * q[b]).alias(f"sp_{a}_{b}"))
            pairs.append((a, b))
    s = li.agg(*aggs)
    nd = F.col("n").cast("double")
    corr_cols = []
    for a, b in pairs:
        sa = F.col(f"s_{a}").cast("double")
        sb = F.col(f"s_{b}").cast("double")
        cov = F.col(f"sp_{a}_{b}").cast("double") - sa * sb / nd
        va = F.col(f"ss_{a}").cast("double") - sa * sa / nd
        vb = F.col(f"ss_{b}").cast("double") - sb * sb / nd
        corr_cols.append(
            F.round(cov / F.sqrt(va * vb), 6).alias(f"{a}__{b}")
        )
    # one wide row -> unpivot via stack: the aggregate runs ONCE, not
    # once per pair
    wide = s.select(*corr_cols)
    stack = (
        f"stack({len(pairs)}, "
        + ", ".join(f"'{a}', '{b}', `{a}__{b}`" for a, b in pairs)
        + ") as (col_a, col_b, corr)"
    )
    return wide.selectExpr(stack)


@query(
    "q277_benford_audit",
    """
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                    AS VARCHAR), 1, 1) AS INT) AS d
      FROM lineitem WHERE l_extendedprice > 0
    ), obs AS (
      SELECT d, COUNT(*) AS n FROM digits GROUP BY d
    ), tot AS (
      SELECT SUM(n) AS nt FROM obs
    )
    SELECT o.d AS first_digit,
           CAST(o.n AS BIGINT) AS n,
           round(CAST(o.n AS DOUBLE) / t.nt, 6) AS observed_p,
           round(log10(1.0 + 1.0 / o.d), 6) AS benford_p,
           round((CAST(o.n AS DOUBLE) / t.nt - log10(1.0 + 1.0 / o.d))
                 * (CAST(o.n AS DOUBLE) / t.nt - log10(1.0 + 1.0 / o.d))
                 / log10(1.0 + 1.0 / o.d) * t.nt, 6) AS chi2_contrib
    FROM obs o CROSS JOIN tot t
    """,
)
def q277(spark, sf_dir):
    """Benford's-law first-digit audit — the classic anomaly/fraud
    screen for financial measures: observed first-significant-digit
    shares vs the Benford expectation log10(1 + 1/d), with per-digit
    chi-squared contributions.  First digit extracted from the EXACT
    cent-quantized integer's decimal rendering (identical on both
    engines — no float-format dependence); one shuffle to 9 rows,
    everything after is arithmetic on the tiny digit frame.  On a
    100 TB ledger this is one scan; the fixture's uniform-ish prices
    predictably FAIL Benford (huge chi2), and the oracle pins those
    exact values — the point is the machinery, not the verdict."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 0)
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    d = F.substring(cents.cast("string"), 1, 1).cast("int")
    obs = li.select(d.alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = obs.agg(F.sum("n").alias("nt"))
    p_obs = F.col("n").cast("double") / F.col("nt").cast("double")
    p_ben = F.log10(1.0 + 1.0 / F.col("d"))
    return obs.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("first_digit"),
        F.col("n").cast("bigint").alias("n"),
        F.round(p_obs, 6).alias("observed_p"),
        F.round(p_ben, 6).alias("benford_p"),
        F.round(
            (p_obs - p_ben) * (p_obs - p_ben) / p_ben
            * F.col("nt").cast("double"),
            6,
        ).alias("chi2_contrib"),
    )


@query(
    "q278_sax_symbolization",
    """
    WITH hrs AS (
      SELECT event_type,
             CAST((epoch(date_trunc('hour', ts))
                   - epoch(date_trunc('day', min(ts) OVER ()))) / 3600
               AS BIGINT) AS hidx,
             COUNT(*) OVER (PARTITION BY event_type,
                            date_trunc('hour', ts)) AS c0
      FROM events
    ), hourly AS (
      SELECT DISTINCT event_type, hidx, c0 AS c FROM hrs
    ), segmented AS (
      SELECT event_type, hidx // 60 AS seg, AVG(CAST(c AS DOUBLE)) AS paa
      FROM hourly GROUP BY event_type, hidx // 60
    ), stats AS (
      SELECT event_type, AVG(paa) AS mu, STDDEV_SAMP(paa) AS sd
      FROM segmented GROUP BY event_type
    ), lettered AS (
      SELECT s.event_type, s.seg,
             CASE
               WHEN sd = 0 OR sd IS NULL THEN 'c'
               WHEN (paa - mu) / sd < -0.6745 THEN 'a'
               WHEN (paa - mu) / sd < 0 THEN 'b'
               WHEN (paa - mu) / sd < 0.6745 THEN 'c'
               ELSE 'd' END AS letter
      FROM segmented s JOIN stats ON stats.event_type = s.event_type
    )
    SELECT event_type,
           string_agg(letter, '' ORDER BY seg) AS sax_word
    FROM lettered GROUP BY event_type
    """,
)
def q278(spark, sf_dir):
    """SAX time-series symbolization (Lin/Keogh): hourly count series →
    Piecewise Aggregate Approximation (60-hour segment means) →
    z-normalize per series → map to a 4-letter alphabet at the N(0,1)
    quartile breakpoints (±0.6745, 0) → one word per series.  SAX is
    the standard trick for similarity search / motif mining over long
    series at scale because downstream matching works on tiny symbol
    strings instead of raw points; every stage here is an aggregate of
    an aggregate (raw → hourly → segments → letters), so the raw scan
    happens once and the rest is metadata-sized.  Breakpoint
    comparisons happen on identically-derived doubles; equal-boundary
    risk is absent because segment means sit far from the exact
    breakpoints on this data (verified at all fixture scales)."""
    ev = _t(spark, sf_dir, "events")
    day0 = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("d0")
    )
    hourly = (
        ev.crossJoin(F.broadcast(day0))
        .groupBy(
            "event_type",
            (
                (
                    F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
                    - F.unix_timestamp("d0")
                )
                / 3600
            )
            .cast("bigint")
            .alias("hidx"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    segmented = hourly.groupBy(
        "event_type", (F.col("hidx") / 60).cast("bigint").alias("seg")
    ).agg(F.avg(F.col("c").cast("double")).alias("paa"))
    stats = segmented.groupBy("event_type").agg(
        F.avg("paa").alias("mu"), F.stddev_samp("paa").alias("sd")
    )
    z = (F.col("paa") - F.col("mu")) / F.col("sd")
    letter = (
        F.when(F.col("sd").isNull() | (F.col("sd") == 0), "c")
        .when(z < -0.6745, "a")
        .when(z < 0, "b")
        .when(z < 0.6745, "c")
        .otherwise("d")
    )
    lettered = segmented.join(F.broadcast(stats), "event_type").select(
        "event_type", "seg", letter.alias("letter")
    )
    return lettered.groupBy("event_type").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg", "letter"))),
                lambda s: s["letter"],
            ),
        ).alias("sax_word")
    )


@query(
    "q279_log_histogram",
    """
    WITH b AS (
      SELECT CAST(floor(log2(value)) AS INT) AS bucket,
             COUNT(*) AS n
      FROM events WHERE value > 0
      GROUP BY 1
    ), tot AS (
      SELECT SUM(n) AS nt FROM b
    ), cum AS (
      SELECT bucket, n,
             SUM(n) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM b
    )
    SELECT cum.bucket,
           round(pow(2.0, cum.bucket), 6) AS lo,
           round(pow(2.0, cum.bucket + 1), 6) AS hi,
           CAST(cum.n AS BIGINT) AS n,
           CAST(cum.c AS BIGINT) AS cum_n,
           (CAST(cum.c - cum.n AS DOUBLE) < 0.5 * t.nt
            AND CAST(cum.c AS DOUBLE) >= 0.5 * t.nt) AS contains_p50,
           (CAST(cum.c - cum.n AS DOUBLE) < 0.95 * t.nt
            AND CAST(cum.c AS DOUBLE) >= 0.95 * t.nt) AS contains_p95
    FROM cum CROSS JOIN tot t
    """,
)
def q279(spark, sf_dir):
    """Exponential (log2) bucket histogram — the Prometheus/HDR
    observability shape: fixed RELATIVE error (every bucket spans 2×),
    bounded bucket count regardless of value range, and trivially
    mergeable (integer counts per bucket).  Quantiles read off the
    cumulative counts with a guaranteed ≤ 2× value error — the
    contains_p50/p95 booleans pin which bucket each quantile falls in,
    so a wrong bucket boundary or cumulative order is a hard FAIL.
    One shuffle to ~15 buckets; at 100 TB this is THE latency-summary
    shape because merging dashboards is integer addition."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 0)
    b = ev.groupBy(
        F.floor(F.log2("value")).cast("int").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = b.agg(F.sum("n").alias("nt"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = b.withColumn("c", F.sum("n").over(w))
    nt = F.col("nt").cast("double")
    prev = (F.col("c") - F.col("n")).cast("double")
    cur = F.col("c").cast("double")
    return cum.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(F.pow(F.lit(2.0), F.col("bucket")), 6).alias("lo"),
        F.round(F.pow(F.lit(2.0), F.col("bucket") + 1), 6).alias("hi"),
        F.col("n").cast("bigint").alias("n"),
        F.col("c").cast("bigint").alias("cum_n"),
        ((prev < 0.5 * nt) & (cur >= 0.5 * nt)).alias("contains_p50"),
        ((prev < 0.95 * nt) & (cur >= 0.95 * nt)).alias("contains_p95"),
    )


@query(
    "q280_seasonal_backtest",
    """
    WITH hourly AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(extract(hour FROM ts) AS INT) AS hr,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2, 3
    ), last_day AS (
      SELECT MAX(day) AS d FROM hourly
    ), actual AS (
      SELECT h.event_type, h.hr, h.c
      FROM hourly h CROSS JOIN last_day ld WHERE h.day = ld.d
    ), forecast AS (
      SELECT h.event_type, h.hr, h.c AS f
      FROM hourly h CROSS JOIN last_day ld
      WHERE h.day = ld.d - INTERVAL 7 DAY
    )
    SELECT a.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           round(SUM(abs(CAST(a.c AS DOUBLE) - f.f)
                     / ((abs(CAST(a.c AS DOUBLE)) + abs(CAST(f.f AS DOUBLE)))
                        / 2.0))
                 / COUNT(*), 6) AS smape,
           CAST(SUM(CAST(a.c AS BIGINT)) AS BIGINT) AS actual_total,
           CAST(SUM(CAST(f.f AS BIGINT)) AS BIGINT) AS forecast_total
    FROM actual a
    JOIN forecast f ON f.event_type = a.event_type AND f.hr = a.hr
    GROUP BY a.event_type
    """,
)
def q280(spark, sf_dir):
    """Seasonal-naive forecast BACKTEST — the baseline every production
    forecaster must beat, evaluated in-engine: predict the final day's
    hourly event counts from the same weekday one week earlier, score
    with sMAPE (symmetric, scale-free, defined even at zero actuals
    via the half-sum denominator — both engines evaluate the identical
    fixed-order expression).  Everything happens on the hourly
    aggregate (one raw shuffle): the join is 24 rows × type against 24
    rows × type.  The backtest-at-scale shape: model evaluation as a
    query, no data leaves the engine."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.hour("ts").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("c"))
    last_day = hourly.agg(F.max("day").alias("d"))
    actual = hourly.crossJoin(F.broadcast(last_day)).filter(
        F.col("day") == F.col("d")
    )
    forecast = (
        hourly.crossJoin(F.broadcast(last_day))
        .filter(F.col("day") == F.date_sub(F.col("d"), 7))
        .select("event_type", "hr", F.col("c").alias("f"))
    )
    j = actual.select("event_type", "hr", "c").join(
        forecast, ["event_type", "hr"]
    )
    ad = F.col("c").cast("double")
    fd = F.col("f").cast("double")
    term = F.abs(ad - fd) / ((F.abs(ad) + F.abs(fd)) / 2.0)
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.round(F.sum(term) / F.count(F.lit(1)), 6).alias("smape"),
        F.sum(F.col("c").cast("bigint")).cast("bigint").alias("actual_total"),
        F.sum(F.col("f").cast("bigint")).cast("bigint").alias(
            "forecast_total"
        ),
    )


@query(
    "q429_ch_array_series_math",
    """
    WITH e AS (
      SELECT user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS idx
      FROM events
    ), f AS (
      SELECT user_id, idx, x FROM e WHERE idx <= 8
    ), w1 AS (
      SELECT user_id, idx, x,
             CASE WHEN idx = 1 THEN 0
                  ELSE x - lag(x) OVER (PARTITION BY user_id ORDER BY idx)
             END AS dx,
             SUM(x) OVER (PARTITION BY user_id ORDER BY idx) AS cum,
             SUM(x - 5000) OVER (PARTITION BY user_id ORDER BY idx) AS p
      FROM f
    )
    SELECT user_id, CAST(idx AS BIGINT) AS idx, x,
           CAST(dx AS BIGINT) AS dx, CAST(cum AS BIGINT) AS cum,
           CAST(p - LEAST(0, MIN(p) OVER
                  (PARTITION BY user_id ORDER BY idx)) AS BIGINT) AS cumnn
    FROM w1 ORDER BY user_id, idx
    """,
)
def q429(spark, sf_dir):
    """CH array-series math — ``arrayDifference`` / ``arrayCumSum`` /
    ``arrayCumSumNonNegative`` — through the dialect shim as
    index-lambda transforms (element_at's 1-based index IS the
    0-based transform index's previous element; the clamped cumsum
    folds with a per-step greatest).  The oracle never folds: it uses
    Lindley's reflection identity  clamped_i = prefix_i − min(0,
    min_{j≤i} prefix_j)  over plain windows — two genuinely
    independent derivations of the same integers.  cumnn runs on
    (x − 5000) so the clamp actually engages."""
    from ..functions.ch_dialect import translate_ch_sql

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    arr = (
        ev.select(
            "user_id",
            (_dec("value") * 100).cast("bigint").alias("x"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 8)
        .groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "x"))),
                lambda s: s["x"],
            ).alias("arr")
        )
    )
    arr.createOrReplaceTempView("arr_t")
    ch = (
        "SELECT user_id, arr, arrayDifference(arr) AS dxs, "
        "arrayCumSum(arr) AS cums, "
        "arrayCumSumNonNegative(arrayMap(x -> x - 5000, arr)) AS cumnns "
        "FROM arr_t"
    )
    z = spark.sql(translate_ch_sql(ch)).select(
        "user_id",
        F.posexplode(F.arrays_zip("arr", "dxs", "cums", "cumnns")).alias(
            "pos", "z"
        ),
    )
    return z.select(
        "user_id",
        (F.col("pos") + 1).cast("bigint").alias("idx"),
        F.col("z.arr").alias("x"),
        F.col("z.dxs").cast("bigint").alias("dx"),
        F.col("z.cums").cast("bigint").alias("cum"),
        F.col("z.cumnns").cast("bigint").alias("cumnn"),
    ).orderBy("user_id", "idx")


@query(
    "q439_sum_for_each",
    """
    WITH src AS (
      SELECT event_type,
             [CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT),
              event_id % 7, user_id % 13, 1] AS arr
      FROM events
    ), ex AS (
      SELECT event_type,
             unnest(arr) AS x,
             unnest(range(0, len(arr))) AS idx
      FROM src
    ), agg AS (
      SELECT event_type, idx, CAST(SUM(x) AS BIGINT) AS s
      FROM ex GROUP BY event_type, idx
    )
    SELECT event_type,
           array_to_string(list(s ORDER BY idx), ',') AS sums
    FROM agg GROUP BY event_type ORDER BY event_type
    """,
)
def q439(spark, sf_dir):
    """CH ``sumForEach`` (the -ForEach combinator's flagship):
    element-wise array aggregation — per group, position i of the
    result is the sum of every input array's position i.  Expressed as
    posexplode → (group, idx) partial-agg sum → array rebuild from
    sorted (idx, sum) structs, so the shuffle carries ONE row per
    (group, position), never whole arrays, and the map-side combine
    collapses the per-partition element sums before the exchange —
    exactly how CH's combinator state merges.  Exact integers (cents /
    small moduli)."""
    ev = _t(spark, sf_dir, "events")
    arr = F.array(
        (_dec("value") * 100).cast("bigint"),
        (F.col("event_id") % 7).cast("bigint"),
        (F.col("user_id") % 13).cast("bigint"),
        F.lit(1).cast("bigint"),
    )
    ex = ev.select("event_type", F.posexplode(arr).alias("idx", "x"))
    agg = ex.groupBy("event_type", "idx").agg(
        F.sum("x").cast("bigint").alias("s")
    )
    return (
        agg.groupBy("event_type")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "s"))),
                    lambda t: t["s"].cast("string"),
                ),
                ",",
            ).alias("sums")
        )
        .orderBy("event_type")
    )
