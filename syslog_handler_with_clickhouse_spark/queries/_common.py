"""Named query registry: one PySpark callable + one DuckDB oracle SQL per
operator from SURVEY §2.

Parity rules (the driver hashes values after sorting columns by name):
- every computed column aliased identically on both sides;
- double aggregates computed as exact DECIMAL(18,2) sums cast to double,
  so summation order can't perturb the hash;
- timestamps exported as formatted strings (UTC session time) to dodge
  µs/ns precision differences between Spark and DuckDB parquet readers;
- rankings always carry a total-order tiebreak.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    LANG_STOPWORDS,
    TOKEN_RE,
    fingerprint,
    quality_columns,
    token_count_bpe,
    token_count_ws,
    words,
)
from ..functions import geo as _geo
from ..operators import dedup, multimodal, similarity
from ..operators.joins import asof_join
from ..operators.topk import global_top_k, top_k_per_group
from ..session import fork, reroot
from ..sources.testdata import load_table, normalize_events_ts, scan_schema

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

TS_S = "yyyy-MM-dd HH:mm:ss"  # Spark pattern
TS_D = "%Y-%m-%d %H:%M:%S"  # DuckDB pattern
TSF_S = "yyyy-MM-dd HH:mm:ss.SSSSSS"
TSF_D = "%Y-%m-%d %H:%M:%S.%f"


def scratch_dir(prefix: str) -> str:
    """A per-invocation scratch directory that is actually RECLAIMED
    (round 18 — the q459 temp-dir-leak ADVICE generalized to the ~20
    query sites that write snapshot stores / stream sources under
    ``tempfile.mkdtemp``): removal is registered with atexit, because
    the returned lazy frame may read these files any time before the
    session ends, so in-query cleanup would break every consumer.
    Never reused across processes — no cross-run state."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dec(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


def _dsum(col: str, alias: str) -> Column:
    """Exact decimal sum exported as double — order-independent."""
    return F.sum(_dec(col)).cast("double").alias(alias)


# ---------------------------------------------------------------------
# shared helpers used across family modules (kept in original order)
# ---------------------------------------------------------------------

def spark_sql(spark: SparkSession, sql: str) -> DataFrame:
    return spark.sql(sql)


_DUP_UNION = """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
    )
"""


_COS_EXPR = """
round(
  list_reduce(list_transform(range(1, len({a}) + 1),
              i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)
  / (sqrt(list_reduce(list_transform(range(1, len({a}) + 1),
              i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)), (x, y) -> x + y))
   * sqrt(list_reduce(list_transform(range(1, len({b}) + 1),
              i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)))
, 6)"""


def _lang_case_sql() -> str:
    scores = {
        lang: "len(list_filter(string_split(text, ' '), w -> w IN ({})))".format(
            ", ".join(f"'{w}'" for w in ws)
        )
        for lang, ws in LANG_STOPWORDS.items()
    }
    return """
    SELECT doc_id,
           {s_en} AS s_en, {s_es} AS s_es, {s_fr} AS s_fr, {s_de} AS s_de,
           CASE
             WHEN {s_en} >= {s_es} AND {s_en} >= {s_fr} AND {s_en} >= {s_de} THEN 'en'
             WHEN {s_es} >= {s_fr} AND {s_es} >= {s_de} THEN 'es'
             WHEN {s_fr} >= {s_de} THEN 'fr'
             ELSE 'de'
           END AS pred_lang
    FROM documents
    """.format(
        s_en=scores["en"], s_es=scores["es"], s_fr=scores["fr"], s_de=scores["de"]
    )


_STREAM_EXEC_SEQ = [0]  # unique memory-sink names across repeated calls


_STREAM_DIRS: dict[str, str] = {}  # sf_dir → symlink dir for the file source


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events fixture as a REAL file-source stream (same ts
    normalization as the batch loader, schema pinned from the parquet
    footer).

    The file streaming source requires a directory, and the fixture is a
    single read-only file — so stream from a temp dir holding a symlink
    to it (one dir per sf_dir, reused across calls)."""
    import os

    from ..session import apply_runtime_conf

    apply_runtime_conf(spark)
    path = os.path.join(sf_dir, "events.parquet")
    if sf_dir not in _STREAM_DIRS:
        d = scratch_dir("events_stream_")
        os.symlink(path, os.path.join(d, "events.parquet"))
        _STREAM_DIRS[sf_dir] = d
    raw = spark.readStream.schema(scan_schema(spark, path)).parquet(_STREAM_DIRS[sf_dir])
    return normalize_events_ts(raw)


def _stream_fork(spark: SparkSession) -> SparkSession:
    """A fork of ``spark`` (:func:`~..session.fork`) at the stream
    shuffle width — start a stream there.

    Stateful streaming operators create one checkpointed state store PER
    SHUFFLE PARTITION per micro-batch — a fixed cost independent of data
    volume, so inheriting the batch setting (32 here) makes small-batch
    streams pay 32 stores' worth of commit overhead (q93, the worst
    case with TWO join state stores, runs 8.5 s at 32 partitions vs
    3.1 s at 8 for identical results).  State partitioning is fixed at
    the stream's first checkpoint, so the right number is per-stream.
    At 100 TB you'd raise SPARK_GRAFT_STREAM_SHUFFLE to match per-batch
    volume — the per-partition cost stays flat."""
    import os

    return fork(spark, {
        "spark.sql.shuffle.partitions":
            os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", "8"),
    })


def _run_stream(agg: DataFrame, mode: str) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    memory sink, in a stream fork (:func:`_stream_fork`); returns the
    sink's rows as a frame of ``agg``'s session."""
    spark = agg.sparkSession
    sess = _stream_fork(spark)
    _STREAM_EXEC_SEQ[0] += 1
    name = f"stream_exec_{_STREAM_EXEC_SEQ[0]}"
    q = (
        reroot(agg, sess).writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return reroot(sess.table(name), spark)


_BUCKETED_SEQ = [0]


_PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


_PII_IP_RE = r"\b\d{1,3}(\.\d{1,3}){3}\b"


_GEO_PENTAGON = [(0, 950), (904, 294), (559, -769), (-559, -769), (-904, 294)]


_GEO_PX = "(event_id % 2000) - 1000"


_GEO_PY = "((user_id * 7 + event_id) % 2000) - 1000"


_SCRIPT_HAN = "中文字数据分析系统流"


_SCRIPT_CYR = "абвгдежз"


_SCRIPT_AR = "ابتثجحخد"


_CORRM_COLS = [
    ("l_quantity", 100),
    ("l_extendedprice", 100),
    ("l_discount", 10000),
    ("l_tax", 10000),
]


def _corrm_oracle() -> str:
    quant = {
        c: f"CAST(round({c} * {s}) AS BIGINT)" for c, s in _CORRM_COLS
    }
    names = [c for c, _ in _CORRM_COLS]
    sums = ["COUNT(*) AS n"]
    for c in names:
        sums.append(f"SUM(CAST({quant[c]} AS HUGEINT)) AS s_{c}")
        sums.append(
            f"SUM(CAST({quant[c]} AS HUGEINT) * {quant[c]}) AS ss_{c}"
        )
    pairs = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            sums.append(
                f"SUM(CAST({quant[a]} AS HUGEINT) * {quant[b]}) AS sp_{a}_{b}"
            )
            pairs.append((a, b))
    sel = []
    for a, b in pairs:
        cov = (
            f"(CAST(sp_{a}_{b} AS DOUBLE) - CAST(s_{a} AS DOUBLE)"
            f" * CAST(s_{b} AS DOUBLE) / n)"
        )
        va = f"(CAST(ss_{a} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE) / n)"
        vb = f"(CAST(ss_{b} AS DOUBLE) - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE) / n)"
        sel.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
            f"round({cov} / sqrt({va} * {vb}), 6) AS corr FROM s"
        )
    return (
        "WITH s AS (SELECT "
        + ", ".join(sums)
        + " FROM lineitem) "
        + " UNION ALL ".join(sel)
    )


