"""Loaders for the driver-generated fixture tables (TESTDATA.md).

Batch scans of columnar parquet — the Spark analogue of querying the
ClickHouse table the reference feeds (`lib/cacheManage.go:40`).  Every
scan keeps predicate pushdown / column pruning available to downstream
queries.

The scan's schema is pinned from the parquet footer
(:func:`scan_schema`): pyarrow reads the footer on the driver (0.05-0.2
ms per fixture table, warm) and the scan runs as
``spark.read.schema(...)``.  A plain ``spark.read.parquet`` would instead
start one schema-inference job per table per query: 36 jobs and 3.0 s
of a 14.7 s traced ``ingest_analytics`` benchmark pass on a 4-core box,
before the pin.  The footer is read on every call, so nothing is
remembered between calls.

The footer maps to Spark types by Spark's own inference rules, and only
for the leaf types both sides agree on (:func:`footer_schema`); any
other leaf sends the whole table back to inference.  The caller's SQL
conf is never written.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schema import TESTDATA_TABLES
from ..session import apply_runtime_conf, fork

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

INFER_NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# (physical type, logical type) → Spark type, for every leaf that Spark's
# parquet schema converter reads the same way whatever the session conf.
# Parquet types, not Arrow ones: pyarrow shows an INT96 column as
# timestamp[ns], which Spark reads as TimestampType.
_LEAF_TYPES = {
    ("BOOLEAN", "None"): T.BooleanType(),
    ("INT32", "None"): T.IntegerType(),
    ("INT64", "None"): T.LongType(),
    ("FLOAT", "None"): T.FloatType(),
    ("DOUBLE", "None"): T.DoubleType(),
    ("BYTE_ARRAY", "String"): T.StringType(),
    ("INT32", "Date"): T.DateType(),
}


def _leaf_type(col, infer_ntz: bool) -> T.DataType | None:
    """The Spark type of one parquet leaf column, or None off the
    whitelist."""
    logical = json.loads(col.logical_type.to_json())
    kind = logical["Type"]
    if kind == "Int" and logical["isSigned"] and (
            f"INT{logical['bitWidth']}" == col.physical_type):
        kind = "None"  # INT(32|64, signed) is the plain physical type
    if (col.physical_type, kind) in _LEAF_TYPES:
        return _LEAF_TYPES[(col.physical_type, kind)]
    if kind != "Timestamp" or col.physical_type != "INT64":
        return None
    if logical["timeUnit"] == "nanoseconds":
        # what inference gives under nanosAsLong; a pinned LongType reads
        # the int64 nanos without the conf (normalize_events_ts converts)
        return T.LongType()
    if logical["timeUnit"] != "microseconds":
        return None
    if logical["isAdjustedToUTC"] or not infer_ntz:
        return T.TimestampType()
    return T.TimestampNTZType()


def footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark would infer for the single parquet file ``path``,
    read from its footer on the driver; None when ``path`` is not a local
    file or a column falls outside the whitelist (:data:`_LEAF_TYPES`,
    µs and ns timestamps, and lists of those)."""
    if not os.path.isfile(path):
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    footer = pq.ParquetFile(path).schema
    infer_ntz = spark.conf.get(INFER_NTZ, "true").lower() == "true"
    leaves: dict[str, list] = {}
    for i in range(len(footer)):
        col = footer.column(i)
        leaves.setdefault(col.path.split(".")[0], []).append(col)
    fields = []
    for f in footer.to_arrow_schema():
        cols = leaves.get(f.name, [])
        if len(cols) != 1:
            return None
        col = cols[0]
        if pa.types.is_list(f.type) and col.path == f"{f.name}.list.element":
            elem = _leaf_type(col, infer_ntz)
            dtype = elem and T.ArrayType(elem)
        elif col.path == f.name and col.max_repetition_level == 0:
            dtype = _leaf_type(col, infer_ntz)
        else:
            dtype = None
        if dtype is None:
            return None
        fields.append(T.StructField(f.name, dtype))
    # a file scan's schema is all-nullable whatever the footer says
    return T.StructType(fields)


def scan_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema to read the parquet file ``path`` with: pinned from its
    footer, else inferred by Spark.  The fallback infers in a fork with
    nanosAsLong on, so a TIMESTAMP(NANOS) column next to an off-whitelist
    one still reads as int64 and the caller's conf stays untouched."""
    schema = footer_schema(spark, path)
    if schema is None:
        schema = fork(spark, {NANOS_AS_LONG: "true"}).read.parquet(path).schema
    return schema


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the ``ts`` column of an events scan to session-TZ
    TimestampType regardless of how the fixture generation stored it.

    Fixture generations have stored ``ts`` three ways:

    - TIMESTAMP(NANOS): Spark 4 rejects it when inferring a schema
      ([PARQUET_TYPE_ILLEGAL]); the pinned scan (:func:`scan_schema`)
      reads it as int64 nanos, truncated here to microseconds — DuckDB's
      reader truncates ns → µs identically, so oracle parity is exact.
    - TIMESTAMP(MICROS) with no TZ annotation: surfaces as TIMESTAMP_NTZ,
      which ltz-only functions (``unix_millis``/``unix_micros``) and
      streaming watermarks reject — cast to TimestampType.  The session TZ
      is pinned UTC (``apply_runtime_conf``), so wall-clock values and every
      downstream ``date_format``/oracle hash are unchanged.
    - TIMESTAMP(MICROS, isAdjustedToUTC): already TimestampType; no-op.
    """
    from pyspark.sql import functions as F

    dtype = df.schema["ts"].dataType
    if isinstance(dtype, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dtype, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown fixture table {name!r}; one of {TESTDATA_TABLES}")
    apply_runtime_conf(spark)  # UTC session time for oracle parity
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(scan_schema(spark, path)).parquet(path)
    return normalize_events_ts(df) if name == "events" else df
