"""Regression gate for driver-side fixture regenerations.

The driver has regenerated the ``events`` fixture with different parquet
timestamp physical types across rounds (TIMESTAMP(NANOS) → TIMESTAMP(MICROS)
NTZ).  Every ``ts`` consumer assumes session-TZ TimestampType; the
normalization lives in one place (``sources/testdata.normalize_events_ts``)
and this test makes the NEXT regeneration fail loudly here instead of in 17
scattered queries (round-3 verdict, directive #5).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import TimestampType

from syslog_handler_with_clickhouse_spark.sources.testdata import (
    load_table,
    normalize_events_ts,
)

SF_DIRS = [
    d for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    if os.path.isdir(d)
]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_ts_is_session_tz_timestamp(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType), (
        f"{sf_dir}/events.parquet: ts surfaced as {df.schema['ts'].dataType}; "
        "extend normalize_events_ts for this fixture generation"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_events_stream_ts_is_session_tz_timestamp(spark, sf_dir):
    # The streaming twin of the batch loader — the round-3 regression hit
    # exactly the path the batch fix missed.
    from syslog_handler_with_clickhouse_spark.queries import _events_stream

    df = _events_stream(spark, sf_dir)
    assert df.isStreaming
    assert isinstance(df.schema["ts"].dataType, TimestampType)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_normalize_is_idempotent(spark, sf_dir):
    df = load_table(spark, sf_dir, "events")
    again = normalize_events_ts(df)
    assert again.schema == df.schema


# ---------------------------------------------------------------- pinned scans
#
# load_table pins each scan's schema from the parquet footer
# (sources.testdata.footer_schema) instead of running Spark's
# schema-inference job.  The pin must give exactly what inference gives,
# or not pin at all.


@pytest.mark.parametrize("infer_ntz", ["true", "false"])
@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_footer_schema_equals_inference(spark, sf_dir, infer_ntz):
    from syslog_handler_with_clickhouse_spark.schema import TESTDATA_TABLES
    from syslog_handler_with_clickhouse_spark.session import fork
    from syslog_handler_with_clickhouse_spark.sources.testdata import (
        INFER_NTZ,
        footer_schema,
    )

    sess = spark if infer_ntz == "true" else fork(spark, {INFER_NTZ: infer_ntz})
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        inferred = sess.read.parquet(path).schema
        assert footer_schema(sess, path) == inferred, name
        if name != "events":
            assert load_table(sess, sf_dir, name).schema == inferred, name


def test_load_table_runs_no_job(spark):
    from syslog_handler_with_clickhouse_spark.schema import TESTDATA_TABLES

    sc = spark.sparkContext
    sc.setJobGroup("pinned-fixture-scans", "load_table")
    try:
        for name in TESTDATA_TABLES:
            load_table(spark, SF_DIRS[0], name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("pinned-fixture-scans")) == []


def _adversarial_tables():
    import datetime
    from decimal import Decimal

    import pyarrow as pa

    ns = [1_700_000_000_123_456_789, None, 1_600_000_000_000_000_999]
    return {
        # name: (table, pinned?)
        "nanos": (pa.table({"ts": pa.array(ns, pa.timestamp("ns"))}), True),
        # falls back, and the fallback still reads the nanos as int64
        "nanos_and_decimal": (pa.table({
            "ts": pa.array(ns, pa.timestamp("ns")),
            "d": pa.array([Decimal("1.25"), None, Decimal("-3.50")], pa.decimal128(10, 2))}),
            False),
        "int96": (pa.table({"ts": pa.array(ns, pa.timestamp("ns"))}), False),
        "millis": (pa.table({"ts": pa.array([1, None, 2_000], pa.timestamp("ms"))}), False),
        "utc_micros": (pa.table({"ts": pa.array([1, None, 3], pa.timestamp("us", tz="UTC"))}),
                       True),
        "binary": (pa.table({"b": pa.array([b"\x00\xff", None, b""], pa.binary())}), False),
        "decimal": (pa.table({"d": pa.array([Decimal("1.25"), None, Decimal("-3.50")],
                                             pa.decimal128(10, 2))}), False),
        "list": (pa.table({"l": pa.array([[1.5, None], None, []], pa.list_(pa.float64()))}),
                 True),
        "required": (pa.table({
            "l": pa.array([[1.5], [], [2.0, 3.0]],
                          pa.list_(pa.field("element", pa.float64(), nullable=False))),
            "i": pa.array([1, 2, 3], pa.int64())},
            schema=pa.schema([
                pa.field("l", pa.list_(pa.field("element", pa.float64(), nullable=False)),
                         nullable=False),
                pa.field("i", pa.int64(), nullable=False)])), True),
        "struct": (pa.table({"s": pa.array([{"x": 1}, None, {"x": None}],
                                           pa.struct([("x", pa.int32())]))}), False),
        "map": (pa.table({"m": pa.array([[("a", 1)], None, []],
                                        pa.map_(pa.string(), pa.int32()))}), False),
        "uint32": (pa.table({"u": pa.array([0, None, 2**32 - 1], pa.uint32())}), False),
        "uint64": (pa.table({"u": pa.array([0, None, 2**63], pa.uint64())}), False),
        "date_and_plain": (pa.table({
            "d": pa.array([datetime.date(2024, 2, 29), None, datetime.date(1970, 1, 1)]),
            "i": pa.array([1, None, -1], pa.int32()),
            "s": pa.array(["x", None, ""], pa.string()),
            "f": pa.array([True, None, False])}), True),
    }


@pytest.mark.parametrize("case", sorted(_adversarial_tables()))
def test_adversarial_footer_pins_or_falls_back(spark, tmp_path, case):
    """Off-whitelist leaves (INT96 — which pyarrow shows as timestamp[ns]
    — ms timestamps, un-annotated binary, decimals, nested and unsigned
    columns) go back to inference; every pin equals inference; the rows
    are the same either way."""
    import pyarrow.parquet as pq

    from syslog_handler_with_clickhouse_spark.session import fork
    from syslog_handler_with_clickhouse_spark.sources.testdata import (
        NANOS_AS_LONG,
        footer_schema,
    )

    table, pinned = _adversarial_tables()[case]
    path = str(tmp_path / "region.parquet")
    pq.write_table(table, path, use_deprecated_int96_timestamps=case == "int96")
    # nanos columns are only inferable under nanosAsLong
    reference = fork(spark, {NANOS_AS_LONG: "true"}).read.parquet(path)
    schema = footer_schema(spark, path)
    assert (schema is not None) == pinned
    if pinned:
        assert schema == reference.schema
    df = load_table(spark, str(tmp_path), "region")
    assert df.schema == reference.schema
    assert df.collect() == reference.collect()
    assert NANOS_AS_LONG not in spark.conf.getAll


def test_nanos_events_read_as_truncated_timestamps(spark, tmp_path):
    """A TIMESTAMP(NANOS) events fixture reads through both the batch
    loader and the stream as TimestampType truncated to µs, without the
    caller's nanosAsLong ever being set."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from syslog_handler_with_clickhouse_spark.queries._common import (
        _events_stream,
        _run_stream,
    )
    from syslog_handler_with_clickhouse_spark.sources.testdata import NANOS_AS_LONG

    ns = [1_700_000_000_123_456_789, 1_600_000_000_000_000_999, 999]
    pq.write_table(pa.table({
        "event_id": pa.array([0, 1, 2], pa.int64()),
        "ts": pa.array(ns, pa.timestamp("ns")),
    }), str(tmp_path / "events.parquet"))
    want = [(i, t // 1000) for i, t in enumerate(ns)]
    assert NANOS_AS_LONG not in spark.conf.getAll

    batch = load_table(spark, str(tmp_path), "events")
    assert isinstance(batch.schema["ts"].dataType, TimestampType)
    got = batch.selectExpr("event_id", "unix_micros(ts)").orderBy("event_id").collect()
    assert [tuple(r) for r in got] == want
    assert NANOS_AS_LONG not in spark.conf.getAll

    stream = _events_stream(spark, str(tmp_path))
    assert isinstance(stream.schema["ts"].dataType, TimestampType)
    out = _run_stream(stream.selectExpr("event_id", "unix_micros(ts) AS us"), "append")
    assert sorted(tuple(r) for r in out.collect()) == want
    assert NANOS_AS_LONG not in spark.conf.getAll
