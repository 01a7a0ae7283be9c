"""Structured Streaming ingest: the reference's hot path (SURVEY §3.1).

Reference pipeline: UDP read loop → ParseLog → buffered channel →
count-or-timeout micro-batcher → batched ClickHouse insert
(`main.go:67-88`, `lib/cacheManage.go:12-65`).

Spark mapping:
- source       → readStream (file source for tests/replay; Kafka for
                 production syslog relay)
- ParseLog     → the P1-P8 native projection (functions/parse.py)
- micro-batch  → trigger(processingTime='2 seconds')  (CacheTimeout,
                 `main.go:20`); batch size bounded by source rate limits
                 (maxFilesPerTrigger), standing in for CacheSize
                 (`main.go:19`) — Spark governs batch size at the source,
                 not the sink
- sink         → foreachBatch → date-partitioned Parquet append with
                 checkpointing: exactly-once, a documented upgrade over
                 the reference's at-most-once drop-on-error
                 (`lib/cacheManage.go:60-62`)
- backpressure → source-side rate limiting replaces the cap-10000 channel
                 (`main.go:21,64`)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.parse import parse_syslog_columns
from ..sources.sinks import write_logs_batch

TRIGGER_SECONDS = 2  # CacheTimeout, `main.go:20`
MAX_FILES_PER_TRIGGER = 10  # burst bound, stands in for CacheSize/BufferLimit


def raw_lines_stream(
    spark: SparkSession,
    input_dir: str,
    device_from_filename: bool = True,
    max_files_per_trigger: int = MAX_FILES_PER_TRIGGER,
) -> DataFrame:
    """File-based raw-line source: one syslog line per row.

    The 'device' (peer address, `main.go:79`) has no socket metadata in a
    file replay, so it is recovered from the source file name — tests
    write one file per simulated device, named ``<ip>_<port>.log``
    (underscore, not colon: Hadoop paths reject ':' in file names); the
    extraction restores the reference's ``ip:port`` form.
    """
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(input_dir)
    )
    device = (
        F.regexp_replace(
            F.regexp_extract(F.input_file_name(), r"([^/]+)\.log", 1), "_", ":"
        )
        if device_from_filename
        else F.lit("unknown:0")
    )
    return lines.select(F.col("value").alias("raw"), device.alias("device"))


def parsed_stream(raw: DataFrame, clock_col: str | None = None) -> DataFrame:
    cols = parse_syslog_columns(
        F.col("raw"), F.col("device"), F.col(clock_col) if clock_col else None
    )
    return raw.select(*cols.values())


def start_ingest(
    spark: SparkSession,
    input_dir: str,
    store_path: str,
    checkpoint_path: str,
    available_now: bool = False,
    device_from_filename: bool = True,
) -> StreamingQuery:
    """source → parse → foreachBatch parquet append, 2 s cadence.

    ``available_now=True`` drains everything currently in the source and
    stops — the deterministic mode tests use.
    """
    parsed = parsed_stream(
        raw_lines_stream(spark, input_dir, device_from_filename=device_from_filename)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # `flushLogs` analogue (`lib/cacheManage.go:35-65`); the echo line
        # (`lib/cacheManage.go:63`) becomes query progress metrics.
        write_logs_batch(batch_df, store_path)

    writer = parsed.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{TRIGGER_SECONDS} seconds")
    return writer.start()


def start_ingest_snapshots(
    spark: SparkSession,
    input_dir: str,
    store_path: str,
    checkpoint_path: str,
    available_now: bool = False,
    stat_cols: list[str] | None = None,
) -> StreamingQuery:
    """source → parse → foreachBatch into the TRANSACTIONAL snapshot store
    (`sources/snapshots.py`).

    Each micro-batch commits with its batch_id recorded in the manifest,
    so a foreachBatch replay (crash between data write and checkpoint
    advance — the window where plain-parquet appends duplicate) is
    detected and skipped: end-to-end exactly-once without relying on the
    sink directory's rename semantics.  Upgrades the reference's
    at-most-once drop-on-error (`lib/cacheManage.go:60-62`)."""
    from ..sources.snapshots import write_snapshot

    parsed = parsed_stream(raw_lines_stream(spark, input_dir))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        write_snapshot(
            batch_df, store_path, batch_id=batch_id, stat_cols=stat_cols
        )

    writer = parsed.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{TRIGGER_SECONDS} seconds")
    return writer.start()
