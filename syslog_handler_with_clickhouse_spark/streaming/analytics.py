"""Streaming analytics over the parsed log stream (SURVEY §2.3 streaming).

The reference's ingest-time timestamps (`lib/lopParse.go:37,76`) make
event-time == processing-time, so lateness is structurally zero; the
watermarks here exist for the general case where event time is parsed
from the payload.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def errors_per_device_minute(
    logs: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Tumbling 1-minute error counts per device — the flagship query as a
    stream (append-mode capable thanks to the watermark)."""
    return (
        logs.withWatermark("Timestamp", watermark)
        .filter(F.col("Severity") <= 3)
        .groupBy(F.window("Timestamp", "1 minute").alias("w"), "Device")
        .agg(F.count(F.lit(1)).alias("n_errors"))
        .select(F.col("w.start").alias("minute"), "Device", "n_errors")
    )


def dedup_within_watermark(logs: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Stateful dedup on (Device, Message) — state bounded by the
    watermark instead of growing forever."""
    return logs.withWatermark("Timestamp", watermark).dropDuplicatesWithinWatermark(
        ["Device", "Message"]
    )


# ------------------------------------------------------- stateful operator

FLAP_STATE_SCHEMA = T.StructType([T.StructField("n_errors", T.LongType())])
FLAP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("Device", T.StringType()),
        T.StructField("n_errors", T.LongType()),
        T.StructField("flapping", T.BooleanType()),
    ]
)


def flap_detection(logs: DataFrame, threshold: int = 5) -> DataFrame:
    """Arbitrary stateful processing (applyInPandasWithState): running
    per-device error counter flags 'flapping' devices past a threshold.

    Stands in for the burst/flap detection a syslog pipeline runs on top
    of its store; state is one counter per device — O(devices) memory.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n_new = 0
        for pdf in pdfs:
            n_new += int((pdf["Severity"] <= 3).sum())
        (prev,) = state.get if state.exists else (0,)
        total = prev + n_new
        state.update((total,))
        yield pd.DataFrame(
            {
                "Device": [key[0]],
                "n_errors": [total],
                "flapping": [total >= threshold],
            }
        )

    return logs.groupBy("Device").applyInPandasWithState(
        update,
        outputStructType=FLAP_OUTPUT_SCHEMA,
        stateStructType=FLAP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------- transformWithState (Spark 4)

RATE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("Device", T.StringType()),
        T.StructField("total", T.LongType()),
        T.StructField("burst_max", T.LongType()),
    ]
)


def make_rate_processor(ttl_ms: int = 3_600_000):
    """Build the per-device rate ``StatefulProcessor`` (separately
    constructible so its accumulation arithmetic is testable without
    the streaming wire protocol — which needs google.protobuf, absent
    from this container; probe re-run 2026-08-17 round 17, still
    absent; same env-gate class as the live-CH handshake, ports
    8123/9000 both connection-refused on the same probe)."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    state_schema = T.StructType(
        [
            T.StructField("total", T.LongType()),
            T.StructField("burst", T.LongType()),
        ]
    )

    class RateProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState("rate", state_schema, ttl_ms)

        def handleInputRows(self, key, rows, timerValues):
            total, burst = 0, 0
            if self._state.exists():
                total, burst = self._state.get()
            n = 0
            for pdf in rows:
                n += len(pdf)
            total += n
            burst = max(burst, n)
            self._state.update((total, burst))
            yield pd.DataFrame(
                {
                    "Device": [key[0]],
                    "total": [total],
                    "burst_max": [burst],
                }
            )

        def close(self) -> None:
            pass

    return RateProcessor()


def device_rate_tracker(logs: DataFrame, ttl_ms: int = 3_600_000) -> DataFrame:
    """Per-device message-rate tracking on Spark 4's NEW arbitrary-state
    API (``transformWithStateInPandas`` + ``StatefulProcessor``): the
    successor to ``applyInPandasWithState`` (q77's flap detector) with
    composable named state and built-in per-state TTL — the TTL is what
    bounds state for the long-tail of devices that appear once and
    never again, which is the practical failure mode of an unbounded
    per-device counter at fleet scale.

    State: one (total, burst_max) ValueState per device, TTL'd.
    Emits the running totals per device per micro-batch."""
    return logs.groupBy("Device").transformWithStateInPandas(
        statefulProcessor=make_rate_processor(ttl_ms),
        outputStructType=RATE_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="ProcessingTime",
    )
