"""SparkSession factory tuned for the engine.

The reference has no engine configuration beyond micro-batch constants
(`main.go:19-21`); everything here is Spark-side scale posture: AQE on,
bounded shuffle partitions for the local harness, Arrow for any
pandas-exchange path, UTC session time so timestamp semantics are stable
across engines (the DuckDB oracle is timezone-naive).  :func:`fork` is
how library code scopes a SQL conf without touching the caller's
session.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Runtime-settable confs we also (re-)apply to externally provided sessions
# (the correctness driver passes us its own SparkSession).
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # the store-state tables (dedup/BM25/IVF-PQ maintenance) are
    # written bucketBy + sortBy; with this on, a bucket holding ONE
    # file (post-bootstrap or post-compact) scans as already-sorted
    # and the insert-path SMJ drops the stored-side sort — measured at
    # the 10 M-doc point (round 15): per-insert disk spill 913 MB -> 0,
    # wall 45-70 s -> 38 s.  Buckets with multiple append files are
    # still (correctly) re-sorted, so the flag is safe for every other
    # bucketed read.
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "syslog-spark-engine") -> SparkSession:
    """Build (or fetch) the session used by tests and bench.

    local[N] here; on a real cluster the same confs apply — shuffle
    partition count would instead be sized to executors (or left to AQE
    with ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``).
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI on by default: its REST status API is how the skew-resilience
        # test and scripts/skew_bench.py read per-task shuffle metrics
        # (max-task vs median-task input).  SPARK_GRAFT_UI=false restores
        # the headless profile; the port auto-increments if 4040 is taken.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "true"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime-settable confs to an existing session.

    Used when the driver hands us its own session: session timezone MUST be
    UTC for parity with the timezone-naive DuckDB oracle.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — leave as-is
    return spark


def fork(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A private copy of ``spark`` with ``conf`` set on top — the one way
    library code scopes a SQL conf, like a ClickHouse query's
    ``SETTINGS`` clause.

    The fork clones the caller's session state: its runtime SQL conf
    (including every ``spark.conf.set`` made after start-up, e.g. the
    UTC zone and bucketed-scan ordering from :func:`apply_runtime_conf`),
    temp views, functions and query listeners. It shares the
    SparkContext and the catalog. Setting a conf on the fork never
    touches the caller, so a query running concurrently on the caller
    session (``run_actions``, another thread) never sees it.

    The rule: a conf binds where a plan is EXECUTED, not where it was
    built. Run work in the fork by re-rooting its inputs there with
    :func:`reroot`. A fork-rooted frame that a caller-session query
    consumes lazily executes under the CALLER's conf, so a result that
    must be computed under the fork's conf is materialized inside the
    fork (an eager ``localCheckpoint`` or a finished sink) before it is
    re-rooted back into the caller."""
    from pyspark import RDD

    to_df = RDD.toDF  # a new SparkSession object re-points rdd.toDF at itself
    out = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    RDD.toDF = to_df
    for k, v in conf.items():
        out.conf.set(k, v)
    return out


def reroot(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df``'s analyzed plan as a frame of ``session`` (same rows; the
    plan now plans and executes under ``session``'s conf)."""
    if df.sparkSession is session:
        return df
    jdf = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jdf, session)
