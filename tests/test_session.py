"""Unit tests for the session fork (`session.fork` / `session.reroot`)."""

from __future__ import annotations


def test_fork_copies_runtime_conf_and_leaves_caller_alone(spark):
    from pyspark import RDD

    from syslog_handler_with_clickhouse_spark.session import fork, reroot

    tz = "spark.sql.session.timeZone"
    parts = "spark.sql.shuffle.partitions"
    prev_tz, prev_parts = spark.conf.get(tz), spark.conf.get(parts)
    to_df = RDD.toDF
    try:
        spark.conf.set(tz, "Asia/Tokyo")  # a runtime-only setting
        f = fork(spark, {parts: "3"})
        assert f.conf.get(tz) == "Asia/Tokyo"
        assert f.conf.get(parts) == "3"
        assert spark.conf.get(parts) == prev_parts
        f.conf.set(tz, "UTC")
        assert spark.conf.get(tz) == "Asia/Tokyo"
        # rdd.toDF keeps building frames of the caller's sessions
        assert RDD.toDF is to_df
        df = spark.range(10).selectExpr("id % 3 AS g")
        assert reroot(df, spark) is df
        moved = reroot(df, f)
        assert moved.sparkSession is f
        back = reroot(moved.groupBy("g").count().localCheckpoint(), spark)
        assert back.sparkSession is spark
        assert sorted(map(tuple, back.collect())) == [(0, 4), (1, 3), (2, 3)]
    finally:
        spark.conf.set(tz, prev_tz)
