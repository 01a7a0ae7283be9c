"""Round-18 optimization internals.

The value-level proof that none of the round-18 plan surgery moved a
result lives in test_oracle_parity.py (all registered queries); these
tests pin the new MECHANISMS directly:

* the driver-local union-find fast path in ``dedup_components`` (small
  graphs — one partition's edge budget — close on the driver and come
  back as a LocalRelation with exact stats, bit-identical labels to the
  star-contraction loop);
* ``materialize_batches`` (the q459 parquet round-trip behind a helper:
  one partitioned write, per-split frames with exact file-scan stats,
  cleanup actually removes the scratch dir);
* ``_ckpt_unless_local`` (driver-local frames skip the checkpoint job
  and keep their exact stats).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from syslog_handler_with_clickhouse_spark.operators import dedup
from syslog_handler_with_clickhouse_spark.operators.dedup import (
    _ckpt_unless_local,
    dedup_components,
    materialize_batches,
)


def _graph(spark):
    """Clique + 4-chain + singleton self-pair + isolated edge — every
    CC shape the operator documents (merge, path, degenerate)."""
    rows = (
        # 4-clique {1,2,3,4} given only as a path + one chord
        [(1, 2), (2, 3), (3, 4), (1, 4)]
        # long path {10..15}
        + [(i, i + 1) for i in range(10, 15)]
        # self-pair-only node (singleton label contract)
        + [(99, 99)]
        # isolated edge, reversed orientation on input
        + [(51, 50)]
        # duplicate edges both ways (dropDuplicates contract)
        + [(2, 1), (1, 2)]
    )
    return spark.createDataFrame(rows, "doc_a bigint, doc_b bigint")


def test_cc_driver_local_matches_distributed_loop(spark, monkeypatch):
    pairs = _graph(spark)
    fast = {(r.node, r.comp) for r in dedup_components(pairs).collect()}
    # force the distributed star-contraction loop on the same graph
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", -1)
    slow = {(r.node, r.comp) for r in dedup_components(pairs).collect()}
    assert fast == slow
    assert fast == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10), (13, 10), (14, 10), (15, 10),
        (99, 99),
        (50, 50), (51, 50),
    }


def test_cc_driver_local_returns_local_relation_with_exact_stats(spark):
    out = dedup_components(_graph(spark))
    plan = out._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    # exact (tiny) stats → downstream joins broadcast instead of SMJ
    assert int(plan.stats().sizeInBytes()) < 10_000


def test_cc_driver_local_stats_flag(spark):
    stats: list = []
    dedup_components(_graph(spark), stats=stats)
    assert len(stats) == 1
    assert stats[0]["driver_local"] is True
    assert stats[0]["changed"] == 0


def test_cc_empty_and_selfonly_through_fast_path(spark):
    empty = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    assert dedup_components(empty).collect() == []
    selfs = spark.createDataFrame(
        [(7, 7), (8, 8)], "doc_a bigint, doc_b bigint"
    )
    got = {(r.node, r.comp) for r in dedup_components(selfs).collect()}
    assert got == {(7, 7), (8, 8)}


def test_materialize_batches_split_exact_stats_and_cleanup(spark):
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
        (F.col("id") % 3).cast("int").alias("b"),
    )
    frames, cleanup = materialize_batches(df, "b", [0, 1, 2])
    assert [f.count() for f in frames] == [34, 33, 33]
    assert frames[0].columns == ["doc_id", "text"]
    # file-scan stats are EXACT (no join-estimate poison can survive a
    # parquet round trip) and small
    for f in frames:
        sz = int(f._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        assert 0 < sz < (1 << 20)
    # a value with no rows comes back empty with the same schema
    frames2, cleanup2 = materialize_batches(
        df.filter("b < 2"), "b", [0, 1, 2]
    )
    assert frames2[2].count() == 0
    assert frames2[2].schema == frames[0].schema
    # cleanup removes the scratch dirs (round 17 leaked them)
    base = None
    for f in (frames[0],):
        # recover the dir from the scan's input files
        base = os.path.dirname(os.path.dirname(f.inputFiles()[0]))
    base = base.replace("file:", "")
    cleanup()
    cleanup2()
    assert not os.path.exists(base)


def test_cluster_assignments_driver_local_matches_propagation(
    spark, monkeypatch
):
    pairs = _graph(spark)
    fast = {
        (r.doc, r.cluster)
        for r in dedup.cluster_assignments(pairs).collect()
    }
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", -1)
    slow = {
        (r.doc, r.cluster)
        for r in dedup.cluster_assignments(pairs).collect()
    }
    assert fast == slow
    # same component structure as dedup_components on the same graph
    assert fast == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10), (13, 10), (14, 10), (15, 10),
        (99, 99),
        (50, 50), (51, 50),
    }


def _bm25_fixture(spark, tmp_path, prefix):
    from syslog_handler_with_clickhouse_spark.operators.retrieval import (
        bm25_store_init,
        bm25_store_insert,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over a lazy dog"),
            (2, "a quick dog and a lazy fox"),
            (3, "grep awk sed pipelines for log files"),
            (4, "the dog sat on the log"),
            (5, "vector search with quantized codes"),
            (6, "fox dens and dog parks"),
        ],
        "doc_id long, text string",
    )
    bm25_store_init(spark, prefix, num_buckets=4, location=str(tmp_path))
    for pred in ("doc_id <= 2", "doc_id in (3, 4)", "doc_id >= 5"):
        bm25_store_insert(spark, prefix, df.filter(pred))
    return df


def _drop_store(spark, prefix):
    for t in (f"{prefix}_postings", f"{prefix}_dl", f"{prefix}_df"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.sql(f"DROP TABLE IF EXISTS {t}__alt")


def test_compact_swap_repeated_cycles_keep_relayouting(spark, tmp_path):
    """THE regression the round-17 rename-based one-pass compact hit:
    the first rename cycle worked, every later one silently stopped
    swapping the data directory (file counts grew 8→12→16).  The
    alternating-generation swap must re-layout on EVERY cycle: depth
    returns to 1, values stay bit-equal, and exactly one physical
    generation exists per logical table after each compact."""
    from syslog_handler_with_clickhouse_spark.operators.retrieval import (
        BM25_STORE,
        bm25_store_compact,
        bm25_store_insert,
        bm25_store_topk,
    )
    from syslog_handler_with_clickhouse_spark.operators.store import (
        _bucket_file_depth,
        resolve,
    )

    prefix = "t18swapcycles"
    df = _bm25_fixture(spark, tmp_path, prefix)
    queries = df.select(F.col("doc_id").alias("query_id"), "text")
    try:
        new_id = 100
        for cycle in range(3):
            # expected serving BEFORE the compact — compaction is pure
            # layout, so it must reproduce this bit for bit (the corpus
            # grows by one doc per cycle below, so recompute each time)
            want = sorted(
                map(
                    tuple,
                    bm25_store_topk(
                        spark, prefix, queries,
                        k=3, max_df_num=9, max_df_den=10,
                    ).collect(),
                )
            )
            bm25_store_compact(spark, prefix, full=True)
            tp, tl, td = resolve(spark, BM25_STORE, prefix)
            # generations alternate and exactly one physical table
            # exists per logical name
            suffix = "__alt" if cycle % 2 == 0 else ""
            assert tp == f"{prefix}_postings{suffix}", (cycle, tp)
            assert not spark.catalog.tableExists(
                f"{prefix}_postings" if suffix else f"{prefix}_postings__alt"
            )
            # every cycle re-layouts to depth 1 (the rename bug grew it)
            assert _bucket_file_depth(spark, tp) == 1, cycle
            got = sorted(
                map(
                    tuple,
                    bm25_store_topk(
                        spark, prefix, queries,
                        k=3, max_df_num=9, max_df_den=10,
                    ).collect(),
                )
            )
            assert got == want, cycle
            # appends keep landing in the current generation
            bm25_store_insert(
                spark,
                prefix,
                spark.createDataFrame(
                    [(new_id, "an entirely new dogless document")],
                    "doc_id long, text string",
                ),
            )
            new_id += 1
            assert _bucket_file_depth(spark, tp) == 2
    finally:
        _drop_store(spark, prefix)


def test_compact_swap_crash_window_serves_and_recovers(spark, tmp_path):
    """The one crash window the swap leaves open — compacted generation
    written, old generation not yet dropped (both physical tables
    exist) — must serve value-correct results through the resolver's
    deterministic preference, and the next compact must reclaim the
    orphan."""
    from syslog_handler_with_clickhouse_spark.operators.retrieval import (
        BM25_STORE,
        bm25_store_compact,
        bm25_store_fsck,
        bm25_store_topk,
    )
    from syslog_handler_with_clickhouse_spark.operators.store import resolve

    prefix = "t18swapcrash"
    df = _bm25_fixture(spark, tmp_path, prefix)
    queries = df.select(F.col("doc_id").alias("query_id"), "text")
    try:
        want = sorted(
            map(
                tuple,
                bm25_store_topk(
                    spark, prefix, queries, k=3, max_df_num=9, max_df_den=10
                ).collect(),
            )
        )
        # compact once: current generation is now __alt
        bm25_store_compact(spark, prefix, full=True)
        # simulate the crash window of the NEXT compact: the new base
        # generation fully written, the __alt drop never ran
        tp_alt = f"{prefix}_postings__alt"
        spark.table(tp_alt).write.mode("overwrite").bucketBy(
            4, "token"
        ).sortBy("token").option(
            "path", str(tmp_path / f"{prefix}_postings")
        ).saveAsTable(f"{prefix}_postings")
        assert spark.catalog.tableExists(f"{prefix}_postings")
        assert spark.catalog.tableExists(tp_alt)
        # resolver picks the base name deterministically; serving is
        # value-correct and the store consistent
        assert resolve(spark, BM25_STORE, prefix)[0] == f"{prefix}_postings"
        got = sorted(
            map(
                tuple,
                bm25_store_topk(
                    spark, prefix, queries, k=3, max_df_num=9, max_df_den=10
                ).collect(),
            )
        )
        assert got == want
        assert bm25_store_fsck(spark, prefix)["consistent"]
        # the next compact reclaims the orphan: exactly one generation
        bm25_store_compact(spark, prefix, full=True)
        assert spark.catalog.tableExists(tp_alt)
        assert not spark.catalog.tableExists(f"{prefix}_postings")
    finally:
        _drop_store(spark, prefix)


def test_floor_stays_honest_through_sanctioned_materialization(spark):
    """VERDICT r17 #2 regression pin: a JOIN-derived batch (the exact
    q459 shape whose Catalyst estimate inflated ~1700× and poisoned
    every derived width through a localCheckpoint) must reach the
    floor-consuming operators with an HONEST size once it goes through
    the sanctioned route (materialize_batches), and the leaf clamp must
    not need to fire.  The full-surface evidence is the round-18 sweep
    (floor_audit_r18_sf001.json: zero binding floors, zero clamp events
    across all 476 queries at sf0.01); this keeps the mechanism pinned
    at unit scale."""
    d = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta "),
                 F.col("id")).alias("text"),
    )
    nxt = d.select(F.col("doc_id").alias("nid"), F.col("text").alias("ntext"))
    bridged = d.join(nxt, F.col("nid") == F.col("doc_id") + 1).select(
        "doc_id", F.concat_ws(" ", "text", "ntext").alias("text")
    ).withColumn("b", F.lit(0))
    frames, cleanup = dedup.materialize_batches(bridged, "b", [0])
    try:
        batch = frames[0]
        # the materialized batch has a file-scan estimate, tiny
        floor = dedup._size_floor(batch)
        assert floor <= 1, floor
        events_before = len(dedup._FLOOR_CLAMP_EVENTS)
        # drive the floor-consuming operator entries on it
        dedup.minhash_lsh_pairs(batch, "text", "doc_id").collect()
        dedup.jaccard_pairs(batch, "text", "doc_id").collect()
        assert len(dedup._FLOOR_CLAMP_EVENTS) == events_before
    finally:
        cleanup()


def test_ckpt_unless_local_skips_local_relations(spark):
    import pandas as pd

    local = spark.createDataFrame(pd.DataFrame({"x": [1, 2, 3]}))
    same = _ckpt_unless_local(local)
    assert same is local
    dist = spark.range(10)
    ck = _ckpt_unless_local(dist)
    assert ck is not dist
    assert (
        ck._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
        == "LogicalRDD"
    )
