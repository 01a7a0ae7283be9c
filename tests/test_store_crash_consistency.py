"""Torn-insert crash consistency for the stored indexes (round 17).

A stored-index insert is several job-atomic table appends in sequence;
a crash between them leaves a PREFIX written.  Round 16's guards
probed a table other than the first-written one, so (BM25) a retry
could silently duplicate orphaned postings, and (IVF-PQ) vectors with
v rows but no codes were invisible to the coarse scan while the guard
refused the repair retry.  These tests SIMULATE the torn states by
performing only the first append (exactly the writes the insert
performs), then pin:

  1. the retried insert REFUSES with a torn-specific message naming
     the repair recipe (not the misleading replay message);
  2. the repair path completes the store;
  3. serving after repair is bit-equal to a cleanly built store —
     no silently dropped candidates.

Cited behavior: round-16 VERDICT 'What's wrong #2'.

The later tests pin the store core (operators/store.py): a missing
table is reported by its logical name, a compact refuses non-local
table locations before dropping anything, and the dedup store's
compaction crash windows (failed write, crash before the relabel
truncation, both label generations present) all serve the same labels.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

DOCS = {
    1: "the quick brown fox jumps over the lazy dog",
    2: "quick brown foxes are quick and brown",
    3: "the lazy dog sleeps all day long every day",
    4: "a fox and a dog met a lazy fox",
    5: "nothing in common here whatsoever tonight",
    6: "dog dog dog and one lazy fox again",
}


def _bm25_drop(spark, prefix):
    for t in (f"{prefix}_postings", f"{prefix}_dl", f"{prefix}_df"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.sql(f"DROP TABLE IF EXISTS {t}__alt")


def _ivf_drop(spark, prefix):
    for t in (f"{prefix}_v", f"{prefix}_codes", f"{prefix}_cent",
              f"{prefix}_books"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.sql(f"DROP TABLE IF EXISTS {t}__alt")


def _bm25_tear(spark, prefix, batch):
    """The torn state: ONLY the postings append of bm25_store_insert
    (its first write), byte-for-byte the same writer settings."""
    from syslog_handler_with_clickhouse_spark.operators.store import (
        _table_num_buckets,
    )
    from syslog_handler_with_clickhouse_spark.operators.retrieval import (
        _bm25_batch_stats,
    )

    tp = f"{prefix}_postings"
    bp = _bm25_batch_stats(batch)[0]
    nb = _table_num_buckets(spark, tp)
    bp.select("doc_id", "token", "tf").repartition(
        nb, "token"
    ).write.mode("append").bucketBy(nb, "token").sortBy(
        "token"
    ).saveAsTable(tp)


def test_bm25_torn_insert_refused_repaired_and_bit_equal(spark, tmp_path):
    from syslog_handler_with_clickhouse_spark.operators.retrieval import (
        bm25_store_fsck,
        bm25_store_init,
        bm25_store_insert,
        bm25_store_repair,
        bm25_store_topk,
    )

    df = spark.createDataFrame(list(DOCS.items()),
                               "doc_id long, text string")
    b1 = df.filter(F.col("doc_id") <= 3)
    b2 = df.filter(F.col("doc_id") > 3)
    queries = df.filter(F.col("doc_id").isin(1, 4)).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    prefix, clean = "t17bmtorn", "t17bmclean"
    bm25_store_init(spark, prefix, num_buckets=4,
                    location=str(tmp_path / "torn"))
    bm25_store_init(spark, clean, num_buckets=4,
                    location=str(tmp_path / "clean"))
    try:
        bm25_store_insert(spark, prefix, b1, assert_new=True)
        _bm25_tear(spark, prefix, b2)  # crash after append #1

        rep = bm25_store_fsck(spark, prefix)
        assert not rep["consistent"]
        assert rep["docs_missing_dl"] == 3          # docs 4,5,6
        assert rep["df_delta"] > 0                  # df partial missing

        # the retry refuses with the TORN message, not the replay one
        with pytest.raises(ValueError, match="TORN prior insert"):
            bm25_store_insert(spark, prefix, b2, assert_new=True)

        wrote = bm25_store_repair(spark, prefix, b2)
        assert wrote == {"postings": False, "dl": True, "df": True}
        assert bm25_store_fsck(spark, prefix)["consistent"]
        # a second repair is a no-op; a replay retry now says replay
        assert bm25_store_repair(spark, prefix, b2) == {
            "postings": False, "dl": False, "df": False,
        }
        with pytest.raises(ValueError, match="replays already-indexed"):
            bm25_store_insert(spark, prefix, b2, assert_new=True)

        # serving == a cleanly built store, bit for bit
        bm25_store_insert(spark, clean, b1)
        bm25_store_insert(spark, clean, b2)
        got = sorted(map(tuple, bm25_store_topk(
            spark, prefix, queries, k=4, max_df_num=9, max_df_den=10
        ).collect()))
        want = sorted(map(tuple, bm25_store_topk(
            spark, clean, queries, k=4, max_df_num=9, max_df_den=10
        ).collect()))
        assert got == want and got
    finally:
        _bm25_drop(spark, prefix)
        _bm25_drop(spark, clean)


def test_bm25_repair_wrong_batch_is_loud(spark, tmp_path):
    """A df shortfall that does not match the offered batch means a
    DIFFERENT batch is torn — repair must refuse, not corrupt df."""
    from syslog_handler_with_clickhouse_spark.operators.retrieval import (
        bm25_store_init,
        bm25_store_insert,
        bm25_store_repair,
    )

    df = spark.createDataFrame(list(DOCS.items()),
                               "doc_id long, text string")
    b1 = df.filter(F.col("doc_id") <= 3)
    b2 = df.filter(F.col("doc_id").isin(4, 5))
    b3 = df.filter(F.col("doc_id") == 6)
    prefix = "t17bmwrong"
    bm25_store_init(spark, prefix, num_buckets=4, location=str(tmp_path))
    try:
        bm25_store_insert(spark, prefix, b1)
        _bm25_tear(spark, prefix, b2)  # b2 is the torn batch
        with pytest.raises(ValueError, match="DIFFERENT batch"):
            bm25_store_repair(spark, prefix, b3)
    finally:
        _bm25_drop(spark, prefix)


def test_ivfpq_torn_insert_refused_repaired_and_bit_equal(spark, tmp_path):
    from syslog_handler_with_clickhouse_spark.operators.store import (
        _table_num_buckets,
    )
    from syslog_handler_with_clickhouse_spark.operators.similarity import (
        _ivfpq_encode,
        ivfpq_scan,
        ivfpq_store_index,
        ivfpq_store_init,
        ivfpq_store_insert,
        ivfpq_store_repair,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )
    b0 = emb.filter(F.col("vec_id") % 3 == 0)
    b1 = emb.filter(F.col("vec_id") % 3 == 1)
    b2 = emb.filter(F.col("vec_id") % 3 == 2)
    prefix, clean = "t17ivftorn", "t17ivfclean"
    ivfpq_store_init(spark, prefix, b0, num_buckets=4,
                     location=str(tmp_path / "torn"))
    ivfpq_store_init(spark, clean, b0, num_buckets=4,
                     location=str(tmp_path / "clean"))
    try:
        ivfpq_store_insert(spark, prefix, b1, assert_new=True)
        # torn: ONLY the v append of ivfpq_store_insert (first write)
        tv = f"{prefix}_v"
        v_new, _codes = _ivfpq_encode(
            b2, spark.table(f"{prefix}_cent"),
            spark.table(f"{prefix}_books"),
            8, "vec_id", "embedding", 64,
        )
        nb = _table_num_buckets(spark, tv)
        v_new.repartition(nb, "vid").write.mode("append").bucketBy(
            nb, "vid"
        ).sortBy("vid").saveAsTable(tv)

        # the silent-drop demonstration: pre-repair, NO b2 vector can
        # ever be returned as a neighbor (no codes -> never a coarse
        # candidate), even though the scan runs without complaint
        b2_ids = {r.vec_id for r in b2.select("vec_id").collect()}
        st = ivfpq_store_index(spark, prefix)
        pred = F.col("vid") % 10 == 0
        pre = ivfpq_scan(st, k=5, query_pred=pred).collect()
        assert pre and not any(r.neighbor_id in b2_ids for r in pre)

        with pytest.raises(ValueError, match="TORN prior insert"):
            ivfpq_store_insert(spark, prefix, b2, assert_new=True)

        n_b2 = b2.count()
        assert ivfpq_store_repair(spark, prefix) == {"repaired": n_b2}
        assert ivfpq_store_repair(spark, prefix) == {"repaired": 0}
        with pytest.raises(ValueError, match="replays already-indexed"):
            ivfpq_store_insert(spark, prefix, b2, assert_new=True)

        # bit-equal to the clean two-insert store, and the probe vector
        # now finds itself
        ivfpq_store_insert(spark, clean, b1)
        ivfpq_store_insert(spark, clean, b2)
        st = ivfpq_store_index(spark, prefix)
        stc = ivfpq_store_index(spark, clean)
        ca = sorted((r.vid, r.m, r.code, r.cluster)
                    for r in st["codes"].collect())
        cb = sorted((r.vid, r.m, r.code, r.cluster)
                    for r in stc["codes"].collect())
        assert ca == cb and ca
        sa = sorted(map(tuple, ivfpq_scan(st, k=5,
                                          query_pred=pred).collect()))
        sb = sorted(map(tuple, ivfpq_scan(stc, k=5,
                                          query_pred=pred).collect()))
        assert sa == sb and sa
        # ...and the repaired store DOES surface b2 neighbors now
        assert any(r[1] in b2_ids for r in sa)
    finally:
        _ivf_drop(spark, prefix)
        _ivf_drop(spark, clean)


# -- store core: missing tables and non-local locations ---------------


def test_missing_store_table_error_names_logical_table(spark):
    """With neither ``t`` nor ``t__alt`` in the catalog, resolving a
    store must fail up front naming the LOGICAL table — not hand back
    ``t__alt`` for a later "table not found: t__alt"."""
    from syslog_handler_with_clickhouse_spark.operators.retrieval import (
        bm25_store_fsck,
    )

    with pytest.raises(ValueError,
                       match=r"'nostore_postings' does not exist"):
        bm25_store_fsck(spark, "nostore")


def test_compact_refuses_non_local_location_before_dropping(
    spark, tmp_path, monkeypatch
):
    """The generation swap removes table directories with local file
    operations, which would silently do nothing on HDFS/S3.  A table
    whose location is not ``file:`` must fail the compact before any
    table is dropped or written."""
    from syslog_handler_with_clickhouse_spark.operators import store
    from syslog_handler_with_clickhouse_spark.operators.retrieval import (
        bm25_store_compact,
        bm25_store_init,
        bm25_store_insert,
    )

    prefix = "remoteloc"
    bm25_store_init(spark, prefix, num_buckets=4, location=str(tmp_path))
    try:
        bm25_store_insert(spark, prefix, spark.createDataFrame(
            list(DOCS.items()), "doc_id long, text string"))
        files = sorted(p for p in tmp_path.rglob("*") if p.is_file())
        real = store._table_meta

        class _Remote:
            def __init__(self, meta):
                self._meta = meta

            def location(self):
                return spark._jvm.java.net.URI(
                    "hdfs://namenode:8020/warehouse/"
                    + self._meta.identifier().table()
                )

            def __getattr__(self, name):
                return getattr(self._meta, name)

        monkeypatch.setattr(store, "_table_meta",
                            lambda s, t: _Remote(real(s, t)))
        with pytest.raises(ValueError, match="not on the local filesystem"):
            bm25_store_compact(spark, prefix, full=True)
        monkeypatch.undo()
        for t in ("postings", "dl", "df"):
            assert spark.catalog.tableExists(f"{prefix}_{t}")
            assert not spark.catalog.tableExists(f"{prefix}_{t}__alt")
        assert sorted(p for p in tmp_path.rglob("*") if p.is_file()) == files
    finally:
        _bm25_drop(spark, prefix)


# -- incremental dedup store: compaction crash windows ----------------


def _dd_drop(spark, prefix):
    for t in (f"{prefix}_buckets", f"{prefix}_labels",
              f"{prefix}_relabel"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.sql(f"DROP TABLE IF EXISTS {t}__alt")


def _dd_store(spark, tmp_path, prefix):
    """A dedup store whose third insert bridges two components, so the
    relabel table holds a delta (20 -> 10) that compaction folds into
    the labels.  Returns the resolved labels as a dict."""
    import random

    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        incremental_dedup_store_init,
        incremental_dedup_store_insert,
        incremental_dedup_store_labels,
    )

    words = [f"w{i}" for i in range(1000)]

    def mk(seed, n=30):
        r = random.Random(seed)
        return " ".join(r.choice(words) for _ in range(n))

    ta, tb = mk(1003), mk(2003)
    corpus = spark.createDataFrame(
        [(10, ta), (11, ta), (20, tb), (21, tb), (30, ta + " " + tb)],
        "doc_id long, text string",
    )
    incremental_dedup_store_init(spark, prefix, num_buckets=2,
                                 location=str(tmp_path))
    for pred in (F.col("doc_id").isin(10, 11), F.col("doc_id").isin(20, 21),
                 F.col("doc_id") == 30):
        incremental_dedup_store_insert(spark, prefix, corpus.filter(pred))
    labels = _dd_labels(spark, prefix, incremental_dedup_store_labels)
    assert labels == {10: 10, 11: 10, 20: 10, 21: 10, 30: 10}
    return labels


def _dd_labels(spark, prefix, read):
    return {r.node: r.comp for r in read(spark, prefix).collect()}


def test_dedup_compact_failed_write_keeps_labels(spark, tmp_path,
                                                 monkeypatch):
    """A compact whose labels write job FAILS must leave the labels
    readable and unchanged.  An in-place overwrite drops the table
    before its job runs, so a failed job there loses the labels; the
    generation swap only ever writes the table it does not read."""
    from pyspark.sql.readwriter import DataFrameWriter

    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        incremental_dedup_store_compact,
        incremental_dedup_store_labels,
    )

    prefix = "ddfailwrite"
    try:
        want = _dd_store(spark, tmp_path, prefix)
        rel = sorted(map(tuple, spark.table(f"{prefix}_relabel").collect()))
        real = DataFrameWriter.saveAsTable

        def failing(self, name, *args, **kwargs):
            # the same write, but its job fails on the first row
            if name.startswith(f"{prefix}_labels"):
                bad = self._df.withColumn("node", F.when(
                    F.col("node").isNotNull(),
                    F.raise_error(F.lit("injected write failure")),
                ).otherwise(F.col("node")))
                return real(bad.write.mode("overwrite").option(
                    "path", str(tmp_path / "failed" / name)), name)
            return real(self, name, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "saveAsTable", failing)
        with pytest.raises(Exception, match="injected write failure"):
            incremental_dedup_store_compact(spark, prefix, full=True)
        monkeypatch.undo()

        assert _dd_labels(spark, prefix,
                          incremental_dedup_store_labels) == want
        assert sorted(map(tuple, spark.table(
            f"{prefix}_relabel").collect())) == rel
        # the store still compacts cleanly afterwards
        incremental_dedup_store_compact(spark, prefix, full=True)
        assert _dd_labels(spark, prefix,
                          incremental_dedup_store_labels) == want
    finally:
        _dd_drop(spark, prefix)


def test_dedup_compact_crash_before_relabel_truncation(spark, tmp_path,
                                                       monkeypatch):
    """A compact that stops after the labels swap but before the
    relabel truncation serves the same labels: the swapped labels are
    terminal, so re-applying the leftover deltas changes nothing."""
    from syslog_handler_with_clickhouse_spark.operators import store
    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        DEDUP_STORE,
        incremental_dedup_store_compact,
        incremental_dedup_store_labels,
    )

    prefix = "ddcrashtrunc"
    try:
        want = _dd_store(spark, tmp_path, prefix)

        def crash(spark_, table):
            raise RuntimeError("crash before truncation")

        monkeypatch.setattr(store, "truncate", crash)
        with pytest.raises(RuntimeError, match="crash before truncation"):
            incremental_dedup_store_compact(spark, prefix)
        monkeypatch.undo()

        tb, tl, tr = store.resolve(spark, DEDUP_STORE, prefix)
        assert tl == f"{prefix}_labels__alt"          # the swap completed
        assert spark.table(tr).count() == 1           # deltas still there
        assert _dd_labels(spark, prefix,
                          incremental_dedup_store_labels) == want
        incremental_dedup_store_compact(spark, prefix)
        assert spark.table(tr).count() == 0
        assert _dd_labels(spark, prefix,
                          incremental_dedup_store_labels) == want
    finally:
        _dd_drop(spark, prefix)


def test_dedup_both_label_generations_resolve_to_base(spark, tmp_path):
    """The crash window between a swap's write and its drop leaves both
    label generations: the resolver picks the base name, serving is
    value-correct, and the next compact removes the orphan."""
    from syslog_handler_with_clickhouse_spark.operators import store
    from syslog_handler_with_clickhouse_spark.operators.dedup import (
        DEDUP_STORE,
        incremental_dedup_store_compact,
        incremental_dedup_store_labels,
    )

    prefix = "ddbothgens"
    try:
        want = _dd_store(spark, tmp_path, prefix)
        incremental_dedup_store_compact(spark, prefix)   # labels -> __alt
        alt = f"{prefix}_labels__alt"
        # the next compact's crash window: the new base generation is
        # fully written, the __alt drop never ran
        spark.table(alt).write.mode("overwrite").bucketBy(
            2, "node"
        ).sortBy("node").option(
            "path", str(tmp_path / f"{prefix}_labels")
        ).saveAsTable(f"{prefix}_labels")
        assert spark.catalog.tableExists(alt)
        assert store.resolve(spark, DEDUP_STORE, prefix)[1] == (
            f"{prefix}_labels"
        )
        assert _dd_labels(spark, prefix,
                          incremental_dedup_store_labels) == want
        incremental_dedup_store_compact(spark, prefix)
        assert spark.catalog.tableExists(alt)
        assert not spark.catalog.tableExists(f"{prefix}_labels")
        assert _dd_labels(spark, prefix,
                          incremental_dedup_store_labels) == want
    finally:
        _dd_drop(spark, prefix)
