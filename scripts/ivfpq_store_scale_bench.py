"""Stored IVF-PQ index scale record, one order up from round 15
(round-16 verdict directive 3): the r15 sweep stopped at 5 M vectors
where the FULL-corpus quantizer training dominated init at 1 042 s
(store_index_scale_r15.json).  This records the complete stored-index
lifecycle at 10 M (and optionally 20 M) vectors with SAMPLED training
(`ivfpq_store_init(train_sample_mod=...)` — k-means + PQ codebooks on
the deterministic 1/s modular sample, full corpus encoded against the
frozen quantizers), plus the round-16 compaction policy and a PLANTED
recall check (the q389 protocol — brute force is off the table at
10 M², but 10 perturbed near-duplicates per query vector at quantized
distances 1²..10² are findable only if the index routes query and
plants together).

Protocol per corpus size N (B = N/100, s = train_sample_mod):
  1. synthesize N + 3·B vectors + 10 planted near-dups for each of 8
     query vectors (ids in a disjoint high range);
  2. time ivfpq_store_init(train_sample_mod=s)  [one-time];
  3. fold 3 batches of B with stats= telemetry and auto_compact_files
     DISARMED (measures the pure O(batch) append; depth grows 1/insert);
  4. time one explicit ivfpq_store_compact()    [the amortized LSM cost];
  5. scan the 8 planted queries pre- and post-compact; recall = mean
     planted hits in the top-10 (pinned ≥ 7/10 per query, both scans
     bit-equal — compaction is pure layout).

Run: python scripts/ivfpq_store_scale_bench.py [sizes_csv] [sample_mod]
     (default "1000000,10000000" 20)
Prints one JSON line; save as ivfpq_store_scale_r16.json and paste the
table into PERF.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from scripts.funnel_scale_bench import _stage_delta  # noqa: E402
from scripts.scale_bench import synth_embeddings  # noqa: E402
from syslog_handler_with_clickhouse_spark.metrics import (  # noqa: E402
    _completed_stages,
)
from syslog_handler_with_clickhouse_spark.operators.similarity import (  # noqa: E402
    ivfpq_scan,
    ivfpq_store_compact,
    ivfpq_store_index,
    ivfpq_store_init,
    ivfpq_store_insert,
)
from syslog_handler_with_clickhouse_spark.session import get_spark  # noqa: E402

PREFIX = "ivfstorescale"
N_QUERIES = 8
PLANT_BASE = 10_000_000_000  # plant ids live far above any corpus id


def timed(spark, fn):
    seen = {s["stageId"] for s in _completed_stages(spark)}
    t0 = time.perf_counter()
    out = fn()
    wall = round(time.perf_counter() - t0, 2)
    _, m = _stage_delta(spark, seen)
    return out, wall, m


def du_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return round(total / 1e6, 1)


def planted_corpus(spark, total: int, n: int):
    """synth_embeddings(total) as doubles + 10 q389-style perturbed
    near-duplicates for each of the 8 query vectors (vec_id multiples
    of n // N_QUERIES below n): component (vec_id + j) % 64 bumped by
    j/1000 — quantized d² = j², far below any random pair."""
    base = synth_embeddings(spark, total).withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    step = n // N_QUERIES
    plants = (
        base.filter((F.col("vec_id") % step == 0) & (F.col("vec_id") < n))
        .select(
            "vec_id",
            "embedding",
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("j"),
        )
        .select(
            (F.lit(PLANT_BASE) + F.col("vec_id") * 100 + F.col("j")).alias(
                "vec_id"
            ),
            F.transform(
                F.col("embedding"),
                lambda x, i: F.when(
                    i == (F.col("vec_id") + F.col("j")) % 64,
                    x + F.col("j") * 0.001,
                ).otherwise(x),
            ).alias("embedding"),
        )
    )
    return base.unionByName(plants), step


def scan_recall(spark, n: int, step: int):
    """Top-10 scan for the 8 query vectors; returns (per-query planted
    hits, rows) — each query's 10 plants are its exact top-10."""
    qpred = (F.col("vid") % step == 0) & (F.col("vid") < n)
    scan = ivfpq_scan(ivfpq_store_index(spark, PREFIX), k=10,
                      query_pred=qpred)
    rows = scan.collect()
    hits: dict = {}
    for r in rows:
        lo = PLANT_BASE + r.query_id * 100
        hits[r.query_id] = hits.get(r.query_id, 0) + (
            1 if lo < r.neighbor_id <= lo + 10 else 0
        )
    return hits, sorted((r.query_id, r.neighbor_id, r.rnk) for r in rows)


def bench(spark, n: int, sample_mod: int) -> dict:
    b = n // 100
    total = n + 3 * b
    row: dict = {"n_corpus": n, "n_batch": b, "train_sample_mod": sample_mod}
    corpus, step = planted_corpus(spark, total, n)
    # DISK_ONLY (round 18): the default deserialized level held tens of
    # GB of vector OBJECT arrays in the storage pool at 20 M — reading
    # an evicted partition back re-materializes a ~0.5 GB object array
    # per task and OOM'd the 8 g heap in one of two runs (GC-timing
    # luck; the HARNESS, not the operators).  Serialized disk blocks
    # stream instead.  Untimed region — does not touch the timed
    # init/insert/scan/compact numbers' methodology.
    from pyspark import StorageLevel as _SL

    corpus = corpus.repartition(max(32, total // 100_000)).localCheckpoint(
        eager=True, storageLevel=_SL.DISK_ONLY
    )
    loc = tempfile.mkdtemp(prefix="ivfstorescale_")
    try:
        train = corpus.filter(
            (F.col("vec_id") < n) | (F.col("vec_id") >= PLANT_BASE)
        )
        _, row["init_sec"], im = timed(
            spark,
            lambda: ivfpq_store_init(
                spark, PREFIX, train, num_buckets=64, location=loc,
                train_sample_mod=sample_mod,
            ),
        )
        row["init_shuffle_mb"] = im["shuffle_read_mb"]
        row["init_spill_mb"] = im.get("disk_spill_mb", 0)
        row["state_mb_after_init"] = du_mb(loc)
        stats: list = []
        for i in range(3):
            lo, hi = n + i * b, n + (i + 1) * b
            batch = corpus.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
            ).localCheckpoint(eager=True, storageLevel=_SL.DISK_ONLY)
            pre = du_mb(loc)
            _, sec, m = timed(
                spark,
                lambda: ivfpq_store_insert(
                    spark, PREFIX, batch, stats=stats
                ),
            )
            row[f"insert{i}_sec"] = sec
            row[f"insert{i}_shuffle_mb"] = m["shuffle_read_mb"]
            row[f"insert{i}_spill_mb"] = m.get("disk_spill_mb", 0)
            row[f"insert{i}_written_mb"] = round(du_mb(loc) - pre, 1)
            row[f"insert{i}_file_depth"] = stats[-1]["file_depth"]
        (hits_pre, rows_pre), row["scan_precompact_sec"], sm = timed(
            spark, lambda: scan_recall(spark, n, step)
        )
        row["scan_precompact_spill_mb"] = sm.get("disk_spill_mb", 0)
        _, row["compact_sec"], cm = timed(
            spark, lambda: ivfpq_store_compact(spark, PREFIX)
        )
        row["compact_shuffle_mb"] = cm["shuffle_read_mb"]
        from syslog_handler_with_clickhouse_spark.operators.similarity import (
            IVFPQ_STORE,
        )
        from syslog_handler_with_clickhouse_spark.operators.store import (
            _bucket_file_depth,
            _partition_file_depth,
            resolve,
        )

        phys = resolve(spark, IVFPQ_STORE, PREFIX)
        row["v_depth_post_compact"] = _bucket_file_depth(spark, phys[0])
        row["codes_depth_post_compact"] = _partition_file_depth(
            spark, phys[1]
        )
        (hits_post, rows_post), row["scan_postcompact_sec"], _ = timed(
            spark, lambda: scan_recall(spark, n, step)
        )
        assert rows_pre == rows_post, "compaction moved scan results"
        row["scan_bitequal_across_compact"] = True
        row["planted_recall_per_query"] = sorted(hits_post.values())
        row["recall_ok"] = all(v >= 7 for v in hits_post.values()) and len(
            hits_post
        ) == N_QUERIES
        return row
    finally:
        for t in (f"{PREFIX}_v", f"{PREFIX}_codes", f"{PREFIX}_cent",
                  f"{PREFIX}_books"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.sql(f"DROP TABLE IF EXISTS {t}__alt")
        shutil.rmtree(loc, ignore_errors=True)
        corpus.unpersist()


def main() -> None:
    sizes = [
        int(s)
        for s in (
            sys.argv[1] if len(sys.argv) > 1 else "1000000,10000000"
        ).split(",")
    ]
    sample_mod = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    spark = get_spark("ivfpq-store-scale")
    spark.sparkContext.setLogLevel("ERROR")
    out = {"loadavg_start": list(os.getloadavg()), "sweep": []}
    for n in sizes:
        row = bench(spark, n, sample_mod)
        print("#", row, file=sys.stderr, flush=True)
        out["sweep"].append(row)
    out["loadavg_end"] = list(os.getloadavg())
    print(json.dumps(out))


if __name__ == "__main__":
    main()
