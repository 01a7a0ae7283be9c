"""The benchmark workloads: the syslog pipeline (ingest, then the
headline queries) and the corpus stores.

Each workload is closed loop: one client in one process issues the next
operation only after the previous one returned.  A workload has

* ``prepare()`` — make the seeded inputs (untimed);
* ``check_pass()`` — one cold pass whose outputs are checked against an
  independent reference (untimed; it is also the only warm-up: a second
  one would cost as much as the timed pass, and a run has to fit the
  benchmark's time budget);
* ``timed_pass(i)`` — one measured pass;
* ``verify()`` — checks that run after the timed window (untimed);
* ``report(passes)`` / ``layers(passes)`` — end-to-end and per-layer
  metrics.

Operation failures are not caught here: an exception propagates and the
run fails.  Check failures are counted in ``self.failed``.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import statistics
import time
from dataclasses import dataclass, field

from gen import Corpus, write_backlog, write_fixtures

# bench.py's HEADLINE queries except q70, the streaming ingest query,
# whose path the ingest half of the pipeline workload drives through the
# package's own functions.
HEADLINE_QUERIES = [
    "q01_pricing_summary", "q109_tpch_q6", "q11_agg_basic", "q14_percentiles",
    "q17_topk_per_group", "q22_join_large", "q25_outer_join", "q26_range_join",
    "q27_asof_join", "q30_window_frames", "q34_explode_wordcount", "q38_jaccard_pairs",
    "q39_minhash_lsh", "q41_simsearch_brute", "q48_window_tumbling", "q50_session_window",
    "q51_parse_syslog", "q56_shipping_priority", "q57_local_supplier_volume",
    "q60_embedding_neardup", "q133_tpch_q13", "q136_tpch_q19", "q137_tpch_q21",
]

# Input sizes per scale: "full" is what the benchmark measures, "tiny"
# is the self-test's smoke size.
SIZES = {
    "full": {"ingest_lines": 20_000, "ingest_devices": 20, "fixture_sf": 0.001,
             "store_docs": 160, "store_vecs": 200, "store_appends": 1},
    "tiny": {"ingest_lines": 2_000, "ingest_devices": 8, "fixture_sf": 0.001,
             "store_docs": 40, "store_vecs": 100, "store_appends": 1},
}

TABLE_FILE_RE = re.compile(r"_(\d{5})\.c\d{3}")


def noop(df) -> None:
    """Evaluate every output column of ``df`` and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def data_files(path: str) -> dict[str, int]:
    """Data file path -> size under ``path`` (hidden and marker files
    excluded)."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else xs[0]


@dataclass
class Pass:
    """Samples of one timed pass.  Every pass of a workload runs the same
    operations on the same inputs, so an operation's name identifies it
    across passes."""

    wall_s: float = 0.0
    ops: dict = field(default_factory=dict)     # op name -> latency_s
    extra: dict = field(default_factory=dict)   # workload-specific sums

    def add(self, name: str, seconds: float) -> None:
        assert name not in self.ops, f"operation {name} ran twice in one pass"
        self.ops[name] = seconds

    def kind(self, kind: str) -> list[float]:
        """Latencies of the operations named ``<kind>.<...>``."""
        return [s for name, s in self.ops.items() if name.split(".", 1)[0] == kind]


def median_pass_s(passes: list[Pass]) -> float:
    """Pass time as the sum, over the operations of a pass, of each
    operation's median latency across ``passes``.  Work between
    operations (file listings, clean-up) is left out, and once a run has
    three or more passes, one disturbed pass barely moves it."""
    return sum(statistics.median(p.ops[name] for p in passes) for name in passes[0].ops)


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.sizes = SIZES[ctx.scale]
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def verify(self) -> None:
        pass

    def checked(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"check failed: {what}")

    def span(self, name: str):
        return self.tracer.span(name)


# ------------------------------------------------------------- ingest

class Ingest(Workload):
    """Drain a syslog backlog through the streaming ingest into the
    date-partitioned store, then read the store back."""

    name = "ingest"

    def prepare(self) -> None:
        self.backlog = write_backlog(
            os.path.join(self.ctx.workdir, "backlog"), self.ctx.seed,
            self.sizes["ingest_lines"], self.sizes["ingest_devices"])

    def _drain(self, tag: str):
        from syslog_handler_with_clickhouse_spark.streaming.ingest import start_ingest

        store = os.path.join(self.ctx.workdir, f"store_{tag}")
        ckpt = os.path.join(self.ctx.workdir, f"ckpt_{tag}")
        t0 = time.perf_counter()
        with self.span("streaming.ingest.drain"):
            q = start_ingest(self.spark, self.backlog.input_dir, store, ckpt,
                             available_now=True)
            q.awaitTermination()
        drain_s = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"ingest stream failed: {q.exception()}")
        return store, ckpt, drain_s, [p for p in q.recentProgress if p["numInputRows"] > 0]

    def _readback(self, store: str):
        from syslog_handler_with_clickhouse_spark.sources.sinks import read_logs
        from syslog_handler_with_clickhouse_spark.streaming.analytics import (
            errors_per_device_minute,
        )

        with self.span("sources.sinks.read_logs"):
            logs = read_logs(self.spark, store)
            with self.span("spark.exec"):
                noop(logs)
        with self.span("streaming.analytics.errors_per_device_minute"):
            errs = errors_per_device_minute(logs)
            with self.span("spark.exec"):
                noop(errs)
        return logs, errs

    def check_pass(self) -> None:
        from pyspark.sql import functions as F

        store, ckpt, _, progress = self._drain("check")
        logs, errs = self._readback(store)
        b = self.backlog
        self.checked(sum(p["numInputRows"] for p in progress) == b.n_rows,
                     "committed rows != backlog rows")
        canon = F.concat_ws("\x1f", "Device", F.col("Severity").cast("string"),
                            F.array_join("Categories", "\x1e"), "Message")
        digest = F.conv(F.substring(F.sha2(canon, 256), 1, 15), 16, 10).cast("decimal(38,0)")
        n, got = logs.agg(F.count(F.lit(1)), F.sum(digest)).collect()[0]
        self.checked(n == b.n_rows, f"stored rows {n} != {b.n_rows}")
        got = int(got or 0) % (1 << 60)
        self.checked(got == b.row_hash, "row hash of Device/Severity/Categories/Message differs")
        n_err = errs.agg(F.sum("n_errors")).collect()[0][0] or 0
        self.checked(n_err == b.n_errors, f"errors_per_device_minute total {n_err} != {b.n_errors}")
        shutil.rmtree(store)
        shutil.rmtree(ckpt)

    def timed_pass(self, i: int) -> Pass:
        p = Pass()
        t0 = time.perf_counter()
        store, ckpt, drain_s, progress = self._drain(str(i))
        t1 = time.perf_counter()
        self._readback(store)
        t2 = time.perf_counter()
        p.wall_s = t2 - t0
        p.add("ingest.drain", drain_s)
        p.add("ingest.readback", t2 - t1)
        rows = sum(pr["numInputRows"] for pr in progress)
        files = [f for f in data_files(store) if f.endswith(".parquet")]
        dur = lambda key: sum(pr["durationMs"].get(key, 0) for pr in progress)  # noqa: E731
        p.extra = {
            "batch_s": [pr["durationMs"]["triggerExecution"] / 1000 for pr in progress],
            "rows": rows, "sink_bytes": dir_bytes(store), "files": len(files),
            "plan_ms": dur("queryPlanning"),
            "offsets_ms": dur("latestOffset") + dur("walCommit"),
            "commit_ms": dur("commitOffsets"), "write_ms": dur("addBatch"),
        }
        shutil.rmtree(store)
        shutil.rmtree(ckpt)
        return p

    def after_traced_pass(self, p: Pass) -> None:
        """Batch parse rate over the same lines, outside the pass span:
        read the backlog as a batch, parse it, write to noop."""
        from pyspark.sql import functions as F

        from syslog_handler_with_clickhouse_spark.functions.parse import parsed_logs

        raw = self.spark.read.text(self.backlog.input_dir).select(
            F.col("value").alias("raw"), F.lit("0.0.0.0:0").alias("device"))
        t0 = time.perf_counter()
        noop(parsed_logs(raw))
        p.extra["parse_rows_per_s"] = self.backlog.n_rows / (time.perf_counter() - t0)

    def report(self, passes: list[Pass]) -> dict:
        batches = [x for p in passes for x in p.extra["batch_s"]]
        rows = [p.extra["rows"] / p.ops["ingest.drain"] for p in passes]
        return {
            "ingest_rows_per_s": (statistics.median(rows), "1/s"),
            "batch_p50_s": (statistics.median(batches), "s"),
            "batch_samples": (len(batches), "count"),
            "drain_s": (statistics.median(p.ops["ingest.drain"] for p in passes), "s"),
            "readback_s": (statistics.median(p.ops["ingest.readback"] for p in passes), "s"),
            "bytes_per_input_byte": (statistics.median(
                p.extra["sink_bytes"] / self.backlog.input_bytes for p in passes), "ratio"),
        }

    def layers(self, passes: list[Pass]) -> dict:
        n = len(passes)
        mean = lambda key: sum(p.extra[key] for p in passes) / n  # noqa: E731
        n_batches = sum(len(p.extra["batch_s"]) for p in passes)
        return {
            "functions.parse.rows_per_s": (mean("parse_rows_per_s"), "1/s"),
            "streaming.ingest.batches": (n_batches / n, "count"),
            "streaming.ingest.rows_per_batch": (sum(p.extra["rows"] for p in passes) / max(n_batches, 1), "count"),
            "streaming.ingest.plan_ms": (mean("plan_ms"), "ms"),
            "streaming.ingest.offsets_ms": (mean("offsets_ms"), "ms"),
            "streaming.ingest.commit_ms": (mean("commit_ms"), "ms"),
            "sources.sinks.write_ms": (mean("write_ms"), "ms"),
            "sources.sinks.files_written": (mean("files"), "count"),
        }


# ------------------------------------------------------- log analytics

def normalize(pdf):
    """pandas frame -> row-sorted tuples over name-sorted columns, the
    comparison the repository's oracle-parity tests use."""
    pdf = pdf[sorted(pdf.columns)]
    rows = [tuple(v.isoformat() if hasattr(v, "isoformat") else v for v in t)
            for t in pdf.itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple(str(x) for x in r))


def _same_value(a, b) -> bool:
    if isinstance(a, float) != isinstance(b, float):
        return False
    if isinstance(a, float) and a != a and b != b:
        return True
    return bool(a == b)


def frames_equal(sdf, odf) -> str | None:
    """None when equal, else a one-line reason."""
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"columns {sorted(sdf.columns)} != {sorted(odf.columns)}"
    if len(sdf) != len(odf):
        return f"rows {len(sdf)} != {len(odf)}"
    for sr, orr in zip(normalize(sdf), normalize(odf)):
        if len(sr) != len(orr) or not all(_same_value(a, b) for a, b in zip(sr, orr)):
            return f"first differing row {sr} != {orr}"
    return None


class LogAnalytics(Workload):
    """The registry's headline queries over seeded fixture tables, each
    followed by a noop write; the seed shuffles the order of each pass."""

    name = "log_analytics"

    def prepare(self) -> None:
        self.sf_dir = os.path.join(self.ctx.workdir, "fixtures")
        self.rows = write_fixtures(self.sf_dir, self.ctx.seed, self.sizes["fixture_sf"])

    def _order(self, i: int) -> list[str]:
        names = list(HEADLINE_QUERIES)
        random.Random(self.ctx.seed * 1000 + i).shuffle(names)
        return names

    def check_pass(self) -> None:
        import duckdb

        from syslog_handler_with_clickhouse_spark.queries import ORACLE, QUERIES

        con = duckdb.connect()
        try:
            for t in self.rows:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.sf_dir, t)}.parquet'")
            for name in self._order(-1):
                why = frames_equal(QUERIES[name](self.spark, self.sf_dir).toPandas(),
                                   con.execute(ORACLE[name]).df())
                self.checked(why is None, f"{name}: {why}")
        finally:
            con.close()

    def timed_pass(self, i: int) -> Pass:
        from syslog_handler_with_clickhouse_spark.queries import QUERIES

        p = Pass()
        t0 = time.perf_counter()
        for name in self._order(i):
            with self.tracer.op(f"{name}#{i}"):
                a = time.perf_counter()
                with self.span("queries.construct"):
                    df = QUERIES[name](self.spark, self.sf_dir)
                with self.span("spark.exec"):
                    noop(df)
                p.add(f"query.{name}", time.perf_counter() - a)
        p.wall_s = time.perf_counter() - t0
        return p

    def report(self, passes: list[Pass]) -> dict:
        qs = [x for p in passes for x in p.kind("query")]
        return {
            "query_p50_s": (statistics.median(qs), "s"),
            "query_p90_s": (p90(qs), "s"),
            "query_samples": (len(qs), "count"),
        }


class IngestAnalytics(Workload):
    """The syslog pipeline end to end: each pass drains the backlog into
    the store and reads it back (Ingest), then runs the headline queries
    (LogAnalytics).  One JVM start and one check pass serve both."""

    name = "ingest_analytics"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.parts = [Ingest(ctx), LogAnalytics(ctx)]

    def prepare(self) -> None:
        for part in self.parts:
            part.prepare()

    def check_pass(self) -> None:
        for part in self.parts:
            part.check_pass()
            self.attempted += part.attempted
            self.failed += part.failed
            self.notes += part.notes

    def timed_pass(self, i: int) -> Pass:
        p = Pass()
        for part in self.parts:
            q = part.timed_pass(i)
            for name, seconds in q.ops.items():
                p.add(name, seconds)
            p.extra.update(q.extra)
            p.wall_s += q.wall_s
        return p

    def after_traced_pass(self, p: Pass) -> None:
        self.parts[0].after_traced_pass(p)

    def report(self, passes: list[Pass]) -> dict:
        return {k: v for part in self.parts for k, v in part.report(passes).items()}

    def layers(self, passes: list[Pass]) -> dict:
        return self.parts[0].layers(passes)


# -------------------------------------------------------- corpus store

class CorpusStore(Workload):
    """Lifecycles of the three stored indexes (BM25, IVF-PQ, incremental
    dedup).  Each pass creates the three stores afresh (IVF-PQ trains on
    embedding batch 0), appends the same seeded batches to each with a
    read after every append, compacts each store once and reads it again,
    then drops the stores outside the clock.  So every pass does the same
    work on the same inputs, however many passes a run makes."""

    name = "corpus_store"
    # Two buckets per table: with eight, every store job ran twice as
    # many tasks on these small batches and a pass took a third longer.
    BUCKETS = 2
    BM25 = {"k": 5, "max_df_num": 9, "max_df_den": 10}
    STORES = {"bm25": "operators.retrieval", "ivf": "operators.similarity",
              "dd": "operators.dedup"}
    READ_LAYER = {"bm25": "topk", "ivf": "scan", "dd": "labels"}

    def prepare(self) -> None:
        s = self.sizes
        self.root = os.path.join(self.ctx.workdir, "stores")
        self.corpus = Corpus(os.path.join(self.ctx.workdir, "corpus"), self.ctx.seed,
                             s["store_docs"], s["store_vecs"])
        self.batches = [self.corpus.append(a) for a in range(s["store_appends"])]

    def _op(self, p: Pass, name: str, layer: str, fn):
        """Run one store operation as a timed, traced op; a returned
        DataFrame is evaluated into a noop sink inside the op."""
        with self.tracer.op(f"{name}#{p.extra['tag']}"):
            a = time.perf_counter()
            with self.span(layer):
                out = fn()
                if out is not None:
                    with self.span("spark.exec"):
                        noop(out)
            p.add(name, time.perf_counter() - a)
        return out

    def _lifecycle(self, p: Pass, tag: str, keep_reads: bool = False) -> dict:
        """One lifecycle of fresh stores named ``<store>_<tag>``.  With
        ``keep_reads``, returns (store, when) -> the read collected to
        pandas, ``when`` being the append index or "compacted"."""
        from pyspark.sql import functions as F

        from syslog_handler_with_clickhouse_spark.operators import dedup, retrieval, similarity

        spark, nb = self.spark, self.BUCKETS
        loc = os.path.join(self.root, tag)
        p.extra["tag"] = tag
        bm25, ivf, dd = (f"{st}_{tag}" for st in self.STORES)
        train = spark.read.parquet(self.corpus.path("emb_0"))
        queries = spark.read.parquet(self.corpus.path("docs_0")).filter(
            F.col("doc_id") % 50 == 0).select(F.col("doc_id").alias("query_id"), "text")
        qpred = F.col("vid").isin(self.corpus.query_ids)
        init = {
            "bm25": lambda: retrieval.bm25_store_init(spark, bm25, num_buckets=nb, location=loc),
            "ivf": lambda: similarity.ivfpq_store_init(spark, ivf, train, num_buckets=nb,
                                                       location=loc),
            "dd": lambda: dedup.incremental_dedup_store_init(spark, dd, num_buckets=nb,
                                                             location=loc),
        }
        insert = {
            "bm25": lambda docs, emb: retrieval.bm25_store_insert(spark, bm25, docs),
            "ivf": lambda docs, emb: similarity.ivfpq_store_insert(spark, ivf, emb),
            "dd": lambda docs, emb: dedup.incremental_dedup_store_insert(spark, dd, docs),
        }
        read = {
            "bm25": lambda: retrieval.bm25_store_topk(spark, bm25, queries, **self.BM25),
            "ivf": lambda: similarity.ivfpq_scan(similarity.ivfpq_store_index(spark, ivf),
                                                 k=10, query_pred=qpred),
            "dd": lambda: dedup.incremental_dedup_store_labels(spark, dd),
        }
        compact = {
            "bm25": lambda: retrieval.bm25_store_compact(spark, bm25, full=True),
            "ivf": lambda: similarity.ivfpq_store_compact(spark, ivf),
            "dd": lambda: dedup.incremental_dedup_store_compact(spark, dd, full=True),
        }
        reads = {}

        def do_read(st: str, when) -> None:
            out = self._op(p, f"read.{st}.{when}", f"{self.STORES[st]}.{self.READ_LAYER[st]}",
                           read[st])
            if keep_reads:
                reads[(st, when)] = out.toPandas()

        for st, layer in self.STORES.items():
            self._op(p, f"init.{st}", f"{layer}.init", init[st])
        for a, (docs_path, emb_path) in enumerate(self.batches):
            docs, emb = spark.read.parquet(docs_path), spark.read.parquet(emb_path)
            for st, layer in self.STORES.items():
                self._op(p, f"insert.{st}.{a}", f"{layer}.insert",
                         lambda: insert[st](docs, emb))  # noqa: B023 (called at once)
                do_read(st, a)
        if self.tracer.enabled:
            p.extra["file_depth"] = self._bucket_depth(loc, bm25)
        p.extra["bytes_rewritten"] = 0
        for st, layer in self.STORES.items():
            before = data_files(loc)
            self._op(p, f"compact.{st}", f"{layer}.compact", compact[st])
            p.extra["bytes_rewritten"] += sum(
                size for f, size in data_files(loc).items() if f not in before)
            do_read(st, "compacted")
        p.extra["store_bytes"] = dir_bytes(loc)
        return reads

    def _drop(self, tag: str) -> None:
        """Drop every table (this run creates only store tables) and the
        lifecycle's files."""
        for t in self.spark.catalog.listTables():
            if not t.isTemporary:
                self.spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        shutil.rmtree(os.path.join(self.root, tag))

    def _bucket_depth(self, loc: str, prefix: str) -> int:
        """Most data files sharing one bucket id in the BM25 postings
        table (appends since the last full compact)."""
        counts: dict[str, int] = {}
        for d in os.listdir(loc):
            if d.startswith(f"{prefix}_postings"):
                for f in data_files(os.path.join(loc, d)):
                    m = TABLE_FILE_RE.search(os.path.basename(f))
                    if m:
                        counts[m.group(1)] = counts.get(m.group(1), 0) + 1
        return max(counts.values(), default=0)

    def check_pass(self) -> None:
        """Run one lifecycle cold and keep the reads after the last append
        and after compaction for verify()."""
        p = Pass()
        self.reads = self._lifecycle(p, "check", keep_reads=True)
        self._drop("check")
        self.attempted += len(p.ops)

    def verify(self) -> None:
        """Check the kept reads against references over the accumulated
        inputs.  It runs after the timed window, when the JVM is warm and
        the references cost a third of what they cost cold."""
        import numpy as np
        import pyarrow as pa
        from pyspark.sql import functions as F

        from syslog_handler_with_clickhouse_spark.operators import dedup, retrieval

        reads = self.reads
        n = len(self.batches)
        docs = self.spark.createDataFrame(pa.concat_tables(self.corpus.docs[:n]).to_pandas())
        queries = self.spark.createDataFrame(self.corpus.docs[0].to_pandas()).filter(
            F.col("doc_id") % 50 == 0).select(F.col("doc_id").alias("query_id"), "text")
        want_bm25 = retrieval.bm25_topk(docs, queries, **self.BM25).toPandas()
        full = dedup.dedup_components(dedup.minhash_lsh_star_edges(docs, "text", "doc_id"))
        want_dd = {r.node: r.comp for r in docs.select(F.col("doc_id").alias("node"))
                   .join(full, "node", "left")
                   .select("node", F.coalesce("comp", F.col("node")).alias("comp")).collect()}
        embs = self.corpus.embs[:n + 1]
        vecs = np.concatenate([np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
                               for t in embs])
        qv = np.round(vecs * 1000).astype(np.int64)
        ids = np.concatenate([t.column("vec_id").to_numpy() for t in embs])
        exact = {}
        for q in self.corpus.query_ids:
            d2 = ((qv - qv[q]) ** 2).sum(axis=1)
            d2[q] = np.iinfo(np.int64).max
            exact[q] = set(ids[np.lexsort((ids, d2))[:10]].tolist())
        for when in (n - 1, "compacted"):
            why = frames_equal(reads[("bm25", when)], want_bm25)
            self.checked(why is None, f"bm25 top-k ({when}) vs bm25_topk: {why}")
            got_dd = reads[("dd", when)]
            self.checked(dict(zip(got_dd["node"], got_dd["comp"])) == want_dd,
                         f"dedup labels ({when}) vs full recompute")
            scan = reads[("ivf", when)].groupby("query_id")["neighbor_id"].apply(set).to_dict()
            for q, want in exact.items():
                hit = len(want & scan.get(q, set()))
                self.checked(hit >= 7, f"ivfpq recall ({when}) {hit}/10 for query {q}")

    def timed_pass(self, i: int) -> Pass:
        tag = f"p{i}"
        p = Pass()
        t0 = time.perf_counter()
        self._lifecycle(p, tag)
        p.wall_s = time.perf_counter() - t0
        self._drop(tag)
        return p

    def report(self, passes: list[Pass]) -> dict:
        tot = lambda kind: statistics.median(sum(p.kind(kind)) for p in passes)  # noqa: E731
        return {
            "init_s": (tot("init"), "s"),
            "insert_s": (tot("insert"), "s"),
            "read_s": (tot("read"), "s"),
            "compact_s": (tot("compact"), "s"),
            "bytes_per_input_byte": (statistics.median(p.extra["store_bytes"] for p in passes)
                                     / self.corpus.input_bytes(len(self.batches)), "ratio"),
        }

    def layers(self, passes: list[Pass]) -> dict:
        n = len(passes)
        return {
            "operators.retrieval.file_depth": (sum(p.extra["file_depth"] for p in passes) / n, "count"),
            "operators.genswap.bytes_rewritten": (
                sum(p.extra["bytes_rewritten"] for p in passes) / n, "bytes"),
        }


WORKLOADS = {w.name: w for w in (IngestAnalytics, CorpusStore)}
