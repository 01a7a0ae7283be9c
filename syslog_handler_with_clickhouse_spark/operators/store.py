"""On-disk layout of the stored indexes (BM25, IVF-PQ, incremental
dedup): the one module that knows how a store's tables are named,
created, appended to, compacted and measured.

Each store declares a constant spec — a tuple of :class:`Table` — and
five functions drive every lifecycle step from it:

* :func:`create` writes the (empty or initial) tables;
* :func:`resolve` maps each logical table to its physical generation;
* :func:`append` writes a batch aligned to the table's bucket hash or
  partition key, so each task writes one file per bucket / partition;
* :func:`compact` rewrites tables in one pass by swapping generations;
* :func:`depth` reports files per bucket / partition (the merge fan-in
  a compaction folds back to 1).

The insert algorithms, sentinel write orders, torn-insert guards and
fsck/repair stay with each store.

Generations.  Each logical table ``t`` is backed by ONE of two physical
tables, ``t`` or ``t__alt``; the base name wins when both exist.
Compaction writes the compacted data directly from a scan of the
current generation into the other name (one read, one write — Spark
refuses to overwrite a table it is reading, and an in-place
``saveAsTable`` overwrite drops the table before its job runs, so a
failed overwrite leaves no table at all), then drops the old one.  A
catalog RENAME over the original is no alternative: repeated
managed-table renames silently stop relocating the data directory on
this Spark build.

Crash windows are all value-safe because compaction only changes
layout (or, for the dedup labels, folds in deltas that are idempotent
on the result):

* crash mid-write → the target never enters the catalog (CTAS commits
  the catalog entry after the data), or a leftover target is dropped
  and its directory removed by the next compact's pre-clean;
* crash between write and drop → both generations exist and the
  resolver's fixed preference picks one complete, value-correct table
  (possibly the pre-compact one, in which case the work is redone
  later); the next compact reclaims the orphan.

External tables (created with an explicit ``location``) keep their
root: the new generation is written to ``<parent of the current
location>/<target name>`` and the dropped generation's files are
removed explicitly (DROP TABLE leaves external files behind).  That
cleanup is local-filesystem only, so :func:`compact` refuses a table
whose location is not ``file:`` before it drops anything.
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame

from ..session import fork
from .actions import run_actions


@dataclass(frozen=True)
class Table:
    """One logical table ``<prefix>_<suffix>`` of a store: its empty
    schema (DDL) and its layout — hash-bucketed and sorted by
    ``bucket``, directory-partitioned by ``partition``, or neither."""

    suffix: str
    schema: str
    bucket: tuple[str, ...] = ()
    partition: str | None = None


def _name(prefix: str, t: Table) -> str:
    return f"{prefix}_{t.suffix}"


def _alt(name: str) -> str:
    return f"{name}__alt"


def _writer(df: DataFrame, t: Table, mode: str, width: int | None,
            align: bool = True):
    """``df``'s writer in ``t``'s layout.  ``align`` first repartitions
    onto the bucket hash (``repartition(n, cols)`` and ``bucketBy(n,
    cols)`` share the murmur3-pmod layout) or partition key, so every
    task writes exactly ONE file per bucket / partition dir.  Without
    it each task holds rows of all buckets and the writer opens
    tasks×buckets parquet buffers at once — a 1 M-doc bootstrap OOM'd
    an 8 g heap exactly there.  Over a bucketed scan of the same spec
    the repartition is elided by the planner (no exchange)."""
    cols = t.bucket or ((t.partition,) if t.partition else ())
    if align and cols:
        df = df.repartition(width, *cols)
    w = df.write.mode(mode)
    if t.bucket:
        return w.bucketBy(width, *t.bucket).sortBy(*t.bucket)
    if t.partition:
        return w.partitionBy(t.partition)
    return w


def create(
    spark,
    spec: tuple[Table, ...],
    prefix: str,
    num_buckets: int,
    location: str | None = None,
    frames: dict[Table, DataFrame] | None = None,
    width: int | None = None,
) -> None:
    """(Re)create every table of ``spec`` under ``prefix``: from
    ``frames[table]`` when given, else empty.  ``location`` roots the
    table files outside the warehouse dir (external tables); ``width``
    is the write width of partitioned tables.  A re-create over a
    compacted store first drops the ``__alt`` generations (the base
    names written here win the resolver's preference anyway; this
    reclaims the orphans).  The writes are independent table creations
    with no sentinel order, so they run concurrently."""
    frames = frames or {}
    for t in spec:
        spark.sql(f"DROP TABLE IF EXISTS {_alt(_name(prefix, t))}")

    def job(t: Table):
        name = _name(prefix, t)
        df = frames.get(t)
        w = _writer(
            df if df is not None else spark.createDataFrame([], t.schema),
            t, "overwrite", num_buckets if t.bucket else width,
            align=df is not None,
        )
        if location is not None:
            w = w.option("path", f"{location}/{name}")
        return lambda: w.saveAsTable(name)

    run_actions(*(job(t) for t in spec))


def _current(spark, name: str) -> str:
    if spark.catalog.tableExists(name):
        return name
    if spark.catalog.tableExists(_alt(name)):
        return _alt(name)
    raise ValueError(
        f"stored table {name!r} does not exist — create its store first"
    )


def resolve(spark, spec: tuple[Table, ...], prefix: str) -> tuple[str, ...]:
    """The physical table currently backing each logical table of
    ``spec``, in spec order: the base name when it exists, else the
    ``__alt`` generation.  A store that was never compacted resolves
    with one catalog probe per table; a missing table raises naming the
    logical table."""
    return tuple(_current(spark, _name(prefix, t)) for t in spec)


def append(spark, t: Table, table: str, df: DataFrame,
           width: int | None = None) -> None:
    """Append ``df`` to physical ``table`` (laid out as ``t``), aligned
    to its bucket hash — the bucket count is read from the table — or,
    for a partitioned table, to its partition key at ``width``."""
    if t.bucket:
        width = _table_num_buckets(spark, table)
    _writer(df, t, "append", width).saveAsTable(table)


def truncate(spark, table: str) -> None:
    """Empty ``table`` in place, keeping its catalog entry and location
    (an INSERT OVERWRITE of no rows; the write reads nothing)."""
    spark.createDataFrame([], spark.table(table).schema).write.insertInto(
        table, overwrite=True
    )


def _table_meta(spark, table: str):
    ss = spark._jsparkSession.sessionState()
    return ss.catalog().getTableMetadata(
        ss.sqlParser().parseTableIdentifier(table)
    )


def _num_buckets(meta, table: str) -> int:
    spec = meta.bucketSpec()
    if spec.isEmpty():
        raise ValueError(f"{table} is not bucketed")
    return int(spec.get().numBuckets())


def _table_num_buckets(spark, table: str) -> int:
    """Bucket count of a bucketed table (appends must match the spec)."""
    return _num_buckets(_table_meta(spark, table), table)


def _swap(spark, scan, t: Table, fn, name: str, cur: str, meta,
          width) -> None:
    """Write ``cur`` (through ``fn``), read and written in session
    ``scan``, as the other generation of ``name``, then drop ``cur``."""
    nxt = _alt(name) if cur == name else name
    external = meta.tableType().name() == "EXTERNAL"
    cur_loc = meta.location().getPath()
    tgt_loc = os.path.join(os.path.dirname(cur_loc.rstrip("/")), nxt)
    # pre-clean any orphan of the target name (a crashed earlier
    # compact): catalog entry, then leftover files at the managed or
    # external location — a dirty location fails CTAS loudly
    spark.sql(f"DROP TABLE IF EXISTS {nxt}")
    shutil.rmtree(tgt_loc, ignore_errors=True)
    df = scan.table(cur)
    w = _writer(df if fn is None else fn(df), t, "overwrite",
                _num_buckets(meta, cur) if t.bucket else width)
    if external:
        w = w.option("path", tgt_loc)
    w.saveAsTable(nxt)
    spark.sql(f"DROP TABLE {cur}")
    if external:
        shutil.rmtree(cur_loc, ignore_errors=True)


def compact(
    spark,
    prefix: str,
    rewrite: dict[Table, Callable[[DataFrame], DataFrame] | None],
    width: int | None = None,
) -> None:
    """One-pass compaction of the tables in ``rewrite``: each is
    written from a scan of its current generation — passed through
    ``rewrite[t]`` when not None — into the other generation, in its
    layout (partitioned tables at ``width``), and the old generation is
    dropped.  The swaps run concurrently, and every table is resolved
    and its location checked before anything is dropped.

    The scans run in a fork with ``autoBucketedScan.enabled=false``.
    On this Spark build a bucketed write from a bucketed scan of the
    same spec otherwise plans a non-bucketed scan AND elides the
    aligning repartition (a 128-file table compacted to 79 files, depth
    ~20); the forced bucketed scan gives one task per bucket, zero
    exchange and exactly one output file per bucket."""
    scan = fork(
        spark, {"spark.sql.sources.bucketing.autoBucketedScan.enabled": "false"}
    )
    swaps = []
    for t, fn in rewrite.items():
        name = _name(prefix, t)
        cur = _current(spark, name)
        meta = _table_meta(spark, cur)
        loc = meta.location()
        if loc.getScheme() not in (None, "file"):
            raise ValueError(
                f"cannot compact {name!r}: its location {loc.toString()} "
                "is not on the local filesystem, and the generation swap "
                "removes table directories with local file operations"
            )
        swaps.append(
            partial(_swap, spark, scan, t, fn, name, cur, meta, width)
        )
    run_actions(*swaps)


_BUCKET_FILE_RE = re.compile(r"_(\d+)\.c\d+")


def _bucket_file_depth(spark, table: str) -> int:
    """Max parquet files sharing one bucket id in a bucketed table —
    the number of sorted runs a query-time SMJ must merge (past 1 the
    bucketed scan loses its sortBy ordering and the join re-sorts it).
    Each aligned append writes exactly one file per touched bucket, so
    depth == appends since the last compact.  Pure file-listing
    arithmetic — no data read, no job (bucket ids ride in the
    ``part-NNNNN-<uuid>_BBBBB.c000`` file-name suffix)."""
    counts: dict[int, int] = {}
    files = spark.table(table).inputFiles()
    for f in files:
        m = _BUCKET_FILE_RE.search(f.rsplit("/", 1)[-1])
        if m:
            b = int(m.group(1))
            counts[b] = counts.get(b, 0) + 1
    # a non-empty table whose file names match NOTHING means the
    # writer's naming convention changed — returning 0 would silently
    # disarm every auto-compact trigger, so fail loudly instead
    assert counts or not files, (
        f"_bucket_file_depth({table!r}): {len(files)} files but none "
        f"match the part-NNNNN-<uuid>_BBBBB bucket naming convention "
        f"(sample: {files[0].rsplit('/', 1)[-1]!r}) — the Spark writer's "
        "file-name pattern changed; update _BUCKET_FILE_RE or the "
        "auto-compact telemetry is blind."
    )
    return max(counts.values(), default=0)


def _partition_file_depth(spark, table: str) -> int:
    """Max parquet files in one partition directory of a
    dir-partitioned table (``k=v`` path segments) — the per-partition
    merge-on-read fan-in that a compaction rewrite folds back to 1.
    Pure file-listing arithmetic, no data read."""
    counts: dict[str, int] = {}
    files = spark.table(table).inputFiles()
    for f in files:
        d = f.rsplit("/", 2)[-2]
        if "=" in d:
            counts[d] = counts.get(d, 0) + 1
    # same loud-disarm guard as _bucket_file_depth: files under no k=v
    # partition dir mean the layout is not what the telemetry assumes
    assert counts or not files, (
        f"_partition_file_depth({table!r}): {len(files)} files but none "
        f"under a k=v partition directory (sample parent: "
        f"{files[0].rsplit('/', 2)[-2]!r}) — the table is not "
        "dir-partitioned the way the auto-compact telemetry assumes."
    )
    return max(counts.values(), default=0)


def depth(spark, t: Table, table: str) -> int:
    """File depth of physical ``table`` (laid out as ``t``): files per
    bucket, or per partition dir for a partitioned table."""
    if t.partition:
        return _partition_file_depth(spark, table)
    return _bucket_file_depth(spark, table)
