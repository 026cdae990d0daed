"""Materialization and bucketed-layout runtime shared by the operators.

No operator logic lives here.  This module holds, once each, the two
rules every maintained index rests on:

- **Checkpoint bookkeeping**: which RDD blocks an invocation created
  and may free (:func:`checkpoint`, :func:`free`,
  :func:`pinned_block_ids`, :func:`materialize_and_free`).
- **The bucketed-parquet layout**: the bucket function
  (:func:`bucket_expr` and its driver-side twin :func:`py_bucket`),
  which files make up a bucket (:func:`bucket_files`), and the
  driver-local readers and staged-commit writer over those files.

Every local-filesystem assumption of the layouts — ``listdir``,
``os.link`` and driver-side parquet writes — sits behind this module.
On object storage the directory probes fail, the readers return None,
and the callers take their distributed paths.
"""

from __future__ import annotations

import os
import shutil
import uuid
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# --- checkpoint bookkeeping ----------------------------------------


def pinned_block_ids(spark: SparkSession) -> set:
    """Snapshot the persistent-RDD id set — the BEFORE half of the
    invocation checkpoint-hygiene discipline (see
    :func:`materialize_and_free`)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs()
               .keySet().toArray())


def _checkpointed_since(spark: SparkSession, before: set) -> list[int]:
    """Ids of persistent RDDs created since ``before`` that are locally
    checkpointed.  The filter matters: a checkpoint JOB may also
    materialize unrelated LAZY ``persist()`` caches upstream (e.g. a
    session-persisted index feeding the edge pipeline), and freeing
    those would silently evict build-once/probe-many caches for the
    rest of the session (round-5 review finding)."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return sorted(
        i for i in set(m.keySet().toArray()) - before
        if (r := m.get(i)) is not None and r.rdd().isLocallyCheckpointed()
    )


def checkpoint(df: DataFrame, eager: bool) -> tuple[DataFrame, list[int]]:
    """``localCheckpoint(eager=eager)`` plus the ids of the checkpoint's
    newly persisted RDD blocks, so the caller can free a superseded
    round's storage deterministically (see :func:`free`).

    ``eager=False`` keeps the bookkeeping WITHOUT the materializing
    job (r15: per-job fixed cost dominates the iterative operators at
    bench scale, and the caps-zeroed arm pays it at any scale).  The
    mark registers the RDD with the block manager immediately (ids are
    capturable before any action) and truncates the returned frame's
    plan to the checkpoint scan, so the CALLER'S next FULL-PASS action
    — the ``count()`` an iterative loop needs anyway — materializes
    every partition in one job instead of two.  Contract for the lazy
    mode: the first action the caller runs on the returned frame must
    compute ALL partitions (``count``, a full write/collect — NOT
    ``isEmpty``/``take``, whose partial pass would leave the backfill
    to a second implicit job)."""
    spark = df.sparkSession
    before = pinned_block_ids(spark)
    ck = df.localCheckpoint(eager=eager)
    return ck, _checkpointed_since(spark, before)


def free(spark: SparkSession, ids: list[int]) -> None:
    """Release checkpoint blocks NOW instead of waiting for the GC-
    driven ContextCleaner — otherwise long iterative chains grow
    executor storage nondeterministically (ADVICE r4).  Local
    checkpoint blocks ARE the data (lineage is truncated), so only free
    a round once every frame derived from it has itself been eagerly
    materialized."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        rdd = m.get(i)
        if rdd is not None:
            rdd.unpersist(False)


def materialize_and_free(spark: SparkSession, before: set,
                         out: DataFrame) -> DataFrame:
    """The x15 checkpoint-hygiene discipline as a reusable seam for
    declared queries built on iterative operators: eagerly checkpoint
    the (small) final frame, then free every locally-checkpointed
    block this invocation created since ``before`` — BFS frontiers,
    per-round edge/degree pins, per-fold states — so repeated
    invocations (the bench loop, a long serving session) pin only
    their results, not hundreds of MB of dead intermediates waiting
    for the GC-driven ContextCleaner.

    NOT safe under concurrent invocations sharing one SparkSession:
    the before/after diff is session-global, so a parallel thread's
    in-flight checkpoint blocks would land in this invocation's freed
    set (truncated lineage → unrecomputable).  Every consumer in this
    repo — the bench loop, the driver contract, the declared-query
    faces — runs queries sequentially per session by design; a
    concurrent serving deployment must scope its own hygiene."""
    created = _checkpointed_since(spark, before)
    out = out.localCheckpoint()
    free(spark, created)
    return out


# --- the bucketed-parquet layout ------------------------------------


def bucket_expr(col: str, buckets: int):
    """THE bucket function, single-sourced: writers partition by it
    and readers prune by it — a drift between the two would silently
    select the wrong partitions."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(buckets)).cast("int")


# xxHash64 primes (public algorithm constants, Y. Collet's xxHash)
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def xxh64_long(value: int, seed: int = 42) -> int:
    """``F.xxhash64`` of ONE BIGINT value, driver-side: the standard
    XXH64 single-8-byte-lane path with Spark's default seed 42,
    returned as a signed 64-bit int exactly like the SQL function.
    Exists so bucket ids of DRIVER-LOCAL frames (relabel maps, fresh
    rows — bounded by contract) cost zero Spark jobs; parity with the
    JVM expression is property-locked in tests/test_graph.py, and
    :func:`bucket_expr` remains the single source of truth for
    anything distributed."""
    h = (seed + _XXP5 + 8) & _M64
    k = ((value & _M64) * _XXP2) & _M64
    k = ((k << 31) | (k >> 33)) & _M64
    h ^= (k * _XXP1) & _M64
    h = ((((h << 27) | (h >> 37)) & _M64) * _XXP1 + _XXP4) & _M64
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def py_bucket(value: int, buckets: int) -> int:
    """Driver-side twin of :func:`bucket_expr` for integral keys
    (Python ``%`` on a positive modulus IS pmod)."""
    return xxh64_long(value) % buckets


def bucket_ids(df: DataFrame, cols, buckets: int) -> list[int]:
    """Distinct bucket ids of one or more key columns, in ONE job.
    ``collect_set`` instead of ``distinct().collect()``: partial
    aggregation dedupes map-side, so each task ships ≤ ``buckets``
    values and the driver receives one ≤ ``buckets``-sized array —
    bounded by the BUCKET COUNT even when the frame is not delivery-
    bounded (e.g. the changed-row set of a large-component merge),
    and without the full shuffle a ``distinct`` pays."""
    exprs = [bucket_expr(c, buckets) for c in cols]
    row = df.select(
        F.explode(F.array(*exprs)).alias("b")
    ).agg(F.collect_set("b").alias("bs")).first()
    return sorted(row.bs or [])


def write_tasks(n_buckets: int) -> int:
    """Writer-task count for a partition-pruned rewrite: ~16 output
    files (= touched buckets) per task.  The touched set is delivery-
    bounded and buckets are size-bounded, so per-task volume stays
    flat at any history size; a task-per-shuffle-partition layout
    (measured 1.2 s vs 0.5 s per rewrite at 64 buckets) pays 32 task
    setups to write a delivery-sized change, and an AQE REBALANCE
    costs an extra stage that outweighs the coalesce on frames this
    small."""
    return max(1, -(-n_buckets // 16))


def bucket_files(d: str) -> list[str]:
    """The data files of one bucket directory, sorted by name: THE
    data-file rule, single-sourced.  Names starting with ``_`` or
    ``.`` (commit markers, checksums, the span fold's journal) are
    never data — Spark's file index skips them too — and only
    ``.parquet`` files are.  A missing directory is an empty bucket."""
    if not os.path.isdir(d):
        return []
    return sorted(
        fn for fn in os.listdir(d)
        if not fn.startswith(("_", ".")) and fn.endswith(".parquet")
    )


def read_bucket_rows(dir_: str, pcol: str, bkts, columns,
                     cap: int) -> dict[int, list] | None:
    """Driver-side pruned read of the touched buckets' parquet files:
    ``{bucket: [tuple of columns, ...]}`` — the exact row set the
    distributed writers' partition-pruned scan produces, collected
    without a Spark job; a missing bucket reads as empty.  Returns
    None — BEFORE any mutation — when a gate fails (``cap`` ≤ 0 means
    "never local"; unreadable or corrupt file; more than ``cap`` rows
    in total), in which case the caller runs the distributed path on
    the same inputs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if cap <= 0:
        return None
    out: dict[int, list] = {}
    total = 0
    try:
        for b in bkts:
            d = os.path.join(dir_, f"{pcol}={b}")
            rows: list = []
            for fn in bucket_files(d):
                t = pq.read_table(os.path.join(d, fn), columns=list(columns))
                total += t.num_rows
                if total > cap:
                    return None
                rows.extend(zip(*(t.column(c).to_pylist() for c in columns)))
            out[b] = rows
    except (OSError, pa.lib.ArrowException):
        # ArrowInvalid (corrupt/truncated footer) is a ValueError, not
        # an OSError — both mean "can't trust this layout locally"
        return None
    return out


def write_bucket_files(dir_: str, pcol: str, by_bucket: dict[int, list],
                       fields, append: bool) -> None:
    """Driver-side twin of the dynamic-partition-overwrite write: each
    bucket in ``by_bucket`` gets one fresh snappy parquet file of
    ``fields`` (the ordered (name, pyarrow type) schema); untouched
    partitions are never opened, and an empty row list writes nothing.
    Mutations only — every gate has already passed; an I/O error here
    propagates (falling back to the distributed path after a partial
    rewrite would fold corrupt state).

    Staged commit: the new file is written INTO the directory first
    (old files still present), and in replace mode the old data files
    are unlinked only after that write succeeds — so a crash or I/O
    error mid-bucket never leaves an emptied directory; the
    recoverable states are old-only (write failed) or old+new (unlink
    didn't run).  ``append=True`` never touches existing files.
    Every write is a NEW file name and no file is ever modified in
    place — the rule the hardlink snapshots (:func:`link_or_copy`)
    depend on."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for b, rows in by_bucket.items():
        if not rows:
            continue
        d = os.path.join(dir_, f"{pcol}={b}")
        old = [] if append else bucket_files(d)
        os.makedirs(d, exist_ok=True)
        cols = list(zip(*rows))
        pq.write_table(
            pa.table({
                name: pa.array(cols[i], typ)
                for i, (name, typ) in enumerate(fields)
            }),
            os.path.join(
                d, f"part-00000-{uuid.uuid4().hex}.snappy.parquet"
            ),
            compression="snappy",
        )
        for fn in old:
            os.unlink(os.path.join(d, fn))


def drop_bucket_dirs(dir_: str, pcol: str, bkts) -> None:
    """Remove emptied buckets' directories (files first, then the
    dir) — a partially-dropped bucket just re-drops next fold."""
    for b in bkts:
        d = os.path.join(dir_, f"{pcol}={b}")
        if os.path.isdir(d):
            shutil.rmtree(d)


def read_layout_table(dir_: str, pcol: str, columns, cap: int):
    """Driver-local read of a WHOLE bucket-partitioned layout: one
    multithreaded pyarrow dataset scan over every bucket's data files
    (the serve side of the 'files as the interface' pattern).  Returns
    an Arrow table or None — gate failure (more than ``cap`` rows,
    unreadable/corrupt files, or no files at all: a maintained layout
    is never legitimately empty, so a ``pcol``/layout drift must fall
    back instead of silently serving zero rows, ADVICE r13) sends the
    caller's serve to its distributed read.  At 100 TB the layout is
    on object storage, ``listdir`` fails, and every serve is
    distributed."""
    import pyarrow as pa
    import pyarrow.dataset as pads

    try:
        files = [
            os.path.join(dir_, d, fn)
            for d in sorted(os.listdir(dir_)) if d.startswith(f"{pcol}=")
            for fn in bucket_files(os.path.join(dir_, d))
        ]
        if not files:
            return None
        t = pads.dataset(files).to_table(columns=list(columns))
        if t.num_rows > cap:
            return None
        return t
    except (OSError, pa.lib.ArrowException):
        return None


def sync_catalog_partitions(spark, table_name: str, pcol: str,
                             added, dropped) -> None:
    """Keep a catalog-registered layout's partition METADATA in step
    with the path-based writers: dynamic overwrite to the LOCATION
    creates/empties directories the metastore never hears about, so a
    catalog-pruned read would miss a fresh bucket or touch a dropped
    one (round-8 review finding).  Both lists are bounded by the
    delivery, and each folds into ONE multi-partition ALTER statement
    (never MSCK's O(buckets) re-listing; the one-statement-per-bucket
    form cost ~11 ms × 64 churning buckets × deliveries — measured
    1.8 s of the x15 lifecycle before batching)."""
    if added:
        specs = " ".join(
            f"PARTITION ({pcol}={int(b)})" for b in sorted(added)
        )
        spark.sql(
            f"ALTER TABLE {table_name} ADD IF NOT EXISTS {specs}"
        )
    if dropped:
        specs = ", ".join(
            f"PARTITION ({pcol}={int(b)})" for b in sorted(dropped)
        )
        spark.sql(f"ALTER TABLE {table_name} DROP IF EXISTS {specs}")


_LINK_FALLBACK_WARNED = False


def link_or_copy(src: str, dst: str) -> None:
    """``shutil.copytree`` copy function for layout snapshots: a
    HARDLINK, so a snapshot is O(files) metadata.  Safe because the
    layout writers only ever add files or replace whole files under
    fresh names (:func:`write_bucket_files`, Spark's dynamic
    overwrite), never modify one in place — a linked name keeps the
    old inode alive through later writes.  When ``os.link`` fails
    (the snapshot dir on another filesystem) the bytes are copied
    instead, with one warning per process."""
    global _LINK_FALLBACK_WARNED
    try:
        os.link(src, dst)
    except OSError as exc:
        if not _LINK_FALLBACK_WARNED:
            _LINK_FALLBACK_WARNED = True
            warnings.warn(
                f"link_or_copy: os.link failed ({exc!r}); layout "
                "snapshots copy bytes where hardlinks fail (warned "
                "once per process)",
                RuntimeWarning,
                stacklevel=2,
            )
        shutil.copy2(src, dst)


def local_frame(spark, rows, schema) -> DataFrame:
    """A driver-local frame that CARRIES its rows at ``_hfc_rows`` —
    the advisory seam the partition-pruned writers use to compute
    bucket ids and fresh-row merges in Python instead of paying a
    ~0.6 s Spark job per hundred-row local relation (measured on the
    x15 lifecycle).  The attribute is best-effort: any consumer that
    ignores it just runs the distributed plan on the same values."""
    df = spark.createDataFrame(rows, schema)
    df._hfc_rows = rows
    return df
