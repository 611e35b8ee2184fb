"""Shared operator utilities."""

from __future__ import annotations

import threading

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from minivectordb_spark.plans import width


def materialize(df: DataFrame, expr: Column, name: str, keep: list[str]) -> DataFrame:
    """Materialize ``expr`` as a real column behind a Generate node.

    Two Catalyst behaviors make expensive per-row expressions (higher-order
    functions, nested element_at over computed arrays) silently recompute:
    (1) HOFs run outside whole-stage codegen, so subexpression elimination
    never sees them; (2) CollapseProject inlines a projected expression into
    every downstream use — and ``element_at(<expr>, i)`` inside a lambda
    re-evaluates ``<expr>`` per element.  ``explode(array(expr))`` is
    row-preserving but introduces a Generate node that CollapseProject will
    not cross, so the expression is evaluated exactly once per row and
    consumers read a cheap column reference.
    """
    return df.select(*keep, F.explode(F.array(expr)).alias(name))


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's estimated size of ``df`` in bytes (optimizedPlan stats)
    — no job is run.  For file scans this is the at-rest file size;
    projections scale it by column width; lazy ``localCheckpoint`` frames
    and ``mapInArrow`` outputs propagate their child's estimate (verified
    r15).  ``None`` when the plan has no usable estimate (streaming, or
    stats unavailable)."""
    if df.isStreaming:
        return None
    try:
        b = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    # defaultSizeInBytes (Long.MaxValue-ish) marks "unknown", not "huge"
    return b if 0 <= b < (1 << 60) else None


#: Input-size floor (estimated bytes) below which an Arrow kernel's
#: JVM<->Python crossings cost more than they save (r15 item 1).  Each
#: mapInArrow pass pays a ~0.3-0.6 s wall floor (worker round-trips,
#: Arrow stream setup) REGARDLESS of data size; the retained Catalyst
#: expression twins pay none.  Measured crossover on the bench host
#: (VERDICT.md, round 15 item 1): at 0.6 MB the chains tie, at 2.4 MB the
#: kernel is ~5x faster — so below ~1 MB of (projected) input the
#: expression chain wins, above it the kernel does.  At 100 TB every
#: corpus is far above the floor and the kernels always run; this gate
#: only exists because tiny inputs invert the trade.
KERNEL_MIN_BYTES = 1 << 20


def use_arrow_kernel(df: DataFrame) -> bool:
    """Dispatch between an Arrow-batched kernel and its bit-identical
    Catalyst expression twin by estimated input size (guide §4: the UDF
    boundary is only a win when batch compute amortizes the crossing).
    Unknown size -> kernel (the conservative choice at scale: anything
    big enough to matter has file-scan stats)."""
    b = plan_size_bytes(df)
    return b is None or b >= KERNEL_MIN_BYTES


#: Distinct-edge count at or under which a graph operator collects its
#: edge list and runs on the driver instead of as a distributed loop.
#: It bounds driver memory (1M long pairs ~16 MB), not time: at this
#: size the driver side still wins (pagerank, 5 rounds, 1M distinct
#: edges over 200k nodes, local[4] on 4 vCPUs, warm: 2.4 s driver vs
#: 9.0 s distributed, identical ranks), and every round the distributed
#: loop skips is a set of jobs plus a checkpoint barrier.
SMALL_GRAPH_MAX_EDGES = 1_000_000

#: Estimated bytes (``plan_size_bytes``) of a VectorTable snapshot's
#: search columns (id, embedding_norm and the typed metadata maps) at or
#: under which its first search collects them to the driver with one
#: Arrow job, and every later search of that snapshot runs there with no
#: Spark job.  It bounds driver memory, not time: at this size the driver
#: side still wins (140,000 rows x 64 dims in a 16-bucket durable table,
#: estimated at 63.5 MB; local[4] on 4 vCPUs, warm, min of 5: a search
#: takes 27 ms on the driver vs 1.03 s distributed, 60 ms vs 0.68 s under
#: a two-key filter; the first search pays a 1.2 s collect, and the
#: driver process peaks at 283 MB RSS).  An in-memory table built from
#: driver lists has no estimate and stays distributed.
SMALL_SNAPSHOT_MAX_BYTES = 64 << 20

_AQE = "spark.sql.adaptive.enabled"
_GATE_LOCK = threading.Lock()


def collect_small_graph(
    edges: DataFrame,
) -> tuple[DataFrame, int, pa.Table | None]:
    """The small-graph gate shared by the graph operators.  ``edges`` is
    a distinct edge frame; returns ``(cached, n_edges, table)``:
    ``cached`` is ``edges`` cached (the caller uses it and unpersists
    it), and ``table`` is the whole frame as one Arrow table when
    ``n_edges <= SMALL_GRAPH_MAX_EDGES``, ``None`` above the limit.

    Two actions, one job each: the count (which fills the cache) and,
    at or under the limit, the collect from the cache.  Both are planned
    with AQE off, because AQE submits every shuffle stage of an action
    as its own job and on a graph this small the per-job fixed cost is
    the whole wall; and with one shuffle partition per core, because
    without AQE nothing coalesces them and the session width would run
    mostly empty tasks.  Above the limit the count is the gate's only
    cost and the caller's distributed plan reads the cached frame.  The
    AQE setting is session-wide: a query another thread plans meanwhile
    also runs without AQE (slower, same rows), and the lock keeps
    concurrent gates from restoring each other's value."""
    spark = edges.sparkSession
    with _GATE_LOCK:
        prev = spark.conf.get(_AQE)
        spark.conf.set(_AQE, "false")
        try:
            with width.shuffle_scope(spark, spark.sparkContext.defaultParallelism):
                cached = edges.cache()
                n = cached.count()
                small = n <= SMALL_GRAPH_MAX_EDGES
                return cached, n, cached.toArrow() if small else None
        finally:
            spark.conf.set(_AQE, prev)


def run_concurrent(*thunks):
    """Run independent Spark actions from a small thread pool (guide
    §2.6): actions are only sequential because driver code calls them
    sequentially.  Overlapping independent jobs both back-fills executor
    slots freed by one job's tail with the other's tasks AND overlaps
    the per-action driver fixed cost (plan/analyze/commit/py4j) that
    dominates small-batch lifecycle operators — the dedup_index_loop
    profile shows ~40 sub-second jobs whose between-job driver gaps are
    about half the wall.  Each thunk inherits the caller's local
    properties (job group, scheduler pool), so the overlapped jobs stay
    attributable to — and cancellable with — the caller's group.
    Results in thunk order; the first exception propagates (the pool
    context manager joins every thread first, so no write is abandoned
    mid-flight)."""
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.sql import SparkSession

    spark = SparkSession.active()
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        # one wrap per thunk: each thread gets its own copy of the
        # caller's properties (a shared copy would let the threads' SQL
        # execution ids overwrite each other)
        futs = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
        return [f.result() for f in futs]


def source_fingerprint(df: DataFrame, extras: list) -> str | None:
    """Freshness fingerprint of a persisted index's inputs (shared by the
    IVF / dedup / near-dup ``skip_if_fresh`` checks): the source's file
    set with per-file (size, mtime), the CANONICALIZED logical plan of
    ``df`` (a filter/dedup/transform over the same files is a DIFFERENT
    source than the bare scan — inputFiles() alone cannot tell them
    apart), plus ``extras`` (the index's build parameters).  Local
    sources stat through the OS; any other scheme (``hdfs://``,
    ``s3a://``, ...) stats through Hadoop ``FileStatus`` — one
    ``listStatus`` per parent DIRECTORY, not one RPC per file, so a
    many-thousand-file table costs a handful of calls (r13: previously
    any non-local source silently disabled freshness tracking and every
    ``skip_if_fresh`` build re-ran).  ``None`` (= no freshness tracking,
    always rebuild) when the source is not a file scan at all or the
    plan cannot be canonicalized — on a table format this slot is the
    snapshot id (Delta/Iceberg version).
    ``canonicalized().semanticHash()`` digests the full tree, so wide
    schemas cannot collide by the maxToStringFields rendering
    truncation."""
    import hashlib
    import json

    try:
        files = df.inputFiles()
        canon = df._jdf.queryExecution().analyzed().canonicalized()
        plan = f"{canon.toString()}#{canon.semanticHash()}"
    except Exception:
        return None
    if not files:
        return None
    ents = _stat_entries(sorted(files), df.sparkSession)
    if ents is None:
        return None
    payload = json.dumps([ents, plan, extras], sort_keys=True)
    return hashlib.md5(payload.encode()).hexdigest()


def _stat_entries(files: list[str], spark) -> list | None:
    """Per-file (path, size, mtime) entries for a fingerprint: OS stat
    for local paths, Hadoop FileStatus for any other scheme (grouped by
    parent dir — one listStatus RPC per directory).  ``None`` when any
    file cannot be stat-ed (freshness must then not be claimed)."""
    import os
    from urllib.parse import unquote, urlparse

    local, remote = [], []
    for f in files:
        u = urlparse(f)
        (local if u.scheme in ("file", "") else remote).append(f)
    ents = []
    for f in local:
        u = urlparse(f)
        p = unquote(u.path) if u.scheme == "file" else f
        try:
            st = os.stat(p)
        except OSError:
            return None
        ents.append([p, st.st_size, st.st_mtime_ns])
    if remote:
        r = _hadoop_entries(remote, spark)
        if r is None:
            return None
        ents.extend(r)
    return ents


def _hadoop_entries(files: list[str], spark) -> list | None:
    """(uri, length, modificationTime) via Hadoop listStatus, one call
    per parent directory."""
    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        by_dir: dict[str, set[str]] = {}
        for f in files:
            d, _, b = f.rpartition("/")
            by_dir.setdefault(d, set()).add(b)
        out = {}
        for d, names in by_dir.items():
            jdir = jvm.org.apache.hadoop.fs.Path(d)
            fs = jdir.getFileSystem(hconf)
            for st in fs.listStatus(jdir):
                name = st.getPath().getName()
                if name in names:
                    out[f"{d}/{name}"] = [
                        f"{d}/{name}",
                        int(st.getLen()),
                        int(st.getModificationTime()),
                    ]
        return [out[f] for f in files if f in out] if all(
            f in out for f in files
        ) else None
    except Exception:
        return None
