"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


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
#: (tools/crossover_probe.py): at 0.6 MB the chains tie, at 2.4 MB the
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
