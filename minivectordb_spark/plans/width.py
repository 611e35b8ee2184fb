"""Partition width: every shuffle and map-stage width decision, in one
place — the session width (verify/probe pins), the iterative and
stateful-stream clamps, the heavy law and the scan width, one function
each.  The only package code that reads ``spark.sql.shuffle.partitions``
(``session.py`` sets its initial value); ``shuffle_scope`` is the only
code that sets it.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_CONF = "spark.sql.shuffle.partitions"

#: one iteration-shuffle partition comfortably holds ~2M (long, long)
#: edge rows (~32 MB + overhead) — the sizing unit for iterative loops
EDGES_PER_ITER_PARTITION = 2_000_000

#: target shuffle-partition payload for one-shot HEAVY aggregates and
#: windows (the EDJoin occurrence/doc-frequency stages): small enough
#: that a hash-aggregate over one partition fits task execution memory
#: at default heaps with room for the map's expansion factor
AGG_PARTITION_BYTES = 32 << 20


def session_width(spark) -> int:
    """The session's shuffle-partition count.  Spark 4.1 always returns a
    value here (``'200'`` when unset) and rejects a non-integer such as
    ``auto`` at ``conf.set``, so no fallback is needed."""
    return int(spark.conf.get(_CONF))


def verify_repartition(df: DataFrame, *cols) -> DataFrame:
    """Hash-repartition ``df`` by ``cols`` at the session width — the pin
    every compute-heavy verify/probe stage takes before its joins.

    Those stages (candidate-pair cosine/jaccard verifies, within-block
    self-joins, per-block levenshtein probes, wedge enumeration) read
    BYTE-SMALL inputs — often two longs per row — but do heavy per-row
    work.  With a bare ``repartition(col)`` or a join's own exchange,
    AQE's size-based coalescing sees only the tiny shuffle bytes, merges
    the post-shuffle partitions down to one or two tasks, and serializes
    work its size heuristic cannot see (measured 2.2-2.3x on the 10x
    harness; a 2-task block join inside semantic_dedup at sf0.1; the
    triangle wedge join folded onto 3 tasks).  An explicit partition
    count is AQE-immune, and the exchange moves only the keys.  At scale
    the inputs exceed the advisory size anyway and the pin changes
    nothing."""
    return df.repartition(session_width(df.sparkSession), *cols)


def iteration_width(spark, n_rows: int) -> int:
    """Width for an iterative loop over a working set of ``n_rows``
    (r11): ``clamp(ceil(n_rows / EDGES_PER_ITER_PARTITION), 1, session)``.

    An iterative graph loop runs 5-30 rounds of joins + aggregates over a
    frame whose size the operator just measured, and each round's fixed
    cost is tasks x scheduling — at the session's scan-width partitioning
    a 16k-edge graph pays 32 tasks per exchange per round for rows that
    fit in one (measured: pagerank at sf0.1 3.54 -> 2.25 s going 32 -> 8).
    AQE cannot fix this: with ``coalescePartitions.parallelismFirst``
    (default true) it refuses to coalesce below the session parallelism.
    A 100 TB graph keeps the session's full width.  Apply it with
    ``shuffle_scope``."""
    return _size_down(spark, n_rows, EDGES_PER_ITER_PARTITION)


def state_width(spark, n_bytes: int | None) -> int:
    """Width for a stateful stream over a source of ``n_bytes`` (a
    Catalyst estimate; ``None`` keeps the session width):
    ``clamp(ceil(n_bytes / AGG_PARTITION_BYTES), 1, session)`` — the
    ``iteration_width`` law in bytes.

    A stateful query binds its state-store partition count PERMANENTLY
    at checkpoint creation from the session's shuffle width (AQE cannot
    re-plan stateful streams), and each batch commits every state-store
    instance: 4 instances x partitions delta files, plus tasks over tiny
    slices.  So the width should track state size, not scan width
    (measured at sf0.1: 32 partitions ~3.7 s/batch, 8 ~1.1 s/batch,
    identical sink and counters).  The state never exceeds the source,
    so the source bytes bound it from above.  Apply it with
    ``shuffle_scope`` around ``start()``."""
    if n_bytes is None:
        return session_width(spark)
    return _size_down(spark, n_bytes, AGG_PARTITION_BYTES)


def _size_down(spark, n: int, per_partition: int) -> int:
    """``clamp(ceil(n / per_partition), 1, session)``."""
    return min(session_width(spark), max(1, -(-int(n) // per_partition)))


def heavy_width(spark, n_rows: int, row_bytes: int) -> int:
    """Size a heavy one-shot shuffle UP from its estimated payload — the
    complement of ``iteration_width`` (which sizes DOWN).  Returns
    ``max(session, ceil(n_rows * row_bytes / AGG_PARTITION_BYTES))``:
    never below the session's scan width (small inputs keep today's
    plans byte-identical), but a working set the session width cannot
    hold gets enough partitions that each holds ~AGG_PARTITION_BYTES.

    This is the operator-encoded form of the r11 EDJoin resource trail:
    the 5M-name doc-frequency aggregate (~64M occurrence rows) died with
    AGGREGATE_OUT_OF_MEMORY at the harness default of 32 partitions and
    needed a hand-set 256 — ceil(64M * 96 B / 32 MB) = 192-256 is exactly
    what this law computes, with no session surgery.  AQE cannot do it:
    adaptive coalescing only MERGES post-shuffle partitions; nothing
    grows a partition count the plan under-provisioned."""
    need = max(1, -(-int(n_rows) * int(row_bytes) // AGG_PARTITION_BYTES))
    return max(session_width(spark), need)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Guarantee a CPU-heavy map stage can use every core.

    Parquet scans parallelize by row group; a source written as one big
    row group per file (exactly the shape of the bench tables) yields ONE
    input split no matter what ``maxPartitionBytes`` says, so an
    interpreted higher-order fold downstream (MinHash, SimHash votes,
    shingle hashing) runs single-threaded.  When the observed input split
    count is below ``defaultParallelism`` this inserts one round-robin
    repartition (shuffles the rows once — at the sizes where the gate can
    fire this is milliseconds against a multi-core speedup of the fold);
    when the input is already wider — every real deployment at scale,
    where split count >> core count — it is the identity and adds NO
    shuffle.  Mirrors the planner's own AQE philosophy: decide from the
    observed stats, not the logical plan."""
    if df.isStreaming:
        # micro-batch partitioning is the stream source's concern; .rdd is
        # illegal on an unbound frame anyway
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


@contextmanager
def shuffle_scope(spark, width: int):
    """Run the block with the session's shuffle-partition count set to
    ``width``, always restoring the previous value (also on error).

    CONTRACT: the work must EXECUTE inside the scope (eager checkpoints,
    counts, a started stream).  A lazy plan binds its exchanges at action
    time, after the restore, and would silently run at the session
    setting."""
    prev = spark.conf.get(_CONF)
    spark.conf.set(_CONF, str(width))
    try:
        yield width
    finally:
        spark.conf.set(_CONF, prev)
