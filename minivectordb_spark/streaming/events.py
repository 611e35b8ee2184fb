"""Structured Streaming surface.

The reference has no streaming at all (SURVEY.md §2.7) — its writes are
synchronous in-memory mutations.  The Spark-native equivalent of its
write path is a streaming ingest: micro-batches append to the vector table
(the reference's store_embedding loop becomes `readStream -> writeStream`),
and analytical rollups become watermarked windowed aggregations.

Transformations here are written once against a DataFrame and work for BOTH
batch and streaming inputs (the Structured Streaming contract), so the
batch oracle checks the same logic the stream runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def hourly_event_counts(events: DataFrame, watermark: str | None = "2 hours") -> DataFrame:
    """Tumbling 1-hour window counts per event_type.

    Works on batch and streaming frames alike; on a stream the watermark
    bounds state (late rows beyond it are dropped and closed windows are
    emitted/evicted — the scale knob for unbounded inputs).
    """
    src = events
    if watermark and events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return src.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    ).select(
        F.col("w.start").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )


def session_rollup(
    events: DataFrame,
    gap: str = "30 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str | None = None,
) -> DataFrame:
    """Per-user gap-based sessions via native ``session_window`` — the
    streaming-capable twin of the batch lag/cumsum sessionization
    (``q_events_sessionize``): one keyed aggregation, no window-function
    pass, and on a stream the state store merges/evicts sessions with the
    watermark (the 100 TB path: session state shards by user key).

    Merge rule is session_window's: consecutive events belong to one
    session iff their gap is STRICTLY LESS than ``gap`` (an event exactly
    ``gap`` after the previous starts a new session) — one ulp different
    from the lag-based variant's ``> gap`` break rule, mirrored exactly by
    the SQL oracle.

    Output: (user, session_start, n_events, session_value) where
    ``session_start`` is the first event's timestamp in the session.
    """
    src = events
    if watermark and events.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.col(user_col), F.session_window(F.col(ts_col), gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 2).alias("session_value"),
        )
        .select(
            F.col(user_col),
            F.col("w.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def stream_events(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over an events directory (parquet micro-batches).

    ``maxFilesPerTrigger`` paces ingestion; in production the same code
    reads Kafka by swapping the source format — everything downstream is
    source-agnostic.
    """
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# The micro-batch path every ingest below shares
# ---------------------------------------------------------------------------

#: AnalysisException conditions that mean "nothing written at this path
#: yet": no directory at all, or a directory without data files
_NOTHING_WRITTEN = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def _micro_batches(stream_df: DataFrame, checkpoint: str, write_batch, *args):
    """The writer every ingest returns: ``write_batch(batch_df, batch_id,
    *args)`` runs on each micro-batch until the source is drained
    (``availableNow``).  Source progress is exactly-once through
    ``checkpoint``; the body runs at-least-once (a failed epoch replays
    under its original id), so every ``write_batch`` is replay-safe."""
    return (
        stream_df.writeStream.foreachBatch(
            lambda batch_df, batch_id: write_batch(batch_df, batch_id, *args)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def _read_written(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet frame at ``path``, or ``None`` when nothing has been
    written there yet (an ingest's first micro-batch).  Every other
    analysis error propagates — read as "no table", a schema mismatch
    would silently switch off the uniqueness anti-join."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() in _NOTHING_WRITTEN:
            return None
        raise


def _append_new(df: DataFrame, path: str, id_col: str, finish=None) -> None:
    """The replay-safe append: left-anti-join ``df`` against the ids
    already at ``path`` (a column-pruned scan of ``id_col``), apply
    ``finish`` to what is left, and append it."""
    existing = _read_written(df.sparkSession, path)
    if existing is not None:
        df = df.join(existing.select(id_col), id_col, "left_anti")
    if finish is not None:
        df = finish(df)
    df.write.mode("append").parquet(path)


def _gated_ingest(
    stream_df: DataFrame,
    checkpoint: str,
    id_col: str,
    gate,
    sinks: dict,
    after_append=None,
):
    """The per-batch contract of every row-gated ingest (vector,
    decontaminated, quality, corpus-dedup, near-dup-corpus, anomaly):

    1. ``dropDuplicates([id_col])`` — one row per id within the batch;
    2. ``gate(fresh)`` — the rows the gate keeps;
    3. per ``path: finish`` in ``sinks``, ``_append_new``: ids already at
       ``path`` are anti-joined away, ``finish`` (route to this sink,
       embed) runs on the rest, and they are appended;
    4. ``after_append(kept)`` when given — the index growth.

    A duplicate id across micro-batches therefore leaves exactly one
    row, and a batch replayed after its append landed appends nothing.
    The existence check reads only ``id_col``; at real scale the same
    body targets a Delta MERGE or an id-bucketed layout, so the probe
    touches one bucket, not every file.

    With ``after_append`` the kept rows are eagerly localCheckpoint-ed:
    one gate run (an index probe) serves both the appends and the hook,
    with no read-write race against the index the hook grows.  The hook
    gets the PRE-anti-join kept rows, so every crash point converges on
    replay:

    * crash BEFORE the table append — replay is a plain re-run.
    * crash BETWEEN table append and hook — on replay the probe still
      passes the batch's rows (the index does not contain them yet),
      the table anti-join drops them (already appended, benign), and
      the hook receives the same non-empty rows, so the index catches
      up.  Anti-joining FIRST would hand the hook an empty frame here
      and the index would permanently under-cover the batch.
    * crash AFTER both — on replay the probe rejects the batch's rows
      as duplicates of their own indexed copies; both appends are
      empty no-ops.

    Residual cost of this ordering: a row the probe passes but the
    table anti-join drops (same id re-sent with changed, non-duplicate
    content) gets its buckets appended to the index even though the
    table kept the FIRST version.  Extra index rows are the documented-
    benign direction (candidates/hits are distinct-ed; bytes reclaimed
    at the next full rebuild)."""

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        kept = gate(batch_df.dropDuplicates([id_col]))
        if after_append is not None:
            kept = kept.localCheckpoint(eager=True)
        for path, finish in sinks.items():
            _append_new(kept, path, id_col, finish)
        if after_append is not None:
            after_append(kept)

    return _micro_batches(stream_df, checkpoint, _write_batch)


def stream_vector_ingest(
    stream_df: DataFrame,
    table_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    model: str = "hash64",
):
    """Streaming analogue of the reference write path
    (vector_database.py:57-117): embed each micro-batch with the pluggable
    embedder and append to the Parquet-backed vector table.  No gate:
    uniqueness and replay follow ``_gated_ingest``, and only the rows
    that survive its anti-join are embedded.
    """
    from minivectordb_spark.embedder import embed_column

    return _gated_ingest(
        stream_df,
        checkpoint,
        id_col,
        gate=lambda fresh: fresh,
        sinks={
            table_path: lambda new: embed_column(
                new, text_col, out_col="embedding", model=model
            )
        },
    )


def stream_durable_ingest(
    stream_df: DataFrame,
    table_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    model: str = "hash64",
    n_buckets: int = 16,
    mode: str = "insert",
    phase_walls: dict | None = None,
):
    """Streaming ingest into a ``DurableVectorTable``: each micro-batch is
    embedded, deduped in-batch, and committed as ONE copy-on-write
    version — the atomic manifest swap means a reader never sees a torn
    batch, and a crashed batch replays idempotently.  The first
    micro-batch creates the table.  Only the id-hash buckets the batch
    touches are rewritten.

    ``mode='insert'`` (default): already-present ids are anti-joined away
    — an append-only corpus; replay idempotence comes from the anti-join.
    ``mode='upsert'``: incoming rows REPLACE stored rows with the same id
    (``upsert_embeddings_batch`` — the CDC shape: the stream carries
    document revisions); replay idempotence comes from upserting the
    identical rows again.

    ``phase_walls``: optional dict the per-batch phase walls accumulate
    into (VERDICT r9 item 5 — "the wall is CoW MERGE ingest" is only
    falsifiable split into embed vs commit): ``embed_sec`` (inference +
    materialization), ``commit_sec`` (create / upsert-MERGE / insert
    anti-join + bucket rewrite + manifest swap), ``n_batches``.  The
    remainder of a caller-observed wave wall is streaming-engine fixed
    cost (file listing, offset log, foreachBatch dispatch)."""
    import time as _time

    from minivectordb_spark import fsio
    from minivectordb_spark.durable import DurableVectorTable
    from minivectordb_spark.embedder import embed_column

    if mode not in ("insert", "upsert"):
        raise ValueError(f"mode must be 'insert' or 'upsert', got {mode!r}")

    def _note(phase: str, t0: float) -> None:
        if phase_walls is not None:
            phase_walls[phase] = round(
                phase_walls.get(phase, 0.0) + (_time.time() - t0), 3
            )

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if phase_walls is not None:
            phase_walls["n_batches"] = phase_walls.get("n_batches", 0) + 1
        t0 = _time.time()
        fresh = batch_df.dropDuplicates([id_col])
        # localCheckpoint: the create/store paths below each run several
        # jobs (stats agg, clash probes, per-bucket writes) — without a
        # materialization every one would re-run the embedding inference
        # over the whole micro-batch
        embedded = embed_column(
            fresh, text_col, out_col="embedding", model=model
        ).localCheckpoint()
        _note("embed_sec", t0)
        t0 = _time.time()
        if not fsio.table_versions(table_path, batch_df.sparkSession):
            DurableVectorTable.create(
                embedded, table_path, id_col=id_col, n_buckets=n_buckets
            )
            _note("commit_sec", t0)
            return
        t = DurableVectorTable.load(batch_df.sparkSession, table_path)
        if mode == "upsert":
            if embedded.limit(1).count():
                t.upsert_embeddings_batch(embedded)
            _note("commit_sec", t0)
            return
        new_rows = embedded.join(
            t.to_df().select(id_col), id_col, "left_anti"
        ).localCheckpoint()
        if new_rows.limit(1).count():
            t.store_embeddings_batch(new_rows)
        _note("commit_sec", t0)

    return _micro_batches(stream_df, checkpoint, _write_batch)


def stream_decontaminated_ingest(
    stream_df: DataFrame,
    benchmark_df: DataFrame,
    table_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 3,
    min_overlap: int = 1,
):
    """Streaming corpus ingest with a benchmark-decontamination gate: each
    micro-batch drops documents sharing >= ``min_overlap`` distinct
    ``window``-token grams with the held-out evaluation set
    (``operators/dedup.decontaminate``) before appending; uniqueness and
    replay follow ``_gated_ingest``.  This is the continuous-crawl shape
    of the batch ``decontaminate`` query — eval sets are fixed per
    training run, so the gate is a STATIC broadcast probe inside every
    batch.

    The benchmark frame is eagerly localCheckpoint-ed once at wiring time:
    every micro-batch re-reads the materialized blocks instead of
    re-shingling the eval set.  Batch==stream equivalence is pinned by
    tests/test_streaming_multimodal.py."""
    from minivectordb_spark.operators.dedup import decontaminate

    bench = benchmark_df.select(id_col, text_col).localCheckpoint(eager=True)

    def _gate(fresh: DataFrame) -> DataFrame:
        flagged = decontaminate(
            fresh,
            bench,
            text_col=text_col,
            id_col=id_col,
            window=window,
            min_overlap=min_overlap,
        ).select(id_col)
        return fresh.join(flagged, id_col, "left_anti")

    return _gated_ingest(
        stream_df, checkpoint, id_col, _gate, sinks={table_path: None}
    )


def stream_corpus_dedup_ingest(
    stream_df: DataFrame,
    index_path: str,
    table_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    update_index: bool = True,
):
    """Streaming corpus ingest gated by the PERSISTED dedup index: each
    micro-batch probes the ``save_dedup_index`` layout
    (``dedup_against_indexed`` — the index side never shuffles and the
    bucket scan prunes to the batch's key prefixes), appends the
    survivors, and with ``update_index`` appends their buckets/shingles
    back (``update_dedup_index``) so LATER micro-batches dedup against
    earlier ones too.

    This is the 100 TB-sane shape of cross-batch dedup state: the seen-
    corpus lives ON DISK in the partitioned index, not in the state
    store — ``streaming_dedup``'s TTL-bounded in-memory state answers
    "same id replayed recently?", this gate answers "near-duplicate of
    ANYTHING ever accepted?", which no bounded in-memory state can.

    Uniqueness, replay and the crash points of the index update follow
    ``_gated_ingest``.  Re-appended bucket/shingle rows are benign for
    correctness (candidates and verify hits are distinct-ed) — they cost
    index bytes only, reclaimed at the next full ``save_dedup_index``
    rebuild."""
    from minivectordb_spark.operators.dedup import (
        dedup_against_indexed,
        update_dedup_index,
    )

    return _gated_ingest(
        stream_df,
        checkpoint,
        id_col,
        gate=lambda fresh: dedup_against_indexed(
            fresh, index_path, text_col=text_col, id_col=id_col,
            threshold=threshold,
        ),
        sinks={table_path: None},
        after_append=(
            (
                lambda kept: update_dedup_index(
                    kept.select(id_col, text_col), index_path,
                    text_col=text_col, id_col=id_col,
                )
            )
            if update_index
            else None
        ),
    )


def stream_neardup_corpus_ingest(
    stream_df: DataFrame,
    index_path: str,
    table_path: str,
    checkpoint: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    max_probes: int | None = 4,
    update_index: bool = True,
):
    """Streaming EMBEDDING ingest gated by the persisted near-dup index —
    the embedding-space twin of ``stream_corpus_dedup_ingest``: each
    micro-batch probes the ``save_neardup_index`` layout under its
    FROZEN planes (``neardup_against_indexed`` — broadcast probe, pruned
    scan), appends the cosine-survivors, and with ``update_index``
    appends their buckets/embeddings back so later batches dedup against
    earlier ones.  Cross-batch "near-duplicate of any embedding ever
    accepted?" with the state on disk; uniqueness and replay follow
    ``_gated_ingest``, with the text gate's benign re-appends."""
    from minivectordb_spark.operators.dedup import (
        neardup_against_indexed,
        update_neardup_index,
    )

    return _gated_ingest(
        stream_df,
        checkpoint,
        id_col,
        gate=lambda fresh: neardup_against_indexed(
            fresh, index_path, emb_col=emb_col, id_col=id_col,
            threshold=threshold, max_probes=max_probes,
        ),
        sinks={table_path: None},
        after_append=(
            (
                lambda kept: update_neardup_index(
                    kept.select(id_col, emb_col), index_path,
                    emb_col=emb_col, id_col=id_col,
                )
            )
            if update_index
            else None
        ),
    )


def stream_neardup_ingest(
    stream_df: DataFrame,
    table_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    model: str = "hash64",
    threshold: float = 0.9,
    n_planes: int = 6,
):
    """Near-dup-gated streaming ingest (VERDICT r4 stretch 7): each
    micro-batch is embedded, near-dup-checked WITHIN the batch and AGAINST
    the already-ingested corpus, and only novel rows are appended.

    Scale path: the table is laid out ``partitionBy(lsh_bucket)`` over
    deterministic sign-bit LSH planes (the same
    ``ann.default_projection_planes`` contract the batch near-dup uses),
    so the against-table check reads ONLY the partition directories for
    the batch's home + Hamming-1 buckets (the distinct probe set is
    collected driver-side — bounded by 2^n_planes, constant in corpus
    size — and pushed as a partition filter).  Per-batch cost scales with
    batch_size x bucket occupancy, never with table size — the streaming
    analogue of the persisted-IVF probe path (``ann.ivf_search_indexed``).

    Semantics: greedy first-arrival-wins.  Within a batch a row is
    dropped if it near-dups a smaller id in the same batch; across
    batches a row is dropped if it near-dups ANY already-retained row.
    On transitively-closed duplicate sets (cliques — exact and jittered
    replicas) this equals the batch pipeline's min-id-survivor resolution
    when rows arrive in id order (pinned by
    tests/test_streaming_multimodal.py batch==stream equivalence); on
    similarity CHAINS (a~b, b~c, a!~c) greedy retains {a, c} where batch
    connected-components retains {a} — the standard trade of any
    single-pass dedup, documented not hidden.
    """
    from minivectordb_spark.embedder import embed_column
    from minivectordb_spark.operators.ann import (
        default_projection_planes,
        random_projection_buckets,
        random_projection_probes,
    )
    from minivectordb_spark.operators.dedup import (
        cosine_sim_cols,
        embedding_neardup_pairs,
    )
    from minivectordb_spark.operators.util import materialize
    from minivectordb_spark.scoring import norm_expr

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = batch_df.dropDuplicates([id_col])
        embedded = embed_column(
            fresh, text_col, out_col="embedding", model=model
        ).localCheckpoint()
        if embedded.rdd.isEmpty():
            return
        dim = len(embedded.select("embedding").first()["embedding"])
        planes = default_projection_planes(dim, n_planes=n_planes)

        # in-batch: drop every id that near-dups a smaller batch id
        pairs = embedding_neardup_pairs(
            embedded,
            emb_col="embedding",
            id_col=id_col,
            planes=planes,
            threshold=threshold,
        )
        survivors = embedded.join(
            pairs.select(F.col("id_b").alias(id_col)).distinct(),
            id_col,
            "left_anti",
        ).localCheckpoint()

        # against-table: probe only the partitions this batch can touch
        existing = _read_written(spark, table_path)
        if existing is not None:
            probes = random_projection_probes(
                survivors, planes, id_col=id_col, emb_col="embedding"
            ).select(F.col(id_col).alias("__ia"), F.explode("probes").alias("__probe"))
            probe_vals = [
                r["__probe"] for r in probes.select("__probe").distinct().collect()
            ]
            # partition filter: only the probed bucket directories are read
            hits = existing.filter(F.col("lsh_bucket").isin(probe_vals))
            b = materialize(
                hits.select("embedding", "lsh_bucket"),
                norm_expr("embedding"),
                "__nb",
                ["embedding", "lsh_bucket"],
            ).select(
                F.col("embedding").alias("__eb"),
                F.col("lsh_bucket").alias("__hb"),
                F.col("__nb"),
            )
            a = materialize(
                survivors.select(id_col, "embedding"),
                norm_expr("embedding"),
                "__na",
                [id_col, "embedding"],
            ).select(
                F.col(id_col).alias("__ja"),
                F.col("embedding").alias("__ea"),
                F.col("__na"),
            )
            sim = cosine_sim_cols(
                F.col("__ea"), F.col("__eb"), norm_a=F.col("__na"), norm_b=F.col("__nb")
            )
            # bucketed equi-join: each batch row meets only same-bucket
            # table rows (occupancy-bounded), never the whole pruned scan
            dup_ids = (
                probes.join(b, F.col("__probe") == F.col("__hb"))
                .join(a, F.col("__ia") == F.col("__ja"))
                .filter(F.round(sim, 6) >= threshold)
                .select(F.col("__ia").alias(id_col))
                .distinct()
            )
            survivors = survivors.join(dup_ids, id_col, "left_anti")

        out = survivors.join(
            random_projection_buckets(
                survivors, planes, id_col=id_col, emb_col="embedding"
            ).withColumnRenamed("bucket", "lsh_bucket"),
            id_col,
        )
        out.write.partitionBy("lsh_bucket").mode("append").parquet(table_path)

    return _micro_batches(stream_df, checkpoint, _write_batch)


def stream_quality_ingest(
    stream_df: DataFrame,
    weights: list[float],
    table_path: str,
    checkpoint: str,
    bias: float = 0.0,
    min_score: float = 0.5,
    max_score: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming corpus ingest with a model-based quality gate: each
    micro-batch is scored by the hashed linear classifier
    (``operators/text.hash_classifier_score`` — map-only, weights are
    expression literals) and only documents with ``score >= min_score``
    (and ``< max_score`` when given — CCNet-style band selection) are
    appended; uniqueness and replay follow ``_gated_ingest``.  The model
    is FROZEN at wiring time, exactly how a production quality filter
    deploys a fitted classifier; because the gate is a pure per-row
    expression, this is the cheapest of the streaming gates — no state,
    no broadcast, no probe table.

    Batch==stream equivalence is pinned by
    tests/test_streaming_multimodal.py."""
    from minivectordb_spark.operators.text import hash_classifier_score

    frozen = [float(w) for w in weights]

    def _gate(fresh: DataFrame) -> DataFrame:
        scored = hash_classifier_score(
            fresh, frozen, bias=bias, text_col=text_col, id_col=id_col
        )
        keep = scored.filter(F.col("score") >= min_score)
        if max_score is not None:
            keep = keep.filter(F.col("score") < max_score)
        return fresh.join(keep.select(id_col), id_col)

    return _gated_ingest(
        stream_df, checkpoint, id_col, _gate, sinks={table_path: None}
    )


def stream_ivf_index_ingest(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    n_centroids: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    model: str = "hash64",
):
    """Streaming IVF index maintenance: the first micro-batch embeds its
    documents and BUILDS the index (seed centroids from the batch); every
    later batch embeds and APPENDS through ``ann.update_ivf_index`` —
    batch-cost assignment against the frozen centroids, no corpus-sized
    work per trigger.  Searches (``ivf_search_indexed``) see appended
    rows through the same partition pruning.  This is the online half of
    the IVF lifecycle; periodic full ``save_ivf_index`` rebuilds re-fit
    the centroids when drift accumulates (and restore the freshness
    manifest the incremental path invalidates).

    Replayed ids (crash before the checkpoint committed) are anti-joined
    against the index's id column before appending, so a re-run batch is
    a no-op — the column-pruned existence probe of the other ingest
    gates; at real scale the id column rides a Delta/Iceberg table and
    the probe is a MERGE."""
    import os

    from minivectordb_spark.embedder import embed_column
    from minivectordb_spark.operators.ann import (
        save_ivf_index,
        seed_centroids,
        update_ivf_index,
    )

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = batch_df.dropDuplicates([id_col])
        embedded = (
            embed_column(fresh, text_col, out_col="embedding", model=model)
            .select(id_col, "embedding")
            .localCheckpoint()
        )
        if not embedded.limit(1).count():
            return
        # r14: the live data dirs sit under the manifest's generation —
        # resolve it first; a manifest-less path with no legacy
        # centroids dir means no index yet
        from minivectordb_spark import fsio
        from minivectordb_spark.operators.ann import _IVF_MANIFEST

        m, _ = fsio.load_index_or_empty(index_path, _IVF_MANIFEST, spark)
        if not m and not os.path.exists(os.path.join(index_path, "centroids")):
            save_ivf_index(
                embedded,
                seed_centroids(embedded, n_centroids, id_col=id_col),
                index_path,
                id_col=id_col,
            )
            return
        indexed = _read_written(spark, fsio.gen_data(index_path, m, "assignments"))
        novel = embedded
        if indexed is not None:
            novel = embedded.join(indexed.select(id_col), id_col, "left_anti")
        if novel.limit(1).count():
            update_ivf_index(novel, index_path, id_col=id_col)

    return _micro_batches(stream_df, checkpoint, _write_batch)


def stream_source_stats_ingest(
    stream_df: DataFrame,
    stats_path: str,
    checkpoint: str,
    text_col: str = "text",
    source_col: str = "source",
):
    """Streaming per-source corpus observability: each micro-batch folds
    its documents into an incremental stats store whose rollup
    (``read_source_stats``) equals the batch ``source_report`` over
    everything ingested so far — the dataset-card numbers, maintained on
    ingest instead of recomputed corpus-wide.

    Store layout (both batch-cost writes, keyed by batch for replay
    idempotence — foreachBatch is at-least-once, so a batch replayed
    after a mid-batch failure must not double-count):
    - ``partials/batch={id}/``: ONE ROW PER (batch, source) — n_docs /
      token / char / DECIMAL-quality partial aggregates, OVERWRITTEN on
      replay of the same batch_id (Structured Streaming replays a failed
      epoch under its original id), so the partial exists exactly once
      per batch no matter how many attempts ran.  Exact under summation
      because every quantity is associative (the decimal freeze makes
      the quality sum order-independent, operators/text.source_per_doc).
    - ``hashes/batch={id}/``: one row per FIRST-SEEN (source, md5(text))
      — the distinct-text set behind dup_rate, maintained with the same
      column-pruned anti-join the dedup ingest gates use, anti-joined
      against every OTHER batch's partition (a replay recomputes the
      same first-seen set and overwrites its own partition).  At real
      scale this store is bucketed by hash prefix so the probe reads
      only the batch's buckets.

    Per-trigger cost: map-side expressions over the batch + one
    |sources|-row aggregate + one anti-join against the hash store —
    never a corpus-wide pass.  Batch==stream equivalence AND replay
    idempotence are pinned by tests/test_streaming_multimodal.py."""
    return _micro_batches(
        stream_df, checkpoint, _source_stats_write_batch,
        stats_path, text_col, source_col,
    )


def _source_stats_write_batch(
    batch_df: DataFrame,
    batch_id: int,
    stats_path: str,
    text_col: str = "text",
    source_col: str = "source",
) -> None:
    """One ``stream_source_stats_ingest`` epoch, idempotent per
    ``batch_id``: both writes land in ``batch={id}`` partition
    directories with overwrite mode, and the first-seen anti-join
    excludes the batch's OWN partition (so a replay after a mid-batch
    failure reproduces — not skips — its first-seen rows).  Module-level
    so the replay contract is directly unit-testable."""
    from minivectordb_spark.operators.text import source_per_doc

    per_doc = source_per_doc(batch_df, text_col, source_col)
    per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__toks_n").alias("total_tokens"),
        F.sum("__chars").alias("total_chars"),
        F.sum("__q").cast("decimal(28,6)").alias("qsum"),
    ).write.mode("overwrite").parquet(f"{stats_path}/partials/batch={batch_id}")
    fresh = per_doc.select("source", "__h").distinct()
    seen = _read_written(batch_df.sparkSession, f"{stats_path}/hashes")
    if seen is not None:
        fresh = fresh.join(
            seen.where(F.col("batch") != F.lit(int(batch_id))).select(
                "source", "__h"
            ),
            ["source", "__h"],
            "left_anti",
        )
    # materialize BEFORE the overwrite deletes the target partition —
    # the anti-join's scan must never race the delete of batch={id}
    fresh = fresh.localCheckpoint(eager=True)
    fresh.write.mode("overwrite").parquet(f"{stats_path}/hashes/batch={batch_id}")


def read_source_stats(spark: SparkSession, stats_path: str) -> DataFrame:
    """Fold the incremental store written by ``stream_source_stats_ingest``
    into the exact ``source_report`` schema: (source, n_docs,
    n_distinct_texts, total_tokens, total_chars, dup_rate, avg_quality).
    One |sources|-row aggregate over the partials log plus one count per
    source over the hash store — cost scales with log size, not corpus.
    dup_rate / avg_quality use the SAME exact-rational rounding as the
    batch ``source_report`` (operators/text._exact_avg_micros), so batch
    and stream cannot diverge on a .5e-6 boundary."""
    from minivectordb_spark.operators.text import _exact_avg_micros

    partials = spark.read.parquet(f"{stats_path}/partials")
    hashes = spark.read.parquet(f"{stats_path}/hashes")
    totals = partials.groupBy("source").agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("total_tokens").alias("total_tokens"),
        F.sum("total_chars").alias("total_chars"),
        F.sum("qsum").alias("__qsum"),
    )
    distinct = hashes.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_distinct_texts")
    )
    return totals.join(distinct, "source").select(
        "source",
        "n_docs",
        "n_distinct_texts",
        "total_tokens",
        "total_chars",
        _exact_avg_micros("(n_docs - n_distinct_texts)", "n_docs").alias(
            "dup_rate"
        ),
        _exact_avg_micros("__qsum", "n_docs").alias("avg_quality"),
    )


def stream_heavy_hitters_ingest(
    stream_df: DataFrame,
    store_path: str,
    checkpoint: str,
    col: str = "item",
    theta: float = 0.01,
):
    """Streaming heavy hitters (boilerplate watch) with a PINNED error
    contract: each micro-batch runs the batch operator's Misra-Gries
    candidate pass (``operators/sketches``) and appends the batch's EXACT
    counts of its own candidates plus one meta row (batch item count, k).

    Summing partials gives a LOWER bound on each item's true count that
    undercounts by < N/k in total (an item missing from a batch's
    candidates had batch count < N_b/k there — the per-partition MG
    pigeonhole applied per batch; the misses sum to < N/k).  Therefore,
    for any read-side threshold theta' >= 1/k (``read_heavy_hitters``
    checks this):

    - every item whose recorded sum >= ceil(theta' * N) is CERTAIN (the
      sum never overcounts);
    - every true heavy hitter (true count >= ceil(theta' * N)) has
      recorded sum > theta' * N - N/k, so it appears among the returned
      candidates — no silent misses.

    The sandwich (certain set ⊆ exact set ⊆ candidate set) is pinned by
    tests/test_streaming_multimodal.py.  Both stores are keyed by
    ``batch={id}`` partition directories written with overwrite mode —
    foreachBatch is at-least-once, and an appended replay would inflate
    ``cnt_lower`` past the true count, breaking the never-overcounts
    half of the contract; the overwrite makes every attempt of a batch
    land exactly once.  Per-trigger cost: the batch's MG pass + one
    candidate-cardinality aggregate — never corpus-wide."""
    from minivectordb_spark.operators.sketches import _hh_k

    return _micro_batches(
        stream_df, checkpoint, _heavy_hitters_write_batch,
        store_path, col, _hh_k(theta),
    )


def _heavy_hitters_write_batch(
    batch_df: DataFrame, batch_id: int, store_path: str, col: str, k: int
) -> None:
    """One ``stream_heavy_hitters_ingest`` epoch, idempotent per
    ``batch_id``: partials and meta land in ``batch={id}`` partition
    directories with overwrite mode, so a replayed epoch replaces its
    own rows instead of double-counting.  Module-level so the replay
    contract is directly unit-testable."""
    from minivectordb_spark.operators.sketches import (
        _hh_candidates,
        _hh_items,
        _hh_probe,
    )

    items = _hh_items(batch_df, col)
    cand = _hh_candidates(items, k).localCheckpoint(eager=True)
    _hh_probe(items, cand).groupBy("item").agg(
        F.count(F.lit(1)).alias("cnt")
    ).write.mode("overwrite").parquet(f"{store_path}/partials/batch={batch_id}")
    items.agg(F.count(F.lit(1)).alias("n_items")).select(
        "n_items", F.lit(k).alias("k")
    ).write.mode("overwrite").parquet(f"{store_path}/meta/batch={batch_id}")


def read_heavy_hitters(
    spark: SparkSession, store_path: str, theta: float
) -> DataFrame:
    """Fold the ``stream_heavy_hitters_ingest`` store: (item, cnt_lower,
    certain).  ``certain`` rows are guaranteed true heavy hitters at
    ``theta``; every true heavy hitter is present in the returned frame
    (possibly with certain=false) — see the gate docstring for the
    bound.  Requires ``theta >= 1/k`` of the wired gate."""
    import math

    partials = spark.read.parquet(f"{store_path}/partials")
    meta = spark.read.parquet(f"{store_path}/meta")
    m = meta.agg(
        F.sum("n_items").alias("n"), F.min("k").alias("k")
    ).first()
    n_total, k = int(m["n"]), int(m["k"])
    if theta < 1.0 / k:
        raise ValueError(
            f"theta={theta} below the wired gate's resolution 1/k={1.0 / k}"
        )
    thr = max(1, math.ceil(theta * n_total))
    slack = math.ceil(n_total / k)
    return (
        partials.groupBy("item")
        .agg(F.sum("cnt").alias("cnt_lower"))
        .where(F.col("cnt_lower") > F.lit(thr - slack))
        .select(
            "item",
            "cnt_lower",
            (F.col("cnt_lower") >= F.lit(thr)).alias("certain"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming incremental aggregate-view maintenance
# ---------------------------------------------------------------------------


def stream_rollup_ingest(
    stream_df: DataFrame,
    store_path: str,
    checkpoint: str,
    keys: list[str],
    value_col: str = "value",
):
    """Streaming side of operators/incremental.py: every micro-batch is
    reduced to its algebraic partial state (count, DECIMAL sum, min, max
    per key — ``rollup_state``) and written to a ``batch={id}``-keyed
    partition with overwrite semantics, so an at-least-once foreachBatch
    replay of the same epoch OVERWRITES rather than double-counts (the
    source_stats / heavy_hitters idempotence contract).  Per-trigger
    cost: one partial-aggregated shuffle of the BATCH — the accumulated
    state is never read on the write path.

    ``read_rollup`` folds the state log by the monoid ⊕ and equals a
    batch full recompute bit-exactly (the decimal sum is associative and
    order-independent) — pinned by the batch==stream equivalence test."""
    return _micro_batches(
        stream_df, checkpoint, _rollup_write_batch, store_path, keys, value_col
    )


def _rollup_write_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_path: str,
    keys: list[str],
    value_col: str,
) -> None:
    """One epoch, idempotent per ``batch_id`` (module-level so the replay
    contract is directly unit-testable)."""
    from minivectordb_spark.operators.incremental import rollup_state

    rollup_state(batch_df, keys, value_col).write.mode("overwrite").parquet(
        f"{store_path}/state/batch={batch_id}"
    )


def read_rollup(
    spark: SparkSession, store_path: str, key_names: list[str]
) -> DataFrame:
    """Fold the state log into the finalized view: one groupBy over
    state-sized rows (one row per key per batch — cost scales with the
    log, never the ingested corpus), derived avg from the exact decimal
    partials at read time."""
    from minivectordb_spark.operators.incremental import (
        finalize_rollup,
        merge_states,
    )

    state = spark.read.parquet(f"{store_path}/state").drop("batch")
    return finalize_rollup(merge_states([state], key_names), key_names)


# ---------------------------------------------------------------------------
# Stream-stream attribution join
# ---------------------------------------------------------------------------


def attribution_join(
    events: DataFrame,
    trigger_type: str = "click",
    outcome_type: str = "purchase",
    within: str = "60 minutes",
    type_col: str = "event_type",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    watermark: str | None = None,
    within_nanos: int | None = None,
) -> DataFrame:
    """Trigger→outcome attribution: every (trigger, outcome) pair for the
    same user where the outcome lands inside ``(trigger_ts, trigger_ts +
    within]``.  ``within_nanos`` switches the range predicate to integer
    arithmetic for the engine's int64 epoch-nanos ts contract (the batch
    oracle row) — timestamps use the ``within`` interval string.  Works identically on a batch frame and on a stream — on a
    stream this is Spark's watermarked STREAM-STREAM interval join: both
    sides keep keyed state bounded by the watermark + interval (state for
    a trigger is dropped once no qualifying outcome can still arrive), so
    the join never holds an unbounded history.  The batch==stream
    equivalence is test-pinned; the one semantic knob is ``watermark`` —
    it must cover the event-time disorder of the source or late pairs are
    dropped (the documented streaming trade, not a bug).

    Equi-join on the user key + a range predicate on event time: Spark
    plans the batch side as a hash equi-join with the range as a residual
    condition — never a cartesian — and the streaming side as
    StreamingSymmetricHashJoin keyed on the user column.

    Output: (user, trigger_id, outcome_id, trigger_ts, outcome_ts).
    """
    trig = events.where(F.col(type_col) == trigger_type).select(
        F.col(user_col).alias("__u"),
        F.col(id_col).alias("trigger_id"),
        F.col(ts_col).alias("trigger_ts"),
    )
    outc = events.where(F.col(type_col) == outcome_type).select(
        F.col(user_col).alias("__u2"),
        F.col(id_col).alias("outcome_id"),
        F.col(ts_col).alias("outcome_ts"),
    )
    if watermark and events.isStreaming:
        trig = trig.withWatermark("trigger_ts", watermark)
        outc = outc.withWatermark("outcome_ts", watermark)
    bound = (
        f"trigger_ts + {int(within_nanos)}L"
        if within_nanos is not None
        else f"trigger_ts + INTERVAL {within}"
    )
    joined = trig.join(
        outc,
        F.expr(
            f"__u = __u2 AND outcome_ts > trigger_ts AND outcome_ts <= {bound}"
        ),
    )
    return joined.select(
        F.col("__u").alias("user"),
        "trigger_id",
        "outcome_id",
        "trigger_ts",
        "outcome_ts",
    )


def stage_time_ordered(
    df: DataFrame, ts_col: str, path: str, n_slices: int = 8
) -> int:
    """Stage a batch frame as ``n_slices`` TIME-ORDERED parquet files for
    a deterministic file-stream replay (VERDICT r9 item 1): range-
    partition on event time (equal keys never split across partitions),
    write one file per non-empty slice, then force strictly-increasing
    modification times in slice order — ``FileStreamSource`` picks
    pending files oldest-first (mtime, then path), so with
    ``maxFilesPerTrigger=1`` each micro-batch is exactly one time slice
    and every batch's min event time is >= all prior batches' max.
    That makes watermark advancement REPRODUCIBLE: no row is ever late,
    for any non-negative watermark delay, so a watermarked stream over
    this staging must equal the batch computation while still pruning
    state like production would.

    Returns the number of staged files (= micro-batches the replay will
    run).  Local-filesystem staging is a TEST/bench harness; at real
    scale the same contract is "the upstream writer emits time-bucketed
    files in order", which log-structured ingest (Kafka->files,
    hourly drops) already satisfies.
    """
    import os

    (
        df.repartitionByRange(n_slices, F.col(ts_col).asc())
        .write.mode("overwrite")
        .parquet(path)
    )
    parts = sorted(
        f
        for f in os.listdir(path)
        if f.startswith("part-") and not f.endswith(".crc")
    )
    # part-00000 < part-00001 < ... is the range order; anchor mtimes in
    # the past so any later writer can't interleave
    import time as _time

    base = int(_time.time()) - len(parts) - 60
    for i, name in enumerate(parts):
        os.utime(os.path.join(path, name), (base + i, base + i))
    return len(parts)


def attribution_stream_bounded(
    spark: SparkSession,
    src: str,
    sink: str,
    checkpoint: str,
    schema: str | StructType,
    within: str = "60 minutes",
    watermark: str = "1 minute",
    timeout: int = 300,
) -> dict:
    """Run the attribution join as a BOUNDED-STATE stream over a
    time-ordered staged source (``stage_time_ordered``) and return the
    state-store counters that prove the bound (VERDICT r9 item 1): the
    graded stream_attribution row deliberately runs with an infinite
    watermark (arbitrary micro-batch order), so the 100 TB failure mode
    of a stream-stream join — state growth — had no falsifiable
    evidence.  Here the source is replayed one time slice per trigger
    (``maxFilesPerTrigger=1``), the watermark is realistic, and Spark's
    StreamingSymmetricHashJoin evicts a trigger's state as soon as the
    watermark passes ``trigger_ts + within``.

    Correctness argument (why the sink still equals the FULL batch
    join): slices strictly ascend in event time, so at the start of
    batch *i* the watermark is at most max-ts(batches < i), while every
    unseen qualifying outcome has ts greater than that — a pair can
    only be dropped if the watermark passed ``trigger_ts + within >=
    outcome_ts`` BEFORE the outcome arrived, which would need the
    outcome to be out of time order.  The DuckDB twin is therefore the
    plain batch join, same as the infinite-watermark row.

    Returns counters aggregated over the run's progress events:
    ``n_batches``, ``state_rows_max`` (peak buffered rows — the 100 TB
    memory exposure), ``state_rows_final``, ``state_rows_pruned`` (total
    evictions; > 0 is the proof the watermark actually bounds state) and
    ``rows_dropped_late`` (must be 0 under the staging contract).

    Progress collection (ADVICE r10): ``q.recentProgress`` retains only
    the last ``spark.sql.streaming.numRecentProgressUpdates`` (default
    100) entries, so a source staged into >100 micro-batches would
    silently undercount every counter.  A ``StreamingQueryListener``
    therefore collects EVERY progress event; ``recentProgress`` is merged
    in as a belt-and-braces source, and the union is asserted CONTIGUOUS
    over batch ids 0..lastProgress.batchId — a gap raises instead of
    returning silently-short counters.

    State-store width: ``plans.width.state_width`` of the staged
    source's estimated bytes (``operators.util.plan_size_bytes`` — no
    job runs), applied with ``shuffle_scope`` around ``start()`` and
    always restored.
    """
    import json as _json
    import time as _time

    from pyspark.sql.streaming import StreamingQueryListener

    from minivectordb_spark.operators.util import plan_size_bytes
    from minivectordb_spark.plans.width import shuffle_scope, state_width

    class _ProgressCollector(StreamingQueryListener):
        def __init__(self):
            self.events: list[str] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append(event.progress.json)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    width = state_width(spark, plan_size_bytes(spark.read.schema(schema).parquet(src)))
    collector = _ProgressCollector()
    spark.streams.addListener(collector)
    try:
        with shuffle_scope(spark, width):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = (
                attribution_join(stream, within=within, watermark=watermark)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(timeout):
                q.stop()
                raise RuntimeError(
                    f"attribution_stream_bounded did not finish within "
                    f"{timeout}s; refusing to read a partially-written sink"
                )
            last = q.lastProgress
            final_batch = int(last["batchId"]) if last else -1
            qid = str(q.id)

            def _events() -> dict[int, dict]:
                by_batch: dict[int, dict] = {}
                for j in collector.events:
                    d = _json.loads(j)
                    if d.get("id") == qid:
                        by_batch[int(d["batchId"])] = d
                for p in q.recentProgress:
                    d = p if isinstance(p, dict) else _json.loads(p.json)
                    by_batch.setdefault(int(d["batchId"]), d)
                return by_batch

            # Listener delivery is async (a separate bus thread): wait until
            # the union covers the final batch the engine itself reports.
            deadline = _time.monotonic() + 30
            by_batch = _events()
            while (
                final_batch >= 0
                and max(by_batch, default=-1) < final_batch
                and _time.monotonic() < deadline
            ):
                _time.sleep(0.2)
                by_batch = _events()
    finally:
        spark.streams.removeListener(collector)

    missing = [b for b in range(final_batch + 1) if b not in by_batch]
    if missing:
        raise RuntimeError(
            f"attribution_stream_bounded lost progress events for batches "
            f"{missing[:10]} of 0..{final_batch}; counters would undercount"
        )
    counters = {
        "n_batches": 0,
        "state_rows_max": 0,
        "state_rows_final": 0,
        "state_rows_pruned": 0,
        "rows_dropped_late": 0,
    }
    for b in sorted(by_batch):
        ops = by_batch[b].get("stateOperators") or []
        if not ops:
            continue
        counters["n_batches"] += 1
        total = sum(int(o.get("numRowsTotal", 0)) for o in ops)
        counters["state_rows_max"] = max(counters["state_rows_max"], total)
        counters["state_rows_final"] = total
        counters["state_rows_pruned"] += sum(
            int(o.get("numRowsRemoved", 0)) for o in ops
        )
        counters["rows_dropped_late"] += sum(
            int(o.get("numRowsDroppedByWatermark", 0)) for o in ops
        )
    return counters


def stream_anomaly_ingest(
    stream_df: DataFrame,
    stats: list[tuple],
    table_path: str,
    quarantine_path: str,
    checkpoint: str,
    value_col: str = "value",
    key_col: str = "event_type",
    id_col: str = "event_id",
    z: int = 2,
    min_n: int = 5,
    scale: int = 100,
    flagger: str = "zscore",
):
    """Streaming ingest with an anomaly gate: each micro-batch is
    flagged against a FROZEN per-key stats table (the quality gate's
    frozen-model deployment pattern); inliers append to ``table_path``,
    outliers are routed to ``quarantine_path`` with their flag side
    (monitoring's quarantine-don't-drop discipline).

    ``flagger`` selects the statistic — ``"zscore"`` (stats from
    ``frozen_key_stats``, default z=2) or ``"mad"`` (stats from
    ``frozen_mad_stats``, robust to the very outliers being hunted;
    callers typically pass z=3).  Either way the flag decision is the
    SAME shared expression the batch operator runs (``_outlier_exprs``
    / ``_mad_exprs``) — batch and stream cannot drift — and both are
    float-free integer tests, so a replayed batch reproduces
    bit-identical decisions.

    Both sinks follow ``_gated_ingest``'s uniqueness and replay
    contract.  Map-only per batch: the stats frame is |keys| rows,
    broadcast; no state store.

    Batch==stream equivalence is pinned by
    tests/test_streaming_multimodal.py."""
    from minivectordb_spark.operators.anomaly import mad_flag, zscore_flag

    if flagger not in ("zscore", "mad"):
        raise ValueError(f"unknown flagger {flagger!r} (zscore|mad)")
    flag_fn = zscore_flag if flagger == "zscore" else mad_flag
    frozen = [tuple(s) for s in stats]

    return _gated_ingest(
        stream_df,
        checkpoint,
        id_col,
        gate=lambda fresh: flag_fn(
            fresh, frozen, value_col, key_col, z=z, min_n=min_n, scale=scale
        ),
        sinks={
            table_path: lambda new: new.filter(~F.col("is_outlier")).drop(
                "is_outlier", "side", "value_scaled"
            ),
            quarantine_path: lambda new: new.filter(F.col("is_outlier")).drop(
                "is_outlier"
            ),
        },
    )
