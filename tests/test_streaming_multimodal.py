"""Streaming ingest/rollup and multimodal plumbing tests."""

import pytest
from pyspark.sql import functions as F

from minivectordb_spark.operators.multimodal import (
    ASSET_SCHEMA,
    decode_image,
    extract_features,
    fake_decode_features,
    sample_frames,
)
from minivectordb_spark.streaming import (
    hourly_event_counts,
    stream_events,
    stream_vector_ingest,
)


@pytest.fixture()
def events_dir(spark, tmp_path):
    """Write µs-timestamp events (the streaming file source can't read the
    driver fixtures' TIMESTAMP(NANOS) directly; real streams are Kafka)."""
    import datetime as dt

    rows = [
        (i, dt.datetime(2024, 1, 1, 0 + i // 4, 5 * i % 60), i % 3, ["click", "view"][i % 2], float(i), "{}")
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string")
    path = str(tmp_path / "events_in")
    df.repartition(3).write.parquet(path)
    return path


def test_hourly_counts_batch_equals_stream(spark, events_dir, tmp_path):
    batch = spark.read.parquet(events_dir)
    expected = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in hourly_event_counts(batch).collect()
    }

    stream = stream_events(spark, events_dir, max_files_per_trigger=1)
    assert stream.isStreaming
    q = (
        hourly_event_counts(stream)
        .writeStream.format("memory")
        .queryName("hourly_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("select * from hourly_test").collect()
    }
    assert got == expected


def test_session_rollup_batch_equals_stream(spark, events_dir, tmp_path):
    """Native session_window sessionization: the stream (complete mode)
    must converge to exactly the batch result."""
    from minivectordb_spark.streaming import session_rollup, stream_events

    batch = spark.read.parquet(events_dir)
    expected = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_value"])
        for r in session_rollup(batch, gap="20 minutes").collect()
    }
    assert expected  # fixture produces multiple sessions

    # watermark must cover the fixture's full time span: files stream in
    # arbitrary order, so an aggressive watermark would late-drop events
    # from an "old" file arriving after a "new" one
    stream = stream_events(spark, events_dir, max_files_per_trigger=1)
    q = (
        session_rollup(stream, gap="20 minutes", watermark="6 hours")
        .writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_value"])
        for r in spark.sql("select * from sess_test").collect()
    }
    assert got == expected


def test_stream_vector_ingest_roundtrip(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "hello spark")], ["doc_id", "text"]
    )
    src = str(tmp_path / "docs_in")
    docs.write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(src)
    )
    table_path = str(tmp_path / "vectors_out")
    q = stream_vector_ingest(stream, table_path, str(tmp_path / "ck2")).start()
    q.awaitTermination(120)
    out = spark.read.parquet(table_path)
    rows = out.collect()
    assert len(rows) == 2
    assert all(len(r["embedding"]) == 64 for r in rows)


def test_stream_vector_ingest_unique_across_batches(spark, tmp_path):
    """A duplicate id replayed in a later micro-batch (and duplicated
    within a batch) must leave exactly one surviving row — the documented
    anti-join uniqueness contract of the streaming write path."""
    src = str(tmp_path / "dup_in")
    table_path = str(tmp_path / "dup_out")
    ck = str(tmp_path / "ck_dup")

    # file 1: id 1 twice (in-batch dup) + id 2
    spark.createDataFrame(
        [(1, "hello world"), (1, "hello world again"), (2, "hello spark")],
        ["doc_id", "text"],
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = stream_vector_ingest(stream, table_path, ck).start()
    q.awaitTermination(120)

    # file 2: id 1 replayed across micro-batches + fresh id 3
    spark.createDataFrame(
        [(1, "hello replay"), (3, "brand new")], ["doc_id", "text"]
    ).coalesce(1).write.mode("append").parquet(src)
    q = stream_vector_ingest(stream, table_path, ck).start()
    q.awaitTermination(120)

    out = spark.read.parquet(table_path).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["doc_id"], []).append(r)
    assert sorted(by_id) == [1, 2, 3]
    assert all(len(v) == 1 for v in by_id.values())


def test_multimodal_extract_features(spark):
    rows = [
        ("a1", "image/png", bytearray(b"\x01\x02\x03\x04" * 8), 4, 4, None, "s"),
        ("a2", "audio/wav", bytearray(b""), None, None, 2500, "s"),
    ]
    df = spark.createDataFrame(rows, ASSET_SCHEMA)
    out = {r["asset_id"]: r for r in extract_features(df).collect()}
    assert out["a1"]["n_bytes"] == 32
    expected = fake_decode_features(bytes(b"\x01\x02\x03\x04" * 8))
    assert [round(x, 6) for x in out["a1"]["features"]] == pytest.approx(expected)
    assert out["a2"]["features"] == [0.0] * 16


def test_multimodal_real_decoder_is_import_gated(spark):
    # Pillow absent and nothing injected -> clear NotImplementedError
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow installed here; gate only fires without it")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")
    df = spark.createDataFrame(
        [("a1", "image/png", bytearray(b"x"), None, None, None, None)], ASSET_SCHEMA
    )
    with pytest.raises(Exception):  # NotImplementedError surfaces as task failure
        extract_features(df, decoder="image").collect()
    with pytest.raises(ValueError):
        extract_features(df, decoder="nope")


def test_multimodal_image_decoder_injected_double(spark):
    """decoder='image' with an injected PIL stand-in: features must be
    the fold of the DECODED PIXELS (not the raw payload) — proving the
    decode step actually runs inside the mapInPandas loop — and must
    share the fake path's feature contract exactly.  The doubles are
    LOCAL classes so cloudpickle ships them by value to executors."""

    class _FakePilImg:
        # decoded-image double: byte 0 = width, byte 1 = height, rest =
        # luminance pixel bytes (the double's whole "container format")
        def __init__(self, data: bytes):
            self._pixels = data[2:]

        def convert(self, mode: str):
            assert mode == "L"
            return self

        def tobytes(self) -> bytes:
            return self._pixels

    class _FakePilModule:
        # PIL.Image stand-in (the embedder's injected-session pattern)
        @staticmethod
        def open(buf):
            return _FakePilImg(buf.read())

    pixels = bytes(range(1, 33))
    payload = bytes([8, 4]) + pixels  # 8x4 'image'
    df = spark.createDataFrame(
        [("img1", "image/png", bytearray(payload), 8, 4, None, "s")],
        ASSET_SCHEMA,
    )
    out = {
        r["asset_id"]: r
        for r in extract_features(
            df, decoder="image", pil_module=_FakePilModule
        ).collect()
    }
    want = fake_decode_features(pixels)
    assert [round(x, 6) for x in out["img1"]["features"]] == pytest.approx(want)
    assert want != fake_decode_features(payload)  # decode changed the fold
    # n_bytes stays the PAYLOAD size (storage accounting, not decode)
    assert out["img1"]["n_bytes"] == len(payload)
    # driver-side single call agrees with the distributed path
    assert decode_image(payload, pil_module=_FakePilModule) == want


def test_multimodal_real_png_roundtrip(spark):
    """With real Pillow present, a tiny real PNG decodes through the same
    path (skipped where Pillow isn't installed)."""
    Image = pytest.importorskip("PIL.Image")
    import io

    img = Image.new("L", (4, 2))
    img.putdata(list(range(8)))
    buf = io.BytesIO()
    img.save(buf, format="PNG")
    feats = decode_image(buf.getvalue())
    assert feats == fake_decode_features(bytes(range(8)))


def test_sample_frames(spark):
    df = spark.createDataFrame(
        [("v1", "video/mp4", bytearray(b"x"), None, None, 3500, None)], ASSET_SCHEMA
    )
    frames = sample_frames(df, every_ms=1000).collect()
    assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000, 3000]


@pytest.mark.parametrize("as_root", [str, lambda p: p.as_uri()], ids=["path", "file_uri"])
def test_stream_durable_ingest_versions_and_uniqueness(spark, tmp_path, as_root):
    """Streaming into the CoW table: batch 1 creates it, batch 2 (with a
    replayed id) commits one new version containing only the fresh row;
    the final table reloads with unique ids.  The table root is a plain
    path or a ``file://`` URI."""
    from minivectordb_spark.durable import DurableVectorTable
    from minivectordb_spark.streaming import stream_durable_ingest

    src = str(tmp_path / "din")
    table_path = as_root(tmp_path / "dout")
    ck = str(tmp_path / "dck")

    spark.createDataFrame(
        [(1, "hello world"), (2, "hello spark")], ["doc_id", "text"]
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = stream_durable_ingest(stream, table_path, ck, n_buckets=4).start()
    q.awaitTermination(120)
    t = DurableVectorTable.load(spark, table_path)
    assert t.count() == 2 and t.manifest["version"] == 0

    spark.createDataFrame(
        [(1, "replayed"), (3, "brand new")], ["doc_id", "text"]
    ).coalesce(1).write.mode("append").parquet(src)
    q = stream_durable_ingest(stream, table_path, ck, n_buckets=4).start()
    q.awaitTermination(120)
    t2 = DurableVectorTable.load(spark, table_path)
    assert t2.manifest["version"] == 1
    rows = {r["doc_id"]: r for r in t2.to_df().collect()}
    assert sorted(rows) == [1, 2, 3]
    assert rows[1]["text"] == "hello world"  # replay did not overwrite
    assert len(rows[1]["embedding"]) == 64


def test_stream_durable_ingest_kill_and_resume(spark, tmp_path):
    """Restart recovery (VERDICT r3 item 10): interrupt the stream after
    the first micro-batch committed to the table, then resume — TWICE,
    once with the checkpoint intact (normal restart: source offsets skip
    the done batch) and once with the checkpoint DELETED (worst-case: the
    whole source replays against a table that already holds batch 1).
    Both must end exactly-once: every id present once, replayed rows
    neither duplicated nor overwritten, and a pure-replay micro-batch
    must not commit a spurious table version."""
    import shutil

    from minivectordb_spark.durable import DurableVectorTable
    from minivectordb_spark.streaming import stream_durable_ingest

    src = str(tmp_path / "kin")
    table_path = str(tmp_path / "kout")
    ck = str(tmp_path / "kck")

    def _file(rows):
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    _file([(1, "alpha"), (2, "beta")])
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)

    # batch 1 commits, then the query is stopped before the source grows
    q = stream_durable_ingest(stream, table_path, ck, n_buckets=4).start()
    q.awaitTermination(120)
    assert DurableVectorTable.load(spark, table_path).count() == 2

    # normal restart: checkpoint intact, two more files arrive
    _file([(3, "gamma")])
    _file([(2, "beta-replayed"), (4, "delta")])
    q = stream_durable_ingest(stream, table_path, ck, n_buckets=4).start()
    q.awaitTermination(120)
    t = DurableVectorTable.load(spark, table_path)
    rows = {r["doc_id"]: r["text"] for r in t.to_df().collect()}
    assert rows == {1: "alpha", 2: "beta", 3: "gamma", 4: "delta"}
    v_after_resume = t.manifest["version"]

    # crash-grade resume: checkpoint lost entirely -> EVERY file replays;
    # the table-side anti-join is the only thing standing between the
    # replay and duplicate ids
    shutil.rmtree(ck)
    q = stream_durable_ingest(stream, table_path, ck, n_buckets=4).start()
    q.awaitTermination(120)
    t2 = DurableVectorTable.load(spark, table_path)
    rows2 = {r["doc_id"]: r["text"] for r in t2.to_df().collect()}
    assert rows2 == rows  # exactly-once ids, originals not overwritten
    # pure-replay batches write no new rows, so no version was committed
    assert t2.manifest["version"] == v_after_resume


def test_streaming_dedup_across_microbatches(spark, tmp_path):
    """Two files -> two micro-batches (maxFilesPerTrigger=1): a key repeated
    across batches must be emitted as first-seen ONCE, duplicates counted."""
    from minivectordb_spark.streaming.stateful import streaming_dedup

    src = str(tmp_path / "in")
    b1 = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], ["doc_key", "payload"])
    b2 = spark.createDataFrame([("a", 4), ("c", 5)], ["doc_key", "payload"])
    b1.coalesce(1).write.parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_key string, payload long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        streaming_dedup(stream, "doc_key")
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from dedup_test").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["key"], []).append((r["first_seen_batch_rows"], r["n_dropped"]))
    # 'a' first-seen exactly once in total; later appearance dropped entirely
    firsts = [x for x in by_key["a"] if x[0] > 0]
    assert len(firsts) == 1
    total_dropped_a = sum(d for _, d in by_key["a"])
    total_rows_a = sum(f for f, _ in by_key["a"]) + 0
    assert total_dropped_a == 2  # 3 'a' rows total, 1 kept
    assert sum(f for f, _ in by_key["b"] if f > 0) == 1
    assert sum(f for f, _ in by_key["c"] if f > 0) == 1


def test_streaming_dedup_ttl_evicts_and_rearms(spark, tmp_path):
    """With a (tiny) TTL: an expired key's state is evicted silently in the
    next batch that runs without data for it — no spurious (key, 0, 0)
    output row — and the key is treated as first-seen when it returns.
    Single continuous query; batch 2 (key 'c') is the vehicle that fires
    'a'/'b' timeouts, batch 3 proves 'a' was evicted."""
    import time

    from minivectordb_spark.streaming.stateful import streaming_dedup

    src = str(tmp_path / "in_ttl")
    spark.createDataFrame(
        [("a", 1), ("b", 2)], ["doc_key", "payload"]
    ).coalesce(1).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_key string, payload long")
        .option("maxFilesPerTrigger", 10)
        .parquet(src)
    )
    q = (
        streaming_dedup(stream, "doc_key", state_ttl_ms=1)
        .writeStream.format("memory")
        .queryName("ttl_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ttl"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    def wait_for(pred, what, timeout_s=90):
        # processAllAvailable never settles under ProcessingTimeTimeout
        # (the engine keeps scheduling batches to fire pending timeouts),
        # so poll the sink instead
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            rows = spark.sql("select * from ttl_test").collect()
            if pred(rows):
                return rows
            time.sleep(0.5)
        raise AssertionError(f"timed out waiting for {what}: {rows}")

    try:
        wait_for(lambda rs: {r["key"] for r in rs} >= {"a", "b"}, "batch 1")
        time.sleep(1.0)  # let the 1ms TTL lapse well past a trigger boundary
        # batch with data only for 'c': a/b have no data and expired TTLs ->
        # dedup_fn runs their hasTimedOut branch (evict, emit nothing)
        spark.createDataFrame([("c", 5)], ["doc_key", "payload"]).coalesce(
            1
        ).write.mode("append").parquet(src)
        wait_for(lambda rs: any(r["key"] == "c" for r in rs), "key c")
        time.sleep(1.0)
        # 'a' returns after eviction -> must be first-seen again
        spark.createDataFrame([("a", 4)], ["doc_key", "payload"]).coalesce(
            1
        ).write.mode("append").parquet(src)
        rows = wait_for(
            lambda rs: sum(1 for r in rs if r["key"] == "a") >= 2, "a's return"
        )
    finally:
        q.stop()

    # eviction is silent: the old bug emitted (key, 0, 0) on timeout
    assert not any(
        r["first_seen_batch_rows"] == 0 and r["n_dropped"] == 0 for r in rows
    )
    a_rows = [r for r in rows if r["key"] == "a"]
    assert len(a_rows) == 2  # batch 1 and batch 3, state evicted between
    assert all(r["first_seen_batch_rows"] == 1 for r in a_rows)
    assert sum(1 for r in rows if r["key"] == "b") == 1
    assert sum(1 for r in rows if r["key"] == "c") == 1


def test_streaming_running_counts(spark, tmp_path):
    from minivectordb_spark.streaming.stateful import running_counts

    src = str(tmp_path / "in2")
    spark.createDataFrame([("x", 1), ("x", 2)], ["k", "v"]).coalesce(1).write.parquet(src)
    spark.createDataFrame([("x", 3)], ["k", "v"]).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("k string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        running_counts(stream, "k")
        .writeStream.format("memory")
        .queryName("rc_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    totals = sorted(r["total"] for r in spark.sql("select * from rc_test").collect())
    assert totals[-1] == 3  # final running total sees all three rows


def test_stream_neardup_ingest_batch_equivalence(spark, tmp_path):
    """Batch == stream equivalence for near-dup-gated ingest (VERDICT r4
    stretch 7): replaying a clique-duplicated corpus in id order through
    stream_neardup_ingest retains exactly the ids the batch pipeline's
    min-id-survivor resolution keeps, and the table lands partitioned by
    lsh_bucket (the partition-pruned probe layout)."""
    import os

    from minivectordb_spark.embedder import embed_column
    from minivectordb_spark.operators.ann import default_projection_planes
    from minivectordb_spark.operators.dedup import (
        dedup_survivors,
        embedding_neardup_pairs,
    )
    from minivectordb_spark.streaming import stream_neardup_ingest

    # hash64 embeds equal text to the identical vector -> exact cliques:
    # {1,4,7} "alpha", {2,5} "beta"; 3 and 6 unique
    batches = [
        [(1, "alpha alpha alpha"), (2, "beta beta")],
        [(3, "gamma gamma gamma gamma"), (4, "alpha alpha alpha")],
        [(5, "beta beta"), (6, "delta"), (7, "alpha alpha alpha")],
    ]
    src = str(tmp_path / "nin")
    table_path = str(tmp_path / "nout")
    ck = str(tmp_path / "nck")
    threshold = 0.95

    for rows in batches:  # one stream restart per micro-batch: order pinned
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = spark.readStream.schema("doc_id long, text string").option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        q = stream_neardup_ingest(
            stream, table_path, ck, threshold=threshold
        ).start()
        q.awaitTermination(120)

    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(table_path).select("doc_id").collect()
    )

    # batch reference: same planes, same threshold, min-id survivors
    all_rows = [r for b in batches for r in b]
    full = embed_column(
        spark.createDataFrame(all_rows, ["doc_id", "text"]), "text"
    )
    planes = default_projection_planes(64, n_planes=6)
    pairs = embedding_neardup_pairs(
        full, emb_col="embedding", id_col="doc_id",
        planes=planes, threshold=threshold,
    )
    expected = sorted(
        r["doc_id"]
        for r in dedup_survivors(full, pairs, id_col="doc_id").select("doc_id").collect()
    )
    assert got == expected == [1, 2, 3, 6]

    # scale contract: the table is laid out for partition-pruned probes
    assert any(
        d.startswith("lsh_bucket=") for d in os.listdir(table_path)
    ), os.listdir(table_path)


def test_stream_decontaminated_ingest_matches_batch(spark, tmp_path):
    """Batch==stream equivalence for the decontamination gate: replaying
    the corpus through the streaming ingest must keep exactly the docs
    the batch decontaminate pass keeps, and a replayed duplicate id
    stays unique."""
    from minivectordb_spark.operators.dedup import decontaminate
    from minivectordb_spark.streaming import stream_decontaminated_ingest

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["doc_id", "text"]
    )
    rows = [
        (0, "the quick brown fox jumps high"),   # contaminated
        (1, "a quick brown fox sleeps"),          # contaminated (1 gram)
        (2, "completely unrelated text here"),    # clean
        (3, "spark engines hum along nicely"),    # clean
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    flagged = {r["doc_id"] for r in decontaminate(docs, bench).collect()}
    batch_kept = sorted(i for i, _ in rows if i not in flagged)

    src = str(tmp_path / "docs_in")
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    table_path = str(tmp_path / "clean_out")
    ck = str(tmp_path / "ck_decontam")
    q = stream_decontaminated_ingest(stream, bench, table_path, ck).start()
    q.awaitTermination(120)

    got = sorted(
        r["doc_id"] for r in spark.read.parquet(table_path).collect()
    )
    assert got == batch_kept == [2, 3]

    # replay a clean duplicate plus a new clean doc in a second batch
    more = spark.createDataFrame(
        [(2, "completely unrelated text here"), (4, "novel clean content words")],
        ["doc_id", "text"],
    )
    more.write.mode("append").parquet(src)
    q = stream_decontaminated_ingest(stream, bench, table_path, ck).start()
    q.awaitTermination(120)
    got2 = sorted(r["doc_id"] for r in spark.read.parquet(table_path).collect())
    assert got2 == [2, 3, 4]


def test_stream_quality_ingest_matches_batch(spark, tmp_path):
    """Batch==stream equivalence for the model-based quality gate:
    replaying the corpus through the streaming ingest keeps exactly the
    docs the batch classifier pass keeps at the same threshold, and a
    replayed duplicate id stays unique."""
    import random

    from minivectordb_spark.operators.text import (
        default_classifier_weights,
        hash_classifier_score,
    )
    from minivectordb_spark.streaming import stream_quality_ingest

    rng = random.Random(31)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    rows = [(i, " ".join(rng.choices(vocab, k=8))) for i in range(12)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    w = default_classifier_weights(64, seed=5)

    scored = {
        r["doc_id"]: r["score"] for r in hash_classifier_score(docs, w).collect()
    }
    thr = sorted(scored.values())[len(scored) // 2]  # keep ~half
    batch_kept = sorted(i for i, s in scored.items() if s >= thr)
    assert 0 < len(batch_kept) < len(rows)

    src = str(tmp_path / "docs_in")
    docs.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    table_path = str(tmp_path / "quality_out")
    ck = str(tmp_path / "ck_quality")
    q = stream_quality_ingest(stream, w, table_path, ck, min_score=thr).start()
    q.awaitTermination(120)

    got = sorted(r["doc_id"] for r in spark.read.parquet(table_path).collect())
    assert got == batch_kept

    # second batch: replay one kept id (stays unique) + one new doc
    keep_id = batch_kept[0]
    more = spark.createDataFrame(
        [(keep_id, dict(rows)[keep_id]), (100, dict(rows)[keep_id])],
        ["doc_id", "text"],
    )
    more.write.mode("append").parquet(src)
    q = stream_quality_ingest(stream, w, table_path, ck, min_score=thr).start()
    q.awaitTermination(120)
    got2 = sorted(r["doc_id"] for r in spark.read.parquet(table_path).collect())
    assert got2 == batch_kept + [100]


def test_stream_durable_ingest_upsert_mode(spark, tmp_path):
    """mode='upsert' (CDC): a revised document replaces the stored row —
    new text AND new embedding — while untouched ids keep their rows, and
    each micro-batch is one atomic version."""
    from minivectordb_spark.durable import DurableVectorTable
    from minivectordb_spark.streaming import stream_durable_ingest

    src = str(tmp_path / "uin")
    table_path = str(tmp_path / "uout")
    ck = str(tmp_path / "uck")

    spark.createDataFrame(
        [(1, "hello world"), (2, "hello spark")], ["doc_id", "text"]
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = stream_durable_ingest(
        stream, table_path, ck, n_buckets=4, mode="upsert"
    ).start()
    q.awaitTermination(120)
    t = DurableVectorTable.load(spark, table_path)
    emb1_before = {
        r["doc_id"]: r["embedding"] for r in t.to_df().collect()
    }

    spark.createDataFrame(
        [(1, "revised document"), (3, "brand new")], ["doc_id", "text"]
    ).coalesce(1).write.mode("append").parquet(src)
    q = stream_durable_ingest(
        stream, table_path, ck, n_buckets=4, mode="upsert"
    ).start()
    q.awaitTermination(120)
    t2 = DurableVectorTable.load(spark, table_path)
    assert t2.manifest["version"] == 1
    rows = {r["doc_id"]: r for r in t2.to_df().collect()}
    assert sorted(rows) == [1, 2, 3]
    assert rows[1]["text"] == "revised document"          # CDC overwrite
    assert rows[1]["embedding"] != emb1_before[1]          # re-embedded
    assert rows[2]["embedding"] == emb1_before[2]          # untouched


def test_stream_ivf_index_ingest_builds_and_appends(spark, tmp_path):
    """Streaming IVF maintenance: batch 1 builds the index, batch 2
    (containing a replayed id) appends only the novel doc, and searches
    reach appended rows through the index.  Stream micro-batches are
    in-memory frames, so no freshness manifest exists at any point
    (conservative: a later skip_if_fresh rebuild never wrongly matches)."""
    import os

    from minivectordb_spark.embedder import get_embedder
    from minivectordb_spark.operators.ann import ivf_search_indexed
    from minivectordb_spark.streaming import stream_ivf_index_ingest

    src = str(tmp_path / "iin")
    idx = str(tmp_path / "iidx")
    ck = str(tmp_path / "ick")

    spark.createDataFrame(
        [(i, f"document number {i} about topic {i % 3}") for i in range(12)],
        ["doc_id", "text"],
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = stream_ivf_index_ingest(stream, idx, ck, n_centroids=4).start()
    q.awaitTermination(120)

    spark.createDataFrame(
        [(3, "replayed"), (50, "a brand new late document")],
        ["doc_id", "text"],
    ).coalesce(1).write.mode("append").parquet(src)
    q = stream_ivf_index_ingest(stream, idx, ck, n_centroids=4).start()
    q.awaitTermination(120)
    from minivectordb_spark import fsio as _fsio

    m, _ = _fsio.load_index_manifest(idx, "_index_manifest.json")
    assert "fingerprint" not in m  # appended index claims no source

    ids = {
        r["doc_id"]
        for r in spark.read.parquet(
            _fsio.gen_data(idx, m, "assignments")
        ).collect()
    }
    assert ids == set(range(12)) | {50}  # replayed id 3 not duplicated

    emb = get_embedder("hash64")
    qv = [float(x) for x in emb.embed("a brand new late document")]
    top = ivf_search_indexed(
        spark, idx, qv, k=1, nprobe=4, id_col="doc_id"
    ).first()
    assert top["doc_id"] == 50  # appended row reachable through the index


def test_stream_source_stats_matches_batch_report(spark, tmp_path):
    """Batch==stream equivalence for the observability gate: after
    streaming the corpus in two waves (the second replaying duplicate
    texts), read_source_stats equals source_report over the full corpus
    — same columns, same exact values, dup_rate included."""
    import random

    from minivectordb_spark.operators.text import source_report
    from minivectordb_spark.streaming import (
        read_source_stats,
        stream_source_stats_ingest,
    )

    rng = random.Random(17)
    vocab = ["the", "fast", "query", "data", "spark", "row"]
    rows = [
        (i, f"src{i % 3}", " ".join(rng.choices(vocab, k=rng.randrange(3, 12))))
        for i in range(18)
    ]
    # wave 2 replays six texts verbatim under new doc ids → real dup_rate
    wave2 = [(100 + i, s, t) for i, (_, s, t) in enumerate(rows[:6])]

    src = str(tmp_path / "docs_in")
    stats = str(tmp_path / "stats")
    ck = str(tmp_path / "ck_stats")
    cols = ["doc_id", "source", "text"]
    spark.createDataFrame(rows, cols).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, source string, text string").parquet(src)
    q = stream_source_stats_ingest(stream, stats, ck).start()
    q.awaitTermination(120)
    spark.createDataFrame(wave2, cols).write.mode("append").parquet(src)
    q = stream_source_stats_ingest(stream, stats, ck).start()
    q.awaitTermination(120)

    full = spark.createDataFrame(rows + wave2, cols)
    want = {r["source"]: r.asDict() for r in source_report(full).collect()}
    got = {r["source"]: r.asDict() for r in read_source_stats(spark, stats).collect()}
    assert got == want
    assert any(v["dup_rate"] > 0 for v in want.values())


def test_stream_heavy_hitters_sandwich_contract(spark, tmp_path):
    """The streaming heavy-hitters store satisfies its documented
    two-sided contract after a multi-wave ingest: certain rows are all
    true heavy hitters, every true heavy hitter is among the returned
    candidates, and recorded sums never overcount the true counts."""
    import math
    import random

    from pyspark.sql import functions as F

    from minivectordb_spark.streaming import (
        read_heavy_hitters,
        stream_heavy_hitters_ingest,
    )

    rng = random.Random(23)
    theta = 0.05
    wave1 = [f"hot{i}" for i in range(3) for _ in range(120)] + [
        f"cold{rng.randrange(0, 600)}" for _ in range(700)
    ]
    wave2 = [f"hot{i}" for i in range(3) for _ in range(40)] + [
        f"cold{rng.randrange(0, 600)}" for _ in range(400)
    ]
    rng.shuffle(wave1)
    rng.shuffle(wave2)

    src = str(tmp_path / "items_in")
    store = str(tmp_path / "hh_store")
    ck = str(tmp_path / "ck_hh")
    spark.createDataFrame([(x,) for x in wave1], ["item"]).write.parquet(src)
    stream = spark.readStream.schema("item string").parquet(src)
    q = stream_heavy_hitters_ingest(stream, store, ck, theta=theta).start()
    q.awaitTermination(120)
    spark.createDataFrame([(x,) for x in wave2], ["item"]).write.mode(
        "append"
    ).parquet(src)
    q = stream_heavy_hitters_ingest(stream, store, ck, theta=theta).start()
    q.awaitTermination(120)

    full = wave1 + wave2
    thr = max(1, math.ceil(theta * len(full)))
    from collections import Counter

    true_counts = Counter(full)
    exact = {i for i, c in true_counts.items() if c >= thr}
    assert exact == {"hot0", "hot1", "hot2"}

    got = {r["item"]: r for r in read_heavy_hitters(spark, store, theta).collect()}
    certain = {i for i, r in got.items() if r["certain"]}
    assert certain <= exact, certain - exact
    assert exact <= set(got), exact - set(got)
    for i, r in got.items():
        assert r["cnt_lower"] <= true_counts[i], (i, r["cnt_lower"], true_counts[i])

    # theta below the gate's resolution is refused
    import pytest

    with pytest.raises(ValueError):
        read_heavy_hitters(spark, store, 1e-6)

def test_stream_source_stats_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying an epoch under its
    original batch_id (the Structured Streaming failure-recovery path)
    must leave the store EXACTLY as a single run would — no doubled
    n_docs/token/char/quality partials, no duplicated first-seen rows."""
    from minivectordb_spark.streaming import read_source_stats
    from minivectordb_spark.streaming.events import _source_stats_write_batch

    rows = [(i, f"src{i % 2}", f"text number {i % 5}") for i in range(12)]
    cols = ["doc_id", "source", "text"]
    b0 = spark.createDataFrame(rows[:7], cols)
    b1 = spark.createDataFrame(rows[7:], cols)
    stats = str(tmp_path / "stats_replay")

    _source_stats_write_batch(b0, 0, stats)
    _source_stats_write_batch(b1, 1, stats)
    want = {r["source"]: r.asDict() for r in read_source_stats(spark, stats).collect()}

    # replay both epochs (mid-batch-failure recovery): same batch ids
    _source_stats_write_batch(b1, 1, stats)
    _source_stats_write_batch(b0, 0, stats)
    got = {r["source"]: r.asDict() for r in read_source_stats(spark, stats).collect()}
    assert got == want
    # and the fold still equals the batch report over everything ingested
    from minivectordb_spark.operators.text import source_report

    full = {r["source"]: r.asDict() for r in source_report(spark.createDataFrame(rows, cols)).collect()}
    assert got == full


def test_stream_heavy_hitters_replay_idempotent(spark, tmp_path):
    """A replayed heavy-hitters epoch must not inflate cnt_lower past the
    true count (the never-overcounts half of the pinned contract)."""
    from collections import Counter

    from minivectordb_spark.operators.sketches import _hh_k
    from minivectordb_spark.streaming import read_heavy_hitters
    from minivectordb_spark.streaming.events import _heavy_hitters_write_batch

    theta = 0.1
    k = _hh_k(theta)
    wave1 = ["hot"] * 30 + [f"cold{i}" for i in range(60)]
    wave2 = ["hot"] * 10 + [f"cold{i}" for i in range(40)]
    b0 = spark.createDataFrame([(x,) for x in wave1], ["item"])
    b1 = spark.createDataFrame([(x,) for x in wave2], ["item"])
    store = str(tmp_path / "hh_replay")

    _heavy_hitters_write_batch(b0, 0, store, "item", k)
    _heavy_hitters_write_batch(b1, 1, store, "item", k)
    want = {r["item"]: (r["cnt_lower"], r["certain"])
            for r in read_heavy_hitters(spark, store, theta).collect()}

    _heavy_hitters_write_batch(b0, 0, store, "item", k)  # replay epoch 0
    got = {r["item"]: (r["cnt_lower"], r["certain"])
           for r in read_heavy_hitters(spark, store, theta).collect()}
    assert got == want
    true_counts = Counter(wave1 + wave2)
    for item, (cnt, _c) in got.items():
        assert cnt <= true_counts[item], (item, cnt, true_counts[item])
    assert got["hot"][0] == true_counts["hot"] and got["hot"][1]


def test_stream_rollup_matches_batch_recompute(spark, tmp_path):
    """Batch==stream equivalence for incremental aggregate maintenance:
    after streaming events in two waves, read_rollup equals the direct
    full-recompute rollup bit-exactly (the monoid law across
    micro-batch boundaries)."""
    import random

    from pyspark.sql import functions as F

    from minivectordb_spark.operators.incremental import (
        finalize_rollup,
        rollup_state,
    )
    from minivectordb_spark.streaming import read_rollup, stream_rollup_ingest

    rng = random.Random(23)
    rows = [
        (i, f"type{i % 4}", round(rng.uniform(-50, 50), 4)) for i in range(40)
    ]
    wave2 = [(100 + i, f"type{i % 5}", round(rng.uniform(-50, 50), 4)) for i in range(25)]

    src = str(tmp_path / "ev_in")
    store = str(tmp_path / "rollup")
    ck = str(tmp_path / "ck_rollup")
    cols = ["event_id", "event_type", "value"]
    spark.createDataFrame(rows, cols).write.parquet(src)
    stream = spark.readStream.schema(
        "event_id long, event_type string, value double"
    ).parquet(src)
    q = stream_rollup_ingest(stream, store, ck, ["event_type"]).start()
    q.awaitTermination(120)
    spark.createDataFrame(wave2, cols).write.mode("append").parquet(src)
    q = stream_rollup_ingest(stream, store, ck, ["event_type"]).start()
    q.awaitTermination(120)

    full = spark.createDataFrame(rows + wave2, cols)
    want = {
        r["event_type"]: r.asDict()
        for r in finalize_rollup(
            rollup_state(full, ["event_type"]), ["event_type"]
        ).collect()
    }
    got = {
        r["event_type"]: r.asDict()
        for r in read_rollup(spark, store, ["event_type"]).collect()
    }
    assert got == want
    assert len(want) == 5  # type4 appears only in wave 2


def test_stream_rollup_replay_idempotent(spark, tmp_path):
    """Replaying the same batch_id must OVERWRITE, not double-count —
    the at-least-once foreachBatch contract."""
    from minivectordb_spark.operators.incremental import (
        finalize_rollup,
        rollup_state,
    )
    from minivectordb_spark.streaming import read_rollup
    from minivectordb_spark.streaming.events import _rollup_write_batch

    rows = [(i, f"t{i % 2}", float(i)) for i in range(10)]
    cols = ["event_id", "event_type", "value"]
    df = spark.createDataFrame(rows, cols)
    store = str(tmp_path / "rollup2")
    _rollup_write_batch(df, 0, store, ["event_type"], "value")
    _rollup_write_batch(df, 0, store, ["event_type"], "value")  # replay
    got = {
        r["event_type"]: r.asDict()
        for r in read_rollup(spark, store, ["event_type"]).collect()
    }
    want = {
        r["event_type"]: r.asDict()
        for r in finalize_rollup(
            rollup_state(df, ["event_type"]), ["event_type"]
        ).collect()
    }
    assert got == want


def test_stream_stream_attribution_join_matches_batch(spark, tmp_path):
    """Batch==stream equivalence for the watermarked STREAM-STREAM
    interval join: the same (trigger, outcome) pair set whether the
    events arrive as one batch frame or as a file stream processed with
    availableNow (watermark wide enough to cover the fixture's
    disorder)."""
    import datetime as dt

    from minivectordb_spark.streaming.events import attribution_join

    base = dt.datetime(2024, 3, 1, 12, 0, 0)

    def ev(i, typ, user, minutes):
        return (i, typ, user, base + dt.timedelta(minutes=minutes))

    rows = [
        ev(1, "click", 7, 0),
        ev(2, "purchase", 7, 30),     # attributed to click 1
        ev(3, "purchase", 7, 61),     # outside 60min of click 1
        ev(4, "click", 7, 45),        # purchase 3 attributes here (16min)
        ev(5, "click", 8, 10),
        ev(6, "purchase", 9, 20),     # other user, no pair
        ev(7, "purchase", 8, 10),     # same ts as click 5 -> excluded (>)
        ev(8, "purchase", 8, 11),     # attributed to click 5
    ]
    cols = "event_id long, event_type string, user_id long, ts timestamp"
    batch = spark.createDataFrame(rows, cols)
    want = sorted(
        (r["user"], r["trigger_id"], r["outcome_id"])
        for r in attribution_join(batch).collect()
    )
    assert want == [(7, 1, 2), (7, 4, 3), (8, 5, 8)]

    src = str(tmp_path / "attr_in")
    ck = str(tmp_path / "attr_ck")
    out = str(tmp_path / "attr_out")
    batch.write.parquet(src)
    stream = spark.readStream.schema(cols).parquet(src)
    q = (
        attribution_join(stream, watermark="4 hours")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["user"], r["trigger_id"], r["outcome_id"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == want


def test_bounded_state_attribution_prunes_and_matches_batch(spark, tmp_path):
    """VERDICT r9 item 1: the bounded-state streaming attribution path.
    A time-ordered staged replay (one ts-slice per micro-batch) with a
    REALISTIC watermark must (a) reproduce the full batch join exactly —
    time-ordering means no row is ever late — and (b) actually PRUNE
    join state as the watermark passes trigger_ts + within, with zero
    watermark-dropped rows.  This is the falsifiable state-growth
    evidence the infinite-watermark row cannot give."""
    import datetime as dt

    from minivectordb_spark.streaming.events import (
        attribution_join,
        attribution_stream_bounded,
        stage_time_ordered,
    )

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    eid = 0
    # 6 hours of traffic: a click + a qualifying purchase every 20 min,
    # plus a non-qualifying purchase 90 min after each click — enough
    # span that early state MUST be evicted under a 1-minute watermark
    for m in range(0, 360, 20):
        eid += 1
        rows.append((eid, "click", m % 5, base + dt.timedelta(minutes=m)))
        eid += 1
        rows.append(
            (eid, "purchase", m % 5, base + dt.timedelta(minutes=m + 7))
        )
        eid += 1
        rows.append(
            (eid, "purchase", m % 5, base + dt.timedelta(minutes=m + 90))
        )
    cols = "event_id long, event_type string, user_id long, ts timestamp"
    batch = spark.createDataFrame(rows, cols)
    want = sorted(
        (r["user"], r["trigger_id"], r["outcome_id"])
        for r in attribution_join(batch).collect()
    )

    src, ck, out = (str(tmp_path / d) for d in ("b_in", "b_ck", "b_out"))
    n_files = stage_time_ordered(batch, "ts", src, n_slices=6)
    assert n_files >= 2  # a single file would never advance the watermark
    parts_before = spark.conf.get("spark.sql.shuffle.partitions")
    counters = attribution_stream_bounded(
        spark, src, out, ck, schema=cols, watermark="1 minute",
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts_before
    got = sorted(
        (r["user"], r["trigger_id"], r["outcome_id"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == want  # sink == full batch join, no pair lost
    assert counters["rows_dropped_late"] == 0
    assert counters["state_rows_pruned"] > 0  # state actually evicted
    # peak state stays below the full event count: the bound is real
    assert counters["state_rows_max"] < len(rows)
    assert counters["n_batches"] >= n_files


def test_stage_time_ordered_files_ascend_in_event_time(spark, tmp_path):
    """The staging contract behind the deterministic replay: files come
    back oldest-mtime-first in strictly ascending event-time ranges
    (equal timestamps never split across two files)."""
    import datetime as dt
    import os

    from minivectordb_spark.streaming.events import stage_time_ordered

    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, "click", i % 3, base + dt.timedelta(minutes=(i // 4) * 10))
        for i in range(64)
    ]
    cols = "event_id long, event_type string, user_id long, ts timestamp"
    path = str(tmp_path / "stg")
    n = stage_time_ordered(spark.createDataFrame(rows, cols), "ts", path, 5)
    parts = [
        f
        for f in os.listdir(path)
        if f.startswith("part-") and not f.endswith(".crc")
    ]
    assert len(parts) == n
    by_mtime = sorted(parts, key=lambda f: os.stat(os.path.join(path, f)).st_mtime)
    prev_max = None
    for f in by_mtime:
        pdf = spark.read.parquet(os.path.join(path, f)).select("ts").toPandas()
        lo, hi = pdf["ts"].min(), pdf["ts"].max()
        if prev_max is not None:
            assert lo > prev_max  # strict: no ts value spans two files
        prev_max = hi


def test_stream_anomaly_ingest_matches_batch_and_replay(spark, tmp_path):
    """Batch==stream equivalence for the frozen-stats anomaly gate:
    streaming the events through stream_anomaly_ingest splits them into
    exactly the inlier/outlier sets the SHARED zscore_flag batch pass
    computes from the same frozen stats, and a replayed id stays unique
    in both sinks."""
    import random

    from minivectordb_spark.operators.anomaly import (
        frozen_key_stats,
        zscore_flag,
    )
    from minivectordb_spark.streaming import stream_anomaly_ingest

    rng = random.Random(11)
    rows = [
        (i, "a" if i % 2 else "b", rng.gauss(50.0, 5.0)) for i in range(40)
    ] + [(40, "a", 500.0), (41, "b", -300.0)]
    ev = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    stats = frozen_key_stats(ev, "value", "event_type")

    flagged = zscore_flag(ev, stats, "value", "event_type").collect()
    batch_out = sorted(r["event_id"] for r in flagged if r["is_outlier"])
    batch_in = sorted(r["event_id"] for r in flagged if not r["is_outlier"])
    assert 40 in batch_out and 41 in batch_out

    src = str(tmp_path / "ev_in")
    ev.write.parquet(src)
    stream = spark.readStream.schema(
        "event_id long, event_type string, value double"
    ).parquet(src)
    table, quar = str(tmp_path / "inliers"), str(tmp_path / "quarantine")
    ck = str(tmp_path / "ck_anom")
    q = stream_anomaly_ingest(stream, stats, table, quar, ck).start()
    q.awaitTermination(120)

    got_in = sorted(r["event_id"] for r in spark.read.parquet(table).collect())
    got_out = sorted(r["event_id"] for r in spark.read.parquet(quar).collect())
    assert got_in == batch_in and got_out == batch_out
    # quarantine keeps the flag side
    sides = {r["event_id"]: r["side"] for r in spark.read.parquet(quar).collect()}
    assert sides[40] == "high" and sides[41] == "low"

    # replay one id from each sink + one new inlier: uniqueness holds
    more = spark.createDataFrame(
        [(batch_in[0], "a", 50.0), (40, "a", 500.0), (99, "b", 50.0)],
        "event_id long, event_type string, value double",
    )
    more.write.mode("append").parquet(src)
    q = stream_anomaly_ingest(stream, stats, table, quar, ck).start()
    q.awaitTermination(120)
    in2 = [r["event_id"] for r in spark.read.parquet(table).collect()]
    out2 = [r["event_id"] for r in spark.read.parquet(quar).collect()]
    assert sorted(in2) == sorted(set(batch_in + [99]))
    assert len(in2) == len(set(in2)) and len(out2) == len(set(out2))
    assert sorted(out2) == batch_out


def test_stream_anomaly_ingest_mad_flagger_matches_batch(spark, tmp_path):
    """The gate's flagger="mad" mode splits the stream into exactly the
    inlier/outlier sets the SHARED mad_flag batch pass computes from the
    same frozen median/MAD table — deployment symmetry with the z-score
    mode, robust statistic under the hood."""
    import random

    from minivectordb_spark.operators.anomaly import frozen_mad_stats, mad_flag
    from minivectordb_spark.streaming import stream_anomaly_ingest

    rng = random.Random(23)
    rows = [
        (i, "a" if i % 2 else "b", rng.gauss(50.0, 5.0)) for i in range(40)
    ] + [(40, "a", 500.0), (41, "b", -300.0)]
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    stats = frozen_mad_stats(ev, "value", "event_type")

    flagged = mad_flag(ev, stats, "value", "event_type", z=3).collect()
    batch_out = sorted(r["event_id"] for r in flagged if r["is_outlier"])
    batch_in = sorted(r["event_id"] for r in flagged if not r["is_outlier"])
    assert 40 in batch_out and 41 in batch_out

    src = str(tmp_path / "ev_in_mad")
    ev.write.parquet(src)
    stream = spark.readStream.schema(
        "event_id long, event_type string, value double"
    ).parquet(src)
    table, quar = str(tmp_path / "in_mad"), str(tmp_path / "quar_mad")
    ck = str(tmp_path / "ck_mad")
    q = stream_anomaly_ingest(
        stream, stats, table, quar, ck, z=3, flagger="mad"
    ).start()
    q.awaitTermination(120)

    got_in = sorted(r["event_id"] for r in spark.read.parquet(table).collect())
    got_out = sorted(r["event_id"] for r in spark.read.parquet(quar).collect())
    assert got_in == batch_in and got_out == batch_out
    sides = {r["event_id"]: r["side"] for r in spark.read.parquet(quar).collect()}
    assert sides[40] == "high" and sides[41] == "low"

    # unknown flagger rejected loudly
    import pytest

    with pytest.raises(ValueError, match="unknown flagger"):
        stream_anomaly_ingest(stream, stats, table, quar, ck, flagger="iqr")


def test_stream_corpus_dedup_ingest_cross_batch(spark, tmp_path):
    """The persisted-index streaming gate: batch 1's survivors are
    appended to the index, so batch 2's near-dup of a batch-1 doc is
    dropped — cross-batch dedup with the state on disk, not in memory.
    First batch matches the batch-mode dedup_against_indexed answer."""
    from minivectordb_spark.operators.dedup import (
        dedup_against_indexed,
        save_dedup_index,
    )
    from minivectordb_spark.streaming import stream_corpus_dedup_ingest

    ref = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "didx")
    save_dedup_index(ref, idx)

    batch1 = [
        (0, "the quick brown fox jumps over the lazy dog"),  # dup of ref
        (1, "spark catalyst optimizer rewrites logical plans"),  # novel
    ]
    docs1 = spark.createDataFrame(batch1, ["doc_id", "text"])
    batch_kept = sorted(
        r["doc_id"]
        for r in dedup_against_indexed(docs1, idx, threshold=0.5).collect()
    )

    src = str(tmp_path / "stream_in")
    docs1.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    table_path = str(tmp_path / "corpus_out")
    ck = str(tmp_path / "ck_corpus_dedup")
    q = stream_corpus_dedup_ingest(stream, idx, table_path, ck, threshold=0.5).start()
    q.awaitTermination(120)
    got1 = sorted(r["doc_id"] for r in spark.read.parquet(table_path).collect())
    assert got1 == batch_kept == [1]

    # batch 2: near-dup of batch 1's ACCEPTED doc + a novel doc
    docs2 = spark.createDataFrame(
        [
            (2, "spark catalyst optimizer rewrites logical plans"),  # dup of doc 1
            (3, "entirely novel content about parquet row groups"),
        ],
        ["doc_id", "text"],
    )
    docs2.write.mode("append").parquet(src)
    q = stream_corpus_dedup_ingest(stream, idx, table_path, ck, threshold=0.5).start()
    q.awaitTermination(120)
    got2 = sorted(r["doc_id"] for r in spark.read.parquet(table_path).collect())
    assert got2 == [1, 3]  # doc 2 dropped by the index update from batch 1


def test_stream_neardup_corpus_ingest_cross_batch(spark, tmp_path):
    """Embedding twin of the corpus-dedup gate: batch 1's accepted vector
    is appended to the frozen-plane index, so batch 2's copy of it is
    dropped; batch 1 matches the batch-mode neardup_against_indexed."""
    import numpy as np

    from minivectordb_spark.operators.dedup import (
        neardup_against_indexed,
        save_neardup_index,
    )
    from minivectordb_spark.streaming import stream_neardup_corpus_ingest

    rng = np.random.RandomState(31)
    ref_vecs = rng.randn(40, 8).astype("float32")
    ref = spark.createDataFrame(
        [(100 + i, v.tolist()) for i, v in enumerate(ref_vecs)],
        ["vec_id", "embedding"],
    )
    idx = str(tmp_path / "sidx")
    save_neardup_index(ref, idx, target_block_size=8)

    novel = rng.randn(8).astype("float32").tolist()
    batch1 = spark.createDataFrame(
        [(0, ref_vecs[2].tolist()), (1, novel)], ["vec_id", "embedding"]
    )
    batch_kept = sorted(
        r["vec_id"]
        for r in neardup_against_indexed(
            batch1, idx, threshold=0.95, max_probes=4
        ).collect()
    )

    from pyspark.sql import functions as SF

    src = str(tmp_path / "vec_in")
    batch1.select("vec_id", SF.col("embedding").cast("array<float>").alias("embedding")).write.parquet(src)
    stream = spark.readStream.schema("vec_id long, embedding array<float>").parquet(src)
    table_path = str(tmp_path / "vec_out")
    ck = str(tmp_path / "ck_neardup_corpus")
    q = stream_neardup_corpus_ingest(
        stream, idx, table_path, ck, threshold=0.95, max_probes=4
    ).start()
    q.awaitTermination(120)
    got1 = sorted(r["vec_id"] for r in spark.read.parquet(table_path).collect())
    assert got1 == batch_kept == [1]  # ref dup dropped, novel kept

    batch2 = spark.createDataFrame(
        [(2, novel), (3, rng.randn(8).astype("float32").tolist())],
        ["vec_id", "embedding"],
    )
    batch2.select("vec_id", SF.col("embedding").cast("array<float>").alias("embedding")).write.mode("append").parquet(src)
    q = stream_neardup_corpus_ingest(
        stream, idx, table_path, ck, threshold=0.95, max_probes=4
    ).start()
    q.awaitTermination(120)
    got2 = sorted(r["vec_id"] for r in spark.read.parquet(table_path).collect())
    assert 2 not in got2 and 1 in got2 and 3 in got2


def test_stream_corpus_dedup_ingest_replay_heals_index(spark, tmp_path):
    """Crash-between-appends replay (ADVICE r11, medium): a micro-batch
    that died AFTER the table append but BEFORE the index append must,
    on replay, still hand its survivors to the index update — the gate
    passes the PRE-anti-join probe survivors to append_fn, so the index
    catches up instead of permanently under-covering the batch."""
    from minivectordb_spark.operators.dedup import (
        dedup_against_indexed,
        save_dedup_index,
    )
    from minivectordb_spark.streaming import stream_corpus_dedup_ingest

    ref = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "didx_replay")
    save_dedup_index(ref, idx)

    novel = "spark catalyst optimizer rewrites logical plans"
    batch = spark.createDataFrame([(1, novel)], ["doc_id", "text"])

    # simulate the crashed first run: table append happened, index append
    # and checkpoint commit did not
    table_path = str(tmp_path / "corpus_out_replay")
    batch.write.mode("append").parquet(table_path)

    # replay: fresh checkpoint (the crashed batch was never committed)
    src = str(tmp_path / "stream_in_replay")
    batch.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    ck = str(tmp_path / "ck_replay")
    q = stream_corpus_dedup_ingest(stream, idx, table_path, ck, threshold=0.5).start()
    q.awaitTermination(120)

    # table: no duplicate row for doc 1 (anti-join dropped the replay copy)
    rows = spark.read.parquet(table_path).collect()
    assert sorted(r["doc_id"] for r in rows) == [1]

    # index: HEALED — a later near-dup of doc 1 is rejected by the index
    probe = spark.createDataFrame([(2, novel)], ["doc_id", "text"])
    kept = dedup_against_indexed(probe, idx, threshold=0.5).collect()
    assert kept == []
