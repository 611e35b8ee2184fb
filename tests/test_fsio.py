"""fsio: filesystem-portable manifest + scratch IO (VERDICT r12 item 1,
ADVICE r12 mediums).

Covers both routes: the local fast path (os.replace atomicity) and the
Hadoop FileSystem route — exercised with a ``file:``-prefixed absolute
URI forced through the py4j API by disabling the local-path shortcut, so
the exact code that would serve ``hdfs://``/``s3a://`` runs against the
local connector (the scheme resolves through the same registry Spark's
readers use).
"""

import json
import os

import pytest

from minivectordb_spark import fsio


# ---------------------------------------------------------------- local path


def test_local_roundtrip_and_atomicity(tmp_path):
    p = str(tmp_path / "sub" / "m.json")  # parent does not exist yet
    fsio.write_manifest(p, {"a": 1, "fingerprint": "x"})
    assert fsio.read_manifest(p) == {"a": 1, "fingerprint": "x"}
    # overwrite goes through a temp file: no stray temps left behind
    fsio.write_manifest(p, {"a": 2})
    assert fsio.read_manifest(p) == {"a": 2}
    assert os.listdir(os.path.dirname(p)) == ["m.json"]


def test_local_missing_raises_filenotfound(tmp_path):
    with pytest.raises(FileNotFoundError):
        fsio.read_manifest(str(tmp_path / "absent.json"))


def test_local_path_classification():
    assert fsio._local_path("/tmp/x") == "/tmp/x"
    assert fsio._local_path("file:///tmp/x") == "/tmp/x"
    assert fsio._local_path("hdfs://nn/x") is None
    assert fsio._local_path("s3a://bucket/x") is None


# ------------------------------------------------------------- hadoop route


def test_hadoop_roundtrip_atomic_rename(tmp_path, spark, hadoop_route):
    p = f"file://{tmp_path}/deep/m.json"  # parent created by the API
    fsio.write_manifest(p, {"planes": [[0.5, -1.0]], "fingerprint": "f"})
    assert fsio.read_manifest(p)["planes"] == [[0.5, -1.0]]
    fsio.write_manifest(p, {"planes": []})  # overwrite via delete+rename
    assert fsio.read_manifest(p) == {"planes": []}
    # published file only — the temp was renamed away (the local
    # ChecksumFileSystem adds .crc sidecars; real schemes don't)
    visible = [f for f in os.listdir(tmp_path / "deep") if not f.endswith(".crc")]
    assert visible == ["m.json"]
    with pytest.raises(FileNotFoundError):
        fsio.read_text(f"file://{tmp_path}/deep/absent.json")


def test_hadoop_invalidate_and_delete(tmp_path, spark, hadoop_route):
    d = f"file://{tmp_path}"
    fsio.write_manifest(f"{d}/m.json", {"x": 1, "fingerprint": "g"})
    m, epoch = fsio.load_index_manifest(d, "m.json")
    fsio.begin_index_append(d, "m.json", m, epoch)
    assert fsio.load_index_manifest(d, "m.json") == ({"x": 1}, 1)
    fsio.delete(f"{d}/_manifest", recursive=True)
    with pytest.raises(FileNotFoundError):
        fsio.load_index_manifest(d, "m.json")


def test_index_manifest_io_survives_hadoop_route(tmp_path, spark, hadoop_route):
    """The dedup-index manifest cycle (save -> skip-if-fresh probe shape
    -> fingerprint drop of an append) through the Hadoop API — what a
    hdfs:// index dir exercises on a cluster."""
    d = f"file://{tmp_path}/idx"
    m = {"id_col": "doc_id", "k": 5, "fingerprint": "abc"}
    fsio.write_manifest(f"{d}/_dedup_index_manifest.json", m)
    got = fsio.read_manifest(f"{d}/_dedup_index_manifest.json")
    assert got == m
    fsio.begin_index_append(d, "_dedup_index_manifest.json", got, 0)
    now, _ = fsio.load_index_manifest(d, "_dedup_index_manifest.json")
    assert "fingerprint" not in now


class _RenameRefusingFS:
    """Delegates to a real Hadoop FileSystem but fails every rename —
    the object-store failure mode the keep-tmp contract covers."""

    def __init__(self, real):
        self._real = real

    def rename(self, a, b):
        return False

    def __getattr__(self, name):
        return getattr(self._real, name)


def test_hadoop_write_keeps_tmp_on_rename_failure(tmp_path, spark, monkeypatch):
    """ADVICE r13 (low): when publication fails, the NEW content must
    survive at the temp path (the r13 code deleted the temp after a
    failed rename, and its delete-first ordering could leave no file at
    all)."""
    real_hadoop = fsio._hadoop

    def wrapped(path, sp=None):
        jvm, fs, jpath = real_hadoop(path, sp)
        return jvm, _RenameRefusingFS(fs), jpath

    monkeypatch.setattr(fsio, "_local_path", lambda p: None)
    monkeypatch.setattr(fsio, "_hadoop", wrapped)
    monkeypatch.setattr(
        fsio, "_file_context_rename_overwrite", lambda *a, **k: False
    )
    p = f"file://{tmp_path}/m.json"
    with pytest.raises(OSError, match="kept at"):
        fsio.write_text_atomic(p, '{"x": 1}')
    tmps = [f for f in os.listdir(tmp_path) if ".tmp-" in f and not f.endswith(".crc")]
    assert len(tmps) == 1
    assert open(tmp_path / tmps[0]).read() == '{"x": 1}'


def test_hadoop_overwrite_without_filecontext_falls_back(
    tmp_path, spark, monkeypatch
):
    """With the FileContext atomic route unavailable (e.g. plain s3a),
    the fallback must still overwrite an existing manifest: rename-first
    for a fresh target, delete+rename for an occupied one."""
    monkeypatch.setattr(fsio, "_local_path", lambda p: None)
    monkeypatch.setattr(
        fsio, "_file_context_rename_overwrite", lambda *a, **k: False
    )
    p = f"file://{tmp_path}/m.json"
    fsio.write_manifest(p, {"v": 1})
    fsio.write_manifest(p, {"v": 2})
    assert fsio.read_manifest(p) == {"v": 2}


# -------------------------------------------------------------- scratch dir


def test_scratch_dir_resolution_order(tmp_path, spark, monkeypatch):
    # 1) module knob wins
    monkeypatch.setattr(fsio, "SCRATCH_ROOT", str(tmp_path / "knob"))
    assert fsio.scratch_dir(spark, "p_").startswith(str(tmp_path / "knob") + "/p_")
    # 2) session conf next
    monkeypatch.setattr(fsio, "SCRATCH_ROOT", None)
    spark.conf.set("spark.minivectordb.scratchDir", str(tmp_path / "conf"))
    try:
        assert fsio.scratch_dir(spark, "p_").startswith(
            str(tmp_path / "conf") + "/p_"
        )
    finally:
        spark.conf.unset("spark.minivectordb.scratchDir")
    # 3) warehouse-dir default (shared storage on a real cluster)
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    assert fsio.scratch_dir(spark, "p_").startswith(
        f"{wh}/_minivectordb_scratch/p_"
    )
    # fresh name per call
    assert fsio.scratch_dir(spark, "p_") != fsio.scratch_dir(spark, "p_")


def test_heavy_spill_honors_scratch_knob_and_explicit_sweep(
    tmp_path, spark, monkeypatch
):
    """Force the EDJoin heavy path: its df spill must land under the
    scratch knob (shared storage), survive until the EXPLICIT sweep
    (ADVICE r13 — no call may guess another call's frame was
    materialized), and the public ``sweep_heavy_spills`` must clear all
    registered spills."""
    from minivectordb_spark.operators import linkage
    from minivectordb_spark.plans import width

    monkeypatch.setattr(fsio, "SCRATCH_ROOT", str(tmp_path / "scratch"))
    monkeypatch.setattr(width, "AGG_PARTITION_BYTES", 1024)
    monkeypatch.setattr(linkage, "DF_BROADCAST_MAX_ROWS", 1)

    rows = [(i, f"prefix-{i:04d}-suffix") for i in range(1, 40)]
    left = spark.createDataFrame(rows, "lid long, s string")
    right = spark.createDataFrame(
        [(100 + i, s) for i, s in rows], "rid long, s string"
    )
    out1 = linkage.qgram_edit_join(
        left, right, "lid", "rid", "s", "s", max_dist=1, q=3
    )
    n1 = out1.count()
    spills = os.listdir(tmp_path / "scratch")
    assert len(spills) == 1 and spills[0].startswith("qgram_df_")

    out2 = linkage.qgram_edit_join(
        left, right, "lid", "rid", "s", "s", max_dist=1, q=3
    )
    n2 = out2.count()
    assert n2 == n1 > 0
    # both spills alive until the explicit sweep — never auto-deleted
    assert len(os.listdir(tmp_path / "scratch")) == 2
    linkage.sweep_heavy_spills()
    assert os.listdir(tmp_path / "scratch") == []


def test_heavy_spill_sequential_lazy_frames_both_materialize(
    tmp_path, spark, monkeypatch
):
    """Regression for the ADVICE r13 medium: starting a SECOND heavy
    qgram join before the first call's lazily-returned frame is
    materialized must not delete the first call's spill — both frames
    materialize correctly afterwards."""
    from minivectordb_spark.operators import linkage
    from minivectordb_spark.plans import width

    monkeypatch.setattr(fsio, "SCRATCH_ROOT", str(tmp_path / "scratch"))
    monkeypatch.setattr(width, "AGG_PARTITION_BYTES", 1024)
    monkeypatch.setattr(linkage, "DF_BROADCAST_MAX_ROWS", 1)

    rows = [(i, f"prefix-{i:04d}-suffix") for i in range(1, 40)]
    left = spark.createDataFrame(rows, "lid long, s string")
    right = spark.createDataFrame(
        [(100 + i, s) for i, s in rows], "rid long, s string"
    )
    lazy1 = linkage.qgram_edit_join(
        left, right, "lid", "rid", "s", "s", max_dist=1, q=3
    )
    lazy2 = linkage.qgram_edit_join(  # second call with lazy1 unmaterialized
        left, right, "lid", "rid", "s", "s", max_dist=1, q=3
    )
    n1 = lazy1.count()  # r12 behavior: this raised FileNotFound
    assert lazy2.count() == n1 > 0
    linkage.sweep_heavy_spills()


# ---------------------------------------------------------- heap-scaled law


def test_heap_caps_law():
    """The two heap caps scale differently, per the r13 measurement:
    the broadcast cap is a PERFORMANCE crossover (a 10M-row df table at
    48g broadcast without OOM and ran 3.6x slower than hash-joined), so
    it scales down for small heaps but never up; the residency cap is a
    pure heap cost, linear both ways.  Both floored at 1/16th so a tiny
    heap degrades to the hash-join/recompute path, never zero-row caps."""
    from minivectordb_spark.operators.linkage import (
        DF_BROADCAST_MAX_ROWS,
        OCC_REUSE_MAX_ROWS,
        _heap_caps_for_gb,
    )

    assert _heap_caps_for_gb(8.0) == (DF_BROADCAST_MAX_ROWS, OCC_REUSE_MAX_ROWS)
    df64, occ64 = _heap_caps_for_gb(64.0)
    assert df64 == DF_BROADCAST_MAX_ROWS  # flat above the anchor (measured)
    assert occ64 == OCC_REUSE_MAX_ROWS * 8  # residency scales up
    df4, occ4 = _heap_caps_for_gb(4.0)
    assert df4 == DF_BROADCAST_MAX_ROWS // 2  # safety scales down
    assert occ4 == OCC_REUSE_MAX_ROWS // 2
    # floor: 1/16th of the anchors
    assert _heap_caps_for_gb(0.01) == (
        DF_BROADCAST_MAX_ROWS // 16,
        OCC_REUSE_MAX_ROWS // 16,
    )


def test_executor_heap_gb_reads_live_jvm(spark):
    from minivectordb_spark.operators.linkage import _executor_heap_gb

    gb = _executor_heap_gb(spark)
    # local mode: Runtime.maxMemory() of the shared JVM — the 8g default
    # session lands in a sane band (maxMemory is slightly under -Xmx)
    assert 2.0 < gb < 64.0


# -------------------------------------------- invalidate-before-append order


def test_update_dedup_index_invalidates_before_append(spark, tmp_path, monkeypatch):
    """ADVICE r12 (medium): a crash BETWEEN invalidation and append must
    leave a no-longer-fresh manifest (worst case: spurious rebuild) —
    never an appended index whose fingerprint still matches the source."""
    from minivectordb_spark.operators import dedup

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, f"document body number {i} with shared tokens") for i in range(40)],
        "doc_id long, text string",
    ).write.parquet(src)
    df = spark.read.parquet(src)
    idx = str(tmp_path / "idx")
    assert dedup.save_dedup_index(df, idx, skip_if_fresh=True)
    m0, _ = fsio.load_index_manifest(idx, "_dedup_index_manifest.json")
    assert "fingerprint" in m0

    boom = RuntimeError("simulated crash before the bucket append")
    monkeypatch.setattr(
        dedup, "_band_buckets", lambda *a, **k: (_ for _ in ()).throw(boom)
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        dedup.update_dedup_index(df.limit(3), idx)
    # fingerprint already dropped -> skip_if_fresh rebuilds instead of
    # silently reusing a half-updated index
    m1, _ = fsio.load_index_manifest(idx, "_dedup_index_manifest.json")
    assert "fingerprint" not in m1


def test_update_neardup_index_invalidates_before_append(
    spark, tmp_path, monkeypatch
):
    import minivectordb_spark.operators.ann as ann
    from minivectordb_spark.operators import dedup

    src = str(tmp_path / "vsrc")
    spark.createDataFrame(
        [(i, [float(i % 7) + 0.25, float(i % 3) - 1.0]) for i in range(30)],
        "vec_id long, embedding array<double>",
    ).write.parquet(src)
    df = spark.read.parquet(src)
    idx = str(tmp_path / "vidx")
    assert dedup.save_neardup_index(df, idx, skip_if_fresh=True)
    m0, _ = fsio.load_index_manifest(idx, "_neardup_index_manifest.json")
    assert "fingerprint" in m0

    boom = RuntimeError("simulated crash before the bucket append")
    monkeypatch.setattr(
        ann,
        "random_projection_buckets",
        lambda *a, **k: (_ for _ in ()).throw(boom),
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        dedup.update_neardup_index(df.limit(3), idx)
    m1, _ = fsio.load_index_manifest(idx, "_neardup_index_manifest.json")
    assert "fingerprint" not in m1


def test_dedup_index_roundtrip_on_file_uri(spark, tmp_path):
    """End-to-end index lifecycle addressed by URI (scheme-qualified
    paths are what a cluster deployment passes): build, fresh-skip,
    probe, append, probe again — manifest IO and parquet IO both resolve
    the scheme."""
    from minivectordb_spark.operators import dedup

    src = str(tmp_path / "docs")
    texts = [(i, f"shared shingle text body {i % 5} padding tokens") for i in range(50)]
    spark.createDataFrame(texts, "doc_id long, text string").write.parquet(src)
    ref = spark.read.parquet(src)
    idx = f"file://{tmp_path}/uri_idx"

    assert dedup.save_dedup_index(ref, idx, skip_if_fresh=True)
    assert not dedup.save_dedup_index(ref, idx, skip_if_fresh=True)  # fresh
    batch = spark.createDataFrame(
        [(1000, "shared shingle text body 0 padding tokens"),
         (1001, "a genuinely novel string nothing shares")],
        "doc_id long, text string",
    )
    kept = dedup.dedup_against_indexed(batch, idx)
    assert [r["doc_id"] for r in kept.collect()] == [1001]
    dedup.update_dedup_index(kept, idx)
    # appended survivor now blocks an identical follow-up row
    again = spark.createDataFrame(
        [(2000, "a genuinely novel string nothing shares")],
        "doc_id long, text string",
    )
    assert dedup.dedup_against_indexed(again, idx).count() == 0
    # append invalidated freshness -> rebuild happens
    assert dedup.save_dedup_index(ref, idx, skip_if_fresh=True)


# ------------------------------------------------- cluster-FS fingerprints


def test_source_fingerprint_hadoop_route(spark, tmp_path):
    """r13: a non-local source no longer disables freshness tracking —
    the fingerprint stats remote files through Hadoop FileStatus (one
    listStatus per parent dir).  Driven here by routing file: URIs
    through _hadoop_entries directly (the exact code an hdfs:// source
    runs) and by checking end-to-end stability + invalidation."""
    import time

    from minivectordb_spark.operators.util import (
        _hadoop_entries,
        source_fingerprint,
    )

    src = str(tmp_path / "t")
    spark.range(100).selectExpr("id", "id * 2 as v").write.parquet(src)
    df = spark.read.parquet(src)
    files = sorted(df.inputFiles())
    assert files and files[0].startswith("file:")

    ents = _hadoop_entries(files, spark)
    assert ents is not None and len(ents) == len(files)
    for (uri, length, mtime), f in zip(ents, files):
        assert uri == f and length > 0 and mtime > 0
    # stable across calls
    assert _hadoop_entries(files, spark) == ents
    # missing file -> None (freshness must not be claimed)
    assert _hadoop_entries(files + [f"{files[0]}.absent"], spark) is None

    # end-to-end: same source -> same fingerprint; rewrite -> different
    fp1 = source_fingerprint(df, ["k"])
    assert fp1 is not None
    assert source_fingerprint(spark.read.parquet(src), ["k"]) == fp1
    assert source_fingerprint(df, ["other"]) != fp1
    time.sleep(0.05)
    spark.range(100).selectExpr("id", "id * 3 as v").write.mode(
        "overwrite"
    ).parquet(src)
    assert source_fingerprint(spark.read.parquet(src), ["k"]) != fp1
