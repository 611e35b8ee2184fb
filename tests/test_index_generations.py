"""Versioned index generations + CAS manifest epoch log (VERDICT r13
items 1 and 2): rebuilds/re-saves write ``gen=<N>-<token>`` dirs and
publish by exclusive-created immutable epoch files; probes resolve the
generation at plan time and keep their snapshot through a swap; every
mutation is serialized by the CAS — a losing concurrent writer gets a
clean ``ConcurrentIndexMutation``, never a silent interleave.

This is the snapshot-isolation translation of the reference's
lock-serialized persistence (vector_database.py:19,538-548), built on
the same immutable-version + exclusive-create pattern as durable.py's
CoW manifest CAS.
"""

import json
import os
import threading

import pytest

from minivectordb_spark import fsio

DEDUP_M = "_dedup_index_manifest.json"
NEARDUP_M = "_neardup_index_manifest.json"
IVF_M = "_index_manifest.json"


# ------------------------------------------------------------ fsio primitives


def test_epoch_file_naming_roundtrip():
    assert fsio._epoch_file(DEDUP_M, 3) == "_dedup_index_manifest.e00000003.json"
    assert fsio._epoch_of("_dedup_index_manifest.e00000003.json", DEDUP_M) == 3
    assert fsio._epoch_of("_dedup_index_manifest.json", DEDUP_M) is None
    assert fsio._epoch_of("_neardup_index_manifest.e00000001.json", DEDUP_M) is None
    assert fsio._epoch_of("_dedup_index_manifest.exyz.json", DEDUP_M) is None


def test_create_exclusive_local_winner_loser(tmp_path):
    p = str(tmp_path / "m" / "e1.json")
    assert fsio.create_exclusive(p, '{"a": 1}')
    assert not fsio.create_exclusive(p, '{"a": 2}')  # loser leaves winner
    assert json.loads(open(p).read()) == {"a": 1}
    # no stray temp files
    assert os.listdir(tmp_path / "m") == ["e1.json"]


def test_create_exclusive_hadoop_route(tmp_path, spark, monkeypatch):
    monkeypatch.setattr(fsio, "_local_path", lambda p: None)
    p = f"file://{tmp_path}/m/e1.json"
    assert fsio.create_exclusive(p, '{"a": 1}')
    assert not fsio.create_exclusive(p, '{"a": 2}')
    assert fsio.read_manifest(p) == {"a": 1}


def test_publish_and_load_epoch_log(tmp_path):
    root = str(tmp_path / "idx")
    assert fsio.publish_index_manifest(root, DEDUP_M, {"v": 1}, 0) == 1
    assert fsio.load_index_manifest(root, DEDUP_M) == ({"v": 1}, 1)
    assert fsio.publish_index_manifest(root, DEDUP_M, {"v": 2}, 1) == 2
    assert fsio.load_index_manifest(root, DEDUP_M) == ({"v": 2}, 2)
    # CAS: publishing against a stale epoch loses cleanly
    with pytest.raises(fsio.ConcurrentIndexMutation):
        fsio.publish_index_manifest(root, DEDUP_M, {"v": 99}, 1)
    assert fsio.load_index_manifest(root, DEDUP_M) == ({"v": 2}, 2)


def test_publish_retention_keeps_last_two_epochs(tmp_path):
    root = str(tmp_path / "idx")
    for e in range(4):
        fsio.publish_index_manifest(root, DEDUP_M, {"v": e + 1}, e)
    names = sorted(os.listdir(tmp_path / "idx" / "_manifest"))
    assert names == [
        "_dedup_index_manifest.e00000003.json",
        "_dedup_index_manifest.e00000004.json",
    ]
    # two index families share the _manifest dir without clobbering
    fsio.publish_index_manifest(root, NEARDUP_M, {"w": 1}, 0)
    assert fsio.load_index_manifest(root, DEDUP_M)[0] == {"v": 4}
    assert fsio.load_index_manifest(root, NEARDUP_M) == ({"w": 1}, 1)


def test_legacy_manifest_loads_as_epoch_zero_and_is_superseded(tmp_path):
    root = str(tmp_path / "idx")
    fsio.write_manifest(f"{root}/{DEDUP_M}", {"id_col": "x", "fingerprint": "f"})
    m, epoch = fsio.load_index_manifest(root, DEDUP_M)
    assert (m["id_col"], epoch) == ("x", 0)
    assert "gen_dir" not in m  # legacy layout: data at the path roots
    fsio.publish_index_manifest(root, DEDUP_M, {"id_col": "x"}, 0)
    # legacy single file swept; epoch log authoritative
    assert not os.path.exists(f"{root}/{DEDUP_M}")
    assert fsio.load_index_manifest(root, DEDUP_M) == ({"id_col": "x"}, 1)


def test_load_missing_raises(tmp_path):
    with pytest.raises(FileNotFoundError):
        fsio.load_index_manifest(str(tmp_path / "nope"), DEDUP_M)


def test_gen_data_and_new_gen_dir():
    assert fsio.gen_data("/p", {}, "buckets") == "/p/buckets"
    g, gd = fsio.new_gen_dir({})
    assert g == 1 and gd.startswith("gen=1-")
    g2, gd2 = fsio.new_gen_dir({"generation": 3, "gen_dir": "gen=3-aa"})
    assert g2 == 4 and gd2.startswith("gen=4-")
    assert fsio.gen_data("/p", {"gen_dir": "gen=3-aa"}, "buckets") == (
        "/p/gen=3-aa/buckets"
    )
    # tokenized names: two racing rebuilds can never share a dir
    assert fsio.new_gen_dir({})[1] != fsio.new_gen_dir({})[1]


def test_sweep_index_generations_retention(tmp_path):
    root = str(tmp_path / "idx")
    for d in ["gen=1-aa", "gen=2-bb", "gen=3-cc", "buckets", "shingles"]:
        os.makedirs(f"{root}/{d}")
    # current + previous kept; older gen and (with a real previous
    # generation present) the legacy roots are swept
    fsio.sweep_index_generations(root, ["gen=3-cc", "gen=2-bb"], ["buckets", "shingles"])
    assert sorted(os.listdir(root)) == ["gen=2-bb", "gen=3-cc"]
    # with only ONE generation, legacy roots survive as the fallback
    os.makedirs(f"{root}/buckets")
    fsio.sweep_index_generations(root, ["gen=3-cc", None], ["buckets", "shingles"])
    assert sorted(os.listdir(root)) == ["buckets", "gen=3-cc"]


# --------------------------------------------------------- dedup index family


@pytest.fixture()
def docs(spark, tmp_path):
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"shared shingle text body {i % 7} padding tokens here") for i in range(60)],
        "doc_id long, text string",
    ).write.parquet(src)
    return spark.read.parquet(src)


def test_dedup_resave_bumps_generation_and_retains_previous(spark, tmp_path, docs):
    from minivectordb_spark.operators import dedup

    idx = str(tmp_path / "idx")
    assert dedup.save_dedup_index(docs, idx)
    m1, e1 = fsio.load_index_manifest(idx, DEDUP_M)
    assert m1["generation"] == 1 and e1 == 1
    assert os.path.isdir(f"{idx}/{m1['gen_dir']}/buckets")

    assert dedup.save_dedup_index(docs, idx)  # re-save: next generation
    m2, e2 = fsio.load_index_manifest(idx, DEDUP_M)
    assert m2["generation"] == 2 and e2 == 2
    assert m2["prev_gen_dir"] == m1["gen_dir"]
    # previous generation retained for in-flight probes
    assert os.path.isdir(f"{idx}/{m1['gen_dir']}/buckets")

    assert dedup.save_dedup_index(docs, idx)
    m3, _ = fsio.load_index_manifest(idx, DEDUP_M)
    live = sorted(d for d in os.listdir(idx) if d.startswith("gen="))
    assert live == sorted([m3["gen_dir"], m2["gen_dir"]])  # gen 1 swept


def test_dedup_probe_keeps_snapshot_through_rebuild(spark, tmp_path, docs):
    """VERDICT r13 item 1 done-criterion: a probe planned against the
    pre-rebuild generation materializes correctly AFTER the rebuild
    swaps the manifest — no FileNotFoundError, old generation served."""
    from minivectordb_spark.operators import dedup

    idx = str(tmp_path / "idx")
    dedup.save_dedup_index(docs, idx)
    batch = spark.createDataFrame(
        [(1000, "shared shingle text body 0 padding tokens here"),
         (1001, "a genuinely novel string nothing here shares at all")],
        "doc_id long, text string",
    )
    lazy_probe = dedup.dedup_against_indexed(batch, idx)  # resolves gen 1
    dedup.save_dedup_index(docs, idx)  # rebuild -> gen 2 published
    kept = sorted(r["doc_id"] for r in lazy_probe.collect())
    assert kept == [1001]  # snapshot still served
    # and a fresh probe over the new generation agrees
    fresh = sorted(
        r["doc_id"] for r in dedup.dedup_against_indexed(batch, idx).collect()
    )
    assert fresh == [1001]


def test_dedup_concurrent_writers_one_clean_loser(spark, tmp_path, docs):
    """VERDICT r13 item 2 done-criterion: two writers racing from the
    same manifest epoch — one clean ConcurrentIndexMutation, the index
    intact, the loser's orphan generation swept by the next publish."""
    from minivectordb_spark.operators import dedup

    idx = str(tmp_path / "idx")
    dedup.save_dedup_index(docs, idx)
    m, epoch = fsio.load_index_manifest(idx, DEDUP_M)

    results = []

    def mutate(tag):
        try:
            fsio.publish_index_manifest(
                idx, DEDUP_M, {**m, "tag": tag}, epoch
            )
            results.append(("ok", tag))
        except fsio.ConcurrentIndexMutation:
            results.append(("lost", tag))

    ts = [threading.Thread(target=mutate, args=(t,)) for t in ("a", "b")]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert sorted(r[0] for r in results) == ["lost", "ok"]
    now, e2 = fsio.load_index_manifest(idx, DEDUP_M)
    assert e2 == epoch + 1 and now["tag"] in ("a", "b")


def test_dedup_two_thread_update_stress_serialized_or_clean_error(
    spark, tmp_path, docs
):
    """Two real update_dedup_index calls racing on one index: either
    both append (they read different epochs) or exactly one loses with
    ConcurrentIndexMutation; after retrying any loser, BOTH batches are
    visible to a probe — never a silent interleave."""
    from minivectordb_spark.operators import dedup

    idx = str(tmp_path / "idx")
    dedup.save_dedup_index(docs, idx)
    b1 = spark.createDataFrame(
        [(2001, "first appended batch body with its own shingles")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(2002, "second appended batch body with different shingles")],
        "doc_id long, text string",
    )
    errors = []

    def upd(df):
        try:
            dedup.update_dedup_index(df, idx)
        except fsio.ConcurrentIndexMutation:
            errors.append(df)

    ts = [threading.Thread(target=upd, args=(b,)) for b in (b1, b2)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert len(errors) <= 1
    for df in errors:  # clean retry path
        dedup.update_dedup_index(df, idx)
    probe = spark.createDataFrame(
        [(3001, "first appended batch body with its own shingles"),
         (3002, "second appended batch body with different shingles")],
        "doc_id long, text string",
    )
    assert dedup.dedup_against_indexed(probe, idx).count() == 0


def test_append_landing_in_dead_generation_raises(spark, tmp_path, docs):
    """A rebuild publishing a new generation while an append is writing
    data: the append's end-check fails loudly (the batch is absent from
    the live generation) instead of silently losing it."""
    from minivectordb_spark.operators import dedup

    idx = str(tmp_path / "idx")
    dedup.save_dedup_index(docs, idx)
    m, epoch = fsio.load_index_manifest(idx, DEDUP_M)
    fsio.begin_index_append(idx, DEDUP_M, m, epoch)
    dedup.save_dedup_index(docs, idx)  # concurrent rebuild -> gen swap
    with pytest.raises(fsio.ConcurrentIndexMutation, match="rebuilt"):
        fsio.end_index_append(idx, DEDUP_M, m)


def test_legacy_dedup_layout_probes_updates_and_upgrades(spark, tmp_path, docs):
    """A pre-r14 index (legacy single-file manifest, data at the path
    roots) keeps probing, accepts appends, and a re-save upgrades it to
    generations while RETAINING the legacy dirs for in-flight probes."""
    from minivectordb_spark.operators import dedup

    idx = str(tmp_path / "idx")
    dedup.save_dedup_index(docs, idx)
    m, _ = fsio.load_index_manifest(idx, DEDUP_M)
    # demote to the legacy layout: move gen data up, write single-file
    # manifest, drop the epoch log
    gd = m.pop("gen_dir")
    m.pop("generation")
    m.pop("fingerprint", None)
    for sub in ("buckets", "shingles"):
        os.rename(f"{idx}/{gd}/{sub}", f"{idx}/{sub}")
    os.rmdir(f"{idx}/{gd}")
    import shutil

    shutil.rmtree(f"{idx}/_manifest")
    fsio.write_manifest(f"{idx}/{DEDUP_M}", m)

    batch = spark.createDataFrame(
        [(1000, "shared shingle text body 0 padding tokens here"),
         (1001, "a genuinely novel string nothing here shares at all")],
        "doc_id long, text string",
    )
    kept = dedup.dedup_against_indexed(batch, idx)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1001]
    # append on the legacy layout: epoch log starts, data stays at roots
    dedup.update_dedup_index(
        spark.createDataFrame(
            [(1001, "a genuinely novel string nothing here shares at all")],
            "doc_id long, text string",
        ),
        idx,
    )
    m1, e1 = fsio.load_index_manifest(idx, DEDUP_M)
    assert e1 == 1 and "gen_dir" not in m1
    assert dedup.dedup_against_indexed(batch, idx).count() == 0
    # upgrade: re-save writes generation 1, legacy dirs retained (they
    # are the 'previous generation' for in-flight probes)
    dedup.save_dedup_index(docs, idx)
    m2, _ = fsio.load_index_manifest(idx, DEDUP_M)
    assert m2["generation"] == 1 and os.path.isdir(f"{idx}/buckets")


# ------------------------------------------------------- neardup index family


@pytest.fixture()
def vecs(spark, tmp_path):
    src = str(tmp_path / "vecs")
    spark.createDataFrame(
        [(i, [float(i % 7) + 0.25, float(i % 3) - 1.0, float(i % 5)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    ).write.parquet(src)
    return spark.read.parquet(src)


def test_neardup_rebuild_writes_one_copy_no_scratch(
    spark, tmp_path, vecs, monkeypatch
):
    """VERDICT r13 item 1 done-criterion: the in-place rebuild used to
    copy the corpus through scratch (two extra writes); the generation
    rebuild reads the live gen directly — scratch_dir must never be
    called."""
    from minivectordb_spark.operators import dedup

    idx = str(tmp_path / "idx")
    dedup.save_neardup_index(vecs, idx, target_block_size=4)
    m1, _ = fsio.load_index_manifest(idx, NEARDUP_M)

    def no_scratch(*a, **k):
        raise AssertionError("rebuild must not stage through scratch")

    monkeypatch.setattr(fsio, "scratch_dir", no_scratch)
    assert dedup.rebuild_neardup_index_if_stale(spark, idx, force=True)
    m2, _ = fsio.load_index_manifest(idx, NEARDUP_M)
    assert m2["generation"] == m1["generation"] + 1
    assert "fingerprint" not in m2  # corresponds to no single source
    # previous generation retained; stored corpus carried over
    assert os.path.isdir(f"{idx}/{m1['gen_dir']}/embeddings")
    stored = spark.read.parquet(f"{idx}/{m2['gen_dir']}/embeddings")
    assert stored.count() == 50


def test_neardup_probe_keeps_snapshot_through_rebuild(spark, tmp_path, vecs):
    from minivectordb_spark.operators import dedup

    idx = str(tmp_path / "idx")
    dedup.save_neardup_index(vecs, idx, target_block_size=4)
    batch = spark.createDataFrame(
        [(900, [0.25, -1.0, 0.0]), (901, [123.0, -55.5, 77.0])],
        "vec_id long, embedding array<double>",
    )
    lazy_probe = dedup.neardup_against_indexed(batch, idx, threshold=0.99)
    assert dedup.rebuild_neardup_index_if_stale(spark, idx, force=True)
    kept = sorted(r["vec_id"] for r in lazy_probe.collect())
    fresh = sorted(
        r["vec_id"]
        for r in dedup.neardup_against_indexed(
            batch, idx, threshold=0.99
        ).collect()
    )
    assert kept == fresh == [901]


def test_neardup_staleness_flags_missing_knobs(spark, tmp_path, vecs):
    """ADVICE r13 (low): a pre-r13 manifest without recorded build knobs
    must be distinguishable — the defaulted threshold is 2x looser than
    the gate builds' actual economics."""
    from minivectordb_spark.operators import dedup

    idx = str(tmp_path / "idx")
    dedup.save_neardup_index(vecs, idx, target_block_size=4)
    st = dedup.neardup_index_staleness(spark, idx)
    assert st["knobs_missing"] is False and st["target_block_size"] == 4
    # simulate the pre-r13 manifest: drop the recorded knobs
    m, e = fsio.load_index_manifest(idx, NEARDUP_M)
    m.pop("target_block_size")
    m.pop("max_planes", None)
    fsio.publish_index_manifest(idx, NEARDUP_M, m, e)
    st2 = dedup.neardup_index_staleness(spark, idx)
    assert st2["knobs_missing"] is True and st2["target_block_size"] == 64


# ----------------------------------------------------------- IVF index family


def test_ivf_generations_search_update_rebuild(spark, tmp_path, vecs):
    from minivectordb_spark.operators.ann import (
        ivf_index_balance,
        ivf_search_indexed,
        rebuild_ivf_index_if_unbalanced,
        save_ivf_index,
        seed_centroids,
        update_ivf_index,
    )

    idx = str(tmp_path / "ivf")
    cents = seed_centroids(vecs, 4)
    save_ivf_index(vecs, cents, idx)
    m1, e1 = fsio.load_index_manifest(idx, IVF_M)
    assert m1["generation"] == 1
    q = [0.5, -0.5, 1.0]
    lazy_search = ivf_search_indexed(spark, idx, q, k=5, nprobe=4)

    extra = spark.createDataFrame(
        [(700 + i, [float(i), 1.0, -1.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    update_ivf_index(extra, idx)  # epoch bump, fingerprint stays absent
    m2, e2 = fsio.load_index_manifest(idx, IVF_M)
    assert e2 == e1 + 1 and m2["gen_dir"] == m1["gen_dir"]
    assert ivf_index_balance(spark, idx)["rows"] == 55

    assert rebuild_ivf_index_if_unbalanced(spark, idx, force=True)
    m3, _ = fsio.load_index_manifest(idx, IVF_M)
    assert m3["generation"] == 2 and "fingerprint" not in m3
    # pre-rebuild search plan still materializes (old gen retained)
    assert len(lazy_search.collect()) == 5
    # fresh search sees all 55 rows' index
    got = ivf_search_indexed(spark, idx, q, k=5, nprobe=4).collect()
    assert len(got) == 5


def test_ivf_rebuild_dim_precheck_fails_before_write(spark, tmp_path, vecs):
    """VERDICT r13 item 6: mismatched caller-supplied centroids must
    fail at the call, before any write."""
    from minivectordb_spark.operators.ann import (
        rebuild_ivf_index_if_unbalanced,
        save_ivf_index,
        seed_centroids,
    )

    idx = str(tmp_path / "ivf")
    save_ivf_index(vecs, seed_centroids(vecs, 4), idx)
    m1, e1 = fsio.load_index_manifest(idx, IVF_M)
    bad = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [0.5, -1.0])],  # dim 2 vs indexed dim 3
        "centroid_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="dim 2"):
        rebuild_ivf_index_if_unbalanced(spark, idx, centroids=bad, force=True)
    # nothing was written or published
    assert fsio.load_index_manifest(idx, IVF_M) == (m1, e1)
    gens = [d for d in os.listdir(idx) if d.startswith("gen=")]
    assert gens == [m1["gen_dir"]]


def test_ivf_legacy_manifestless_layout_still_serves(spark, tmp_path, vecs):
    """Pre-r14 IVF indexes built without a stat-able fingerprint wrote
    NO manifest at all — searches and appends on that layout must keep
    working (legacy roots), and the first mutation starts the epoch
    log."""
    import shutil

    from minivectordb_spark.operators.ann import (
        ivf_search_indexed,
        save_ivf_index,
        seed_centroids,
        update_ivf_index,
    )

    idx = str(tmp_path / "ivf")
    save_ivf_index(vecs, seed_centroids(vecs, 4), idx)
    m, _ = fsio.load_index_manifest(idx, IVF_M)
    gd = m["gen_dir"]
    for sub in ("assignments", "centroids"):
        os.rename(f"{idx}/{gd}/{sub}", f"{idx}/{sub}")
    shutil.rmtree(f"{idx}/_manifest")
    os.rmdir(f"{idx}/{gd}")

    q = [0.5, -0.5, 1.0]
    assert len(ivf_search_indexed(spark, idx, q, k=5, nprobe=4).collect()) == 5
    extra = spark.createDataFrame(
        [(800, [2.0, 2.0, 2.0])], "vec_id long, embedding array<double>"
    )
    update_ivf_index(extra, idx)
    m1, e1 = fsio.load_index_manifest(idx, IVF_M)
    assert e1 == 1 and "gen_dir" not in m1
    assert len(ivf_search_indexed(spark, idx, q, k=6, nprobe=4).collect()) == 6


# ------------------------------------------------- one lifecycle, every family


def test_lifecycle_on_every_family(spark, tmp_path, docs, vecs, monkeypatch):
    """Each index family saves and appends through fsio's one lifecycle:
    a fresh save is skipped without writing, a save that loses the CAS
    removes its own generation and leaves the live index and its epoch
    as they were, and an append whose generation a rebuild swapped
    mid-flight raises."""
    from minivectordb_spark.operators import ann, dedup

    cents = ann.seed_centroids(vecs, 4)
    new_doc = spark.createDataFrame(
        [(1001, "a genuinely novel string nothing here shares at all")],
        "doc_id long, text string",
    )
    new_vec = spark.createDataFrame(
        [(901, [123.0, -55.5, 77.0])], "vec_id long, embedding array<double>"
    )
    families = {
        IVF_M: (
            lambda p, **kw: ann.save_ivf_index(vecs, cents, p, **kw),
            lambda p: ann.update_ivf_index(new_vec, p),
        ),
        DEDUP_M: (
            lambda p, **kw: dedup.save_dedup_index(docs, p, **kw),
            lambda p: dedup.update_dedup_index(new_doc, p),
        ),
        NEARDUP_M: (
            lambda p, **kw: dedup.save_neardup_index(
                vecs, p, target_block_size=4, **kw
            ),
            lambda p: dedup.update_neardup_index(new_vec, p),
        ),
    }

    def tree(p):
        return sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs
        )

    for name, (save, update) in families.items():
        idx = str(tmp_path / name)
        assert save(idx)
        live = fsio.load_index_manifest(idx, name)
        files = tree(idx)

        assert save(idx, skip_if_fresh=True) is False, name
        assert tree(idx) == files, name

        with monkeypatch.context() as mp:
            mp.setattr(fsio, "create_exclusive", lambda *a, **k: False)
            with pytest.raises(fsio.ConcurrentIndexMutation):
                save(idx)
        assert fsio.load_index_manifest(idx, name) == live, name
        assert tree(idx) == files, name

        write = fsio._write_index_tables

        def write_then_rebuild(*args):
            write(*args)
            monkeypatch.setattr(fsio, "_write_index_tables", write)
            save(idx)  # a rebuild swaps generations mid-append

        monkeypatch.setattr(fsio, "_write_index_tables", write_then_rebuild)
        with pytest.raises(fsio.ConcurrentIndexMutation, match="rebuilt"):
            update(idx)
        monkeypatch.setattr(fsio, "_write_index_tables", write)


def test_index_lifecycle_has_one_owner():
    """The generation lifecycle lives in fsio.py: no other package module
    calls its primitives, so no family keeps a hand-written copy."""
    import ast
    import pathlib

    import minivectordb_spark

    primitives = {
        "new_gen_dir",
        "publish_index_manifest",
        "sweep_index_generations",
        "begin_index_append",
        "end_index_append",
    }
    pkg = pathlib.Path(minivectordb_spark.__file__).parent
    owner = pkg / "fsio.py"
    callers = sorted(
        f"{p.relative_to(pkg)}:{node.lineno}"
        for p in pkg.rglob("*.py")
        if p != owner
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Call)
        and getattr(node.func, "attr", getattr(node.func, "id", None)) in primitives
    )
    assert callers == []


def test_table_file_io_goes_through_fsio():
    """durable.py reaches files only through fsio (no os, shutil or
    open), and only fsio.py names the version log's directory or the
    pre-log version pointer."""
    import ast
    import pathlib

    import minivectordb_spark

    pkg = pathlib.Path(minivectordb_spark.__file__).parent
    durable = list(ast.walk(ast.parse((pkg / "durable.py").read_text())))
    imported = {a.name.split(".")[0] for n in durable if isinstance(n, ast.Import) for a in n.names}
    imported |= {n.module.split(".")[0] for n in durable if isinstance(n, ast.ImportFrom) and n.module}
    assert not imported & {"os", "shutil"}
    assert not [
        n.lineno
        for n in durable
        if isinstance(n, ast.Call) and getattr(n.func, "attr", getattr(n.func, "id", None)) == "open"
    ]
    spelled = sorted(
        f"{p.relative_to(pkg)}:{node.lineno}"
        for p in pkg.rglob("*.py")
        if p != pkg / "fsio.py"
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Constant) and node.value in ("_manifest", "_latest")
    )
    assert spelled == []
