"""VectorTable mutation / durability / lookup contracts (FIXTURES.md F7;
reference tests/test_vector_database.py:177-380, :505-547,
tests/test_sharded_vector_database.py:613-693)."""

import math

import pytest

from minivectordb_spark.table import VectorTable


def test_store_and_count(spark):
    t = VectorTable.empty(spark).store_embeddings_batch(
        [1, 2, 3], [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]], [{"a": "x"}, {}, {}]
    )
    assert t.count() == 3


def test_duplicate_id_raises(spark):
    t = VectorTable.empty(spark).store_embedding("x", [1.0, 2.0])
    with pytest.raises(ValueError, match="already exists"):
        t.store_embedding("x", [3.0, 4.0])


def test_batch_duplicate_vs_existing_raises(spark):
    t = VectorTable.empty(spark).store_embedding("x", [1.0, 2.0])
    with pytest.raises(ValueError, match="already exists"):
        t.store_embeddings_batch(["y", "x"], [[1.0, 1.0], [2.0, 2.0]])


def test_batch_in_batch_duplicate_raises(spark):
    with pytest.raises(ValueError, match="already exists"):
        VectorTable.empty(spark).store_embeddings_batch(["a", "a"], [[1.0], [2.0]])


def test_metadata_length_contract(spark):
    # 0 < |metadata| < |ids| raises (vector_database.py:98-99)
    with pytest.raises(ValueError, match="Metadata"):
        VectorTable.empty(spark).store_embeddings_batch(
            ["a", "b"], [[1.0], [2.0]], [{"k": "v"}]
        )


def test_dim_mismatch_raises(spark):
    t = VectorTable.empty(spark).store_embedding("a", [1.0, 2.0])
    with pytest.raises(ValueError, match="dimension"):
        t.store_embedding("b", [1.0, 2.0, 3.0])


def test_delete_missing_raises(spark):
    t = VectorTable.empty(spark).store_embedding("a", [1.0, 2.0])
    with pytest.raises(ValueError, match="does not exist"):
        t.delete_embedding("nope")


def test_delete_batch_contracts(spark):
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b", "c"], [[1.0], [2.0], [3.0]]
    )
    with pytest.raises(ValueError):
        t.delete_embeddings_batch(None)
    with pytest.raises(ValueError):
        t.delete_embeddings_batch([])
    with pytest.raises(ValueError, match="does not exist"):
        t.delete_embeddings_batch(["a", "zzz"])
    # scalar accepted (sharded_vector_database.py:206-241)
    assert t.delete_embeddings_batch("a").count() == 2
    assert t.delete_embeddings_batch(["a", "c"]).count() == 1


def test_delete_then_filter_finds_nothing(spark, snapshot_paths):
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b"], [[1.0, 0.0], [0.0, 1.0]], [{"type": "t1"}, {"type": "t2"}]
    )
    t2 = t.delete_embedding("a")
    ids, _, _ = snapshot_paths.same(lambda: t2.find_most_similar([1.0, 1.0], metadata_filter={"type": "t1"}, k=5))
    assert ids == []


def test_get_vector_roundtrip_raw_not_normalized(spark, snapshot_paths):
    # get_vector returns the RAW stored vector — reference quirk §2.1
    # (in-place faiss.normalize_L2 mutation) deliberately not replicated
    t = VectorTable.empty(spark).store_embedding("a", [3.0, 4.0])
    snapshot_paths.same(lambda: t.find_most_similar([1.0, 0.0], k=1))  # a search must not mutate storage
    v = t.get_vector("a")
    assert v == [3.0, 4.0]
    with pytest.raises(ValueError, match="does not exist"):
        t.get_vector("missing")


def test_persist_roundtrip(spark, tmp_path, snapshot_paths):
    path = str(tmp_path / "vt.parquet")
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b", "c"],
        [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]],
        [{"type": "x"}, {"type": "y"}, {"type": "x"}],
    )
    t.save(path, max_records_per_file=2)
    t2 = VectorTable.load(spark, path)
    assert t2.count() == 3
    ids, _, _ = snapshot_paths.same(lambda: t2.find_most_similar([1.0, 0.5], metadata_filter={"type": "x"}, k=10))
    assert sorted(ids) == ["a", "c"]


def test_mixed_workload_count_invariant(spark):
    # batch analogue of the thread stress (tests/test_multithreaded_operations.py:59-62)
    t = VectorTable.empty(spark).store_embeddings_batch(
        [f"i{j}" for j in range(200)], [[float(j), 1.0] for j in range(200)]
    )
    t = t.store_embeddings_batch([f"x{j}" for j in range(50)], [[1.0, float(j)] for j in range(50)])
    t = t.delete_embeddings_batch([f"i{j}" for j in range(70)])
    assert t.count() == 180


def test_search_scores_sorted_desc_and_cosine_exact(spark, snapshot_paths):
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b", "c"], [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]
    )
    ids, scores, _ = snapshot_paths.same(lambda: t.find_most_similar([1.0, 0.0], k=3))
    assert ids[0] == "a"
    assert scores == sorted(scores, reverse=True)
    assert scores[0] == pytest.approx(1.0)
    assert scores[1] == pytest.approx(1.0 / math.sqrt(2.0))
    assert scores[2] == pytest.approx(0.0)


def test_empty_table_search(spark, snapshot_paths):
    assert snapshot_paths.same(lambda: VectorTable.empty(spark).find_most_similar([1.0, 2.0], k=5)) == ([], [], [])


def test_distances_variant(spark, snapshot_paths):
    # usearch-variant contract: distances = 1 - sim, ascending
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b", "c"], [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]
    )
    ids, dists, _ = snapshot_paths.same(lambda: t.find_most_similar([1.0, 0.0], k=3, distances=True))
    assert ids[0] == "a"
    assert dists == sorted(dists)
    assert dists[0] == pytest.approx(0.0)
    # autocut with distances: an exact match (distance 0) followed by any
    # nonzero distance is an infinite relative rise -> tail cut
    t2 = VectorTable.empty(spark).store_embeddings_batch(
        ["t", "u", "v"], [[1.0, 0.0], [0.99, 0.141], [0.5, 0.866]]
    )
    ids2, d2, _ = snapshot_paths.same(lambda: t2.find_most_similar([1.0, 0.0], k=3, distances=True, autocut=True))
    assert ids2 == ["t"]


def test_null_numeric_metadata_reads_as_none(spark, snapshot_paths):
    """A NULL in a numeric metadata column comes back as ``None`` for
    that key, on both search paths."""
    df = spark.createDataFrame(
        [("a", [1.0, 0.0], 3), ("b", [0.0, 1.0], None)],
        "id string, embedding array<double>, n long",
    )
    t = VectorTable.from_dataframe(df, meta_cols=["n"])
    ids, _, metas = snapshot_paths.same(lambda: t.find_most_similar([1.0, 0.0], k=2))
    assert ids == ["a", "b"] and metas == [{"n": 3}, {"n": None}]


def test_from_dataframe_bulk_ingest(spark, sf_dir, snapshot_paths):
    import datetime as dt
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    from minivectordb_spark.embedder import embed_column

    src = embed_column(docs, "text").withColumn(
        "flagged", F.col("n_chars") > 200
    )
    t = VectorTable.from_dataframe(
        src, id_col="doc_id", emb_col="embedding",
        meta_cols=["lang", "n_chars", "flagged"],
    )
    assert t.count() == 100
    assert t.dim == 64
    # typed-map routing: string / numeric / boolean keys all filterable
    q = t.get_vector(t.df.select("id").orderBy("id").limit(1).collect()[0]["id"])
    ids, scores, metas = snapshot_paths.same(lambda: t.find_most_similar(
        q, metadata_filter={"n_chars": {"$gte": 200}, "flagged": True}, k=5,
    ))
    assert len(ids) > 0
    assert all(m["n_chars"] >= 200 and m["flagged"] is True for m in metas)
    # norm column correct
    row = t.df.select("norm", "embedding").limit(1).collect()[0]
    import math
    assert row["norm"] == pytest.approx(
        math.sqrt(sum(x * x for x in row["embedding"])), rel=1e-6
    )


def test_from_dataframe_validation(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (1, [3.0, 4.0])], ["id", "embedding"]
    )
    with pytest.raises(ValueError, match="already exists"):
        VectorTable.from_dataframe(df)
    df2 = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0, 5.0])], ["id", "embedding"]
    )
    with pytest.raises(ValueError, match="dimension"):
        VectorTable.from_dataframe(df2)


def test_find_most_similar_batch(spark, snapshot_paths):
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b", "c", "d"],
        [[1.0, 0.0], [0.0, 1.0], [0.9, 0.1], [0.1, 0.9]],
        [{"g": "x"}, {"g": "x"}, {"g": "y"}, {"g": "y"}],
    )
    res = snapshot_paths.same(lambda: t.find_most_similar_batch([[1.0, 0.0], [0.0, 1.0]], k=2))
    assert len(res) == 2
    assert res[0][0][0] == "a" and res[1][0][0] == "b"
    # filtered batch
    res2 = snapshot_paths.same(lambda: t.find_most_similar_batch([[1.0, 0.0]], metadata_filter={"g": "y"}, k=4))
    assert res2[0][0] == ["c", "d"]
    # single search agrees with batch
    ids_single, sc_single, _ = snapshot_paths.same(lambda: t.find_most_similar([1.0, 0.0], k=2))
    assert res[0][0] == ids_single


def test_save_cluster_by_roundtrip(spark, tmp_path, snapshot_paths):
    path = str(tmp_path / "clustered")
    t = VectorTable.empty(spark).store_embeddings_batch(
        [f"r{i}" for i in range(40)],
        [[float(i), 1.0] for i in range(40)],
        [{"type": f"t{i % 4}"} for i in range(40)],
    )
    t.save(path, cluster_by=["meta_str['type']"], max_records_per_file=10)
    t2 = VectorTable.load(spark, path)
    assert t2.count() == 40
    ids, _, _ = snapshot_paths.same(lambda: t2.find_most_similar([1.0, 0.0], metadata_filter={"type": "t2"}, k=50))
    assert len(ids) == 10


def _jobs_in(spark, group, fn):
    """Run ``fn`` under its own job group; return (result, Spark jobs run)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_durable_open_and_search_job_counts(spark, tmp_path, snapshot_paths):
    """Opening a durable table runs no Spark job, a search runs exactly
    one (the top-k collect), and ``dim`` is probed once, on first read."""
    snapshot_paths.force("distributed")
    root = str(tmp_path / "jobs")
    VectorTable.empty(spark).store_embeddings_batch(
        [f"id{i}" for i in range(12)], [[float(i), 1.0] for i in range(12)]
    ).save_durable(root, n_buckets=4)
    vt, n_open = _jobs_in(spark, "vt-open", lambda: VectorTable.load_durable(spark, root))
    assert n_open == 0
    (ids, _, _), n_search = _jobs_in(spark, "vt-search", lambda: vt.find_most_similar([1.0, 0.0], k=3))
    assert n_search == 1 and ids == ["id11", "id10", "id9"]
    dim, n_dim = _jobs_in(spark, "vt-dim", lambda: (vt.dim, vt.dim))
    assert dim == (2, 2) and n_dim == 1


def test_empty_results_without_probe(spark, snapshot_paths):
    """No emptiness probe runs before a search: an empty table and a
    filter that matches nothing both come back as empty triples."""
    empty = VectorTable.empty(spark)
    assert snapshot_paths.same(lambda: empty.find_most_similar([1.0, 0.0], k=3)) == ([], [], [])
    assert snapshot_paths.same(lambda: empty.find_most_similar_batch([[1.0, 0.0], [0.0, 1.0]], k=3)) == [([], [], [])] * 2
    t = empty.store_embeddings_batch(["a", "b"], [[1.0, 0.0], [0.0, 1.0]], [{"g": "x"}, {"g": "x"}])
    assert t.count() == 2
    none = {"g": "nope"}
    assert snapshot_paths.same(lambda: t.find_most_similar([1.0, 0.0], metadata_filter=none, k=3)) == ([], [], [])
    assert snapshot_paths.same(
        lambda: t.find_most_similar_batch([[1.0, 0.0]] * 3, metadata_filter=none, k=3)
    ) == [([], [], [])] * 3
    with pytest.raises(ValueError, match="already exists"):
        empty.store_embeddings_batch(["c", "c"], [[1.0, 0.0], [0.0, 1.0]])


# ---------------- small-snapshot gate: both paths ----------------


def test_batch_and_single_search_score_alike(spark, snapshot_paths):
    """``find_most_similar_batch([q])[0] == find_most_similar(q)`` bit for
    bit on both paths, ties included (duplicate vectors), for query
    components that stress the fold: -0.0, subnormals, the largest
    finite double, NaN and +/-inf."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim = 16
    vecs = rng.standard_normal((12, dim)).astype(np.float32)
    vecs[5] = vecs[2]  # exact ties, broken by id
    vecs[9] = vecs[2]
    t = VectorTable.empty(spark).store_embeddings_batch(
        [f"r{i:02d}" for i in range(12)], [v.tolist() for v in vecs], [{"g": i % 3} for i in range(12)]
    )
    base = [float(x) for x in rng.standard_normal(dim)]
    base[1], base[2], base[3] = -0.0, 5e-324, -5e-324
    queries = [base, [float(x) for x in vecs[2]]]
    for special in (1.7976931348623157e308, float("nan"), float("inf"), float("-inf")):
        q = list(base)
        q[dim // 2] = special
        queries.append(q)
    f = {"g": {"$ne": 1}}
    batch, singles = snapshot_paths.same(
        lambda: (
            t.find_most_similar_batch(queries, metadata_filter=f, k=6),
            [t.find_most_similar(q, metadata_filter=f, k=6) for q in queries],
        )
    )
    assert snapshot_paths.bits(batch) == snapshot_paths.bits(singles)
    assert singles[1][0][:3] == ["r02", "r05", "r09"]


def test_wrong_length_query_raises_value_error(spark, snapshot_paths):
    """A query of the wrong length raises ``ValueError`` on both paths,
    single and batch; a filter that leaves no rows still returns empty
    triples."""
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b"], [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]], [{"g": "x"}, {"g": "x"}]
    )
    for call in (
        lambda: t.find_most_similar([1.0, 0.0], k=2),
        lambda: t.find_most_similar([1.0, 0.0, 0.0, 1.0], k=2),
        lambda: t.find_most_similar_batch([[1.0, 0.0, 0.0], [1.0]], k=2),
    ):
        with pytest.raises(ValueError, match="dimension"):
            snapshot_paths.same(call)
    none = {"g": "nope"}
    assert snapshot_paths.same(lambda: t.find_most_similar([1.0], metadata_filter=none)) == ([], [], [])
    assert snapshot_paths.same(lambda: t.find_most_similar_batch([[1.0]], metadata_filter=none)) == [([], [], [])]


@pytest.fixture
def durable_small(spark, tmp_path):
    root = str(tmp_path / "snap")
    VectorTable.empty(spark).store_embeddings_batch(
        [f"id{i}" for i in range(12)], [[float(i), 1.0] for i in range(12)],
        [{"g": "even" if i % 2 == 0 else "odd"} for i in range(12)],
    ).save_durable(root, n_buckets=4)
    return root


def test_snapshot_search_job_counts(spark, monkeypatch, durable_small):
    """Under the budget, the first search of a snapshot runs one Spark
    job (the Arrow collect); every later single or batch search of that
    object runs none and costs fewer than 10 py4j round trips.  The gate
    is inclusive: a budget one byte under the estimate runs the
    distributed search."""
    from test_search import _py4j_calls

    from minivectordb_spark.operators import util
    from minivectordb_spark.table import _SEARCH_COLS

    vt = VectorTable.load_durable(spark, durable_small)
    size = util.plan_size_bytes(vt.df.select(*_SEARCH_COLS))
    assert size is not None and size <= util.SMALL_SNAPSHOT_MAX_BYTES
    (ids, _, _), n_first = _jobs_in(spark, "snap-first", lambda: vt.find_most_similar([1.0, 0.0], k=3))
    assert n_first == 1 and ids == ["id11", "id10", "id9"]
    f = {"metadata_filter": {"g": "even"}}
    (ids, _, _), n_later = _jobs_in(spark, "snap-later", lambda: vt.find_most_similar([1.0, 0.0], k=3, **f))
    assert n_later == 0 and ids == ["id10", "id8", "id6"]
    res, n_batch = _jobs_in(spark, "snap-batch", lambda: vt.find_most_similar_batch([[1.0, 0.0], [0.0, 1.0]], k=2))
    assert n_batch == 0 and [r[0] for r in res] == [["id11", "id10"], ["id0", "id1"]]
    assert _py4j_calls(spark, monkeypatch, lambda: vt.find_most_similar([1.0, 0.0], k=3, **f)) < 10
    assert _py4j_calls(spark, monkeypatch, lambda: vt.find_most_similar_batch([[1.0, 0.0]] * 4, k=3)) < 10
    monkeypatch.setattr(util, "SMALL_SNAPSHOT_MAX_BYTES", size - 1)
    fresh = VectorTable.load_durable(spark, durable_small)
    (ids, _, _), n_dist = _jobs_in(spark, "snap-dist", lambda: fresh.find_most_similar([1.0, 0.0], k=3))
    assert n_dist == 1 and ids == ["id11", "id10", "id9"] and fresh._snap[2] is None


def test_concurrent_first_searches_collect_once(spark, monkeypatch, durable_small):
    """Four threads searching one fresh snapshot get identical results
    from one collect."""
    from concurrent.futures import ThreadPoolExecutor

    from minivectordb_spark import table as table_mod

    collects = []
    real = table_mod._Snapshot.collect.__func__

    def counting(cls, df):
        collects.append(1)
        return real(cls, df)

    monkeypatch.setattr(table_mod._Snapshot, "collect", classmethod(counting))
    vt = VectorTable.load_durable(spark, durable_small)
    with ThreadPoolExecutor(max_workers=4) as pool:
        results = list(pool.map(lambda _: vt.find_most_similar([1.0, 0.5], k=5), range(4)))
    assert len(collects) == 1
    assert all(r == results[0] for r in results) and len(results[0][0]) == 5


@pytest.fixture
def new_york_tz(monkeypatch):
    import time

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_metadata_and_time_filters_equal_across_paths_non_utc(spark, new_york_tz, snapshot_paths):
    """Returned metadata (timestamps as naive local datetimes, integral
    numbers as ints, lists, bools) and datetime / date filters agree
    between the paths when the driver's time zone is not UTC."""
    import datetime as dt

    mds = [
        {"when": dt.datetime(2021, 3, 14, 1, 30, 5, 123456), "day": dt.date(2021, 1, 1), "n": 3, "x": 2.5,
         "ok": True, "tags": ["a", "b"], "s": "é"},
        {"when": dt.datetime(2021, 11, 7, 1, 30), "n": float("nan"), "ok": False, "tags": []},
        {"s": "plain"},
        {},
    ]
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b", "c", "d"], [[1.0, 0.0], [0.9, 0.1], [0.5, 0.5], [0.0, 1.0]], mds
    )
    ids, _, metas = snapshot_paths.same(lambda: t.find_most_similar([1.0, 0.0], k=4))
    assert metas[ids.index("a")] == mds[0] | {"day": dt.datetime(2021, 1, 1)}
    for f in (
        {"when": {"$gte": dt.datetime(2021, 3, 14, 1, 30, 5, 123456)}},
        {"when": {"$gt": dt.date(2021, 3, 14)}},
        {"day": dt.date(2021, 1, 1)},
        {"n": {"$gt": 100}},
    ):
        snapshot_paths.same(lambda: t.find_most_similar([1.0, 0.0], k=4, metadata_filter=f))
