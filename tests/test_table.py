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


def test_delete_then_filter_finds_nothing(spark):
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b"], [[1.0, 0.0], [0.0, 1.0]], [{"type": "t1"}, {"type": "t2"}]
    )
    t2 = t.delete_embedding("a")
    ids, _, _ = t2.find_most_similar([1.0, 1.0], metadata_filter={"type": "t1"}, k=5)
    assert ids == []


def test_get_vector_roundtrip_raw_not_normalized(spark):
    # get_vector returns the RAW stored vector — reference quirk §2.1
    # (in-place faiss.normalize_L2 mutation) deliberately not replicated
    t = VectorTable.empty(spark).store_embedding("a", [3.0, 4.0])
    t.find_most_similar([1.0, 0.0], k=1)  # a search must not mutate storage
    v = t.get_vector("a")
    assert v == [3.0, 4.0]
    with pytest.raises(ValueError, match="does not exist"):
        t.get_vector("missing")


def test_persist_roundtrip(spark, tmp_path):
    path = str(tmp_path / "vt.parquet")
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b", "c"],
        [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]],
        [{"type": "x"}, {"type": "y"}, {"type": "x"}],
    )
    t.save(path, max_records_per_file=2)
    t2 = VectorTable.load(spark, path)
    assert t2.count() == 3
    ids, _, _ = t2.find_most_similar([1.0, 0.5], metadata_filter={"type": "x"}, k=10)
    assert sorted(ids) == ["a", "c"]


def test_mixed_workload_count_invariant(spark):
    # batch analogue of the thread stress (tests/test_multithreaded_operations.py:59-62)
    t = VectorTable.empty(spark).store_embeddings_batch(
        [f"i{j}" for j in range(200)], [[float(j), 1.0] for j in range(200)]
    )
    t = t.store_embeddings_batch([f"x{j}" for j in range(50)], [[1.0, float(j)] for j in range(50)])
    t = t.delete_embeddings_batch([f"i{j}" for j in range(70)])
    assert t.count() == 180


def test_search_scores_sorted_desc_and_cosine_exact(spark):
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b", "c"], [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]
    )
    ids, scores, _ = t.find_most_similar([1.0, 0.0], k=3)
    assert ids[0] == "a"
    assert scores == sorted(scores, reverse=True)
    assert scores[0] == pytest.approx(1.0)
    assert scores[1] == pytest.approx(1.0 / math.sqrt(2.0))
    assert scores[2] == pytest.approx(0.0)


def test_empty_table_search(spark):
    assert VectorTable.empty(spark).find_most_similar([1.0, 2.0], k=5) == ([], [], [])


def test_distances_variant(spark):
    # usearch-variant contract: distances = 1 - sim, ascending
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b", "c"], [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]
    )
    ids, dists, _ = t.find_most_similar([1.0, 0.0], k=3, distances=True)
    assert ids[0] == "a"
    assert dists == sorted(dists)
    assert dists[0] == pytest.approx(0.0)
    # autocut with distances: an exact match (distance 0) followed by any
    # nonzero distance is an infinite relative rise -> tail cut
    t2 = VectorTable.empty(spark).store_embeddings_batch(
        ["t", "u", "v"], [[1.0, 0.0], [0.99, 0.141], [0.5, 0.866]]
    )
    ids2, d2, _ = t2.find_most_similar([1.0, 0.0], k=3, distances=True, autocut=True)
    assert ids2 == ["t"]


def test_from_dataframe_bulk_ingest(spark, sf_dir):
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
    ids, scores, metas = t.find_most_similar(
        t.get_vector(t.df.select("id").orderBy("id").limit(1).collect()[0]["id"]),
        metadata_filter={"n_chars": {"$gte": 200}, "flagged": True},
        k=5,
    )
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


def test_find_most_similar_batch(spark):
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b", "c", "d"],
        [[1.0, 0.0], [0.0, 1.0], [0.9, 0.1], [0.1, 0.9]],
        [{"g": "x"}, {"g": "x"}, {"g": "y"}, {"g": "y"}],
    )
    res = t.find_most_similar_batch([[1.0, 0.0], [0.0, 1.0]], k=2)
    assert len(res) == 2
    assert res[0][0][0] == "a" and res[1][0][0] == "b"
    # filtered batch
    res2 = t.find_most_similar_batch([[1.0, 0.0]], metadata_filter={"g": "y"}, k=4)
    assert res2[0][0] == ["c", "d"]
    # single search agrees with batch
    ids_single, sc_single, _ = t.find_most_similar([1.0, 0.0], k=2)
    assert res[0][0] == ids_single


def test_save_cluster_by_roundtrip(spark, tmp_path):
    path = str(tmp_path / "clustered")
    t = VectorTable.empty(spark).store_embeddings_batch(
        [f"r{i}" for i in range(40)],
        [[float(i), 1.0] for i in range(40)],
        [{"type": f"t{i % 4}"} for i in range(40)],
    )
    t.save(path, cluster_by=["meta_str['type']"], max_records_per_file=10)
    t2 = VectorTable.load(spark, path)
    assert t2.count() == 40
    ids, _, _ = t2.find_most_similar([1.0, 0.0], metadata_filter={"type": "t2"}, k=50)
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


def test_durable_open_and_search_job_counts(spark, tmp_path):
    """Opening a durable table runs no Spark job, a search runs exactly
    one (the top-k collect), and ``dim`` is probed once, on first read."""
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


def test_empty_results_without_probe(spark):
    """No emptiness probe runs before a search: an empty table and a
    filter that matches nothing both come back as empty triples."""
    empty = VectorTable.empty(spark)
    assert empty.find_most_similar([1.0, 0.0], k=3) == ([], [], [])
    assert empty.find_most_similar_batch([[1.0, 0.0], [0.0, 1.0]], k=3) == [([], [], [])] * 2
    t = empty.store_embeddings_batch(["a", "b"], [[1.0, 0.0], [0.0, 1.0]], [{"g": "x"}, {"g": "x"}])
    assert t.count() == 2
    none = {"g": "nope"}
    assert t.find_most_similar([1.0, 0.0], metadata_filter=none, k=3) == ([], [], [])
    assert t.find_most_similar_batch([[1.0, 0.0]] * 3, metadata_filter=none, k=3) == [([], [], [])] * 3
    with pytest.raises(ValueError, match="already exists"):
        empty.store_embeddings_batch(["c", "c"], [[1.0, 0.0], [0.0, 1.0]])
