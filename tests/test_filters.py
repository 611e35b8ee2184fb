"""Filter-DSL semantics acceptance suite.

Ports the reference's operator test matrix
(tests/test_mongolike_operators.py, tests/test_vector_database.py filter
cases) per FIXTURES.md F2-F5, against the VectorTable typed-map resolver.
Expected counts are EXACT (SURVEY.md §2.2).
"""

import datetime as dt

import pytest

from minivectordb_spark.table import VectorTable


def _vec(i, d=4):
    return [float((i * 31 + j * 7) % 13) + 0.1 for j in range(d)]


@pytest.fixture(scope="module")
def ops_table(spark):
    """FIXTURES.md F3: 250 bulk rows (num_filter only) + 10 rows
    {value:10, date:2021-01-01} + 10 rows {value:20, date:2022-01-01}."""
    ids, embs, mds = [], [], []
    for i in range(250):
        ids.append(f"bulk_{i}")
        embs.append(_vec(i))
        mds.append({"num_filter": f"test_{(i % 4) + 1}"})
    for i in range(10):
        ids.append(f"v10_{i}")
        embs.append(_vec(300 + i))
        mds.append({"value": 10, "date": dt.datetime(2021, 1, 1), "num_filter": "test_10"})
    for i in range(10):
        ids.append(f"v20_{i}")
        embs.append(_vec(400 + i))
        mds.append({"value": 20, "date": dt.datetime(2022, 1, 1), "num_filter": "test_20"})
    return VectorTable.empty(spark).store_embeddings_batch(ids, embs, mds)


Q = [1.0, 2.0, 3.0, 4.0]


def _count(paths, table, **kw):
    ids, scores, metas = paths.same(lambda: table.find_most_similar(Q, k=999, **kw))
    assert len(ids) == len(scores) == len(metas)
    return len(ids)


# ---- F3 typed-operator matrix (tests/test_mongolike_operators.py:42-162) ----

def test_eq_value(ops_table, snapshot_paths):
    assert _count(snapshot_paths, ops_table, metadata_filter={"value": 10}) == 10


def test_gte_10(ops_table, snapshot_paths):
    assert _count(snapshot_paths, ops_table, metadata_filter={"value": {"$gte": 10}}) == 20


def test_gte_20(ops_table, snapshot_paths):
    assert _count(snapshot_paths, ops_table, metadata_filter={"value": {"$gte": 20}}) == 10


def test_lt_20(ops_table, snapshot_paths):
    assert _count(snapshot_paths, ops_table, metadata_filter={"value": {"$lt": 20}}) == 10


def test_lte_10(ops_table, snapshot_paths):
    assert _count(snapshot_paths, ops_table, metadata_filter={"value": {"$lte": 10}}) == 10


def test_ne_presence_gating(ops_table, snapshot_paths):
    # KEY SEMANTIC: only rows that HAVE `value` and != 10 — the 250 keyless
    # bulk rows never match (reference inverted-index gating,
    # vector_database.py:260; tests/test_mongolike_operators.py:83-89)
    assert _count(snapshot_paths, ops_table, metadata_filter={"value": {"$ne": 10}}) == 10


def test_date_gte(ops_table, snapshot_paths):
    assert _count(snapshot_paths, ops_table, metadata_filter={"date": {"$gte": dt.datetime(2021, 1, 1)}}) == 20


def test_date_lt(ops_table, snapshot_paths):
    assert _count(snapshot_paths, ops_table, metadata_filter={"date": {"$lt": dt.datetime(2022, 1, 1)}}) == 10


def test_and_across_keys(ops_table, snapshot_paths):
    n = _count(
        snapshot_paths,
        ops_table,
        metadata_filter={"value": {"$gt": 15}, "date": {"$gt": dt.datetime(2021, 5, 5)}},
    )
    assert n == 10


def test_or_two_dicts(ops_table, snapshot_paths):
    n = _count(
        snapshot_paths,
        ops_table,
        or_filters=[
            {"value": {"$gte": 10}},
            {"date": {"$lte": dt.datetime(2022, 1, 1)}},
        ],
    )
    assert n == 20


def test_two_ops_one_dict_conjunctive(ops_table, snapshot_paths):
    # documented strict-superset semantics: BOTH ops evaluated
    # (reference evaluates only $gte — same count on this data,
    # tests/test_mongolike_operators.py:129-137)
    n = _count(
        snapshot_paths,
        ops_table,
        metadata_filter={
            "date": {"$gte": dt.datetime(2021, 1, 1), "$lte": dt.datetime(2022, 1, 1)}
        },
    )
    assert n == 20


def test_and_list_range(ops_table, snapshot_paths):
    n = _count(
        snapshot_paths,
        ops_table,
        metadata_filter=[
            {"date": {"$gte": dt.datetime(2021, 1, 1)}},
            {"date": {"$lt": dt.datetime(2022, 1, 1)}},
        ],
    )
    assert n == 10


def test_or_of_range_dicts(ops_table, snapshot_paths):
    n = _count(
        snapshot_paths,
        ops_table,
        or_filters=[
            {"date": {"$gte": dt.datetime(2021, 1, 1)}},
            {"date": {"$lt": dt.datetime(2022, 1, 1)}},
        ],
    )
    assert n == 20


def test_invalid_operator_raises(ops_table, snapshot_paths):
    with pytest.raises(ValueError, match="Invalid operator"):
        _count(snapshot_paths, ops_table, metadata_filter={"value": {"$invalid": 10}})
    with pytest.raises(ValueError, match="Invalid operator"):
        _count(snapshot_paths, ops_table, or_filters=[{"value": {"$invalid": 10}}])


def test_and_or_disjoint_empty(ops_table, snapshot_paths):
    # AND {value:2} ∩ OR {value:1} = ∅ (tests/test_mongolike_operators.py:233-248)
    assert (
        _count(snapshot_paths, ops_table, metadata_filter={"value": 2}, or_filters=[{"value": 1}]) == 0
    )


# ---- F2: selectivity / exact-count distribution ----

@pytest.fixture(scope="module")
def sel_table(spark):
    ids, embs, mds = [], [], []
    for i in range(250):
        ids.append(f"b{i}")
        embs.append(_vec(i, 8))
        mds.append({"num_filter": f"test_{(i % 4) + 1}"})
    for i in range(5):
        ids.append(f"rare{i}")
        embs.append(_vec(500 + i, 8))
        mds.append({"num_filter": "test_99", "type": "test"})
    ids.append("singleton")
    embs.append(_vec(990, 8))
    mds.append({"num_filter": "test_101", "type": "test"})
    return VectorTable.empty(spark).store_embeddings_batch(ids, embs, mds)


Q8 = [1.0] * 8


def test_k_clamping_exact(sel_table, snapshot_paths):
    ids, _, _ = snapshot_paths.same(lambda: sel_table.find_most_similar(Q8, metadata_filter={"num_filter": "test_99"}, k=2))
    assert len(ids) == 2
    ids, _, _ = snapshot_paths.same(lambda: sel_table.find_most_similar(Q8, metadata_filter={"num_filter": "test_99"}, k=500))
    assert len(ids) == 5  # never padded (vector_database.py:489)


def test_or_union_count(sel_table, snapshot_paths):
    ids, _, _ = snapshot_paths.same(lambda: sel_table.find_most_similar(
        Q8,
        or_filters=[
            {"num_filter": "test_99"},
            {"num_filter": "test_10"},
            {"num_filter": "test_20"},
        ],
        k=10,
    ))
    assert len(ids) == 5


def test_and_intersect_or(sel_table, snapshot_paths):
    ids, _, _ = snapshot_paths.same(lambda: sel_table.find_most_similar(
        Q8,
        metadata_filter={"type": "test"},
        or_filters=[
            {"num_filter": "test_99"},
            {"num_filter": "test_10"},
            {"num_filter": "test_20"},
        ],
        k=500,
    ))
    assert len(ids) == 5


def test_and_or_singleton_dict_form(sel_table, snapshot_paths):
    ids, _, _ = snapshot_paths.same(lambda: sel_table.find_most_similar(
        Q8, metadata_filter={"type": "test"}, or_filters={"num_filter": "test_101"}, k=10
    ))
    assert ids == ["singleton"]


# ---- F4: $in membership ----

@pytest.fixture(scope="module")
def in_table(spark):
    return VectorTable.empty(spark).store_embeddings_batch(
        ["u1", "u2"],
        [[0.1, 0.2], [0.3, 0.4]],
        [{"custom_list": ["a", "b", "c"]}, {"custom_list": ["d", "e", "f"]}],
    )


def test_in_membership(in_table, snapshot_paths):
    ids, _, _ = snapshot_paths.same(lambda: in_table.find_most_similar(
        [1.0, 1.0], metadata_filter={"custom_list": {"$in": "a"}}, k=10
    ))
    assert ids == ["u1"]
    ids, _, _ = snapshot_paths.same(lambda: in_table.find_most_similar(
        [1.0, 1.0], metadata_filter={"custom_list": {"$in": "d"}}, k=10
    ))
    assert ids == ["u2"]


def test_in_or_union(in_table, snapshot_paths):
    ids, _, _ = snapshot_paths.same(lambda: in_table.find_most_similar(
        [1.0, 1.0],
        or_filters=[
            {"custom_list": {"$in": "a"}},
            {"custom_list": {"$in": "d"}},
        ],
        k=10,
    ))
    assert sorted(ids) == ["u1", "u2"]


# ---- F5: exclude semantics ----

@pytest.fixture(scope="module")
def excl_table(spark):
    return VectorTable.empty(spark).store_embeddings_batch(
        ["1", "2", "3"],
        [[0.1, 0.9], [0.9, 0.1], [0.5, 0.5]],
        [
            {"type": "abc", "id": 1},
            {"type": "xyz", "id": "2"},
            {"type": "other", "id": 555},
        ],
    )


def test_and_plus_exclude(excl_table, snapshot_paths):
    ids, _, _ = snapshot_paths.same(lambda: excl_table.find_most_similar(
        [1.0, 1.0], metadata_filter={"type": "abc"}, exclude_filter={"id": "2"}, k=10
    ))
    assert ids == ["1"]


def test_exclude_list_of_two(excl_table, snapshot_paths):
    ids, _, _ = snapshot_paths.same(lambda: excl_table.find_most_similar(
        [1.0, 1.0], exclude_filter=[{"id": 1}, {"id": "2"}], k=10
    ))
    assert ids == ["3"]


def test_exclude_accumulate_drains(excl_table, snapshot_paths):
    # iterative exclude loop drains all rows (tests/test_vector_database.py:69-97)
    excluded = []
    seen = []
    for _ in range(3):
        ids, _, metas = snapshot_paths.same(lambda: excl_table.find_most_similar(
            [1.0, 1.0], exclude_filter=[{"id": v} for v in excluded], k=1
        ))
        assert len(ids) == 1
        seen.append(ids[0])
        excluded.append(metas[0]["id"])
    assert sorted(seen) == ["1", "2", "3"]
    ids, _, _ = snapshot_paths.same(lambda: excl_table.find_most_similar(
        [1.0, 1.0], exclude_filter=[{"id": v} for v in excluded], k=1
    ))
    assert ids == []


def test_one_exclude_dict_two_keys_unions(spark, snapshot_paths):
    # one exclude dict with two keys removes rows matching EITHER key
    # (tests/test_vector_database.py:99-117)
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["a", "b"],
        [[0.1, 0.9], [0.9, 0.1]],
        [{"type": "abc"}, {"kind": "other"}],
    )
    ids, _, _ = snapshot_paths.same(lambda: t.find_most_similar(
        [1.0, 1.0], exclude_filter={"kind": "other", "type": "abc"}, k=10
    ))
    assert ids == []


def test_multikey_and(spark, snapshot_paths):
    # {type:abc, category:first} -> exactly id '1' (tests/test_vector_database.py:132-147)
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["1", "2", "3", "4"],
        [[0.1, 0.9], [0.9, 0.1], [0.5, 0.5], [0.2, 0.8]],
        [
            {"type": "abc", "category": "first"},
            {"type": "abc", "category": "second"},
            {"type": "xyz", "category": "first"},
            {"type": "xyz", "category": "second"},
        ],
    )
    ids, _, _ = snapshot_paths.same(lambda: t.find_most_similar([1.0, 1.0], metadata_filter={"type": "abc", "category": "first"}, k=10))
    assert ids == ["1"]


def test_exclude_operator_dict_never_matches(excl_table, snapshot_paths):
    # equality-only exclude: an operator-dict exclude is a no-op
    # (vector_database.py:320-352 compares dict == scalar -> False)
    ids, _, _ = snapshot_paths.same(lambda: excl_table.find_most_similar(
        [1.0, 1.0], exclude_filter={"id": {"$gte": 0}}, k=10
    ))
    assert len(ids) == 3


# ---- JsonResolver / CompositeResolver edge cases ----

def test_json_resolver_edges(spark):
    from minivectordb_spark.filters import JsonResolver, compile_filters

    df = spark.createDataFrame(
        [
            (1, '{"k": 10, "name": "a"}'),
            (2, '{"k": "not_a_number"}'),
            (3, '{"other": 1}'),
            (4, "not json at all"),
            (5, None),
        ],
        ["id", "props"],
    )
    r = JsonResolver("props")
    ids = lambda pred: sorted(
        x["id"] for x in df.filter(pred).select("id").collect()
    )
    # numeric comparison: malformed value / missing key / null json never match
    assert ids(compile_filters({"k": {"$gte": 5}}, resolver=r)) == [1]
    # $ne with presence gating: row 2 has k but try_cast fails -> treated absent
    assert ids(compile_filters({"k": {"$ne": 99}}, resolver=r)) == [1]
    # string equality on a different key
    assert ids(compile_filters({"name": "a"}, resolver=r)) == [1]
    # exclude on json key: only matching rows removed, null-json rows kept
    assert ids(compile_filters(exclude_filter={"k": 10.0}, resolver=r)) == [2, 3, 4, 5]


def test_composite_resolver_routing(spark):
    from minivectordb_spark.filters import (
        ColumnResolver,
        CompositeResolver,
        JsonResolver,
        compile_filters,
    )

    df = spark.createDataFrame(
        [(1, "x", '{"k": 5}'), (2, "y", '{"k": 50}')], ["id", "cat", "props"]
    )
    res = CompositeResolver({"k": JsonResolver("props")}, ColumnResolver())
    out = df.filter(
        compile_filters({"cat": "y", "k": {"$gt": 10}}, resolver=res)
    ).collect()
    assert [r["id"] for r in out] == [2]
