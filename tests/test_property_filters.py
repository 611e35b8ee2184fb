"""Property-based filter-semantics test: Hypothesis generates random filter
compositions; both emitters of the parsed filter (the Catalyst predicate
and the Arrow row mask) must agree with an independent pure-Python
evaluator of the reference semantics
(vector_database.py:157-386: presence gating, typed comparisons,
AND-across-keys, OR-within-dict, equality-only exclude, conjunctive
operator dicts)."""

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from minivectordb_spark.filters import TypedMapResolver, arrow_mask, compile_filters, parse_filters
from minivectordb_spark.table import VECTOR_SCHEMA, VectorTable

KEYS = ["alpha", "beta", "gamma"]
NUM_VALUES = [1, 5, 10, 20]
STR_VALUES = ["red", "green", "blue"]
TS_VALUES = [dt.datetime(2021, 1, 1), dt.datetime(2022, 6, 15), dt.datetime(2023, 12, 31)]
LIST_VALUES = [["a", "b"], ["b", "c"], ["x"]]

ROWS = []
_seed = 12345
for i in range(48):
    _seed = (_seed * 1103515245 + 12345) % (1 << 31)
    md = {}
    r = _seed
    for j, key in enumerate(KEYS):
        r >>= 3
        mode = r % 6
        if mode == 0:
            continue  # key absent
        elif mode == 1:
            md[key] = NUM_VALUES[r % len(NUM_VALUES)]
        elif mode == 2:
            md[key] = STR_VALUES[r % len(STR_VALUES)]
        elif mode == 3:
            md[key] = TS_VALUES[r % len(TS_VALUES)]
        elif mode == 4:
            md[key] = LIST_VALUES[r % len(LIST_VALUES)]
        else:
            md[key] = NUM_VALUES[(r // 7) % len(NUM_VALUES)]
    ROWS.append((f"id{i}", [float(i % 7), float(i % 3)], md))


@pytest.fixture(scope="module")
def prop_table(spark):
    t = VectorTable.empty(spark).store_embeddings_batch(
        [r[0] for r in ROWS], [r[1] for r in ROWS], [r[2] for r in ROWS]
    )
    t.df.cache().count()
    return t


def _emitted_ids(df, arrow, mf, exf, orf):
    """(ids the Column emitter keeps, ids the Arrow mask keeps)."""
    pred = compile_filters(mf, exf, orf, TypedMapResolver())
    by_column = {r["id"] for r in df.filter(pred).select("id").collect()}
    maps = {c: arrow.column(c).combine_chunks() for c in arrow.column_names if c.startswith("meta_")}
    mask = arrow_mask(parse_filters(mf, exf, orf), maps, "UTC")
    return by_column, set(arrow.column("id").filter(mask).to_pylist())


@pytest.fixture(scope="module")
def prop_arrow(prop_table):
    return prop_table.df.select("id", "meta_str", "meta_num", "meta_ts", "meta_bool", "meta_arr").toArrow()


# ---- pure-python reference evaluator (independent reimplementation) ----

def _type_ok(value, operand, in_op=False):
    if in_op:
        return isinstance(value, list)
    if isinstance(operand, bool):
        return isinstance(value, bool)
    if isinstance(operand, (int, float)):
        return isinstance(value, (int, float)) and not isinstance(value, bool)
    if isinstance(operand, dt.datetime):
        return isinstance(value, dt.datetime)
    if isinstance(operand, str):
        return isinstance(value, str)
    return False


def _spec_matches(md: dict, key: str, spec) -> bool:
    if key not in md:
        return False  # presence gating
    v = md[key]
    if isinstance(spec, dict):
        for op, operand in spec.items():
            if op == "$in":
                if not _type_ok(v, operand, in_op=True) or str(operand) not in v:
                    return False
            else:
                if not _type_ok(v, operand):
                    return False
                ok = {
                    "$gt": v > operand,
                    "$gte": v >= operand,
                    "$lt": v < operand,
                    "$lte": v <= operand,
                    "$ne": v != operand,
                }[op]
                if not ok:
                    return False
        return True
    return _type_ok(v, spec) and v == spec


def _py_eval(md: dict, metadata_filter, exclude_filter, or_filters) -> bool:
    def dicts(x):
        if x is None:
            return []
        return [x] if isinstance(x, dict) else list(x)

    for d in dicts(metadata_filter):
        for k, s in d.items():
            if not _spec_matches(md, k, s):
                return False
    ors = [d for d in dicts(or_filters) if d]
    if ors:
        if not any(_spec_matches(md, k, s) for d in ors for k, s in d.items()):
            return False
    for d in dicts(exclude_filter):
        for k, s in d.items():
            if isinstance(s, dict):
                continue  # operator-dict exclude never matches (equality-only)
            if _spec_matches(md, k, s):
                return False
    return True


# ---- hypothesis strategies ----

operand = st.one_of(
    st.sampled_from(NUM_VALUES + [3, 15]),
    st.sampled_from(STR_VALUES + ["purple"]),
    st.sampled_from(TS_VALUES),
)
op_name = st.sampled_from(["$gt", "$gte", "$lt", "$lte", "$ne"])
spec = st.one_of(
    operand,
    st.dictionaries(op_name, operand, min_size=1, max_size=2),
    st.builds(lambda v: {"$in": v}, st.sampled_from(["a", "b", "x", "zz"])),
)
filter_dict = st.dictionaries(st.sampled_from(KEYS), spec, min_size=1, max_size=2)
maybe_filters = st.one_of(st.none(), filter_dict, st.lists(filter_dict, min_size=1, max_size=2))
eq_dict = st.dictionaries(
    st.sampled_from(KEYS),
    st.one_of(st.sampled_from(NUM_VALUES), st.sampled_from(STR_VALUES)),
    min_size=1,
    max_size=2,
)
maybe_exclude = st.one_of(st.none(), eq_dict, st.lists(eq_dict, min_size=1, max_size=2))


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(mf=maybe_filters, orf=maybe_filters, exf=maybe_exclude)
def test_compiled_filter_matches_python_reference(prop_table, prop_arrow, mf, orf, exf):
    by_column, by_mask = _emitted_ids(prop_table.df, prop_arrow, mf, exf, orf)
    expected = {rid for rid, _, md in ROWS if _py_eval(md, mf, exf, orf)}
    assert by_column == expected, f"mf={mf} orf={orf} exf={exf}"
    assert by_mask == expected, f"mf={mf} orf={orf} exf={exf}"


def test_emitters_agree_on_spark_edge_values(spark):
    """Fixed cases the evaluator above does not model: Spark orders a
    stored NaN above every number and equal to a NaN operand, ints
    compare as doubles, booleans order false < true, a date operand is
    midnight in the session time zone, a NULL map or a missing key never
    matches (not even ``$ne``), and ``$in`` with a non-list operand
    tests its string form."""
    rows = [
        ("nan", {"n": float("nan")}, {"flag": True}, {"t": dt.datetime(2021, 1, 1, 12)}, {"l": ["5", "x"]}),
        ("five", {"n": 5.0}, {"flag": False}, {"t": dt.datetime(2021, 1, 1)}, {"l": ["True"]}),
        ("negz", {"n": -0.0}, None, {"t": dt.datetime(2020, 12, 31, 23, 59, 59, 999999)}, {"l": []}),
        ("none", None, None, None, None),
        ("other", {"m": 1.0}, {"other": True}, {"u": dt.datetime(2021, 1, 1)}, {"k": ["5"]}),
    ]
    df = spark.createDataFrame(
        [(rid, [1.0], [1.0], 1.0, {"s": rid}, num, ts, b, arr, "{}") for rid, num, b, ts, arr in rows],
        VECTOR_SCHEMA,
    )
    arrow = df.toArrow()
    cases = [
        ({"n": {"$gt": 100}}, {"nan"}),
        ({"n": float("nan")}, {"nan"}),
        ({"n": {"$ne": float("nan")}}, {"five", "negz"}),
        ({"n": {"$lt": float("nan")}}, {"five", "negz"}),
        ({"n": {"$gte": float("nan")}}, {"nan"}),
        ({"n": 0}, {"negz"}),
        ({"n": {"$lte": 0.0}}, {"negz"}),
        ({"n": 5}, {"five"}),
        ({"n": {"$ne": 5}}, {"nan", "negz"}),
        ({"flag": {"$gt": False}}, {"nan"}),
        ({"flag": {"$lt": True}}, {"five"}),
        ({"flag": {"$ne": True}}, {"five"}),
        ({"t": {"$gte": dt.date(2021, 1, 1)}}, {"nan", "five"}),
        ({"t": {"$lt": dt.date(2021, 1, 1)}}, {"negz"}),
        ({"t": dt.datetime(2021, 1, 1)}, {"five"}),
        ({"t": {"$gt": dt.datetime(2021, 1, 1)}}, {"nan"}),
        ({"l": {"$in": 5}}, {"nan"}),
        ({"l": {"$in": True}}, {"five"}),
        ({"l": {"$in": "zz"}}, set()),
        ({"s": {"$ne": "none"}}, {"nan", "five", "negz", "other"}),
        ({"s": None}, set()),
        ({"n": {}}, set()),
    ]
    everything = {rid for rid, *_ in rows}
    cases = [(mf, None, want) for mf, want in cases] + [
        (None, {"n": float("nan")}, everything - {"nan"}),
        (None, {"n": {"$gt": 0}}, everything),
        (None, {"flag": True}, everything - {"nan"}),
    ]
    # every Column predicate in one job
    preds = [compile_filters(mf, exf, None, TypedMapResolver()).alias(f"c{i}") for i, (mf, exf, _) in enumerate(cases)]
    by_column = df.select("id", *preds).collect()
    maps = {c: arrow.column(c).combine_chunks() for c in arrow.column_names if c.startswith("meta_")}
    for i, (mf, exf, want) in enumerate(cases):
        assert {r["id"] for r in by_column if r[f"c{i}"]} == want, (mf, exf)
        mask = arrow_mask(parse_filters(mf, exf, None), maps, "UTC")
        assert set(arrow.column("id").filter(mask).to_pylist()) == want, (mf, exf)
