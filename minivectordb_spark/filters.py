"""Mongo-like filter DSL -> a Catalyst ``Column`` or a driver-side row mask.

Reference semantics (minivectordb/vector_database.py:157-386, duplicated in
the sharded variants), preserved exactly where observable:

1. Candidate universe = rows that HAVE the key.  Every reference filter path
   probes ``inverted_index.get(key, set())`` (vector_database.py:260, :179,
   :325), so a row lacking the key never matches — including for ``$ne``.
   Here every compiled predicate carries an explicit presence conjunct, which
   also neutralizes SQL 3-valued logic on missing/null values.
2. AND across keys of ``metadata_filter`` dicts (vector_database.py:238-318);
   OR across keys within an ``or_filters`` dict and across dicts
   (vector_database.py:157-236); AND+OR together intersect
   (vector_database.py:373-377).
3. ``exclude_filter`` is equality-only (vector_database.py:320-352): an
   operator-dict as an exclude value compares a dict against the stored
   scalar and never matches — compiled here to a constant-false contribution.
4. Operator dicts: the reference evaluates only the FIRST operator
   (``next(iter(value))``, vector_database.py:164, :243).  We evaluate ALL
   operators conjunctively — a documented strict superset of the observable
   reference behavior (its own test suite cannot distinguish the two; see
   SURVEY.md §2.2 quirk 3).
5. Unknown operator -> ``ValueError`` (vector_database.py:174-175) — raised
   here at compile time.
6. ``$in`` means operand ∈ stored list (vector_database.py:172) — compiled to
   ``array_contains(stored, operand)``.
7. Dict inputs auto-wrap into single-element lists; empty dicts are dropped
   from ``or_filters`` (vector_database.py:359-360, :369-371, :381-383).

Known deviations (typed-map edges, intentional):

8. ``$ne`` with an operand whose Python type differs from the stored
   value's type resolves against that type's map and never matches; the
   reference compares loosely across types (``x != y`` on raw Python
   values, so ``{"$ne": "5"}`` matches a stored int 5 there but not here).
   Cross-type ``$ne`` over a typed columnar layout would need a
   stringly-typed fallback comparison on every row — not worth breaking
   pushdown for an edge the reference's own tests never exercise.
9. ``$in`` requires the stored value to be a list (operand ∈ list).  The
   reference evaluates Python ``operand in stored`` which ALSO does
   substring matching when the stored value is a string
   (vector_database.py:172); that accidental substring mode is not
   supported — use an explicit list-typed field.

The DSL is parsed once (``parse_filters``: dict lists, the operator check,
and the typed map each operand addresses), then emitted one of two ways:

- ``emit_column`` / ``compile_filters``: ONE boolean ``Column`` so Catalyst
  can reorder, short-circuit and push the conjuncts down to the Parquet
  scan — the declarative replacement for the reference's inverted-index
  probes;
- ``arrow_mask``: a NumPy row mask over the typed maps of a snapshot
  collected to the driver (VectorTable's small-snapshot gate), with
  exactly the rows the Column keeps, Spark's double ordering included.
"""

from __future__ import annotations

import datetime as _dt
import math
import operator
from functools import reduce
from typing import Any, Mapping, NamedTuple, Sequence
from zoneinfo import ZoneInfo

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

VALID_OPS = ("$gt", "$gte", "$lt", "$lte", "$ne", "$in")

#: typed map of each operand kind (FIXTURES.md F1), as VectorTable names them
_MAP_COLUMNS = {
    "str": "meta_str",
    "num": "meta_num",
    "ts": "meta_ts",
    "bool": "meta_bool",
    "arr": "meta_arr",
}

_OP_BUILDERS = {
    "$eq": lambda c, v: c == v,
    "$gt": lambda c, v: c > v,
    "$gte": lambda c, v: c >= v,
    "$lt": lambda c, v: c < v,
    "$lte": lambda c, v: c <= v,
    "$ne": lambda c, v: c != v,
}


class FieldResolver:
    """Maps a DSL key + operand to (value Column, presence Column).

    ``value(key, operand)`` returns the stored value to compare, typed to
    match the operand; ``present(key, operand)`` returns a boolean Column
    that is True iff the row "has" the key (reference inverted-index
    semantics, SURVEY.md §2.2 rule 1).
    """

    def value(self, key: str, operand: Any) -> Column:  # pragma: no cover
        raise NotImplementedError

    def present(self, key: str, operand: Any) -> Column:
        return self.value(key, operand).isNotNull()


class ColumnResolver(FieldResolver):
    """Resolves DSL keys to real DataFrame columns (flat tables).

    ``mapping`` optionally renames DSL keys to column names.  Key presence ==
    the column value is not null, the natural relational analogue of "row has
    the key".
    """

    def __init__(self, mapping: Mapping[str, str] | None = None):
        self._mapping = dict(mapping or {})

    def value(self, key: str, operand: Any) -> Column:
        return F.col(self._mapping.get(key, key))


class JsonResolver(FieldResolver):
    """Resolves DSL keys inside a JSON-string column (e.g. ``events.props``).

    Values are extracted with ``get_json_object`` and try_cast to the operand
    type, so a malformed value behaves as "key absent" rather than erroring
    under ANSI mode.
    """

    def __init__(self, json_col: str):
        self._json_col = json_col

    def _raw(self, key: str) -> Column:
        return F.get_json_object(F.col(self._json_col), f"$.{key}")

    def value(self, key: str, operand: Any) -> Column:
        raw = self._raw(key)
        if isinstance(operand, bool):
            return raw.try_cast("boolean")
        if isinstance(operand, (int, float)):
            return raw.try_cast("double")
        if isinstance(operand, (_dt.datetime, _dt.date)):
            return raw.try_cast("timestamp")
        return raw

    def present(self, key: str, operand: Any) -> Column:
        return self._raw(key).isNotNull()


class TypedMapResolver(FieldResolver):
    """Resolves DSL keys against the typed metadata maps of a VectorTable.

    Schemaless reference metadata (``list[dict]``, vector_database.py:13)
    becomes five typed map columns (FIXTURES.md F1) so comparisons stay
    typed and Catalyst-optimizable:

    meta_str  MAP<STRING,STRING>, meta_num MAP<STRING,DOUBLE>,
    meta_ts   MAP<STRING,TIMESTAMP>, meta_bool MAP<STRING,BOOLEAN>,
    meta_arr  MAP<STRING,ARRAY<STRING>>

    The map is chosen by operand type (bool before int — Python bools are
    ints).  ``$in`` operands address ``meta_arr`` (stored value is the list).
    """

    def __init__(
        self,
        meta_str: str = "meta_str",
        meta_num: str = "meta_num",
        meta_ts: str = "meta_ts",
        meta_bool: str = "meta_bool",
        meta_arr: str = "meta_arr",
    ):
        self._cols = {"str": meta_str, "num": meta_num, "ts": meta_ts, "bool": meta_bool, "arr": meta_arr}

    def _map_for(self, operand: Any, in_op: bool = False) -> str:
        return self._cols[_kind(operand, in_op)]

    def value(self, key: str, operand: Any, in_op: bool = False) -> Column:
        return F.col(self._map_for(operand, in_op)).getItem(key)

    def present(self, key: str, operand: Any, in_op: bool = False) -> Column:
        return self.value(key, operand, in_op).isNotNull()


def _kind(operand: Any, in_op: bool = False) -> str:
    """The typed map an operand addresses: by operand type, bool before
    int (Python bools are ints); a ``$in`` operand addresses the lists."""
    if in_op:
        return "arr"
    if isinstance(operand, bool):
        return "bool"
    if isinstance(operand, (int, float)):
        return "num"
    if isinstance(operand, (_dt.datetime, _dt.date)):
        return "ts"
    return "str"


class CompositeResolver(FieldResolver):
    """Routes specific DSL keys to dedicated resolvers (e.g. ``k`` ->
    JsonResolver('props')), everything else to a default resolver — lets the
    DSL span flat columns and semi-structured columns in one filter."""

    def __init__(self, routes: Mapping[str, FieldResolver], default: FieldResolver):
        self._routes = dict(routes)
        self._default = default

    def _pick(self, key: str) -> FieldResolver:
        return self._routes.get(key, self._default)

    def value(self, key: str, operand: Any) -> Column:
        return self._pick(key).value(key, operand)

    def present(self, key: str, operand: Any) -> Column:
        return self._pick(key).present(key, operand)


def _lit(operand: Any) -> Column:
    if isinstance(operand, int) and not isinstance(operand, bool):
        return F.lit(operand).cast("double")
    return F.lit(operand)


def _resolve(resolver: FieldResolver, key: str, operand: Any, in_op: bool = False):
    if isinstance(resolver, TypedMapResolver):
        return (
            resolver.value(key, operand, in_op=in_op),
            resolver.present(key, operand, in_op=in_op),
        )
    return resolver.value(key, operand), resolver.present(key, operand)


def _false() -> Column:
    return F.lit(False)


def _safe(pred: Column) -> Column:
    """Collapse SQL NULL to False so NEGATION is exact.  Positive predicates
    deliberately stay bare: in a WHERE context NULL already drops the row
    (filter semantics == FALSE), and a coalesce() wrapper would block
    Parquet predicate pushdown (it hides the comparison from the data-source
    filter translator)."""
    return F.coalesce(pred, F.lit(False))


def _as_dict_list(filters: Any) -> list[dict]:
    if filters is None:
        return []
    if isinstance(filters, Mapping):
        return [dict(filters)]
    if isinstance(filters, Sequence) and not isinstance(filters, (str, bytes)):
        out = []
        for f in filters:
            if not isinstance(f, Mapping):
                raise ValueError(f"Filter must be a dict or list of dicts, got element {type(f)}")
            out.append(dict(f))
        return out
    raise ValueError(f"Filter must be a dict or list of dicts, got {type(filters)}")


# ---------------- one parse ----------------


class Term(NamedTuple):
    """One comparison: the stored value of ``key`` ``op`` ``operand``.
    ``op`` is ``"$eq"`` for a plain value; ``kind`` names the typed map
    the operand addresses (``_kind``)."""

    key: str
    op: str
    operand: Any
    kind: str


class ParsedFilters(NamedTuple):
    """A filter composition parsed once, for either emitter.  A spec is a
    tuple of terms (their conjunction) or ``None`` (constant false: an
    empty operator dict, or an operator dict used as an exclude value)."""

    and_specs: tuple
    or_specs: tuple
    exclude_specs: tuple


def _parse_spec(key: str, spec: Any) -> tuple | None:
    """One ``{key: spec}`` pair.  Plain value = equality; operator dict =
    conjunction of ALL ops (documented superset of vector_database.py:164's
    first-op-only quirk)."""
    if not isinstance(spec, Mapping):
        return (Term(key, "$eq", spec, _kind(spec)),)
    if not spec:
        return None
    terms = []
    for op, operand in spec.items():
        if op not in VALID_OPS:
            raise ValueError(f"Invalid operator: {op}")
        terms.append(Term(key, op, operand, _kind(operand, op == "$in")))
    return tuple(terms)


def parse_filters(
    metadata_filter: Any = None,
    exclude_filter: Any = None,
    or_filters: Any = None,
) -> ParsedFilters:
    """AND across every pair of every ``metadata_filter`` dict
    (vector_database.py:238-318); OR across every pair of every
    ``or_filters`` dict, empty dicts dropped (vector_database.py:157-236,
    :371); ``exclude_filter`` is equality-only (vector_database.py:320-352):
    an operator dict there compares a dict against the stored scalar and
    never matches."""
    def pairs(filters):
        return [(k, s) for d in _as_dict_list(filters) for k, s in d.items()]

    return ParsedFilters(
        tuple(_parse_spec(k, s) for k, s in pairs(metadata_filter)),
        tuple(_parse_spec(k, s) for k, s in pairs(or_filters)),
        tuple(None if isinstance(s, Mapping) else _parse_spec(k, s) for k, s in pairs(exclude_filter)),
    )


def _in_operand(operand: Any) -> str:
    """``$in`` tests the operand's string form against the stored list."""
    return operand if isinstance(operand, str) else str(operand)


def _emit(parsed: ParsedFilters, term, false, true, safe):
    """The composition of vector_database.py:354-386 over one emitter's
    ``term`` / ``false`` / ``true`` / ``safe``:
    ``AND ∧ OR ∧ ¬EXCLUDE`` — all rows when there is no filter at all;
    exclude subtracts."""
    def spec(s):
        return false() if s is None else reduce(operator.and_, map(term, s))

    parts = []
    if parsed.and_specs:
        parts.append(reduce(operator.and_, map(spec, parsed.and_specs)))
    if parsed.or_specs:
        parts.append(reduce(operator.or_, map(spec, parsed.or_specs)))
    if parsed.exclude_specs:
        excl = (false() if s is None else safe(spec(s)) for s in parsed.exclude_specs)
        parts.append(~safe(reduce(operator.or_, excl)))
    return reduce(operator.and_, parts) if parts else true()


# ---------------- emitter 1: a Catalyst Column ----------------


def emit_column(parsed: ParsedFilters, resolver: FieldResolver | None = None) -> Column:
    """The parsed filter as ONE boolean ``Column``; every term carries its
    presence conjunct (rule 1)."""
    resolver = resolver or TypedMapResolver()

    def term(t: Term) -> Column:
        in_op = t.op == "$in"
        value, present = _resolve(resolver, t.key, t.operand, in_op=in_op)
        if in_op:
            return present & F.array_contains(value, F.lit(_in_operand(t.operand)))
        return present & _OP_BUILDERS[t.op](value, _lit(t.operand))

    return _emit(parsed, term, _false, lambda: F.lit(True), _safe)


def compile_filters(
    metadata_filter: Any = None,
    exclude_filter: Any = None,
    or_filters: Any = None,
    resolver: FieldResolver | None = None,
) -> Column:
    """Full composition (vector_database.py:354-386) as one ``Column``;
    ``lit(True)`` when there are no filters at all."""
    return emit_column(parse_filters(metadata_filter, exclude_filter, or_filters), resolver)


# ---------------- emitter 2: a NumPy mask over Arrow maps ----------------


def _eq_gt(stored: np.ndarray, operand: Any, kind: str):
    """(stored == operand, stored > operand) in Spark's ordering.  Doubles
    order NaN above +inf with NaN == NaN, and -0.0 == 0.0 (an IEEE compare
    gets the NaN rows wrong); ints compare as doubles."""
    if kind != "num":
        return stored == operand, stored > operand
    v = float(operand)
    nan, v_nan = np.isnan(stored), math.isnan(v)
    a, v = np.where(nan, 0.0, stored), 0.0 if v_nan else v
    return (nan == v_nan) & (a == v), (nan & (not v_nan)) | ((nan == v_nan) & (a > v))


def _ts_operand(operand, session_tz: str) -> int:
    """A timestamp operand as Spark reads its literal: a datetime the way
    ``TimestampType().toInternal`` converts it (naive = driver local
    time); a date as midnight in the session time zone (Spark casts the
    DATE literal to TIMESTAMP)."""
    if not isinstance(operand, _dt.datetime):
        operand = _dt.datetime.combine(operand, _dt.time(), ZoneInfo(session_tz))
    return TimestampType().toInternal(operand)


def _lookup(m: pa.Array, key: str) -> tuple[np.ndarray, pa.Array]:
    """The rows of map array ``m`` where ``m[key]`` is not NULL, and those
    values.  One vectorized compare over the flattened keys (a map holds a
    key at most once): ``pc.map_lookup`` takes ~5 ms per key at 5,000
    rows."""
    offsets = m.offsets.to_numpy()
    rows = np.repeat(np.arange(len(m)), np.diff(offsets))
    keys = m.keys.slice(offsets[0], len(rows))
    hit = pc.equal(keys, key).fill_null(False).to_numpy(zero_copy_only=False)
    pos = np.flatnonzero(hit & m.is_valid().to_numpy(zero_copy_only=False)[rows])
    values = m.items.slice(offsets[0], len(rows)).take(pa.array(pos, pa.int64()))
    valid = values.is_valid()
    return rows[pos][valid.to_numpy(zero_copy_only=False)], values.filter(valid)


def arrow_mask(parsed: ParsedFilters, maps: Mapping[str, pa.Array], session_tz: str) -> np.ndarray:
    """The parsed filter as a boolean row mask over a VectorTable's typed
    metadata maps (``maps``: column name -> Arrow map array, the names of
    a default ``TypedMapResolver``), with the same rows as the Column
    emitter's: a null map or a missing key never matches, ``$in`` tests
    operand ∈ the ``meta_arr`` list.  A SQL NULL from a term becomes
    False here; the composition only ANDs, ORs and negates through
    ``_safe``, so the kept rows are the same."""
    n = len(next(iter(maps.values())))

    def term(t: Term) -> np.ndarray:
        mask = np.zeros(n, dtype=bool)
        rows, values = _lookup(maps[_MAP_COLUMNS[t.kind]], t.key)
        if t.op == "$in":
            hit = pc.equal(pc.list_flatten(values), _in_operand(t.operand))
            parents = pc.list_parent_indices(values).to_numpy()
            mask[rows[parents[hit.fill_null(False).to_numpy(zero_copy_only=False)]]] = True
            return mask
        if t.operand is None:  # a NULL literal: every comparison is NULL
            return mask
        operand = t.operand
        if t.kind == "ts":
            values, operand = values.cast(pa.int64()), _ts_operand(operand, session_tz)
        eq, gt = _eq_gt(values.to_numpy(zero_copy_only=False), operand, t.kind)
        mask[rows] = {"$eq": eq, "$ne": ~eq, "$gt": gt, "$gte": gt | eq, "$lt": ~(gt | eq), "$lte": ~gt}[t.op]
        return mask

    return _emit(parsed, term, lambda: np.zeros(n, dtype=bool), lambda: np.ones(n, dtype=bool), lambda m: m)
