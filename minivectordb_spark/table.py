"""VectorTable — the engine's ingest/delete/lookup/persist surface.

Reference surface (minivectordb/vector_database.py): store_embedding (:57),
store_embeddings_batch (:83), delete_embedding (:119), batch delete
(sharded_vector_database.py:206-241), get_vector (:49), persist_to_disk
(:538), load (:28).  Error contracts preserved verbatim:

- duplicate id on insert      -> ValueError("Unique ID already exists.")
- missing id on delete/get    -> ValueError("Unique ID does not exist.")
- 0 < |metadata| < |ids|      -> ValueError (vector_database.py:98-99)
- batch delete: empty / None  -> ValueError (sharded_vector_database.py:208-217)
- embedding dim mismatch      -> ValueError (the reference registers D on
  first insert, vector_database.py:64-65; we validate eagerly), and so
  does a search with a query of the wrong length

Execution model: the table is an immutable DataFrame snapshot with schema

    id STRING, embedding ARRAY<FLOAT>, embedding_norm ARRAY<FLOAT>,
    norm DOUBLE, meta_str/meta_num/meta_ts/meta_bool/meta_arr typed maps,
    meta_json STRING

Inserts are unionByName after an anti-join uniqueness precheck; deletes are
left-anti joins; there is no row renumbering (the reference rebuilds its
id_map per delete, vector_database.py:138-152 — positions don't exist here).
``embedding_norm`` is the immutable analogue of the reference's in-place
faiss.normalize_L2 (quirk §2.1: we never mutate the stored vector).
Searches of a small snapshot run on the driver, over its search columns
collected once (the small-snapshot gate, ``VectorTable._snapshot``): the
reference's in-memory flat scan, with Spark's exact scores and order.
Persistence is Parquet (pickle -> columnar files); ``max_records_per_file``
is the shard_size analogue (sharded_vector_database.py:9).

At 100 TB the same surface holds: uniqueness prechecks are one broadcast-or
shuffle join per *batch* (never per row), deletes rewrite only matched files
under Delta, and the snapshot model gives readers consistency without the
reference's global lock (vector_database.py:19).
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import threading
from typing import Any, Iterable, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from minivectordb_spark.autocut import apply_autocut, autocut_distances
from minivectordb_spark.filters import arrow_mask, emit_column, parse_filters
from minivectordb_spark.operators import util
from minivectordb_spark.scoring import knn, knn_batch_unit, order_key, top_rows, unit_scores

# VectorTable.dim not computed yet (None is a resolved value: no rows)
_UNRESOLVED = object()

VECTOR_SCHEMA = StructType(
    [
        StructField("id", StringType(), nullable=False),
        StructField("embedding", ArrayType(FloatType(), containsNull=False), nullable=False),
        StructField("embedding_norm", ArrayType(FloatType(), containsNull=False), nullable=False),
        StructField("norm", DoubleType(), nullable=False),
        StructField("meta_str", MapType(StringType(), StringType()), nullable=True),
        StructField("meta_num", MapType(StringType(), DoubleType()), nullable=True),
        StructField("meta_ts", MapType(StringType(), TimestampType()), nullable=True),
        StructField("meta_bool", MapType(StringType(), BooleanType()), nullable=True),
        StructField("meta_arr", MapType(StringType(), ArrayType(StringType())), nullable=True),
        StructField("meta_json", StringType(), nullable=True),
    ]
)


def _split_metadata(md: dict | None):
    """Schemaless dict -> typed maps (FIXTURES.md F1).  bool checked before
    int (Python bools are ints); a dict value would be a filter-operator
    expression in the reference (vector_database.py:241-243) and is rejected
    as metadata."""
    s: dict = {}
    n: dict = {}
    t: dict = {}
    b: dict = {}
    a: dict = {}
    md = md or {}
    for k, v in md.items():
        if isinstance(v, bool):
            b[k] = v
        elif isinstance(v, (int, float)):
            n[k] = float(v)
        elif isinstance(v, _dt.datetime):
            t[k] = v
        elif isinstance(v, _dt.date):
            t[k] = _dt.datetime(v.year, v.month, v.day)
        elif isinstance(v, str):
            s[k] = v
        elif isinstance(v, (list, tuple)):
            a[k] = [str(x) for x in v]
        elif v is None:
            continue
        else:
            raise ValueError(f"Unsupported metadata value type for key {k!r}: {type(v)}")
    return s, n, t, b, a, json.dumps(md, default=str, sort_keys=True)


def _reassemble_metadata(row) -> dict:
    """Typed maps -> plain dict for the reference-parity return shape."""
    out: dict = {}
    for m in (row["meta_str"], row["meta_bool"], row["meta_arr"]):
        if m:
            out.update(m)
    if row["meta_num"]:
        for k, v in row["meta_num"].items():
            out[k] = int(v) if v is not None and float(v).is_integer() else v
    if row["meta_ts"]:
        out.update(row["meta_ts"])
    return out


_TS = TimestampType()
_META_COLS = ("meta_str", "meta_num", "meta_ts", "meta_bool", "meta_arr")
#: the columns a search reads, and all that the small-snapshot gate collects
_SEARCH_COLS = ("id", "embedding_norm") + _META_COLS


class _Snapshot:
    """A snapshot's search columns in driver memory: ids, the stored
    float32 unit vectors one row per component (d, n), and the typed
    metadata maps as Arrow arrays."""

    def __init__(self, ids: np.ndarray, unit_t: np.ndarray, maps: dict, session_tz: str):
        self.ids, self.unit_t, self.maps, self.session_tz = ids, unit_t, maps, session_tz

    @classmethod
    def collect(cls, df: DataFrame) -> "_Snapshot | None":
        """One ``toArrow`` job.  ``None`` when the rows have different
        widths: only the distributed fold defines those scores."""
        table = df.select(*_SEARCH_COLS).toArrow()
        cols = {c: table.column(c).combine_chunks() for c in _SEARCH_COLS}
        emb = cols["embedding_norm"]
        n = len(emb)
        widths = pc.list_value_length(emb).to_numpy(zero_copy_only=False)
        if n and (widths != widths[0]).any():
            return None
        flat = pc.list_flatten(emb).to_numpy(zero_copy_only=False)
        unit_t = np.ascontiguousarray(flat.reshape(n, -1 if n else 0).T)
        maps = {c: cols[c] for c in _META_COLS}
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        return cls(cols["id"].to_numpy(zero_copy_only=False), unit_t, maps, tz)

    def search(self, queries: Sequence, parsed, k: int) -> list[tuple[list, list, list]]:
        """One (ids, scores, metadatas) triple per query: the filter mask,
        then ``unit_scores`` and ``top_rows`` over the kept rows."""
        rows = np.flatnonzero(arrow_mask(parsed, self.maps, self.session_tz))
        ids = self.ids[rows]
        out = []
        for q in queries:
            if len(rows) == 0 or k <= 0:
                out.append(([], [], []))
                continue
            if len(q) != self.unit_t.shape[0]:
                raise _dim_mismatch(len(q), self.unit_t.shape[0])
            scores = unit_scores(self.unit_t, q)[rows]
            top = top_rows(scores, ids, k)
            out.append(([ids[r] for r in top], [float(scores[r]) for r in top], self._metas(rows[top])))
        return out

    def _metas(self, rows: np.ndarray) -> list[dict]:
        """Metadata of ``rows`` as ``collect()`` + ``_reassemble_metadata``
        return it: Arrow gives timestamps as UTC instants, a collected
        row as pyspark's ``TimestampType.fromInternal`` makes them (naive
        local time)."""
        idx = pa.array(rows, pa.int64())
        taken = {c: self.maps[c].take(idx) for c in _META_COLS}
        taken["meta_ts"] = taken["meta_ts"].cast(pa.map_(pa.string(), pa.int64()))
        lists = {c: taken[c].to_pylist() for c in _META_COLS}
        out = []
        for i in range(len(rows)):
            row = {c: None if lists[c][i] is None else dict(lists[c][i]) for c in _META_COLS}
            if row["meta_ts"]:
                row["meta_ts"] = {k: _TS.fromInternal(v) for k, v in row["meta_ts"].items()}
            out.append(_reassemble_metadata(row))
        return out


def _dim_mismatch(got: int, want: int | None = None) -> ValueError:
    want = "" if want is None else f"expected {want}, "
    return ValueError(f"Embedding dimension mismatch: {want}query has {got} components")


def _finish(ids: list, scores: list, metas: list, autocut: bool, distances: bool):
    """The single-search result triple: optional autocut, and 1 - sim
    ascending for ``distances=True``."""
    if distances:
        dists = [1.0 - s for s in scores]
        if autocut and len(dists) > 1:
            remove = set(autocut_distances(dists))
            if remove:
                keep = [i for i in range(len(dists)) if i not in remove]
                ids = [ids[i] for i in keep]
                dists = [dists[i] for i in keep]
                metas = [metas[i] for i in keep]
        return ids, dists, metas
    if autocut and len(scores) > 1:
        ids, scores, metas = apply_autocut(ids, scores, metas)
    return ids, scores, metas


class VectorTable:
    """Immutable snapshot of an embedding-record table.

    Mutation methods return a NEW VectorTable (Spark DataFrames are
    immutable; this replaces the reference's lock + dirty-flag protocol,
    vector_database.py:18-19).
    """

    def __init__(self, spark: SparkSession, df: DataFrame, dim: Any = _UNRESOLVED):
        self.spark = spark
        self.df = df
        self._dim = dim
        # the small-snapshot gate's state: (df it describes, its size
        # estimate, its collected _Snapshot, or None before the collect)
        self._snap: tuple = (None, None, None)
        self._snap_lock = threading.Lock()

    @property
    def dim(self) -> int | None:
        """Embedding width (None for a table with no rows).  Resolved by one
        probe job the first time it is read, then kept for this snapshot;
        opening a table runs no job for it."""
        if self._dim is _UNRESOLVED:
            row = self.df.select(F.size("embedding").alias("d")).first()
            self._dim = row["d"] if row else None
        return self._dim

    # ---------------- construction / persistence ----------------

    @classmethod
    def empty(cls, spark: SparkSession) -> "VectorTable":
        return cls(spark, spark.createDataFrame([], VECTOR_SCHEMA), dim=None)

    @classmethod
    def from_dataframe(
        cls,
        df: DataFrame,
        id_col: str = "id",
        emb_col: str = "embedding",
        meta_cols: Sequence[str] = (),
        validate: bool = True,
    ) -> "VectorTable":
        """Distributed bulk ingest — the scale path (the python-list batch
        API is the reference-parity surface; 100 TB arrives as a DataFrame).

        ``meta_cols`` are routed into the typed metadata maps by their Spark
        type (string/numeric/timestamp/boolean/array<string>).  Validation
        (one aggregate pass): embedding dims consistent, ids unique and
        non-null.  Everything is column expressions — no driver loop, no
        Python in the ingest path.
        """
        from pyspark.sql.types import (
            ArrayType as _Arr,
            BooleanType as _B,
            NumericType as _N,
            StringType as _S,
            TimestampType as _T,
        )

        spark = df.sparkSession
        dim = _UNRESOLVED
        if validate:
            stats = df.select(
                F.countDistinct(F.size(F.col(emb_col))).alias("ndims"),
                F.max(F.size(F.col(emb_col))).alias("dim"),
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(F.col(id_col)).alias("nid"),
                F.count(F.col(id_col)).alias("nonnull"),
            ).collect()[0]
            if stats["ndims"] > 1:
                raise ValueError("Embedding dimension mismatch: multiple dims in input")
            if stats["nid"] != stats["n"] or stats["nonnull"] != stats["n"]:
                raise ValueError("Unique ID already exists.")
            dim = stats["dim"]

        str_m, num_m, ts_m, bool_m, arr_m = [], [], [], [], []
        for c in meta_cols:
            dt = df.schema[c].dataType
            pair = (F.lit(c), F.col(c))
            if isinstance(dt, _B):
                bool_m.extend(pair)
            elif isinstance(dt, _N):
                num_m.extend((F.lit(c), F.col(c).cast("double")))
            elif isinstance(dt, _T):
                ts_m.extend(pair)
            elif isinstance(dt, _Arr):
                arr_m.extend((F.lit(c), F.col(c).cast("array<string>")))
            elif isinstance(dt, _S):
                str_m.extend(pair)
            else:
                raise ValueError(f"Unsupported metadata column type for {c!r}: {dt}")

        def _map(entries):
            return F.create_map(*entries) if entries else F.lit(None).cast("map<string,string>")

        from minivectordb_spark.operators.util import materialize
        from minivectordb_spark.scoring import norm_expr

        emb = F.col(emb_col).cast("array<float>")
        pre = df.select(
            F.col(id_col).cast("string").alias("id"),
            emb.alias("embedding"),
            (F.create_map(*str_m) if str_m else F.lit(None).cast("map<string,string>")).alias("meta_str"),
            (F.create_map(*num_m) if num_m else F.lit(None).cast("map<string,double>")).alias("meta_num"),
            (F.create_map(*ts_m) if ts_m else F.lit(None).cast("map<string,timestamp>")).alias("meta_ts"),
            (F.create_map(*bool_m) if bool_m else F.lit(None).cast("map<string,boolean>")).alias("meta_bool"),
            (F.create_map(*arr_m) if arr_m else F.lit(None).cast("map<string,array<string>>")).alias("meta_arr"),
            F.to_json(F.struct(*[F.col(c) for c in meta_cols])).alias("meta_json")
            if meta_cols
            else F.lit("{}").alias("meta_json"),
        )
        # norm behind a Generate barrier, so the per-element division below
        # reads a column instead of re-folding the norm per element
        staged = materialize(pre, norm_expr("embedding"), "norm", pre.columns)
        norm = F.col("norm")
        shaped = staged.select(
            "id",
            "embedding",
            F.when(
                norm > 0,
                F.transform(F.col("embedding"), lambda x: (x / norm).cast("float")),
            )
            .otherwise(F.col("embedding"))
            .alias("embedding_norm"),
            "norm",
            "meta_str",
            "meta_num",
            "meta_ts",
            "meta_bool",
            "meta_arr",
            "meta_json",
        )
        return cls(spark, shaped, dim=dim)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "VectorTable":
        """spark.read.parquet replaces the eager full unpickle
        (vector_database.py:28-40) — the scan is lazy and columnar."""
        return cls(spark, spark.read.parquet(path))

    def save(
        self,
        path: str,
        max_records_per_file: int | None = None,
        cluster_by: Sequence[str] | None = None,
    ) -> None:
        """Parquet persistence (vector_database.py:538-548).
        ``max_records_per_file`` mirrors shard_size
        (sharded_vector_database.py:9) declaratively.

        ``cluster_by`` repartitions + sorts rows by the given (metadata)
        expressions before writing, so parquet row-group min/max stats become
        selective for those keys — the declarative replacement for the
        reference's inverted index (SURVEY.md §1.5): filters on a clustered
        key skip whole row groups at scan time with zero engine machinery.
        Example: ``save(path, cluster_by=["meta_str['type']"])``.
        """
        df = self.df
        if cluster_by:
            exprs = [F.expr(c) for c in cluster_by]
            df = df.repartition(*exprs).sortWithinPartitions(*exprs)
        writer = df.write.mode("overwrite")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
        writer.parquet(path)

    def save_durable(self, path: str, n_buckets: int = 16):
        """Persist as a manifest-tracked copy-on-write table
        (``durable.DurableVectorTable``): subsequent deletes/inserts through
        the returned handle rewrite only the id-hash buckets they touch —
        the durable-mutation story the in-memory snapshots lack (reference
        per-shard rewrite, sharded_vector_database.py:134-154)."""
        from minivectordb_spark.durable import DurableVectorTable

        return DurableVectorTable.create(self.df, path, id_col="id", n_buckets=n_buckets)

    @classmethod
    def load_durable(cls, spark: SparkSession, path: str) -> "VectorTable":
        """Open a copy-on-write table (its current manifest snapshot) as a
        read-optimized VectorTable.  Runs no Spark job: the manifest names
        the live files and carries the schema."""
        from minivectordb_spark.durable import DurableVectorTable

        return cls(spark, DurableVectorTable.load(spark, path).to_df())

    # ---------------- mutation surface ----------------

    def store_embedding(self, unique_id, embedding, metadata_dict: dict | None = None) -> "VectorTable":
        """Single insert (vector_database.py:57-81).  Batch is the natural
        Spark grain; this delegates."""
        return self.store_embeddings_batch([unique_id], [embedding], [metadata_dict or {}])

    def store_embeddings_batch(
        self,
        unique_ids: Sequence,
        embeddings: Sequence,
        metadata_dicts: Sequence[dict] | None = None,
    ) -> "VectorTable":
        """Batch insert (vector_database.py:83-117): uniqueness precheck
        (in-batch and vs table), dim registration on first insert, metadata
        length contract."""
        ids = [str(u) for u in unique_ids]
        if len(set(ids)) != len(ids):
            raise ValueError("Unique ID already exists.")
        metadata_dicts = list(metadata_dicts or [])
        if 0 < len(metadata_dicts) < len(ids):
            raise ValueError("Metadata dictionaries must be provided for all unique IDs.")
        if not metadata_dicts:
            metadata_dicts = [{} for _ in ids]
        vecs = [[float(x) for x in e] for e in embeddings]
        if len(vecs) != len(ids):
            raise ValueError("Embeddings must be provided for all unique IDs.")
        dim = self.dim
        for v in vecs:
            if dim is None:
                dim = len(v)
            elif len(v) != dim:
                raise ValueError(f"Embedding dimension mismatch: expected {dim}, got {len(v)}")

        # uniqueness vs the existing table: one broadcast semi-join per batch
        clash = (
            self.df.select("id")
            .join(F.broadcast(self.spark.createDataFrame([(i,) for i in ids], ["id"])), "id", "left_semi")
            .limit(1)
            .count()
        )
        if clash:
            raise ValueError("Unique ID already exists.")

        rows = []
        for uid, vec, md in zip(ids, vecs, metadata_dicts):
            n = math.sqrt(sum(x * x for x in vec))
            normed = [x / n for x in vec] if n > 0 else list(vec)
            s, num, ts, b, arr, js = _split_metadata(md)
            rows.append((uid, vec, normed, n, s, num, ts, b, arr, js))
        new_df = self.spark.createDataFrame(rows, VECTOR_SCHEMA)
        return VectorTable(self.spark, self.df.unionByName(new_df), dim=dim)

    def delete_embedding(self, unique_id) -> "VectorTable":
        """Single delete (vector_database.py:119-155) — an anti-join; no row
        renumbering exists to do."""
        return self.delete_embeddings_batch([unique_id])

    def delete_embeddings_batch(self, unique_ids) -> "VectorTable":
        """Batch delete with the sharded class's strict contract
        (sharded_vector_database.py:206-241): scalar input wrapped, None or
        empty raises, ANY missing id raises."""
        if unique_ids is None:
            raise ValueError("No unique ids provided.")
        if not isinstance(unique_ids, (list, tuple, set)):
            unique_ids = [unique_ids]
        ids = [str(u) for u in unique_ids]
        if not ids:
            raise ValueError("No unique ids provided.")
        ids_df = F.broadcast(self.spark.createDataFrame([(i,) for i in ids], ["id"]))
        found = self.df.join(ids_df, "id", "left_semi").select("id").distinct().count()
        if found != len(set(ids)):
            raise ValueError("Unique ID does not exist.")
        return VectorTable(self.spark, self.df.join(ids_df, "id", "left_anti"), dim=self._dim)

    # ---------------- lookup / query surface ----------------

    def get_vector(self, unique_id) -> list[float]:
        """Point lookup (vector_database.py:49-55).  Returns the RAW stored
        vector — never a normalized mutation of it (reference quirk §2.1
        deliberately not replicated)."""
        rows = self.df.filter(F.col("id") == str(unique_id)).select("embedding").limit(1).collect()
        if not rows:
            raise ValueError("Unique ID does not exist.")
        return list(rows[0]["embedding"])

    def count(self) -> int:
        return self.df.count()

    def _snapshot(self) -> _Snapshot | None:
        """The small-snapshot gate.  At or under
        ``util.SMALL_SNAPSHOT_MAX_BYTES`` of estimated search columns, the
        snapshot collected to the driver (by the first caller, once;
        concurrent callers wait for it); ``None`` above the budget — the
        distributed path.  A plan without an estimate counts as infinitely
        large.  The estimate runs no job and is taken once per ``df``: a
        reassigned ``df`` never reads the rows of the old one."""
        with self._snap_lock:
            df, size, snap = self._snap
            if df is not self.df:
                df, snap = self.df, None
                size = util.plan_size_bytes(df.select(*_SEARCH_COLS))
                size = math.inf if size is None else size
            if size <= util.SMALL_SNAPSHOT_MAX_BYTES and snap is None:
                # False: rows of different widths, which only the
                # distributed fold scores
                snap = _Snapshot.collect(df) or False
            self._snap = (df, size, snap)
            return snap if size <= util.SMALL_SNAPSHOT_MAX_BYTES and snap else None

    def find_most_similar(
        self,
        embedding,
        metadata_filter: Any = None,
        exclude_filter: Any = None,
        or_filters: Any = None,
        k: int = 5,
        autocut: bool = False,
        distances: bool = False,
    ):
        """The reference's flagship query (vector_database.py:466-536):
        pre-filter -> exact cosine top-k -> optional autocut.  Returns the
        reference's three parallel lists (ids, scores, metadatas), best
        first.  Scores are similarities (higher = better, the canonical
        form, SURVEY.md §2.3 op 20); ``distances=True`` returns 1 - sim
        ascending instead (the usearch variant's contract,
        sharded_vector_database_usearch.py:629-637) with the sign-flipped
        autocut (autocut_distances).

        Under the small-snapshot gate (``_snapshot``) the first search of
        this object runs one Spark job, the Arrow collect, and every
        later one runs none.  Above it a search is one Spark job, the
        filtered top-k ``collect``.  Both paths return the same ids and
        bit-identical scores.  An empty or fully filtered table comes back
        as ``([], [], [])``; a query of the wrong length raises
        ``ValueError``."""
        parsed = parse_filters(metadata_filter, exclude_filter, or_filters)
        snap = self._snapshot()
        if snap is not None:
            return _finish(*snap.search([embedding], parsed, k)[0], autocut, distances)
        # score the stored unit vectors (embedding_norm) — the write-once
        # normalization means search does one dot per row, no norm fold
        # (the immutable analogue of FAISS's normalized IndexFlatIP)
        result = knn(
            self.df, embedding, k=k, emb_col="embedding_norm", id_col="id",
            pred=emit_column(parsed), prenormalized=True,
        )
        rows = result.select("id", "score", *_META_COLS).collect()
        # zip_with pads a shorter array with nulls: a null score is a query
        # of the wrong length
        if any(r["score"] is None for r in rows):
            raise _dim_mismatch(len(embedding))
        ids = [r["id"] for r in rows]
        scores = [float(r["score"]) for r in rows]
        return _finish(ids, scores, [_reassemble_metadata(r) for r in rows], autocut, distances)

    def find_most_similar_batch(
        self,
        embeddings: Sequence,
        metadata_filter: Any = None,
        exclude_filter: Any = None,
        or_filters: Any = None,
        k: int = 5,
    ) -> list[tuple[list, list, list]]:
        """Multi-query search — the natural Spark extension (SURVEY.md §2.7).
        Returns one (ids, scores, metadatas) triple per query, in input
        order, each equal bit for bit to ``find_most_similar`` of that
        query.  Under the small-snapshot gate it runs on the driver; above
        it all queries run in ONE job (broadcast queries x corpus +
        two-stage per-query top-k, ``scoring.knn_batch_unit``) instead of
        a Python loop of single searches."""
        parsed = parse_filters(metadata_filter, exclude_filter, or_filters)
        snap = self._snapshot()
        if snap is not None:
            return snap.search(embeddings, parsed, k)
        corpus = self.df.filter(emit_column(parsed))
        out = knn_batch_unit(embeddings, corpus, k=k).collect()
        by_q: dict[int, list] = {}
        for r in out:
            if r["score"] is None:
                raise _dim_mismatch(len(embeddings[r["query_id"]]))
            by_q.setdefault(r["query_id"], []).append(r)
        results = []
        for i in range(len(embeddings)):
            rows = sorted(by_q.get(i, []), key=lambda r: order_key(r["score"], r["id"]))
            results.append(
                (
                    [r["id"] for r in rows],
                    [float(r["score"]) for r in rows],
                    [_reassemble_metadata(r) for r in rows],
                )
            )
        return results

    # ---------------- reference drop-in conveniences ----------------
    # The reference exposes rerank/autocut as METHODS on the database class
    # (vector_database.py:413, :443); delegate so a user can switch without
    # touching call sites.

    def hybrid_rerank_results(self, sentences, search_scores, query, k: int = 5,
                              weights=(0.80, 0.15, 0.05)):
        from minivectordb_spark.rerank import hybrid_rerank_results as _rr

        return _rr(sentences, search_scores, query, k=k, weights=weights)

    def autocut_scores(self, score_list):
        from minivectordb_spark.autocut import autocut_scores as _ac

        return _ac(score_list)

    def autocut_distances(self, distance_list):
        from minivectordb_spark.autocut import autocut_distances as _ad

        return _ad(distance_list)

    def persist_to_disk(self, path: str | None = None, max_records_per_file: int | None = None):
        """Reference-named alias of save() (vector_database.py:538)."""
        if path is None:
            raise ValueError("persist_to_disk requires a path (Parquet directory)")
        self.save(path, max_records_per_file=max_records_per_file)
