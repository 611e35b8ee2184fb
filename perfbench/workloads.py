"""The benchmark's workloads.  Each is one closed-loop client calling the
package's public surface; every operation's result is checked, outside its
timed window, against a model kept by the benchmark itself.

A workload provides:

- ``prepare()``: write its inputs from the seed (not timed);
- ``setup(rep)``: the program's own set-up calls, timed and repeated;
- ``warmup()``: first calls that fill caches and compile, timed once;
- ``step(i)``: the i-th operation, inside ``tracer.op(...)``;
- ``check()``: the ids of operations whose result was wrong;
- ``primary_walls(ops)``: the latencies ``op_p50_ms`` is the median of.
"""

from __future__ import annotations

import os

import numpy as np

import gen

K = 10


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def _topk_ok(got_ids, got_scores, ids, scores, k, tol=1e-6) -> bool:
    """``got`` is a valid exact top-k of (ids, scores): same length, every
    returned id scored as claimed, and nothing better left out.  Ties
    within ``tol`` may resolve either way."""
    n = min(k, len(ids))
    if len(got_ids) != n or len(set(got_ids)) != n:
        return False
    if n == 0:
        return True
    pos = {i: j for j, i in enumerate(ids)}
    for gid, gs in zip(got_ids, got_scores):
        j = pos.get(gid)
        if j is None or abs(scores[j] - gs) > tol:
            return False
    kth = np.partition(-scores, n - 1)[n - 1] * -1.0
    return min(got_scores) >= kth - tol and list(got_scores) == sorted(got_scores, reverse=True)


def _autocut_keep(scores) -> int:
    """Result count after autocut: cut after the largest relative drop
    when it exceeds 0.2 (the reference's rule)."""
    if len(scores) < 2:
        return len(scores)
    drops = [(scores[i - 1] - scores[i]) / scores[i - 1] for i in range(1, len(scores))]
    m = max(drops)
    return drops.index(m) + 1 if m > 0.2 else len(scores)


def _unit(mat: np.ndarray) -> np.ndarray:
    """float32 rows scaled as the table stores them: norm folded in
    double, the quotient rounded back to float32."""
    m64 = mat.astype(np.float64)
    n = np.sqrt((m64 * m64).sum(axis=1, keepdims=True))
    return np.where(n > 0, m64 / np.where(n > 0, n, 1.0), m64).astype(np.float32)


def _query_unit(q) -> np.ndarray:
    q = np.asarray(q, dtype=np.float64)
    return q / np.sqrt((q * q).sum())


def _dir_bytes(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class Workload:
    name = ""
    setup_reps = 3
    # the operation kind whose latency the end-to-end metrics report
    primary = ""
    # a run stops only after a whole number of these many operations (a
    # cycle), so every run has the same mix of operation kinds
    unit = 1
    # operations of a --smoke run: enough to reach every operation kind
    smoke_ops = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.records: list[dict] = []

    @property
    def spark(self):
        return self.ctx.spark

    @property
    def tracer(self):
        return self.ctx.tracer

    def finished(self, elapsed: float, n_ops: int) -> bool:
        return n_ops % self.unit == 0 and (elapsed >= self.ctx.seconds or n_ops >= self.ctx.max_ops)

    def primary_walls(self, ops: list[dict]) -> list[float]:
        return [o["wall_s"] for o in ops if o["kind"] == self.primary]

    def layer_metrics(self, ops: list[dict]) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------------
# interactive: searches, with durable writes and index upkeep beside them
# ---------------------------------------------------------------------------

TAGS = [f"t{i}" for i in range(12)]
META = ["lang", "source", "n_chars", "tags", "text"]


class Interactive(Workload):
    """The MiniVectorDB user.  A DurableVectorTable of embedded documents
    is searched by full queries: embed the text, ``find_most_similar``
    under a pre-filter that rotates through none / AND / OR / EXCLUDE /
    ``$in`` (autocut on every other query), then ``hybrid_rerank_results``.

    One cycle (``SCHEDULE``) is the search traffic -- 15 such queries and
    one 32-query ``find_most_similar_batch`` -- interleaved with the ingest
    traffic: three 50-row durable commits, store, upsert and delete in that
    order, each followed by a read of the new version, and one dedup-index
    probe -> append cycle over 50 new documents.  No measured or published
    read:write ratio exists for this engine; the ratio is assumed, chosen
    so that neither side is a small share of the cycle's time (see
    README).  Only whole cycles run, so every run has the same mix of
    operations however fast the host is."""

    name = "interactive"
    primary = "query"
    SCHEDULE = (
        ("query",) * 5 + ("store",) + ("query",) * 5 + ("upsert",) + ("query",) * 5
        + ("delete", "batch_search", "index_cycle")
    )
    QUERIES = SCHEDULE.count("query")
    unit = smoke_ops = len(SCHEDULE)
    SEARCH_KINDS = ("query", "batch_search")
    BATCH = 50
    BATCH_Q = 32
    WARM_QUERIES = 10

    def prepare(self):
        from minivectordb_spark.embedder import HashProjectionEmbedder

        ctx = self.ctx
        self.emb = HashProjectionEmbedder(dim=gen.DIM)
        docs = self._new_docs(np.random.default_rng([ctx.seed, 2]), [f"d{i}" for i in range(ctx.docs)])
        self.docs_path = os.path.join(ctx.data, "docs.parquet")
        self._write_docs(self.docs_path, docs)
        self.base = docs
        ref = gen.documents(np.random.default_rng([ctx.seed, 3]), ctx.index_docs).to_pandas()
        self.ref_path = os.path.join(ctx.data, "index_ref.parquet")
        ref[["doc_id", "text"]].to_parquet(self.ref_path, index=False)
        self.ref_texts = ref["text"].tolist()
        return {"docs": len(docs), "index_docs": len(ref)}

    def _new_docs(self, r: np.random.Generator, ids: list[str]) -> dict[str, dict]:
        texts = gen.random_texts(r, len(ids))
        vecs = self.emb.embed_batch(texts)
        return {
            i: {
                "embedding": v, "text": t, "lang": str(r.choice(gen.LANGS, p=gen.LANG_P)),
                "source": f"src{int(r.integers(0, gen.N_SOURCES))}", "n_chars": len(t),
                "tags": [str(x) for x in r.choice(TAGS, int(r.integers(1, 4)), replace=False)],
            }
            for i, t, v in zip(ids, texts, vecs)
        }

    def _write_docs(self, path: str, docs: dict[str, dict]) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = list(docs.values())
        cols = {"doc_id": pa.array(list(docs))}
        cols["embedding"] = pa.array([d["embedding"] for d in rows], type=pa.list_(pa.float32()))
        for c in META:
            cols[c] = pa.array([d[c] for d in rows])
        pq.write_table(pa.table(cols), path)

    def _shaped(self, path: str):
        """A Parquet file of documents shaped into table rows (the bulk
        ingest path)."""
        from minivectordb_spark.table import VectorTable

        return VectorTable.from_dataframe(self.spark.read.parquet(path), id_col="doc_id", meta_cols=META).df

    def setup(self, rep: int):
        from minivectordb_spark.durable import DurableVectorTable
        from minivectordb_spark.operators.dedup import save_dedup_index
        from minivectordb_spark.table import VectorTable

        self.table_path = os.path.join(self.ctx.work, f"table_{rep}")
        self.durable = DurableVectorTable.create(self._shaped(self.docs_path), self.table_path, id_col="id")
        self.index_path = os.path.join(self.ctx.work, f"dedup_index_{rep}")
        # 16 band-prefix directories: the documented sizing for a small index
        save_dedup_index(self.spark.read.parquet(self.ref_path), self.index_path, prefix_len=1)
        self.table = VectorTable.load_durable(self.spark, self.table_path)
        self.model = dict(self.base)
        self._arrays = None
        self.indexed_texts = list(self.ref_texts)
        self.next_doc = len(self.ref_texts)
        self.next_id = 0
        self._reset_counts()

    def _reset_counts(self):
        self.records.clear()
        self.bytes_written = 0
        self.user_bytes = 0
        self.buckets_rewritten = []

    def warmup(self):
        """Queries of every filter kind, until the JVM's compiled code has
        settled."""
        for i in range(self.WARM_QUERIES):
            self._query(i, np.random.default_rng([self.ctx.seed, 4, i]))
        if not all(r["ok"] for r in self.records):
            raise RuntimeError("a warmup query returned a wrong result")
        self._reset_counts()

    def step(self, i: int):
        cycle, slot = divmod(i, self.unit)
        kind = self.SCHEDULE[slot]
        if kind == "query":
            n = cycle * self.QUERIES + self.SCHEDULE[:slot].count("query")
            self._query(n, np.random.default_rng([self.ctx.seed, 5, i]))
        elif kind == "batch_search":
            self._batch(i, cycle)
        elif kind == "index_cycle":
            self._index_cycle(i)
        else:
            self._commit(i, kind)

    # -- the model the results are checked against --------------------------

    def _model_arrays(self):
        import pandas as pd

        if self._arrays is None:
            ids = sorted(self.model)
            rows = [self.model[k] for k in ids]
            meta = pd.DataFrame({c: [d[c] for d in rows] for c in META})
            unit = _unit(np.stack([d["embedding"] for d in rows])).astype(np.float64)
            self._arrays = (np.array(ids), unit, meta)
        return self._arrays

    def _expected(self, q, f: dict):
        ids, unit, meta = self._model_arrays()
        m = _mask(meta, f)
        return ids[m], unit[m] @ _query_unit(q)

    # -- operations -----------------------------------------------------------

    def _text(self, r: np.random.Generator) -> str:
        return " ".join(r.choice(gen.VOCAB, int(r.integers(4, 13))))

    def _query(self, n: int, r: np.random.Generator):
        """The n-th query: its filter kind and autocut follow from n."""
        from minivectordb_spark.rerank import hybrid_rerank_results

        text = self._text(r)
        f = _filter(n, r)
        autocut = n % 2 == 1
        with self.tracer.op("query", filter=next(iter(f), "none"), autocut=autocut) as rec:
            q = self.emb.embed(text)
            ids, scores, metas = self.table.find_most_similar(q.tolist(), k=K, autocut=autocut, **f)
            texts = [m["text"] for m in metas]
            top, _ = hybrid_rerank_results(texts, scores, text, k=5)
            rec["results"] = len(ids)
        exp_ids, exp_scores = self._expected(q, f)
        keep = K
        if autocut:
            order = np.lexsort((exp_ids, -exp_scores))[:K]
            keep = _autocut_keep(list(exp_scores[order]))
        ok = _topk_ok(ids, scores, exp_ids, exp_scores, keep)
        ok = ok and len(top) == min(5, len(ids)) and set(top) <= set(texts)
        self.records.append({"op": rec["id"], "ok": ok})

    def _batch(self, i: int, cycle: int):
        r = np.random.default_rng([self.ctx.seed, 6, i])
        texts = [self._text(r) for _ in range(self.BATCH_Q)]
        f = _filter(cycle, r)
        with self.tracer.op("batch_search", filter=next(iter(f), "none")) as rec:
            vecs = self.emb.embed_batch(texts)
            res = self.table.find_most_similar_batch([v.tolist() for v in vecs], k=K, **f)
            rec["results"] = sum(len(x[0]) for x in res)
        ok = len(res) == len(vecs)
        for v, (got_ids, got_scores, _) in zip(vecs, res):
            ok = ok and _topk_ok(got_ids, got_scores, *self._expected(v, f), K)
        self.records.append({"op": rec["id"], "ok": ok})

    def _commit(self, i: int, kind: str):
        """One durable commit, then the read that opens the new version."""
        from minivectordb_spark.durable import DurableVectorTable
        from minivectordb_spark.table import VectorTable

        r = np.random.default_rng([self.ctx.seed, 7, i])
        live = sorted(self.model)
        if kind == "delete":
            batch = {str(k): None for k in r.choice(live, self.BATCH, replace=False)}
        else:
            old = [str(x) for x in r.choice(live, self.BATCH // 2, replace=False)] if kind == "upsert" else []
            new = [f"n{self.next_id + j}" for j in range(self.BATCH - len(old))]
            self.next_id += len(new)
            batch = self._new_docs(r, old + new)
            path = os.path.join(self.ctx.work, f"batch_{i}.parquet")
            self._write_docs(path, batch)
        q = self.emb.embed(self._text(r))
        before = _dir_bytes(self.table_path)
        gens = {k: b["gen"] for k, b in self.durable.manifest["buckets"].items()}

        with self.tracer.op("commit", write=kind) as rec:
            with self.tracer.phase("write"):
                if kind == "delete":
                    self.durable = self.durable.delete_embeddings_batch(list(batch))
                elif kind == "store":
                    self.durable = self.durable.store_embeddings_batch(self._shaped(path))
                else:
                    self.durable = self.durable.upsert_embeddings_batch(self._shaped(path))
            with self.tracer.phase("read_after_write"):
                self.table = VectorTable.load_durable(self.spark, self.table_path)
                ids, scores, _ = self.table.find_most_similar(q.tolist(), k=K)
            rec["results"] = len(ids)

        after = _dir_bytes(self.table_path)
        self.buckets_rewritten.append(
            sum(1 for k, b in self.durable.manifest["buckets"].items() if b["gen"] != gens.get(k)))
        if kind != "delete":
            self.bytes_written += sum(s for p, s in after.items() if p not in before)
            self.user_bytes += os.path.getsize(path)
        for k, d in batch.items():
            if d is None:
                del self.model[k]
            else:
                self.model[k] = d
        self._arrays = None
        ok = _topk_ok(ids, scores, *self._expected(q, {}), K)
        ok = ok and DurableVectorTable.load(self.spark, self.table_path).count() == len(self.model)
        self.records.append({"op": rec["id"], "ok": ok})

    def _index_cycle(self, i: int):
        """Probe 50 documents against the dedup index and append the
        survivors.  The fresh documents draw from a vocabulary of their
        own, so none near-duplicates anything indexed; the rest are
        verbatim copies of indexed documents and must be dropped."""
        import pandas as pd

        from minivectordb_spark.operators.dedup import dedup_against_indexed, update_dedup_index

        r = np.random.default_rng([self.ctx.seed, 8, i])
        n_copy = self.BATCH // 5
        fresh = [" ".join(f"w{int(x)}" for x in r.integers(0, 10**6, int(r.integers(8, 40))))
                 for _ in range(self.BATCH - n_copy)]
        copies = [self.indexed_texts[int(j)] for j in r.choice(len(self.indexed_texts), n_copy, replace=False)]
        ids = list(range(self.next_doc, self.next_doc + self.BATCH))
        self.next_doc += self.BATCH
        path = os.path.join(self.ctx.work, f"probe_{i}.parquet")
        pd.DataFrame({"doc_id": ids, "text": fresh + copies}).to_parquet(path, index=False)

        with self.tracer.op("index_cycle") as rec:
            probe = self.spark.read.parquet(path)
            keep = [row["doc_id"] for row in dedup_against_indexed(probe, self.index_path).select("doc_id").collect()]
            update_dedup_index(probe.filter(probe["doc_id"].isin(keep)), self.index_path)
        self.records.append({"op": rec["id"], "ok": sorted(keep) == ids[: len(fresh)]})
        self.indexed_texts.extend(fresh)

    def check(self) -> list[int]:
        return [r["op"] for r in self.records if not r["ok"]]

    def layer_metrics(self, ops: list[dict]) -> dict[str, float]:
        live_bytes = sum(
            sum(_dir_bytes(self.durable._bucket_path(int(k))).values())
            for k, b in self.durable.manifest["buckets"].items() if b["rows"] > 0
        )
        total = sum(_dir_bytes(self.table_path).values())
        cycles = max(1, len(self.tracer.ops) // self.unit)
        search_s = sum(o["wall_s"] for o in ops if o["kind"] in self.SEARCH_KINDS)
        return {
            # the cycle's time split between its search and ingest traffic
            "op.search_s_per_cycle": search_s / cycles,
            "op.ingest_s_per_cycle": (sum(o["wall_s"] for o in ops) - search_s) / cycles,
            "durable.buckets_rewritten_per_op": float(np.mean(self.buckets_rewritten)) if self.buckets_rewritten else 0.0,
            "durable.bytes_written_per_user_byte": self.bytes_written / self.user_bytes if self.user_bytes else 0.0,
            "durable.bytes_per_live_byte": total / live_bytes if live_bytes else 0.0,
        }


def _filter(i: int, r: np.random.Generator) -> dict:
    """The i-th pre-filter of the rotation none / AND / OR / EXCLUDE / $in."""
    kind = i % 5
    lang = str(r.choice(gen.LANGS))
    if kind == 0:
        return {}
    if kind == 1:
        return {"metadata_filter": {"lang": lang, "n_chars": {"$gte": int(r.integers(100, 400))}}}
    if kind == 2:
        return {"or_filters": [{"lang": lang}, {"source": f"src{int(r.integers(0, gen.N_SOURCES))}"}]}
    if kind == 3:
        return {"exclude_filter": {"lang": lang}}
    return {"metadata_filter": {"tags": {"$in": str(r.choice(TAGS))}}}


def _mask(meta, f: dict) -> np.ndarray:
    """The rows of ``meta`` a filter of ``_filter`` selects."""
    m = np.ones(len(meta), dtype=bool)
    for key, spec in (f.get("metadata_filter") or {}).items():
        if key == "tags":
            m &= meta["tags"].map(lambda t, v=spec["$in"]: v in t).to_numpy()
        elif isinstance(spec, dict):
            m &= (meta[key] >= spec["$gte"]).to_numpy()
        else:
            m &= (meta[key] == spec).to_numpy()
    if f.get("or_filters"):
        o = np.zeros(len(meta), dtype=bool)
        for sub in f["or_filters"]:
            for key, v in sub.items():
                o |= (meta[key] == v).to_numpy()
        m &= o
    for key, v in (f.get("exclude_filter") or {}).items():
        m &= (meta[key] != v).to_numpy()
    return m


# ---------------------------------------------------------------------------
# pipeline: batch operator queries
# ---------------------------------------------------------------------------

# query -> the package modules it calls ("sql" for a plain SQL shape).
# Every operator module is called by at least one query; one cheap query
# per module keeps a pass short.
PIPELINE = {
    "pagerank": ("graph",),
    "setsim_against": ("setsim",),
    "lsh_jaccard_pairs": ("dedup",),
    "record_linkage": ("linkage",),
    "events_sessions_native": ("streaming",),
    "hybrid_rrf": ("bm25", "hybrid", "scoring"),
    "ivf_search_indexed": ("ann",),
    "activity_spans": ("ranges",),
    "events_asof": ("temporal",),
    "events_anomaly": ("anomaly",),
    "heavy_hitters": ("sketches", "text"),
    "multimodal_features": ("multimodal",),
    "pack_sequences": ("prep", "text"),
    "filter_events_or": ("filters", "sql"),
}
MODULES = sorted({m for ms in PIPELINE.values() for m in ms})


class Pipeline(Workload):
    """Batch operator queries of ``__spark_entry__`` through the ``noop``
    sink, one query per operation, in whole passes over the
    set in a seed-chosen order.  The primary latency is a whole warm pass.
    The warmup pass collects every result and compares it with the query's
    DuckDB twin."""

    name = "pipeline"
    primary = "pass"
    unit = smoke_ops = len(PIPELINE)

    def prepare(self):
        ctx = self.ctx
        self.sf_dir = os.path.join(ctx.data, "sf")
        return gen.generate(self.sf_dir, ctx.pipeline_sf, ctx.seed)

    def setup(self, rep: int):
        # resolving every input: the footer reads a batch job pays first
        for t in gen.TABLES:
            self.spark.read.parquet(os.path.join(self.sf_dir, f"{t}.parquet")).schema

    def warmup(self):
        import __spark_entry__ as entry

        qs = {**entry.demoted_queries(), **entry.queries()}
        self.qs = {n: qs[n] for n in PIPELINE}
        self.warm_results = {}
        for n, fn in self.qs.items():
            self.warm_results[n] = fn(self.spark, self.sf_dir).toPandas()
        self.passes: list[list[int]] = []
        self.order: list[str] = []

    def step(self, i: int):
        if i % len(PIPELINE) == 0:
            r = np.random.default_rng([self.ctx.seed, 7, i])
            self.order = list(r.permutation(list(PIPELINE)))
            self.passes.append([])
        name = self.order[i % len(PIPELINE)]
        with self.tracer.op("operator", query=name, modules=PIPELINE[name]) as rec:
            self.qs[name](self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
        self.passes[-1].append(rec["id"])

    def whole_passes(self, ops: list[dict]) -> list[list[dict]]:
        """The passes all of whose queries are in ``ops``."""
        by_id = {o["id"]: o for o in ops}
        return [[by_id[i] for i in p] for p in self.passes
                if len(p) == len(PIPELINE) and all(i in by_id for i in p)]

    def primary_walls(self, ops: list[dict]) -> list[float]:
        return [sum(o["wall_s"] for o in p) for p in self.whole_passes(ops)]

    def check(self) -> list[int]:
        import duckdb

        import __spark_entry__ as entry

        compare = self.ctx.oracle_compare
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in gen.TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            self.mismatches = {}
            for n, sdf in self.warm_results.items():
                problems = compare(n, sdf, con.sql(oracles[n]).df())
                if problems:
                    self.mismatches[n] = problems
        finally:
            con.close()
        # a wrong answer in the warmup pass marks every timed run of that query
        return [op["id"] for op in self.tracer.ops if op.get("query") in self.mismatches]


WORKLOADS = {w.name: w for w in (Interactive, Pipeline)}

