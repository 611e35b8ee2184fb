"""Exact cosine top-k as a Catalyst plan (reference read path,
minivectordb/vector_database.py:466-536).

The reference scans an L2-normalized float32 matrix with FAISS
``IndexFlatIP`` (exact inner-product top-k, vector_database.py:42-47, :497).
Here the same computation is a declarative plan:

    filter(pred) -> withColumn(score = cosine(embedding, q)) ->
    orderBy(score desc, id asc) -> limit(k)

which Catalyst plans as ``TakeOrderedAndProject`` — per-partition partial
top-k + driver merge of k rows, no global sort and no shuffle.  Pre-filtering
(filter BEFORE scoring) preserves the reference's exact-recall property: a
filter that keeps m < k rows returns exactly m results (k-clamping,
vector_database.py:489).

Scoring paths:

- ``cosine_sim`` / ``dot_expr``: one query vector as a JVM-side left fold
  (``aggregate(zip_with(...))`` in double precision), no Python in the
  loop.  The expression is built as ONE SQL string (``dot_sql``,
  ``norm_sql``, ``cosine_sql``) and parsed by ``F.expr``: three py4j
  round trips at any dimension, where building it from Column objects
  costs four to five per vector component.  The parsed tree is the same
  fold, and ``sql_double`` writes each query component so that Spark
  reads back the same double, so every score is bit-identical.
- ``knn_batch``: many queries in one job, a broadcast cross join scored
  with the same fold over two columns (``cosine_sim_cols``);
  ``knn_batch_unit`` scores stored unit vectors with ``knn``'s
  prenormalized fold instead.
- ``unit_scores`` / ``top_rows``: the prenormalized fold and the
  (score desc, id asc) top-k on the driver, over a snapshot already in
  driver memory; bit-identical to ``knn(prenormalized=True)``.
  ``top_rows`` is also each Arrow batch's partial top-k in
  ``CosineMatmulScorer``.
- ``CosineMatmulScorer``: many queries via an Arrow-batched pandas UDF
  doing one BLAS matmul per batch.  The query matrix is closed over by
  the UDF lambda and shipped once per task (broadcast-variable
  semantics), so the corpus never shuffles.
"""

from __future__ import annotations

import math
from typing import Iterable, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType


def l2_normalize(vec) -> list[float]:
    """Driver-side query normalization (reference normalizes the query with
    faiss.normalize_L2, vector_database.py:473-475)."""
    v = [float(x) for x in vec]
    n = math.sqrt(sum(x * x for x in v))
    if n == 0.0:
        return v
    return [x / n for x in v]


def sql_name(col: str) -> str:
    """A column name as SQL text: backtick-quoted, embedded backticks
    doubled, so any name reads back as exactly that one column."""
    return "`" + col.replace("`", "``") + "`"


def sql_double(x) -> str:
    """A double as SQL text that Spark parses back to the same bits.

    ``repr`` is the shortest decimal string that round-trips a Python
    float (-0.0 and subnormals included); the ``D`` suffix makes it a
    DOUBLE literal.  NaN and +/-inf have no literal form and go through a
    string cast instead."""
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    word = "NaN" if math.isnan(x) else ("Infinity" if x > 0 else "-Infinity")
    return f"CAST('{word}' AS DOUBLE)"


def dot_sql(emb: str, query: Sequence[float]) -> str:
    """SQL text of the left-fold dot product of the array expression
    ``emb`` (SQL text) with a constant query vector, in double precision.

    Left-fold order matters: it makes the floating-point result reproducible
    and bit-identical to any engine that sums left-to-right in double (the
    DuckDB correctness oracle does).
    """
    q = ", ".join(sql_double(x) for x in query)
    return (
        f"aggregate(zip_with(cast({emb} as array<double>), array({q}), (a, b) -> a * b), "
        "0D, (acc, x) -> acc + x)"
    )


def norm_sql(emb: str) -> str:
    """SQL text of ||emb||_2 as a left fold in double precision."""
    return f"sqrt(aggregate(transform(cast({emb} as array<double>), x -> x * x), 0D, (acc, x) -> acc + x))"


def cosine_sql(emb: str, query: Sequence[float], norm: str | None = None) -> str:
    """SQL text of cos(emb, query); ``norm`` is the SQL text of a staged
    row norm (default: fold it from ``emb``)."""
    q = [float(x) for x in query]
    qn = math.sqrt(sum(x * x for x in q))
    return f"{dot_sql(emb, q)} / ({norm or norm_sql(emb)} * {sql_double(qn)})"


def dot_expr(emb: str, query: Sequence[float]) -> Column:
    """Left-fold dot product of embedding column ``emb`` with ``query``."""
    return F.expr(dot_sql(sql_name(emb), query))


def norm_expr(emb: str) -> Column:
    """||v||_2 of embedding column ``emb`` as a left fold in double."""
    return F.expr(norm_sql(sql_name(emb)))


def cosine_sim(emb: str, query: Sequence[float]) -> Column:
    """cos(embedding column ``emb``, query) — higher is better (canonical
    similarity, SURVEY.md §2.3 op 20; distance = 1 - sim)."""
    return F.expr(cosine_sql(sql_name(emb), query))


def dot_cols(emb_a: Column, emb_b: Column) -> Column:
    """Left-fold dot product of two embedding columns in double precision."""
    return F.aggregate(
        F.zip_with(emb_a.cast("array<double>"), emb_b.cast("array<double>"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_sim_cols(emb_a: Column, emb_b: Column, norm_a: Column, norm_b: Column) -> Column:
    """cos between two embedding columns (for similarity joins), given
    their row norms.  The expression is evaluated per PAIR, so the norms
    are staged once per row (``norm_expr`` behind operators/util.py's
    ``materialize``) instead of being re-folded per pair."""
    return dot_cols(emb_a, emb_b) / (norm_a * norm_b)


def knn(
    df: DataFrame,
    query: Sequence[float],
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "id",
    pred: Column | None = None,
    score_col: str = "score",
    prenormalized: bool = False,
) -> DataFrame:
    """Exact cosine top-k over ``df`` (vector_database.py:466-536 happy path).

    Ties broken by ``id_col`` ascending so the result SET is deterministic.
    k-clamping is inherent: limit(k) over m matching rows returns min(k, m).

    ``prenormalized=True`` scores a stored unit-vector column with a plain
    dot product against the unit-normalized query — the FAISS IndexFlatIP
    pattern (normalize once at write, every search saves the per-row norm
    fold).  VectorTable maintains ``embedding_norm`` for exactly this.
    """
    out = df
    if pred is not None:
        out = out.filter(pred)
    if prenormalized:
        out = out.withColumn(score_col, dot_expr(emb_col, l2_normalize(query)))
    else:
        out = out.withColumn(score_col, cosine_sim(emb_col, query))
    # F.desc/F.asc on a name: three py4j round trips each, where
    # F.col(...).desc() pays ~25 for its call-site bookkeeping
    return out.orderBy(F.desc(score_col), F.asc(id_col)).limit(k)


def knn_batch(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 5,
    query_id_col: str = "query_id",
    query_emb_col: str = "query_embedding",
    corpus_id_col: str = "id",
    corpus_emb_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Batch multi-query exact kNN — the natural Spark extension the
    reference lacks (SURVEY.md §2.7: query↔corpus scoring is a broadcast
    nested-loop join).

    Plan shape: broadcast(queries) cross-join corpus -> cosine -> per-query
    top-k window.  The corpus (the 100 TB side) never shuffles for the join —
    only the per-query top-k aggregation moves data, and that is bounded by
    |queries| * k rows after partial aggregation.

    For very large query batches use :class:`CosineMatmulScorer` (BLAS
    matmul per Arrow batch) and the same window.
    """
    from minivectordb_spark.operators.util import materialize
    from minivectordb_spark.plans.width import ensure_parallelism

    # stage each side's norm once per ROW — computing it inside the join
    # expression would redo the fold once per (row, query) pair
    q = materialize(
        queries_df.select(F.col(query_id_col), F.col(query_emb_col).alias("__q_emb")),
        norm_expr("__q_emb"),
        "__q_norm",
        [query_id_col, "__q_emb"],
    )
    # parallelism gate on the scored side (r15): a single-row-group
    # corpus otherwise runs the |corpus| x |Q| cosine + partial top-k on
    # ONE task (profiled 0.45 s single-task in hybrid_rrf_batch);
    # identity at real split counts (plans.width.ensure_parallelism)
    corpus = materialize(
        ensure_parallelism(corpus_df),
        norm_expr(corpus_emb_col),
        "__c_norm",
        corpus_df.columns,
    )
    joined = corpus.crossJoin(F.broadcast(q))
    scored = joined.withColumn(
        score_col,
        cosine_sim_cols(
            F.col(corpus_emb_col),
            F.col("__q_emb"),
            norm_a=F.col("__c_norm"),
            norm_b=F.col("__q_norm"),
        ),
    ).drop("__q_emb", "__q_norm", "__c_norm")
    return _top_k_per_query(scored, k, query_id_col, corpus_id_col, score_col)


def knn_batch_unit(
    queries: Sequence[Sequence[float]],
    corpus_df: DataFrame,
    k: int = 5,
    emb_col: str = "embedding_norm",
    id_col: str = "id",
) -> DataFrame:
    """``knn_batch`` over a stored unit-vector column: each query is
    ``l2_normalize``-d on the driver and scored with the fold of
    ``knn(prenormalized=True)``, so every score has the bits a single
    search gives it, and no corpus norm is folded per call.  Returns
    (corpus columns..., ``query_id`` = position in ``queries``,
    ``score``)."""
    from minivectordb_spark.plans.width import ensure_parallelism

    spark = corpus_df.sparkSession
    q = spark.createDataFrame(
        [(i, l2_normalize(e)) for i, e in enumerate(queries)],
        "query_id int, __q_unit array<double>",
    )
    scored = (
        ensure_parallelism(corpus_df)
        .crossJoin(F.broadcast(q))
        .withColumn("score", dot_cols(F.col(emb_col), F.col("__q_unit")))
        .drop("__q_unit")
    )
    return _top_k_per_query(scored, k, "query_id", id_col, "score")


def _top_k_per_query(
    scored: DataFrame, k: int, query_id_col: str, id_col: str, score_col: str
) -> DataFrame:
    """Two-stage per-query top-k in (score desc, id asc) order: a
    (query, input-partition)-local rank first, so no reducer ever holds
    a whole query's copy of the corpus (the skew of a plain per-query
    window); the global rank then sees at most partitions*k rows per
    query."""
    from pyspark.sql import Window

    order = [F.col(score_col).desc(), F.col(id_col).asc()]
    w_local = Window.partitionBy(F.col(query_id_col), F.col("__pid")).orderBy(*order)
    local = (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn("__lrn", F.row_number().over(w_local))
        .filter(F.col("__lrn") <= k)
        .drop("__lrn", "__pid")
    )
    w = Window.partitionBy(query_id_col).orderBy(*order)
    return (
        local.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def unit_scores(unit_t: np.ndarray, query: Sequence[float]) -> np.ndarray:
    """``knn(prenormalized=True)``'s score of every row, on the driver.
    ``unit_t`` is the stored float32 unit vectors, one row per component
    (d, n).  The fold is ``dot_sql``'s operation order: acc = acc +
    e_j * q_j over ``l2_normalize(query)``, left to right in double, a
    separate multiply and add per component (no BLAS, no FMA), so each
    score has the bits Spark gives it.  Widening float32 to double is
    exact."""
    acc = np.zeros(unit_t.shape[1])
    prod = np.empty_like(acc)
    with np.errstate(all="ignore"):
        for col, qj in zip(unit_t, l2_normalize(query)):
            np.multiply(col, qj, out=prod, dtype=np.float64)
            np.add(acc, prod, out=acc)
    return acc


def order_key(score: float, row_id: str) -> tuple:
    """Sort key of Spark's ``(score desc, id asc)``: NaN sorts above
    +inf, -0.0 ties with 0.0, and ids compare by code point, which is
    UTF-8 byte order."""
    return (0, 0.0, row_id) if math.isnan(score) else (1, -score, row_id)


def top_rows(scores: np.ndarray, ids: np.ndarray, k: int) -> list[int]:
    """Indices of the ``k`` best rows in ``order_key`` order: a partial
    partition finds the k-th best score, every row tied at it stays a
    candidate, and only the candidates are sorted exactly."""
    n = len(scores)
    if k <= 0 or n == 0:
        return []
    key = np.where(np.isnan(scores), np.inf, scores)
    cand = range(n) if k >= n else np.flatnonzero(key >= np.partition(key, n - k)[n - k]).tolist()
    return sorted(cand, key=lambda r: order_key(scores[r], ids[r]))[:k]


def maxsim_score(
    df: DataFrame,
    query_vecs: Sequence[Sequence[float]],
    emb_col: str = "token_embeddings",
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """ColBERT-style late-interaction scoring (Khattab & Zaharia,
    SIGIR'20): a document is an ARRAY of token vectors
    (``array<array<float>>``); score(q, d) = sum over query token
    vectors of max over doc token vectors of cosine.  Multi-vector
    retrieval keeps per-token matching (unlike single-vector pooling)
    while staying a pure map-side expression here.

    Plan: the per-doc token-norm array is staged ONCE behind a Generate
    barrier (``materialize`` — HOFs are exempt from subexpression
    elimination, so without the barrier every query token would re-fold
    every doc token's norm); each query vector then contributes one
    zip_with + array_max over the staged pair, and the per-query maxes
    sum into one rounded score.  Zero joins, zero shuffles — cost is one
    scan x |q| x doc tokens, the same plan class as ``knn``.  Documents
    with no token vectors drop out (score undefined).  At 100 TB this
    composes with the IVF/LSH blocking paths exactly like single-vector
    cosine: block on a pooled or centroid vector first, maxsim only the
    candidates."""
    from minivectordb_spark.operators.util import materialize

    qs = [[float(x) for x in q] for q in query_vecs]
    if not qs:
        raise ValueError("maxsim_score: query_vecs must be non-empty")
    emb = sql_name(emb_col)
    staged = materialize(
        df,
        F.expr(f"transform({emb}, dv -> {norm_sql('dv')})"),
        "__dn",
        [id_col, emb_col],
    )
    per_q = [
        f"array_max(zip_with({emb}, `__dn`, (dv, n) -> {cosine_sql('dv', q, norm='n')}))"
        for q in qs
    ]
    score = F.expr(f"round({' + '.join(per_q)}, 6)")
    return staged.filter(F.size(F.col(emb_col)) > 0).select(
        F.col(id_col), score.alias(score_col)
    )


def maxsim_topk(
    df: DataFrame,
    query_vecs: Sequence[Sequence[float]],
    k: int = 10,
    emb_col: str = "token_embeddings",
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Top-k documents by late-interaction maxsim — ``maxsim_score``
    followed by the deterministic (score desc, id asc) TakeOrdered; the
    physical plan is TakeOrderedAndProject over the scan, no global
    sort, exactly like ``knn``."""
    return (
        maxsim_score(df, query_vecs, emb_col, id_col, score_col)
        .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .limit(k)
    )


def quantize_embeddings(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector symmetric int8 quantization for embedding storage:
    scale = 127 / max|x| (0 for the zero vector), q_i = clip(floor(x_i *
    scale + 0.5), -127, 127) — 4x smaller at rest than float32, 8x vs the
    double arrays Spark materializes, with <= 0.4% max per-element error.
    The usearch variant's ``dtype='int8'`` storage story
    (sharded_vector_database_usearch.py:621-627) as a columnar codec.

    floor(x + 0.5) instead of round(): round-half-up is the one rounding
    rule every engine reproduces bit-for-bit on doubles (numpy rint
    banker's-rounds, SQL round() dialects disagree; floor does not).

    Map-only; the scale column is staged behind a Generate barrier so the
    array_max isn't re-evaluated per element inside the transform lambda.

    Output: (id, scale round(6), qvec array<int>).  Recover vectors with
    ``dequantize_expr``; score directly with ``Int8MatmulScorer``.
    """
    from minivectordb_spark.operators.util import materialize

    # explicit double casts: the stored column is float32, and without them
    # one engine computes in float32 while the other promotes — parity dies
    mx = F.array_max(F.transform(F.col(emb_col), lambda x: F.abs(x.cast("double"))))
    scale = F.when(mx > 0, F.lit(127.0) / mx).otherwise(F.lit(0.0))
    staged = materialize(df.select(id_col, emb_col), scale, "__scale", [id_col, emb_col])
    q = F.transform(
        F.col(emb_col),
        lambda x: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127),
                F.floor(x.cast("double") * F.col("__scale") + F.lit(0.5)).cast("int"),
            ),
        ),
    )
    # raw double scale: one IEEE division -> bit-identical in every engine
    # (round(double, 6) is NOT — decimal formatting differs in the last
    # digit between engines, so no cosmetic rounding here)
    return staged.select(
        F.col(id_col),
        F.col("__scale").alias("scale"),
        q.alias("qvec"),
    )


def dequantize_expr(qvec: Column, scale: Column) -> Column:
    """int8 codes -> approximate float vector (exact zeros for scale 0)."""
    return F.when(scale > 0, F.transform(qvec, lambda q: q.cast("double") / scale)).otherwise(
        F.transform(qvec, lambda q: F.lit(0.0))
    )


def _matmul_score_topk(
    corpus_df: DataFrame,
    k: int,
    id_col: str,
    emb_col: str,
    query_ids: list,
    batch_scores,
) -> DataFrame:
    """(query_id, id, score) with per-query exact top-k, scored one Arrow
    batch at a time: ``batch_scores(unit)`` maps the batch's
    unit-normalized embeddings (rows, dim) to a (rows, |Q|) score matrix.

    Each mapInPandas partition emits only its LOCAL top-k per query
    (partial top-k, the map-side combine of TakeOrderedAndProject), so
    the shuffle carries at most partitions * |Q| * k rows; a per-query
    window then keeps the global top-k."""
    from pyspark.sql import Window

    id_type = corpus_df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("query_id", IntegerType()),
            StructField(id_col, id_type),
            StructField("score", DoubleType()),
        ]
    )

    def score_partition(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            emb = np.vstack(pdf[emb_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(emb, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            sims = batch_scores(emb / norms)
            ids = pdf[id_col].to_numpy()
            frames = []
            for j in range(sims.shape[1]):
                # partial top-k per query within this batch, globally
                # consistent (score desc, id asc) tiebreak
                rows = top_rows(sims[:, j], ids, k)
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": j,
                            id_col: ids[rows],
                            "score": sims[rows, j].astype(np.float64),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    partial = corpus_df.select(id_col, emb_col).mapInPandas(
        score_partition, schema=out_schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    final = (
        partial.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
    # map positional query index back to caller's query ids
    mapping = F.array(*[F.lit(q) for q in query_ids])
    return final.withColumn("query_id", mapping[F.col("query_id")])


class Int8MatmulScorer:
    """Quantized batch scorer — the usearch variant's int8 cosine analogue
    (sharded_vector_database_usearch.py:621-627: per-query index with
    ``dtype='int8'``).  Unit-normalized vectors quantize to int8 with a
    fixed scale of 127 (values in [-1, 1]); scores accumulate in int32 and
    rescale, trading ~1e-2 absolute score error for a 4x smaller working
    set per Arrow batch.  Rank order is preserved for all but near-tied
    neighbors — the same contract usearch offers.  API-compatible with
    CosineMatmulScorer.score_topk."""

    SCALE = 127.0

    def __init__(self, query_ids: Sequence, query_matrix: np.ndarray):
        qm = np.asarray(query_matrix, dtype=np.float64)
        norms = np.linalg.norm(qm, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        self.query_ids = list(query_ids)
        self.q8 = np.clip(np.rint(qm / norms * self.SCALE), -127, 127).astype(np.int8)

    def score_topk(
        self,
        corpus_df: DataFrame,
        k: int,
        id_col: str = "id",
        emb_col: str = "embedding",
    ) -> DataFrame:
        q8 = self.q8
        inv = 1.0 / (self.SCALE * self.SCALE)

        def batch_scores(unit):
            e8 = np.clip(np.rint(unit * 127.0), -127, 127).astype(np.int8)
            return (e8.astype(np.int32) @ q8.astype(np.int32).T) * inv

        return _matmul_score_topk(
            corpus_df, k, id_col, emb_col, self.query_ids, batch_scores
        )


class CosineMatmulScorer:
    """Vectorized many-queries scorer: one numpy/BLAS matmul per Arrow batch.

    This is the Spark analogue of FAISS's SIMD brute-force scan
    (vector_database.py:43, :497): the corpus streams through executors in
    Arrow batches; each batch computes ``E_norm @ Q_norm.T`` in one BLAS
    call (GIL released), emitting per-(row, query) scores.  Downstream a
    per-query top-k window reduces to |Q|*k rows.
    """

    def __init__(self, query_ids: Sequence, query_matrix: np.ndarray):
        # float64 throughout: BLAS dgemm is still one vectorized call per
        # batch, and double precision keeps scores comparable (post-round)
        # with the JVM/SQL double-fold scoring paths
        qm = np.asarray(query_matrix, dtype=np.float64)
        norms = np.linalg.norm(qm, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        self.query_ids = list(query_ids)
        self.qn = qm / norms

    def score_topk(
        self,
        corpus_df: DataFrame,
        k: int,
        id_col: str = "id",
        emb_col: str = "embedding",
    ) -> DataFrame:
        """Returns (query_id, id, score) with per-query exact top-k
        (``_matmul_score_topk``)."""
        qn = self.qn

        def batch_scores(unit):
            return unit @ qn.T  # (rows, |Q|) one BLAS call

        return _matmul_score_topk(
            corpus_df, k, id_col, emb_col, self.query_ids, batch_scores
        )
