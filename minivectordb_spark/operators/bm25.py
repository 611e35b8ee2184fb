"""BM25 keyword retrieval — the sparse leg of hybrid search.

The reference is dense-only (FAISS cosine + hash/fuzzy rerank); a vector
engine replacing it at corpus scale needs the classic keyword ranker next
to the dense path so callers can fuse both (dense kNN from scoring.py,
BM25 here, rerank.py on top).

Shape: Okapi BM25 with the standard k1/b defaults.

    score(D, Q) = sum_t idf(t) * tf(t, D) * (k1 + 1)
                  / (tf(t, D) + k1 * (1 - b + b * |D| / avgdl))
    idf(t) = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)

Plan: two tiny driver-side stats (N + sum of doc lengths in one agg; df_t
for the handful of query tokens in one agg) collected like IVF centroids,
then ONE map-only pass over the corpus — per-doc tf via size(filter(...))
on the staged token array — into TakeOrderedAndProject.  No shuffle of the
corpus, no inverted index to maintain; at 100 TB the scan is the cost and
it parallelizes perfectly.  (A pre-built inverted index would beat it for
low-latency serving — that is a different storage trade, like ann.py's
persisted IVF.)
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from minivectordb_spark.operators.text import tokens
from minivectordb_spark.operators.util import materialize

DEFAULT_K1 = 1.2
DEFAULT_B = 0.75


def corpus_stats(df: DataFrame, text_col: str = "text") -> tuple[int, float]:
    """(N, avgdl) in one aggregation.  avgdl = sum(dl)/N (exact integer sum
    then one division — reproducible bit-for-bit in any engine, unlike a
    streaming avg())."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(tokens(F.col(text_col)))).alias("sdl"),
    ).collect()[0]
    n = int(row["n"])
    return n, (float(row["sdl"]) / n if n else 0.0)


def doc_frequencies(
    df: DataFrame, query_tokens: list[str], text_col: str = "text"
) -> dict[str, int]:
    """df_t for each query token in one pass: explode the per-doc DISTINCT
    tokens, keep the query set, count."""
    if not query_tokens:
        return {}
    qset = sorted(set(query_tokens))
    rows = (
        df.select(F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("t"))
        .filter(F.col("t").isin(qset))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    )
    found = {r["t"]: int(r["df"]) for r in rows}
    return {t: found.get(t, 0) for t in qset}


# Above this many DISTINCT query tokens the unrolled sum-of-terms
# expression (one filter() scan of __toks per token) is replaced by a
# single aggregate() fold over the matched tokens against a token->idf
# map, keeping expression depth constant in |Q| (VERDICT r3 item 4).
EXPR_TOKEN_BOUND = 16


def _idf(n: int, df_t: int) -> float:
    return math.log((n - df_t + 0.5) / (df_t + 0.5) + 1.0)


def _bm25_map_score(idf_map, avgdl: float, k1: float, b: float):
    """BM25 score as ONE bounded-depth expression: filter __toks down to
    tokens present in the idf map, fold their SORTED distinct set with
    aggregate().  Addition order (sorted tokens, 0.0 seed, left fold)
    matches the unrolled form bit-for-bit: absent tokens contribute an
    exact +0.0 there, which is an FP identity.

    `idf_map` is a map<string,double> Column — a literal for single-query
    search, a per-row column for the batch variant.  Works for any |Q|:
    the expression tree no longer grows branches per token."""
    dl = F.size(F.col("__toks")).cast("double")
    hits = F.filter(
        F.col("__toks"), lambda x: F.try_element_at(idf_map, x).isNotNull()
    )
    matched = F.array_sort(F.array_distinct(hits))

    def term(t):
        tf = F.size(F.filter(hits, lambda x: x == t)).cast("double")
        denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl))
        return F.try_element_at(idf_map, t) * tf * F.lit(k1 + 1.0) / denom

    return F.aggregate(
        matched, F.lit(0.0), lambda acc, t: acc + term(t)
    )


def _idf_map_literal(idfs: dict[str, float]):
    pairs: list = []
    for t in sorted(idfs):
        pairs.append(F.lit(t))
        pairs.append(F.lit(float(idfs[t])))
    return F.create_map(*pairs)


def bm25_search(
    df: DataFrame,
    query_tokens: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    mode: str = "auto",
) -> DataFrame:
    """Top-k documents by BM25 — (id, bm25) with the global (score desc,
    id asc) tie order shared by every ranked operator in the engine.

    ``mode``: "expr" unrolls one term per distinct token (fastest for the
    handful-of-keywords case), "map" folds a token->idf map literal with
    aggregate() (constant expression depth — the long-query path), "auto"
    picks by EXPR_TOKEN_BOUND.  Both modes produce identical scores (the
    fold order is engineered to match; unit-tested)."""
    n, avgdl = corpus_stats(df, text_col)
    dfs = doc_frequencies(df, query_tokens, text_col)
    staged = materialize(df, tokens(F.col(text_col)), "__toks", [id_col])
    dl = F.size(F.col("__toks")).cast("double")
    qtoks = sorted(set(query_tokens))
    if mode == "auto":
        mode = "expr" if len(qtoks) <= EXPR_TOKEN_BOUND else "map"

    if mode == "map":
        score = _bm25_map_score(
            _idf_map_literal({t: _idf(n, dfs[t]) for t in qtoks}), avgdl, k1, b
        )
    else:

        def tf_expr(tok: str):
            # factory closure, NOT `lambda x, _t=tok:` — PySpark infers HOF
            # arity from the Python signature, so a defaulted second arg
            # turns the lambda into (element, index) and breaks the
            # predicate
            return F.size(
                F.filter(F.col("__toks"), lambda x: x == F.lit(tok))
            ).cast("double")

        score = F.lit(0.0)
        for t in qtoks:
            tf = tf_expr(t)
            denom = tf + F.lit(k1) * (
                F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl)
            )
            score = score + F.lit(_idf(n, dfs[t])) * tf * F.lit(k1 + 1.0) / denom
    return (
        staged.select(F.col(id_col), F.round(score, 6).alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )


def bm25_search_batch(
    df: DataFrame,
    queries: dict[int, list[str]],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
) -> DataFrame:
    """Multi-query BM25 in ONE corpus pass: (query_id, doc_id, bm25) with
    per-query top-k.  The classic sparse-retrieval postings shape, which
    is also the 100 TB shape — nothing ever materializes |corpus| x |Q|
    rows (a first cut cross-joined the staged corpus against the query
    frame and was 7x slower at sf0.1: 150k duplicated token arrays):

    1. global stats (N, avgdl) + df_t for the UNION of all query tokens —
       two bounded collects, same as single-query;
    2. postings: explode tokens, keep ONLY the union-token hits (the
       isin filter runs map-side inside the explode projection), then one
       (doc, token) groupBy for tf — the only corpus shuffle, carrying
       just the matching postings (sparse by construction);
    3. broadcast-join the tiny (query_id, token, idf) frame on token —
       each posting fans out only to the queries containing its token;
    4. per (query, doc): fold the term list in SORTED token order
       (sort_array over a collect_list of ≤|q| structs) so the float
       addition order is bit-identical to the single-query operator and
       the DuckDB oracle;
    5. per-query top-k window over the scored pairs (bounded: only docs
       sharing ≥1 token with the query exist at this point).
    """
    from pyspark.sql import Window

    all_toks = sorted({t for toks in queries.values() for t in toks})
    if not all_toks:
        schema = f"query_id bigint, {id_col} " \
            f"{dict(df.dtypes)[id_col]}, bm25 double"
        return df.sparkSession.createDataFrame([], schema)

    # ONE tokenize pass for stats + df_t + postings (r15): the corpus was
    # previously tokenized three times (corpus_stats collect,
    # doc_frequencies collect, the postings explode) — three full corpus
    # scans per call for values derivable from one staged frame.  Stage
    # (id, dl, matched-occurrences) once behind a lazy checkpoint: dl is
    # the full token count (a long), __m keeps ONLY occurrences of
    # union-set tokens.  The checkpoint holds one row per corpus document,
    # but each row is narrow: the id, one long and a short array instead
    # of the text.  Every downstream count is exact: sum(dl) as a long and
    # N for avgdl, per-token distinct-doc counts for df_t, and tf =
    # occurrence count within __m (F.filter keeps duplicates).
    toks_col = tokens(F.col(text_col))
    staged = (
        df.select(
            F.col(id_col),
            F.size(toks_col).cast("long").alias("__dl"),
            F.filter(toks_col, lambda x: x.isin(all_toks)).alias("__m"),
        )
        .localCheckpoint(eager=False)
    )
    # (N, sum dl) and the per-token distinct-doc counts in ONE collect: a
    # union of the two aggregates shares the staged scan inside a single
    # job instead of paying two driver round-trips (the NULL-token row is
    # the corpus-level aggregate)
    stats_rows = (
        staged.agg(F.count(F.lit(1)).alias("a"), F.sum("__dl").alias("b"))
        .select(F.lit(None).cast("string").alias("t"), "a", "b")
        .unionByName(
            staged.select(F.explode(F.array_distinct("__m")).alias("t"))
            .groupBy("t")
            .agg(F.count(F.lit(1)).alias("a"), F.lit(None).cast("long").alias("b"))
        )
        .collect()
    )
    n, avgdl, found = 0, 0.0, {}
    for r in stats_rows:
        if r["t"] is None:
            n = r["a"]
            avgdl = float(r["b"]) / n if n else 0.0
        else:
            found[r["t"]] = r["a"]
    dfs = {t: found.get(t, 0) for t in all_toks}
    idf = {t: _idf(n, dfs[t]) for t in all_toks}

    qrows = [
        (int(qid), t, float(idf[t]))
        for qid, toks in sorted(queries.items())
        for t in sorted(set(toks))
    ]
    qdf = df.sparkSession.createDataFrame(
        qrows, "query_id bigint, __tok string, __idf double"
    )

    postings = (
        staged.select(
            F.col(id_col),
            F.col("__dl"),
            F.explode("__m").alias("__tok"),
        )
        .groupBy(id_col, "__dl", "__tok")
        .agg(F.count(F.lit(1)).cast("double").alias("__tf"))
    )
    terms = postings.join(F.broadcast(qdf), "__tok")
    pairs = terms.groupBy("query_id", id_col, "__dl").agg(
        F.sort_array(
            F.collect_list(F.struct("__tok", "__tf", "__idf"))
        ).alias("__terms")
    )
    dl = F.col("__dl")
    score = F.aggregate(
        F.col("__terms"),
        F.lit(0.0),
        lambda acc, s: acc
        + s["__idf"] * s["__tf"] * F.lit(k1 + 1.0)
        / (
            s["__tf"]
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl))
        ),
    )
    scored = pairs.select(
        "query_id", F.col(id_col), F.round(score, 6).alias("bm25")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col(id_col).asc()
    )
    return (
        scored.filter(F.col("bm25") > 0)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
