"""Maximal Marginal Relevance (MMR) diversified top-k re-ranking
(Carbonell & Goldstein, SIGIR'98) — the diversity stage a RAG retrieval
pipeline runs after exact/ANN search.

Two-stage plan, scale work first:

  1. POOL (distributed, corpus-scale): exact cosine top-``pool`` via the
     same TakeOrderedAndProject plan as ``scoring.knn`` — per-partition
     partial top-k, driver merge of ``pool`` rows, no global sort.  This
     is the only stage that touches the corpus; everything after is
     O(pool^2), a constant.
  2. GREEDY (bounded): pairwise cosines within the pool computed
     RELATIONALLY (a pool x pool broadcast cross join — constant-bounded
     at pool^2 rows, independent of corpus size), then the k-step greedy
     argmax over the collected micro-integer tables.  The collect is
     constant-bounded (pool + pool^2 rows) — the same class as the kNN
     driver merge, never corpus-sized.

Engine parity: relevance and pairwise similarities are frozen to integer
micro-units (round(cos, 6) * 1e6, rounded — never truncated — to BIGINT)
BEFORE the greedy loop, so every argmax compares integers and the DuckDB
twin's unrolled k-step CTE replays the selection bit-exactly.  The MMR
objective in micro^2 units:

    mmr(c | S) = lam_u * rel_u(c) - (1e6 - lam_u) * max_{s in S} sim_u(c, s)

with the first pick (S empty) scored as lam_u * rel_u(c).  Ties broken by
id ascending at every step.

Reference analogue: none (the reference returns plain top-k,
`vector_database.py:466-536`); this is the LLM-pipeline extension family.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from minivectordb_spark.operators.dedup import _reused
from minivectordb_spark.scoring import cosine_sim, cosine_sim_cols, norm_expr

MICRO = 1_000_000


def _micro(col: Column) -> Column:
    """round(cos, 6) frozen to integer micro-units; the inner round-6
    collapses the double to <=6 decimals first, the outer round(x*1e6, 0)
    repairs the representation error (0.123456 -> 123455.9999 -> 123456)
    before the ANSI cast (which truncates, so it must see an integer)."""
    return F.round(F.round(col, 6) * MICRO, 0).cast("long")


def mmr_rerank(
    df: DataFrame,
    query: Sequence[float],
    k: int = 5,
    lam: float = 0.7,
    pool: int = 50,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Diversified top-k: greedy MMR over the exact-cosine top-``pool``.

    Returns (rank, id, relevance, mmr_micro): rank 1..k in selection
    order, relevance = round(cos(query, doc), 6), mmr_micro = the exact
    integer objective (micro^2 units) the pick maximized.
    """
    spark = df.sparkSession
    lam_u = int(round(lam * MICRO))

    scored = df.select(
        F.col(id_col).alias("id"),
        F.col(emb_col).alias("emb"),
        cosine_sim(emb_col, query).alias("cos"),
    )
    pool_df = _reused(
        scored.orderBy(F.col("cos").desc(), F.col("id").asc())
        .limit(pool)
        .select("id", "emb", F.round("cos", 6).alias("rel"), _micro(F.col("cos")).alias("rel_u"))
    )

    a = pool_df.select(
        F.col("id").alias("ia"), F.col("emb").alias("ea"), norm_expr("emb").alias("na")
    )
    b = pool_df.select(
        F.col("id").alias("ib"), F.col("emb").alias("eb"), norm_expr("emb").alias("nb")
    )
    pair_df = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            _micro(
                cosine_sim_cols(
                    F.col("ea"), F.col("eb"), norm_a=F.col("na"), norm_b=F.col("nb")
                )
            ).alias("pm"),
        )
    )

    cand = {
        r["id"]: (int(r["rel_u"]), float(r["rel"]))
        for r in pool_df.select("id", "rel_u", "rel").collect()
    }
    sims: dict[tuple, int] = {
        (r["ia"], r["ib"]): int(r["pm"]) for r in pair_df.collect()
    }

    picked: list[tuple[int, object, float, int]] = []
    selected: list = []
    for rank in range(1, min(k, len(cand)) + 1):
        best = None
        for cid, (rel_u, rel) in cand.items():
            if not selected:
                score = lam_u * rel_u
            else:
                score = lam_u * rel_u - (MICRO - lam_u) * max(
                    sims[(cid, s)] for s in selected
                )
            # argmax, ties by id ascending
            key = (-score, cid)
            if best is None or key < best[0]:
                best = (key, cid, rel, score)
        _, cid, rel, score = best
        picked.append((rank, cid, rel, score))
        selected.append(cid)
        del cand[cid]

    id_type = dict(pool_df.dtypes)["id"]
    return spark.createDataFrame(
        picked, f"rank int, id {id_type}, relevance double, mmr_micro long"
    )
