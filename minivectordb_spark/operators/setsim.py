"""Exact set-similarity self-join via prefix filtering (AllPairs / PPJoin
family: Bayardo et al. WWW'07, Xiao et al. WWW'08).

The exact counterpart to MinHash-LSH (`operators/dedup.py`): LSH trades
recall for candidate sparsity; prefix filtering keeps EXACT recall — every
pair with Jaccard >= tau is emitted, provably — while still never going
all-pairs.  The pruning theorem: order the token universe by any fixed
total order; if J(A, B) >= tau then A and B must share at least one token
inside their length-(|S| - ceil(tau*|S|) + 1) prefixes under that order.
So an equi-join on prefix tokens is a COMPLETE candidate generator, and
ordering by ascending document frequency (rarest first) makes the prefix
postings lists short: globally frequent tokens sit at the tail of every
ordered set and never enter a prefix, so no posting list is corpus-sized.
That is the 100 TB story — candidate volume is driven by rare-token
co-occurrence (near-dups), not by N^2 and not by stop-token skew.

Pipeline (all declarative):

  1. postings:   explode distinct per-doc element hashes  ->  (id, h)
  2. df:         groupBy(h).count  (partial-aggregated)   ->  (h, df)
  3. order key:  k = df * 2^33 + h  — injective (h < 2^32), ascending df
                 with hash tiebreak gives one global total order both
                 engines reproduce bit-exactly
  4. ordered set: groupBy(id) sort_array(collect_list(k)); n = |set|
  5. canonicalize: group IDENTICAL sets to one representative (min id)
                 with a sorted member list — the join below runs on
                 DISTINCT sets only, so exact-dup cliques add ZERO join
                 work (candidates measured identical across a 10x
                 replication decade)
  6. prefix:     p = n - ceil(tau*n) + 1 (exact integer arithmetic on
                 micro-units); explode slice(arr, 1, p) of each rep
  7. candidates: prefix self-join on k with rep_a < rep_b and the
                 symmetric size filter tau*n_a <= n_b (J >= tau  =>
                 min/max >= tau), DISTINCT pairs
  8. verify:     join the full ordered arrays back, exact intersection;
                 keep inter * 1e6 >= tau_micro * (n_a + n_b - inter)
                 — an integer predicate, identical on any engine
  9. expand:     cross-group member pairs inherit the verified jaccard;
                 intra-group pairs emit directly with jaccard 1.0 (true
                 by definition) — both generate-only, answer-sized.

Reference analogue: none (the reference's only dedup surface is
brute-force cosine, `vector_database.py:466-536`); this extends the
corpus-dedup family the way a 100 TB training-data pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from minivectordb_spark.operators.dedup import _shingle_frame, _reused
from minivectordb_spark.plans.width import verify_repartition

MICRO = 1_000_000
# df * 2^33 + h keeps the key injective (h < 2^32) and sortable well under
# the int64 boundary for any corpus below 2^30 distinct-bearing documents.
_KEY_BASE = 1 << 33


def _ordered_set_frame(
    sets_df: DataFrame, id_col: str, side_col: str | None = None
) -> DataFrame:
    """(id[, side], arr, n): each row's element-hash set as an array of
    composite order keys sorted by (global document frequency asc, hash
    asc).

    ``sets_df`` is (id, sh: array<long>) with DISTINCT element hashes.
    One explode feeds both the df aggregate and the re-group; the join on
    h is a plain hash equi-join (broadcast when the vocabulary is small,
    shuffle otherwise — AQE's call, not ours).  ``side_col`` (for the
    cross-corpus variant) is carried through via first() — ids must be
    unique across sides.
    """
    carry = [side_col] if side_col else []
    posting = sets_df.select(
        F.col(id_col), *carry, F.explode("sh").alias("__h")
    )
    df_tbl = posting.groupBy("__h").agg(F.count("*").alias("__df"))
    keyed = posting.join(df_tbl, "__h").select(
        id_col,
        *carry,
        (F.col("__df") * F.lit(_KEY_BASE) + F.col("__h")).alias("__k"),
    )
    aggs = [
        F.sort_array(F.collect_list("__k")).alias("arr"),
        F.count("*").alias("n"),
    ]
    if side_col:
        aggs.append(F.first(side_col).alias(side_col))
    return keyed.groupBy(id_col).agg(*aggs)


def _prefix_frame(ordered: DataFrame, id_col: str, tau_micro: int) -> DataFrame:
    """(id, n, __k): the first p = n - ceil(tau*n) + 1 order keys of each
    ordered set, exploded into prefix postings.  ceil on micro-units is
    exact integer arithmetic: ceil(tau*n) = (n*tau_u + MICRO-1) DIV MICRO
    — Spark's integer ``DIV``, identical to DuckDB's ``//`` on BIGINT
    (never a float quotient, so no floor-of-rounded-ratio edge)."""
    p = F.expr(
        f"CAST(n + 1 - (n * {tau_micro}L + {MICRO - 1}) DIV {MICRO} AS INT)"
    )
    carry = [c for c in ordered.columns if c not in (id_col, "arr", "n")]
    return ordered.select(
        F.col(id_col),
        F.col("n"),
        *carry,
        F.explode(F.slice("arr", 1, p)).alias("__k"),
    )


def _canonical_groups(ordered: DataFrame, id_col: str) -> DataFrame:
    """Collapse IDENTICAL element sets to one representative:
    (gid = min id, arr, n, members sorted asc).

    Real corpora — and the 10x replication harness even more so — carry
    exact-duplicate cliques; without this step every base-level candidate
    pair multiplies by |clique|^2 in the join (measured at the second
    decade: 31.2M candidates for 250.6k output pairs).  Grouping by the
    set itself makes the join operate on DISTINCT sets only; member
    expansion afterwards is generate-only and answer-sized.  Exact
    Jaccard between identical sets is 1.0 by definition, so intra-group
    pairs skip verification entirely."""
    return ordered.groupBy("arr", "n").agg(
        F.min(id_col).alias("gid"),
        F.sort_array(F.collect_list(id_col)).alias("members"),
    )


def _group_pairs(groups: DataFrame, tau_micro: int) -> DataFrame:
    """(ga, gb, jaccard): verified pairs between DISTINCT sets — the
    prefix-filter join from the module doc, run on group representatives."""
    rep = groups.select("gid", "arr", "n")
    prefix = _prefix_frame(rep, "gid", tau_micro)
    left = prefix.select(F.col("gid").alias("ga"), F.col("n").alias("n_a"), "__k")
    right = prefix.select(F.col("gid").alias("gb"), F.col("n").alias("n_b"), "__k")
    cand = (
        left.join(right, "__k")
        .where(
            (F.col("ga") < F.col("gb"))
            # J >= tau  =>  min(n_a,n_b) >= tau * max(n_a,n_b); both
            # directions as one symmetric integer predicate
            & (F.col("n_a") * F.lit(MICRO) >= F.col("n_b") * F.lit(tau_micro))
            & (F.col("n_b") * F.lit(MICRO) >= F.col("n_a") * F.lit(tau_micro))
        )
        .select("ga", "gb")
        .distinct()
    )
    # verify pin: each candidate row costs an array_intersect over two
    # full ordered sets
    cand = verify_repartition(cand, F.col("ga"))
    arr_a = groups.select(
        F.col("gid").alias("ga"), F.col("arr").alias("__aa"), F.col("n").alias("n_a")
    )
    arr_b = groups.select(
        F.col("gid").alias("gb"), F.col("arr").alias("__ab"), F.col("n").alias("n_b")
    )
    return (
        cand.join(arr_a, "ga")
        .join(arr_b, "gb")
        .withColumn("__i", F.size(F.array_intersect("__aa", "__ab")))
        .where(
            F.col("__i") * F.lit(MICRO)
            >= F.lit(tau_micro) * (F.col("n_a") + F.col("n_b") - F.col("__i"))
        )
        .select(
            "ga",
            "gb",
            F.round(
                F.col("__i") / (F.col("n_a") + F.col("n_b") - F.col("__i")), 6
            ).alias("jaccard"),
        )
    )


# all C(m,2) ordered pairs from the sorted members array, plan-side
_INTRA_PAIRS_EXPR = (
    "flatten(transform(members, (x, i) -> "
    "transform(slice(members, i + 2, size(members)), y -> struct(x AS a, y AS b))))"
)


def setsim_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All pairs with exact word-k-gram-shingle Jaccard >= ``threshold``.

    Output: (id_a, id_b, jaccard) with id_a < id_b — the same shape as
    ``minhash_dedup_pairs`` but with EXACT recall (no banding misses) and
    candidates bounded by the prefix-filter theorem instead of LSH bucket
    collisions.  ``threshold`` is frozen to integer micro-units so the
    prefix length, the size filter, and the verify predicate are all
    integer arithmetic — bit-identical across engines.

    Identical sets are canonicalized before the join
    (``_canonical_groups``): the pair join runs on distinct sets only,
    intra-group pairs are emitted directly with jaccard 1.0 (true by
    definition), and cross-group member expansion is generate-only."""
    tau_micro = int(round(threshold * MICRO))
    sets = _reused(_shingle_frame(df, text_col, id_col, k))
    ordered = _reused(_ordered_set_frame(sets, id_col))
    groups = _reused(_canonical_groups(ordered, id_col))
    gp = _group_pairs(groups, tau_micro)

    ma = groups.select(F.col("gid").alias("ga"), F.col("members").alias("__ma"))
    mb = groups.select(F.col("gid").alias("gb"), F.col("members").alias("__mb"))
    cross = (
        gp.join(ma, "ga")
        .join(mb, "gb")
        .select(F.explode("__ma").alias("__ia"), "__mb", "jaccard")
        .select("__ia", F.explode("__mb").alias("__ib"), "jaccard")
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "jaccard",
        )
    )
    intra = (
        groups.where(F.size("members") >= 2)
        .select(F.explode(F.expr(_INTRA_PAIRS_EXPR)).alias("__p"))
        .select(
            F.col("__p.a").alias("id_a"),
            F.col("__p.b").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


def setsim_diagnostics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> dict[str, int]:
    """Falsifiable scale counters for the prefix filter: corpus size,
    DISTINCT set count (the join's real input after canonicalization),
    prefix-posting volume and largest posting list on the rep frame (the
    skew bound), candidate pairs between distinct sets (the work the
    verify stage actually does), and output pairs (the answer the
    expansion generates).  Mirrors ``range_join_diagnostics`` / linkage
    counters in bench."""
    tau_micro = int(round(threshold * MICRO))
    sets = _reused(_shingle_frame(df, text_col, id_col, k))
    ordered = _reused(_ordered_set_frame(sets, id_col))
    groups = _reused(_canonical_groups(ordered, id_col))
    rep = groups.select("gid", "arr", "n")
    prefix = _reused(_prefix_frame(rep, "gid", tau_micro))
    n_docs = ordered.count()
    n_sets = groups.count()
    postings = prefix.count()
    max_posting = (
        prefix.groupBy("__k").count().agg(F.max("count")).collect()[0][0]
    )
    left = prefix.select(F.col("gid").alias("ga"), F.col("n").alias("n_a"), "__k")
    right = prefix.select(F.col("gid").alias("gb"), F.col("n").alias("n_b"), "__k")
    cand = (
        left.join(right, "__k")
        .where(
            (F.col("ga") < F.col("gb"))
            & (F.col("n_a") * F.lit(MICRO) >= F.col("n_b") * F.lit(tau_micro))
            & (F.col("n_b") * F.lit(MICRO) >= F.col("n_a") * F.lit(tau_micro))
        )
        .select("ga", "gb")
        .distinct()
        .count()
    )
    out = setsim_pairs(df, text_col, id_col, k, threshold).count()
    return {
        "n_docs": int(n_docs),
        "distinct_sets": int(n_sets),
        "prefix_postings": int(postings),
        "max_posting_list": int(max_posting or 0),
        "candidate_pairs": int(cand),
        "output_pairs": int(out),
    }


def setsim_against(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-corpus EXACT dedup: rows of ``new_df`` minus every row whose
    exact shingle Jaccard against ANY ``ref_df`` row reaches
    ``threshold`` — the exact-recall twin of ``dedup.dedup_against``
    (which uses approximate MinHash banding).

    One global (df, hash) order is computed over the COMBINED corpus
    (required by the prefix theorem: both prefixes must come from the
    same total order), then candidate generation is a new-prefix x
    ref-prefix hash equi-join — never new x new or ref x ref, and at
    real scale the reference side's ordered/prefix frames are computed
    once and persisted.  Ids must be unique across the two frames.

    Identical sets canonicalize per side (grouped on (arr, side)): the
    cross-side join runs on distinct sets, and a flagged NEW group
    expands to all its member ids — generate-only."""
    tau_micro = int(round(threshold * MICRO))
    sets_n = _shingle_frame(new_df, text_col, id_col, k).withColumn(
        "__side", F.lit("n")
    )
    sets_r = _shingle_frame(ref_df, text_col, id_col, k).withColumn(
        "__side", F.lit("r")
    )
    ordered = _reused(
        _ordered_set_frame(sets_n.unionByName(sets_r), id_col, "__side")
    )
    groups = _reused(
        ordered.groupBy("arr", "n", "__side").agg(
            F.min(id_col).alias("gid"),
            F.collect_list(id_col).alias("members"),
        )
    )
    prefix = _prefix_frame(
        groups.select("gid", "arr", "n", "__side"), "gid", tau_micro
    )
    pn = prefix.where(F.col("__side") == "n").select(
        F.col("gid").alias("gn"), F.col("n").alias("n_n"), "__k"
    )
    pr = prefix.where(F.col("__side") == "r").select(
        F.col("gid").alias("gr"), F.col("n").alias("n_r"), "__k"
    )
    cand = (
        pn.join(pr, "__k")
        .where(
            (F.col("n_n") * F.lit(MICRO) >= F.col("n_r") * F.lit(tau_micro))
            & (F.col("n_r") * F.lit(MICRO) >= F.col("n_n") * F.lit(tau_micro))
        )
        .select("gn", "gr")
        .distinct()
    )
    # same verify pin as _group_pairs
    cand = verify_repartition(cand, F.col("gn"))
    arr_n = groups.where(F.col("__side") == "n").select(
        F.col("gid").alias("gn"), F.col("arr").alias("__an"), F.col("n").alias("n_n")
    )
    arr_r = groups.where(F.col("__side") == "r").select(
        F.col("gid").alias("gr"), F.col("arr").alias("__ar"), F.col("n").alias("n_r")
    )
    flagged_groups = (
        cand.join(arr_n, "gn")
        .join(arr_r, "gr")
        .withColumn("__i", F.size(F.array_intersect("__an", "__ar")))
        .where(
            F.col("__i") * F.lit(MICRO)
            >= F.lit(tau_micro) * (F.col("n_n") + F.col("n_r") - F.col("__i"))
        )
        .select(F.col("gn").alias("gid"))
        .distinct()
    )
    flagged = flagged_groups.join(
        groups.where(F.col("__side") == "n").select("gid", "members"), "gid"
    ).select(F.explode("members").alias(id_col))
    return new_df.join(flagged, id_col, "left_anti")
