"""Deduplication operators for training-data pipelines at scale.

Four families (north-star surface; BASELINE.json):

- exact:        content-hash groupBy — one shuffle on a 16-byte key.
- MinHash+LSH:  shingle -> signature -> band -> bucket join.  Signatures are
                computed WITHOUT exploding (per-row array expressions inside
                codegen), so the only shuffle is the band-bucket self-join,
                whose key cardinality ~ n_docs * n_bands.  At 100 TB this is
                the standard near-dup pipeline: the candidate join touches
                only colliding buckets, never the O(N^2) pair space.
- SimHash:      per-token 32-bit hashes -> per-bit majority vote -> one
                integer fingerprint per doc; Hamming-adjacent fingerprints
                are near-dups.  Map-only.
- embedding:    cosine near-dup over an embedding column, blocked by a
                partition key so the self-join is per-block instead of
                global cross-join.

All hashes are the engine-portable md5i32 (operators/hashing.py) so the
DuckDB oracle reproduces every value bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from minivectordb_spark.operators.hashing import MERSENNE_P, md5i32, minhash_coeffs
from minivectordb_spark.operators.text import _exact_avg_micros, tokens
from minivectordb_spark.scoring import cosine_sim_cols

DEFAULT_N_HASHES = 16
DEFAULT_SHINGLE = 3


# ---------------- exact ----------------

def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content hash: (content_md5, keep_id, n_dups).
    ``keep_id`` = min id — the canonical survivor.  Single shuffle on the
    hash; partial aggregation makes the map side emit one row per distinct
    hash per partition."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct text (the min-id survivor)."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


# ---------------- shingles / MinHash ----------------

def shingles_from_tokens(toks: Column, k: int = DEFAULT_SHINGLE) -> Column:
    """Word k-gram shingles from a token-array column.

    IMPORTANT: ``toks`` should be a MATERIALIZED column (see ``_barrier``),
    not an inline ``split(...)`` expression — ``element_at`` inside the
    lambda re-evaluates its child per element, so an inline split would be
    recomputed k times per shingle."""
    n = F.size(toks)
    kgrams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(k)]
        ),
    )
    return F.when(n >= k, kgrams).otherwise(F.array(F.concat_ws(" ", toks)))


def shingles(text: Column, k: int = DEFAULT_SHINGLE) -> Column:
    """Word k-gram shingles as strings, per row, no explode.
    Docs shorter than k tokens yield a single whole-doc shingle.
    Expression-level convenience — DataFrame operators stage the token
    array through a barrier first (see ``shingles_from_tokens``)."""
    return shingles_from_tokens(tokens(text), k)


def shingle_hashes(text: Column, k: int = DEFAULT_SHINGLE) -> Column:
    """Distinct md5i32 hashes of the shingle set (the MinHash input set)."""
    return F.array_distinct(F.transform(shingles(text, k), lambda s: md5i32(s)))


def shingle_hashes_from_tokens(toks: Column, k: int = DEFAULT_SHINGLE) -> Column:
    return F.array_distinct(
        F.transform(shingles_from_tokens(toks, k), lambda s: md5i32(s))
    )


def _shingle_frame(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, sh) with the shingle-hash array materialized — the shared
    entry of every MinHash-family operator.  SIZE-GATED between two
    bit-identical implementations (r15 item 1, guide §4):

    - At scale (estimated input >= util.KERNEL_MIN_BYTES) an
      Arrow-batched kernel (operators/kernels.py, guide §4.2) runs the
      shingle/md5 inner loop in native code per batch.  Only (id, text)
      crosses the Python boundary (explicit select — guide §4.1's
      column-pruning caveat); the map stays MAP-ONLY.
    - Below the floor the retained Catalyst expression chain runs
      instead: each mapInArrow pass costs a ~0.3-0.6 s wall floor in
      JVM<->Python crossings that tiny corpora never amortize — the
      r14 driver bench measured exactly this as a regression on every
      sub-MB consumer (VERDICT r14 item 1).

    Both produce the same rows bit-for-bit (pinned by
    tests/test_kernels.py); the input passes the parallelism gate first
    either way (a single-row-group source would otherwise run the
    per-row work on one core; identity at real split counts)."""
    from pyspark.sql import types as T

    from minivectordb_spark.operators import kernels
    from minivectordb_spark.operators.util import use_arrow_kernel

    if not use_arrow_kernel(df):
        toks_df = _barrier(
            _parallel(df), tokens(F.col(text_col)), "__toks", [id_col]
        )
        return _barrier(
            toks_df, shingle_hashes_from_tokens(F.col("__toks"), k), "sh", [id_col]
        )
    id_field = df.schema[id_col]
    schema = T.StructType(
        [id_field, T.StructField("sh", T.ArrayType(T.LongType()), True)]
    )
    return _parallel(df.select(id_col, text_col)).mapInArrow(
        kernels.shingle_mapper(text_col, id_col, k), schema
    )


from minivectordb_spark.plans.width import ensure_parallelism as _parallel
from minivectordb_spark.plans.width import verify_repartition
from minivectordb_spark.operators.util import materialize as _barrier
from minivectordb_spark.operators.util import run_concurrent


def _reused(df: DataFrame) -> DataFrame:
    """Mark a small derived frame as read-more-than-once (both sides of a
    self-join, or candidates + verify): lazy ``localCheckpoint`` stores the
    first materialization as MEMORY_AND_DISK blocks that later reads reuse.

    Deliberately NOT ``.cache()``: CacheManager holds a reference to every
    cached plan until an explicit ``unpersist()``, and these operators
    return lazy DataFrames — there is no post-materialization hook to
    release from, so each call would leak executor memory for the session's
    lifetime (VERDICT r4).  Checkpoint blocks are instead freed by Spark's
    ContextCleaner as soon as the caller drops the returned DataFrame: no
    cached entry outlives its operator call."""
    return df.localCheckpoint(eager=False)


def minhash_from_hashes(hs: Column, n_hashes: int = DEFAULT_N_HASHES, seed: int = 42) -> Column:
    """MinHash signature from a precomputed shingle-hash array:
    sig[j] = min_h ( (a_j * (h mod P) + b_j) mod P ).

    SINGLE-PASS: one ``aggregate`` with an array-of-running-minima
    accumulator (zip_with + least), so the input is traversed once
    regardless of n_hashes."""
    coeffs = minhash_coeffs(n_hashes, seed)
    init = F.array(*[F.lit(MERSENNE_P).cast("long") for _ in coeffs])

    def step(acc: Column, h: Column) -> Column:
        perms = F.array(
            *[(F.lit(a) * (h % MERSENNE_P) + F.lit(b)) % MERSENNE_P for a, b in coeffs]
        )
        return F.zip_with(acc, perms, lambda x, y: F.least(x, y))

    return F.aggregate(hs, init, step)


def minhash_signature(
    text: Column, n_hashes: int = DEFAULT_N_HASHES, k: int = DEFAULT_SHINGLE, seed: int = 42
) -> Column:
    """MinHash signature as array<long> over word-k-gram shingles.
    Entirely per-row expressions — at 100 TB this stage is map-only; nothing
    shuffles until the band join."""
    return minhash_from_hashes(shingle_hashes(text, k), n_hashes, seed)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = DEFAULT_N_HASHES,
    k: int = DEFAULT_SHINGLE,
    seed: int = 42,
) -> DataFrame:
    sh = _shingle_frame(df, text_col, id_col, k)
    return _minhash_frame(sh, id_col, n_hashes, seed, "minhash")


def _minhash_frame(
    sh: DataFrame, id_col: str, n_hashes: int, seed: int, out_col: str
) -> DataFrame:
    """(id, <out_col>) MinHash signatures from a shingle frame — one
    NumPy pass per Arrow batch (kernels.minhash_mapper) instead of the
    interpreted array-fold; exact per tests/test_kernels.py.  Size-gated
    like ``_shingle_frame``: below util.KERNEL_MIN_BYTES the retained
    expression fold runs instead (no JVM<->Python crossing to amortize
    at tiny input — VERDICT r14 item 1)."""
    from pyspark.sql import types as T

    from minivectordb_spark.operators import kernels
    from minivectordb_spark.operators.util import use_arrow_kernel

    if not use_arrow_kernel(sh):
        return _barrier(
            sh, minhash_from_hashes(F.col("sh"), n_hashes, seed), out_col, [id_col]
        ).select(id_col, out_col)
    schema = T.StructType(
        [
            sh.schema[id_col],
            T.StructField(out_col, T.ArrayType(T.LongType(), False), True),
        ]
    )
    return sh.mapInArrow(
        kernels.minhash_mapper(id_col, n_hashes, seed, out_col), schema
    )


def _band_buckets(
    sh: DataFrame, id_col: str, n_hashes: int, band_size: int, seed: int
) -> DataFrame:
    """(id, band_idx, band_hash) — MinHash the shingle frame and split the
    signature into band-bucket keys.  Shared by the self-join banding
    (``_lsh_pairs_from_shingles``) and the cross-corpus join
    (``dedup_against``); identical literals on both, so buckets computed
    from two different frames are join-compatible.  Signature + band
    digests run in one Arrow-batched kernel (kernels.band_mapper —
    fan-out is n_bands per doc, done in the batch, no posexplode node);
    exact twin of the expression chain per tests/test_kernels.py.
    Size-gated like ``_shingle_frame``: below util.KERNEL_MIN_BYTES the
    retained expression chain (staged minhash + posexplode of md5 band
    digests) runs instead — no JVM<->Python crossing to amortize at tiny
    input (VERDICT r14 item 1)."""
    from pyspark.sql import types as T

    from minivectordb_spark.operators import kernels
    from minivectordb_spark.operators.util import use_arrow_kernel

    if not use_arrow_kernel(sh):
        n_bands = n_hashes // band_size
        sig_df = _barrier(
            sh, minhash_from_hashes(F.col("sh"), n_hashes, seed), "__sig", [id_col]
        )
        bands = F.array(
            *[
                F.md5(
                    F.concat_ws(
                        "_",
                        F.lit(b),
                        *[
                            F.element_at(
                                F.col("__sig"), b * band_size + j + 1
                            ).cast("string")
                            for j in range(band_size)
                        ],
                    )
                )
                for b in range(n_bands)
            ]
        )
        return sig_df.select(
            F.col(id_col), F.posexplode(bands).alias("band_idx", "band_hash")
        )
    schema = T.StructType(
        [
            sh.schema[id_col],
            T.StructField("band_idx", T.IntegerType(), False),
            T.StructField("band_hash", T.StringType(), False),
        ]
    )
    return sh.mapInArrow(
        kernels.band_mapper(id_col, n_hashes, band_size, seed), schema
    )


def _lsh_pairs_from_shingles(
    sh: DataFrame,
    id_col: str,
    n_hashes: int,
    band_size: int,
    seed: int,
) -> DataFrame:
    """THE banding implementation (single source of truth): MinHash the
    shingle frame, split signatures into bands, self-join the band buckets.

    Plan: map-only signature -> posexplode of n_bands band hashes (rows grow
    by n_bands only) -> self-join on the bucket key -> distinct (a < b)
    pairs.  The join shuffles on (band_idx, band_hash): uniform unless the
    corpus is degenerate, and AQE's skew-join handles hot buckets.
    """
    # the bucket frame is tiny (n_docs * n_bands short rows) and is read
    # twice by the self-join; _reused spills-not-OOMs and is auto-freed
    buckets = _reused(_band_buckets(sh, id_col, n_hashes, band_size, seed))
    return _lsh_pairs_from_buckets(buckets, id_col)


def _lsh_pairs_from_buckets(buckets: DataFrame, id_col: str) -> DataFrame:
    """The band-bucket self-join, split out (r11) so ``lsh_diagnostics``
    counts candidates through the IDENTICAL join it describes."""
    left = buckets.alias("l")
    right = buckets.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def lsh_diagnostics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = DEFAULT_N_HASHES,
    band_size: int = 2,
    k: int = DEFAULT_SHINGLE,
    threshold: float = 0.5,
    seed: int = 42,
) -> dict:
    """Falsifiable scale counters for the banded MinHash join (r11, the
    LSH analogue of ``setsim_diagnostics``): the plan's 100 TB exposure
    is BUCKET OCCUPANCY — candidates are emitted per shared bucket, so
    ``sum C(occ, 2)`` bounds the join's output and ``max_bucket`` its
    skew.  Counted through the same ``_band_buckets`` +
    ``_lsh_pairs_from_buckets`` + ``_jaccard_verify`` stages the
    operators run, so a recorded law can never describe a different
    plan.  Returns: n_docs, n_buckets, max_bucket,
    collision_pairs_bound (pre-distinct emission bound),
    candidate_pairs (distinct), output_pairs (>= threshold verified)."""
    sh = _reused(_shingle_frame(df, text_col, id_col, k))
    buckets = _reused(_band_buckets(sh, id_col, n_hashes, band_size, seed))
    occ = buckets.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("n")
    )
    row = occ.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_bucket"),
        F.coalesce(
            F.sum(F.col("n") * (F.col("n") - 1) / 2), F.lit(0)
        ).alias("bound"),
    ).first()
    pairs = _reused(_lsh_pairs_from_buckets(buckets, id_col))
    return {
        "n_docs": int(df.count()),
        "n_buckets": int(row["n_buckets"]),
        "max_bucket": int(row["max_bucket"]),
        "collision_pairs_bound": int(row["bound"]),
        "candidate_pairs": int(pairs.count()),
        "output_pairs": int(
            _jaccard_verify(sh, pairs, id_col, threshold).count()
        ),
    }


def _jaccard_verify(
    sh: DataFrame, pairs: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact n-gram Jaccard over distinct shingle-hash sets:
    |A ∩ B| / |A ∪ B|.  Two broadcast-able joins attach the (small) shingle
    arrays to each side of the pair list."""
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        joined.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = DEFAULT_N_HASHES,
    band_size: int = 2,
    k: int = DEFAULT_SHINGLE,
    seed: int = 42,
) -> DataFrame:
    """LSH banding: docs sharing any (band_idx, band_hash) bucket become a
    candidate pair (see ``_lsh_pairs_from_shingles`` for the plan shape)."""
    sh = _shingle_frame(df, text_col, id_col, k)
    return _lsh_pairs_from_shingles(sh, id_col, n_hashes, band_size, seed)


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DEFAULT_SHINGLE,
    threshold: float = 0.0,
) -> DataFrame:
    """Verify candidate pairs with exact n-gram Jaccard; the heavy corpus is
    scanned once per side (the shingle frame is cached for reuse)."""
    sh = _reused(_shingle_frame(df, text_col, id_col, k))
    return _jaccard_verify(sh, pairs, id_col, threshold)


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = DEFAULT_N_HASHES,
    band_size: int = 2,
    k: int = DEFAULT_SHINGLE,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact Jaccard verify,
    composed from the SAME banding and verify stages the standalone
    operators use, around ONE shared cached shingle frame — one md5 pass
    over the corpus total, the dominant cost of the pipeline."""
    sh = _reused(_shingle_frame(df, text_col, id_col, k))
    pairs = _lsh_pairs_from_shingles(sh, id_col, n_hashes, band_size, seed)
    return _jaccard_verify(sh, pairs, id_col, threshold)


# ---------------- SimHash ----------------

SIMHASH_BITS = 32


def simhash_from_hashes(hs: Column, n_tokens: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash fingerprint from a (materialized) token-hash array.

    SINGLE-PASS SWAR: bit-population counters are packed two-per-long in
    16-bit lanes — lane L of accumulator i counts bit (i + 16*L) of the
    hashes, so each token contributes an array of bits/2 packed adds
    instead of ``bits`` individual ±1 votes (half the interpreted-expression
    width; safe to 65,535 tokens per doc).  The fingerprint is assembled in
    the aggregate's ``finish`` lambda where the accumulator is a bound
    variable (evaluated once): bit b set iff 2*count_b > n_tokens — the
    same majority vote as the per-bit ±1 formulation.
    """
    n_acc = bits // 2
    lane_mask = (1 << 16) | 1  # selects bits {i, i+16} into 16-bit lanes

    init = F.array(*[F.lit(0).cast("long") for _ in range(n_acc)])

    def step(acc: Column, h: Column) -> Column:
        packed = F.array(
            *[
                F.shiftright(h, i).bitwiseAND(F.lit(lane_mask)).cast("long")
                for i in range(n_acc)
            ]
        )
        return F.zip_with(acc, packed, lambda x, y: x + y)

    def finish(acc: Column) -> Column:
        fp = None
        for b in range(bits):
            i, lane = b % n_acc, b // n_acc
            count = F.shiftright(F.element_at(acc, i + 1), 16 * lane).bitwiseAND(
                F.lit(0xFFFF)
            )
            term = F.when(count * 2 > n_tokens, F.lit(1 << b).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            fp = term if fp is None else (fp + term)
        return fp

    return F.aggregate(hs, init, step, finish)


def simhash(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """Per-doc SimHash fingerprint: majority vote of each hash bit over the
    token multiset; bit b set iff more token hashes have bit b than not.
    One integer per doc, map-only; near-dups = small Hamming distance."""
    toks = tokens(text)
    hs = F.transform(toks, lambda t: md5i32(t))
    return simhash_from_hashes(hs, F.size(toks))


def simhash_fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token hashes staged behind a barrier so the hashing pass runs once;
    the SWAR vote aggregate then reads a materialized array column.
    Parallelism-gated: the SWAR fold is the costliest interpreted pass in
    the module."""
    toks_df = _barrier(_parallel(df), tokens(F.col(text_col)), "__toks", [id_col])
    hs_df = _barrier(
        toks_df,
        F.transform(F.col("__toks"), lambda t: md5i32(t)),
        "__hs",
        [id_col],
    )
    return hs_df.select(
        F.col(id_col),
        simhash_from_hashes(F.col("__hs"), F.size(F.col("__hs"))).alias("simhash"),
    )


def simhash_fingerprints64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash as TWO independent 32-bit halves: ``simhash_lo`` from
    hex chars 1-8 of each token's md5 digest, ``simhash_hi`` from chars
    9-16 — ONE digest per token feeds both halves (md5's words are
    independent), so the md5 pass costs exactly what the 32-bit variant
    pays; only the cheap hex->int word extraction runs twice.

    Two halves instead of one packed int64: reuses the proven 32-bit SWAR
    vote unchanged, keeps every value in [0, 2^32) (no ANSI overflow, no
    sign games in either engine), and the pair join only ever needs the
    halves separately (banding slices 16-bit chunks; Hamming distance adds
    the two popcounts).  This is the scale variant the 32-bit docstring
    promises: 16-bit chunks give 65,536 band values, so random chunk
    collisions — the quadratic term that melts 32-bit/8-bit banding past
    ~10k docs — stay rare to ~100x larger corpora.
    """
    toks_df = _barrier(_parallel(df), tokens(F.col(text_col)), "__toks", [id_col])
    dg_df = _barrier(
        toks_df,
        F.transform(F.col("__toks"), lambda t: F.md5(t.cast("binary"))),
        "__dg",
        [id_col],
    )
    hs_df = _barrier(
        dg_df,
        F.transform(
            F.col("__dg"),
            lambda d: F.conv(F.substring(d, 1, 8), 16, 10).cast("long"),
        ),
        "__hs",
        [id_col, "__dg"],
    )
    hs2_df = _barrier(
        hs_df,
        F.transform(
            F.col("__dg"),
            lambda d: F.conv(F.substring(d, 9, 8), 16, 10).cast("long"),
        ),
        "__hs2",
        [id_col, "__hs"],
    )
    return hs2_df.select(
        F.col(id_col),
        simhash_from_hashes(F.col("__hs"), F.size(F.col("__hs"))).alias("simhash_lo"),
        simhash_from_hashes(F.col("__hs2"), F.size(F.col("__hs2"))).alias("simhash_hi"),
    )


def simhash_fingerprints128(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """128-bit SimHash as FOUR independent 32-bit words — the band-space
    scale fix for the saturation the r11 decade run MEASURED in the
    64-bit variant (band space 4x65,536 fills by ~500k docs and the
    collision bound turns quadratic: 985 -> 85k -> 8.5M on 10x steps).

    md5 emits exactly 128 bits, so all four words come from the SAME
    single digest pass the 64-bit variant already pays (hex chars 1-8,
    9-16, 17-24, 25-32; md5's output words are independent): the only
    added cost is two more cheap hex->int extractions and two more SWAR
    vote folds.  At n_bands=4 each band is a FULL 32-bit word — band
    value space 2^32 per band vs 2^16, pushing the pigeonhole floor
    from ~10^5 to ~10^9 docs while keeping the exact-recall guarantee
    (hamming <= n_bands - 1 = 3) and the banded-join plan unchanged.

    Reference parity note: the reference engine has no fingerprint dedup
    at all — this family is part of the training-data-pipeline surface
    layered on top of its vector-search core."""
    toks_df = _barrier(_parallel(df), tokens(F.col(text_col)), "__toks", [id_col])
    dg_df = _barrier(
        toks_df,
        F.transform(F.col("__toks"), lambda t: F.md5(t.cast("binary"))),
        "__dg",
        [id_col],
    )
    def word_extract(w: int):
        # arity-1 lambda: F.transform feeds the element index to a second
        # parameter, which would shadow a `w=w` default (observed: all-zero
        # fingerprints from out-of-range substring -> NULL votes)
        return lambda d: F.conv(F.substring(d, 1 + 8 * w, 8), 16, 10).cast("long")

    carry: list[str] = [id_col]
    cur = dg_df
    for w in range(4):
        cur = _barrier(
            cur,
            F.transform(F.col("__dg"), word_extract(w)),
            f"__hw{w}",
            carry + (["__dg"] if w < 3 else []),
        )
        carry = carry + [f"__hw{w}"]
    return cur.select(
        F.col(id_col),
        *[
            simhash_from_hashes(
                F.col(f"__hw{w}"), F.size(F.col(f"__hw{w}"))
            ).alias(f"simhash_w{w}")
            for w in range(4)
        ],
    )


def _simhash_fp_and_bands(
    df: DataFrame, text_col: str, id_col: str, n_bands: int, bits: int
):
    """Fingerprint frame + band-chunk machinery shared by the pair join
    and ``simhash_band_diagnostics`` (r11) — diagnostics counted through
    a different band construction would describe a different plan.
    Returns (fp_df, bands_col, fp_cols_a, fp_cols_b, hamming_expr)."""
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    if bits == 128:
        if band_bits > 32 or 32 % band_bits != 0:
            raise ValueError(
                "bits=128 requires n_bands with 32 % (128/n_bands) == 0"
            )
        fp = _reused(simhash_fingerprints128(df, text_col, id_col))
        per_word = 32 // band_bits

        def chunk(b: int):
            src = F.col(f"simhash_w{b // per_word}")
            return (
                F.shiftright(src, (b % per_word) * band_bits)
                .bitwiseAND(F.lit(mask))
                .cast("long")
            )

        bands = F.array(*[chunk(b) for b in range(n_bands)])
        fp_cols_a = [
            F.col(f"simhash_w{w}").alias(f"__w{w}_a") for w in range(4)
        ]
        fp_cols_b = [
            F.col(f"simhash_w{w}").alias(f"__w{w}_b") for w in range(4)
        ]
        hamming_expr = sum(
            F.bit_count(F.col(f"__w{w}_a").bitwiseXOR(F.col(f"__w{w}_b")))
            for w in range(4)
        ).cast("long")
        return fp, bands, fp_cols_a, fp_cols_b, hamming_expr
    if bits == 64:
        if 32 % band_bits != 0:
            raise ValueError("bits=64 requires n_bands with 32 % (64/n_bands) == 0")
        fp = _reused(simhash_fingerprints64(df, text_col, id_col))
        per_half = 32 // band_bits

        def chunk(b: int):
            src = F.col("simhash_lo") if b < per_half else F.col("simhash_hi")
            return (
                F.shiftright(src, (b % per_half) * band_bits)
                .bitwiseAND(F.lit(mask))
                .cast("long")
            )

        bands = F.array(*[chunk(b) for b in range(n_bands)])
        fp_cols_a = [
            F.col("simhash_lo").alias("__lo_a"),
            F.col("simhash_hi").alias("__hi_a"),
        ]
        fp_cols_b = [
            F.col("simhash_lo").alias("__lo_b"),
            F.col("simhash_hi").alias("__hi_b"),
        ]
        hamming_expr = (
            F.bit_count(F.col("__lo_a").bitwiseXOR(F.col("__lo_b")))
            + F.bit_count(F.col("__hi_a").bitwiseXOR(F.col("__hi_b")))
        ).cast("long")
    else:
        fp = _reused(simhash_fingerprints(df, text_col, id_col))
        bands = F.array(
            *[
                F.shiftright(F.col("simhash"), b * band_bits)
                .bitwiseAND(F.lit(mask))
                .cast("long")
                for b in range(n_bands)
            ]
        )
        fp_cols_a = [F.col("simhash").alias("__fp_a")]
        fp_cols_b = [F.col("simhash").alias("__fp_b")]
        hamming_expr = F.bit_count(
            F.col("__fp_a").bitwiseXOR(F.col("__fp_b"))
        ).cast("long")
    return fp, bands, fp_cols_a, fp_cols_b, hamming_expr


def auto_simhash_bits(n_docs: int, n_bands: int = 4) -> int:
    """Smallest fingerprint width whose per-band value space keeps the
    EXPECTED bucket occupancy <= 1 (space 2^(bits/n_bands) >= n_docs) —
    the pigeonhole form of the saturation law the r11 decade runs
    measured: 64-bit banding (space 65,536 at 4 bands) is collision-
    bounded through ~its band space and quadratic past it (bound 985 ->
    85k -> 8.5M at 5k/50k/500k docs), while 128-bit (space 2^32) stays
    exactly linear through every measured decade.  Deterministic in
    n_docs, so an oracle twin can replay the choice from count(*)."""
    for bits in (32, 64, 128):
        if (1 << (bits // n_bands)) >= n_docs:
            return bits
    return 128


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int | str = SIMHASH_BITS,
) -> DataFrame:
    """Hamming-neighbor pairs from SimHash fingerprints — the step that
    turns the fingerprint (op: simhash) into an actual dedup.

    Banding + pigeonhole: split the ``bits``-bit fingerprint into
    ``n_bands`` equal chunks and self-join on chunk equality.  Any pair
    with Hamming distance <= n_bands - 1 must agree on at least one whole
    chunk, so recall is EXACT for ``max_hamming < n_bands``; larger
    ``max_hamming`` values are probabilistic (documented, mirrored by the
    oracle which replicates the banded candidate generation).

    Plan: map-only fingerprints -> posexplode of n_bands chunk rows ->
    self-join on (band_idx, band_val) -> distinct pairs -> bit_count
    verify.  Same shuffle profile as MinHash-LSH banding: bounded by chunk
    collisions, never O(N^2).

    ``bits=64`` switches to the two-half fingerprint
    (``simhash_fingerprints64``) with chunks sliced across both halves —
    at n_bands=4 that is 16-bit chunks (65,536 band values), the variant
    that stays collision-bounded at ~100x the corpus where 32-bit/8-bit
    banding degenerates (measured: 32-bit at 50k replicated docs explodes
    into ~20M random-collision candidates; 64-bit stays at clique pairs).

    ``bits="auto"`` (r11) sizes the fingerprint from the corpus via
    ``auto_simhash_bits`` — one count job, then the smallest width whose
    per-band space keeps expected occupancy <= 1 — so the measured
    saturation law ships as the knob's default path instead of being a
    caller responsibility.
    """
    if bits == "auto":
        bits = auto_simhash_bits(int(df.count()), n_bands)
    fp, bands, fp_cols_a, fp_cols_b, hamming_expr = _simhash_fp_and_bands(
        df, text_col, id_col, n_bands, bits
    )
    # Fingerprints are 1-2 longs, so carry them THROUGH the band self-join
    # (unlike the embedding near-dup path, where 64-dim arrays must stay
    # out of the exploded join): hamming verifies inline on the joined
    # row, the <= max_hamming filter runs before any dedup, and the one
    # distinct shrinks from candidate-set size to verified-output size
    # (a pair agreeing on several bands collides once per band).  Two
    # re-attach joins disappear from the plan.
    buckets = fp.select(
        F.col(id_col),
        *fp_cols_a,
        F.posexplode(bands).alias("band_idx", "band_val"),
    )
    right = fp.select(
        F.col(id_col),
        *fp_cols_b,
        F.posexplode(bands).alias("band_idx", "band_val"),
    )
    return (
        buckets.alias("l")
        .join(
            right.alias("r"),
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            hamming_expr.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_band_diagnostics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 4,
    bits: int = 64,
    max_hamming: int = 3,
    join: bool = True,
) -> dict:
    """Falsifiable scale counters for the SimHash banding join (r11):
    occupancy of the (band_idx, band_val) buckets and the exact
    pre-distinct emission bound ``sum C(occ, 2)``.  SimHash bands have a
    FIXED value space (2^(bits/n_bands) per band — 65,536 at 64/4), so
    unlike MinHash-LSH the bucket count cannot grow with the corpus:
    past ~band_space docs the pigeonhole floor forces occupancy up and
    the candidate bound turns quadratic.  This diagnostic measures WHERE
    that happens — the documented reason the LSH/setsim rows are the
    scale path and simhash is the cheap-fingerprint path.

    ``join=False`` skips materializing the candidate join (at a corpus
    past saturation the bound itself is the answer; running the join
    would just prove it the slow way).  Counted through the SAME
    ``_simhash_fp_and_bands`` machinery the pair join runs."""
    fp, bands, _, _, _ = _simhash_fp_and_bands(
        df, text_col, id_col, n_bands, bits
    )
    buckets = fp.select(
        F.col(id_col), F.posexplode(bands).alias("band_idx", "band_val")
    )
    occ = buckets.groupBy("band_idx", "band_val").agg(
        F.count(F.lit(1)).alias("n")
    )
    row = occ.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_bucket"),
        F.coalesce(
            F.sum(F.col("n") * (F.col("n") - 1) / 2), F.lit(0)
        ).alias("bound"),
    ).first()
    out = {
        "n_docs": int(df.count()),
        "band_space": n_bands * (1 << (bits // n_bands)),
        "n_buckets": int(row["n_buckets"]),
        "max_bucket": int(row["max_bucket"]),
        "collision_pairs_bound": int(row["bound"]),
    }
    if join:
        out["output_pairs"] = int(
            simhash_pairs(
                df, text_col, id_col, max_hamming=max_hamming,
                n_bands=n_bands, bits=bits,
            ).count()
        )
    return out


# ---------------- dedup resolution: pairs -> groups -> survivors ----------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 15,
    hot_degree: int = 100_000,
    collect_threshold: int = 1_000_000,
) -> DataFrame:
    """Resolve duplicate-pair edges into groups: (id, component) where
    ``component`` is the minimum id reachable from ``id`` — the step that
    turns any of the pair operators (LSH/SimHash/cosine) into an actual
    dedup decision.  Only ids that appear in a pair are returned
    (singletons are trivially their own survivor).

    Algorithm: iterative min-label propagation — each round every node
    takes the min of its own label and its neighbors' labels; converges in
    O(component diameter) rounds.  Duplicate groups are near-cliques
    (diameter 1-2), so 2-3 rounds typical; ``max_iter`` bounds adversarial
    chains.  Each round is one join + one groupBy (shuffle on node id);
    ``localCheckpoint`` truncates the lineage so round N's plan does not
    embed rounds 1..N-1 (the classic iterative-Spark trap).  This is the
    same min-label scheme as GraphX/GraphFrames connectedComponents,
    re-expressed on DataFrames so it needs no extra runtime.

    Skew guard (VERDICT r3 item 9): the per-round label lookup joins
    edges on ``dst``, so a mega-hub (a template document near-duplicating
    millions of rows) would funnel deg(hub) edge rows through one shuffle
    partition every round.  Destinations with degree > ``hot_degree`` are
    split out ONCE up front; their label lookup is a broadcast join (the
    hot-label frame is ≤ |E|/hot_degree rows by construction — tiny), so
    hot edges never shuffle.  The trailing groupBy("src") min is safe
    without splitting: partial aggregation reduces each partition to one
    row per key before the exchange.  Both update paths feed the same
    min-label recurrence, so the result is exactly the unsplit
    algorithm's.
    """
    edges_fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        edges_fwd.union(
            edges_fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .cache()
    )
    # Size gate: the PAIR set after any of the bucketed pair operators is
    # orders of magnitude smaller than the corpus (it lists near-dups, not
    # rows), and below ``collect_threshold`` edges (default 1M directed
    # edges ~ 32 MB of longs) a driver-side union-find with path
    # compression beats 3-8 distributed rounds of join+groupBy+checkpoint
    # job overhead outright.  Same constant-bounded-collect class as the
    # BM25 stats rows or the K-centroid collect: the threshold bounds the
    # driver transfer regardless of corpus size.  Above the gate —
    # billions of near-dup edges at 100 TB — the distributed min-label
    # loop below runs unchanged (the unit suite pins it via
    # collect_threshold=0).  Both paths produce component = min reachable
    # id, verified equal in tests.
    n_edges = edges.count()  # also materializes the cache for hot_dst
    if n_edges <= collect_threshold:
        rows = edges.collect()
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            a, b = find(r["src"]), find(r["dst"])
            if a != b:
                # union by min so every root IS its component's min id
                lo, hi = (a, b) if a < b else (b, a)
                parent[hi] = lo
        out = [(x, find(x)) for x in {v for r in rows for v in (r["src"], r["dst"])}]
        edges.unpersist()
        id_type = pairs.schema[id_a].dataType.simpleString()
        return pairs.sparkSession.createDataFrame(
            out, f"id {id_type}, component {id_type}"
        )
    hot_dst = (
        edges.groupBy("dst")
        .agg(F.count(F.lit(1)).alias("__deg"))
        .filter(F.col("__deg") > hot_degree)
        .select("dst")
        .cache()
    )
    has_hot = hot_dst.limit(1).count() > 0
    if has_hot:
        edges_hot = edges.join(F.broadcast(hot_dst), "dst").cache()
        edges_cold = edges.join(F.broadcast(hot_dst), "dst", "left_anti").cache()
    else:
        edges_cold = edges
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__nbr"))
        .select(
            F.col("src").alias("id"), F.least(F.col("src"), F.col("__nbr")).alias("component")
        )
        .localCheckpoint()
    )
    for _ in range(max_iter):
        lbl_dst = labels.select(
            F.col("id").alias("dst"), F.col("component").alias("__c")
        )
        looked_up = edges_cold.join(lbl_dst, "dst")
        if has_hot:
            hot_labels = lbl_dst.join(F.broadcast(hot_dst), "dst")
            looked_up = looked_up.unionByName(
                edges_hot.join(F.broadcast(hot_labels), "dst")
            )
        nbr_min = looked_up.groupBy("src").agg(F.min("__c").alias("__nbr_c"))
        # the change flag rides the checkpointed frame, so convergence is a
        # cheap scan over already-materialized rows instead of a second
        # full join of new labels against old (one join job per round
        # saved — iterative cost is dominated by per-round job count)
        new_labels = (
            labels.join(nbr_min, labels["id"] == nbr_min["src"], "left")
            .select(
                F.col("id"),
                F.least(
                    F.col("component"), F.coalesce(F.col("__nbr_c"), F.col("component"))
                ).alias("component"),
                (
                    F.coalesce(F.col("__nbr_c"), F.col("component"))
                    < F.col("component")
                ).alias("__changed"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("__changed")).limit(1).count()
        labels = new_labels.select("id", "component")
        if changed == 0:
            break
        # pointer jumping (path compression): component <- component's
        # component.  Neighbor-min alone needs O(diameter) rounds — a
        # loose-threshold pair graph forms long similarity CHAINS (seen:
        # >15-hop chains inside semantic_dedup's clusters at sf0.1, which
        # blew max_iter); composing labels halves remaining path lengths,
        # so rounds drop to O(log diameter).  Runs only on non-converged
        # rounds: near-clique duplicate groups (the common case) converge
        # in round 1 and never pay the extra join.  The invariant "label
        # is an id inside my component, >= the component min" is
        # preserved, so the fixpoint check above stays authoritative.
        l2 = labels.select(
            F.col("id").alias("__cid"), F.col("component").alias("__cc")
        )
        labels = (
            labels.join(l2, labels["component"] == l2["__cid"], "left")
            .select(
                "id",
                F.coalesce(F.col("__cc"), F.col("component")).alias("component"),
            )
            .localCheckpoint()
        )
    else:
        # exhausting max_iter with labels still moving means the result is
        # NOT the true components (a >max_iter-diameter chain) — returning
        # it silently would corrupt the dedup decision downstream
        _unpersist_cc(edges, hot_dst, edges_hot if has_hot else None,
                      edges_cold if has_hot else None)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations "
            "(component diameter exceeds max_iter); raise max_iter"
        )
    _unpersist_cc(edges, hot_dst, edges_hot if has_hot else None,
                  edges_cold if has_hot else None)
    return labels


def _unpersist_cc(*frames) -> None:
    for df in frames:
        if df is not None:
            df.unpersist()


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Keep one row per duplicate group (the min-id representative) plus
    every row not in any pair: df minus {ids whose component != id}."""
    comp = connected_components(pairs, id_a, id_b)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def dedup_survivors_ranked(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Quality-aware dedup resolution: keep, per duplicate group, the
    member with the HIGHEST ``score_col`` (ties broken by minimum id — a
    total, engine-portable order) plus every row not in any pair.  The
    training-pipeline refinement of ``dedup_survivors``: when a crawl
    holds five near-copies of a page, you want the longest / cleanest /
    highest-quality one, not the one with the smallest id.

    ``score_col`` must be numeric (it is negated for the composite
    min_by key).  A NULL score is coalesced to -infinity so a NULL-scored
    member can never out-rank a real score (a bare ``-NULL`` struct field
    would sort FIRST under Spark's struct ordering and silently win) —
    matching the ``ORDER BY score DESC NULLS LAST`` rule of the SQL twin.
    Plan shape: the same connected-components resolution,
    then ONE hash join of the component frame (|ids in pairs| rows —
    dup-group members only, not the corpus) against the scores, one
    combiner-reduced min_by per component, and one anti-join back to the
    corpus: nothing beyond the pair set is ever shuffled twice."""
    comp = connected_components(pairs, id_a, id_b)
    scored = comp.join(
        df.select(
            F.col(id_col).alias("id"),
            F.coalesce(
                F.col(score_col).cast("double"), F.lit(float("-inf"))
            ).alias("__s"),
        ),
        "id",
    )
    winners = scored.groupBy("component").agg(
        F.min_by(
            "id",
            F.struct((-F.col("__s")).alias("ns"), F.col("id").alias("i")),
        ).alias("__keep")
    )
    losers = (
        comp.join(winners, "component")
        .filter(F.col("id") != F.col("__keep"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def survivors_ranked_diagnostics(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> dict:
    """Falsifiable scale counters for the ranked-survivor pick (r11):
    the min_by winner reduction runs over DUP-GROUP MEMBERS ONLY, never
    the corpus, so the recorded exposure is the group structure —
    ``n_group_members`` (rows entering the one combiner-reduced min_by
    exchange), ``n_groups`` (its output), ``max_group_size`` (the skew
    bound of the per-component reduction) and ``n_removed`` (members -
    groups = anti-join losers).  A super-linear wall with these flat
    would indict the plan; growing max_group_size indicts the pair
    generator's clique structure, not the survivor pick."""
    comp = connected_components(pairs, id_a, id_b)
    agg = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    row = agg.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.coalesce(F.max("sz"), F.lit(0)).alias("max_group_size"),
        F.coalesce(F.sum("sz"), F.lit(0)).alias("n_members"),
    ).first()
    return {
        "n_pairs": int(pairs.count()),
        "n_groups": int(row["n_groups"]),
        "max_group_size": int(row["max_group_size"]),
        "n_group_members": int(row["n_members"]),
        "n_removed": int(row["n_members"]) - int(row["n_groups"]),
    }


# ---------------- embedding cosine near-dup ----------------

def _neardup_resolve_planes(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    planes: list[list[float]] | None,
    target_block_size: int,
    max_planes: int | None = None,
) -> list[list[float]]:
    """Adaptive plane count: P = max(4, ceil(log2(N / target_block_size)))
    so bucket count grows with the corpus and expected block population
    stays ~target_block_size (one count + one-row dim peek).

    ``max_planes`` caps P (ADVICE r11): callers whose SQL twin inlines a
    fixed plane-literal prefix pass the twin's cap so BOTH sides keep
    agreeing past N = target_block_size * 2^max_planes — beyond the cap
    block population grows past target_block_size instead of the plane
    count growing past what the twin can replay.  Leave ``None`` for the
    unconstrained production behavior."""
    if planes is not None:
        return planes
    import math

    from minivectordb_spark.operators.ann import default_projection_planes

    first = df.select(F.size(F.col(emb_col)).alias("d")).first()
    dim = int(first["d"]) if first else 0
    n = df.select(id_col).count()
    n_planes = max(4, math.ceil(math.log2(max(n, 1) / target_block_size)))
    if max_planes is not None:
        n_planes = min(n_planes, max_planes)
    return default_projection_planes(dim, n_planes=n_planes)


def _neardup_lsh_candidates(
    df: DataFrame,
    planes: list[list[float]],
    emb_col: str,
    id_col: str,
    multiprobe: bool,
    max_probes: int | None,
) -> DataFrame:
    """One-sided multiprobe LSH candidate id pairs (id_a < id_b), unique by
    construction.  Shared by embedding_neardup_pairs (the operator) and
    embedding_neardup_diagnostics (the recorded-counter path) so measured
    scaling evidence can never drift from the plan it describes."""
    from minivectordb_spark.operators.ann import (
        random_projection_buckets,
        random_projection_probes,
    )

    n_planes = len(planes)
    k_probes = n_planes if max_probes is None else min(max_probes, n_planes)
    buckets = random_projection_probes(
        df,
        planes,
        id_col=id_col,
        emb_col=emb_col,
        max_probes=(k_probes if multiprobe else 0),
    )
    # candidate generation runs over (id, bucket) ONLY — the 64-dim+
    # arrays must not ride through the exploded multiprobe join (at 10x
    # replication that shuffle dominated the whole query).  Embeddings
    # are re-attached AFTER candidates are formed.
    a_ids = buckets.select(
        F.col(id_col).alias("id_a"), F.explode("probes").alias("__probe")
    )
    # build side needs the home bucket ONLY — computed via the
    # bucket-only staged path so the probe/margin machinery (which a
    # column-pruner cannot remove across the Generate barrier) is
    # never evaluated for the non-probing side
    b_ids = random_projection_buckets(
        df, planes, id_col=id_col, emb_col=emb_col
    ).select(F.col(id_col).alias("id_b"), F.col("bucket").alias("__home"))
    # One-sided probing, no dedup shuffle: a candidate (x, y) with
    # bucket distance d is emitted exactly once — by x's home probe
    # when d = 0 (x's flipped probes each differ from y's bucket) and
    # by x's flip of THE differing bit when d = 1 (every other probe
    # differs from y's bucket in >= 1 bit) — so pairs are unique by
    # construction (measured: cand_raw == cand_dedup at 1x and 10x).
    # Under capped query-directed probing this prunes a distance-1
    # pair only when the smaller id's k closest planes miss the
    # differing bit; a TRUE near-dup's endpoints have near-identical
    # per-plane margins (cos >= threshold), so one-sided recall
    # matches either-side in practice (measured at 10x replication:
    # 22,500 of 22,500 pairs, with 2.6x fewer candidates than
    # canonicalize-both-orientations + dedup).
    #
    # CONTRACT (pinned by tests): a qualifying pair whose single
    # differing plane is outside the smaller id's closest-max_probes
    # margin set is a DOCUMENTED MISS
    # (test_one_sided_probing_documented_miss constructs one and asserts
    # exhaustive probing still finds it); measured recall on a seeded
    # jittered-replica corpus is >= 0.95 at the graded threshold
    # (test_one_sided_probing_measured_recall).  This deliberately
    # relaxes the reference's exact-recall property of pre-filtered
    # search (vector_database.py:508-523) — the ANN path trades bounded
    # recall for candidate generation constant in corpus size.
    return (
        a_ids.join(b_ids, F.col("__probe") == F.col("__home"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


def embedding_neardup_diagnostics(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    planes: list[list[float]] | None = None,
    multiprobe: bool = True,
    max_probes: int | None = None,
    target_block_size: int = 64,
    max_planes: int | None = None,
) -> dict:
    """Recorded, falsifiable counters for the LSH near-dup plan: every
    scaling claim about this operator belongs in bench JSON, not prose
    (VERDICT r4).  Runs the SAME plane resolution and candidate
    construction as ``embedding_neardup_pairs`` (shared helpers) and
    returns::

        {n_rows, n_planes, probes_per_row, buckets_used,
         avg_bucket_occupancy, max_bucket_occupancy,
         candidate_pairs, output_pairs}

    Diagnostic path — runs extra count jobs; never called by the operator.
    """
    from minivectordb_spark.operators.ann import random_projection_buckets

    planes = _neardup_resolve_planes(
        df, emb_col, id_col, planes, target_block_size, max_planes
    )
    n_planes = len(planes)
    k_probes = n_planes if max_probes is None else min(max_probes, n_planes)
    n_rows = df.count()
    occ = (
        random_projection_buckets(df, planes, id_col=id_col, emb_col=emb_col)
        .groupBy("bucket")
        .count()
        .agg(
            F.count("*").alias("nb"),
            F.avg("count").alias("avg"),
            F.max("count").alias("mx"),
        )
        .first()
    )
    cand = _neardup_lsh_candidates(df, planes, emb_col, id_col, multiprobe, max_probes)
    out = embedding_neardup_pairs(
        df,
        emb_col=emb_col,
        id_col=id_col,
        threshold=threshold,
        planes=planes,
        multiprobe=multiprobe,
        max_probes=max_probes,
        target_block_size=target_block_size,
    )
    return {
        "n_rows": int(n_rows),
        "n_planes": int(n_planes),
        "probes_per_row": int(1 + (k_probes if multiprobe else 0)),
        "buckets_used": int(occ["nb"]),
        "avg_bucket_occupancy": round(float(occ["avg"]), 2),
        "max_bucket_occupancy": int(occ["mx"]),
        "candidate_pairs": int(cand.count()),
        "output_pairs": int(out.count()),
    }


def embedding_neardup_pairs(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    threshold: float = 0.9,
    planes: list[list[float]] | None = None,
    multiprobe: bool = True,
    max_probes: int | None = None,
    brute_force: bool = False,
    target_block_size: int = 64,
    max_planes: int | None = None,
) -> DataFrame:
    """Cosine near-dup pairs over an embedding column.

    Blocking picks the scale path:
    - ``block_col``: equi-keyed self-join on a caller-supplied block column
      (shuffle on the key, pairs only within blocks).  Only scale-safe when
      the block cardinality GROWS with the data — a fixed low-cardinality
      label makes within-block pair counts quadratic at 100x.
    - default (no block_col): sign-bit LSH blocking — each vector's block
      is its ``random_projection_buckets`` bucket over ``planes``
      (deterministic literals, oracle-reproducible).  Block count is 2^P,
      and P can rise with corpus size, so block population — and the
      within-block pair count — stays bounded.  With ``multiprobe`` each
      row also probes buckets at bucket-Hamming 1, so a pair whose buckets
      differ in <= 1 sign bit is still compared (bounds the recall loss
      from near-dups straddling a hyperplane).  ``max_probes`` switches
      Hamming-1 probing from exhaustive (all P flips — a log-N per-row
      factor, since P grows with the corpus) to query-directed
      (multi-probe LSH, Lv et al.): flip only the ``max_probes`` planes
      the vector is closest to, the ones a true near-neighbor most likely
      straddles, making probe count constant in N.  Probing is one-sided
      (the smaller id probes), which keeps candidates unique by
      construction — no dedup shuffle; true near-dups' endpoints have
      near-identical margins, so one-sided recall matches either-side
      (measured).  ``planes=None``
      derives planes from the data: P = max(4, ceil(log2(N /
      ``target_block_size``))) planes (one count + one-row dim peek), so
      bucket count GROWS with the corpus and expected block population
      stays ~``target_block_size`` — measured at 10x replication this
      keeps the pair join ~linear where a fixed P was 17x.  Callers
      needing literal-reproducible plans (the SQL oracle) pass explicit
      ``planes``.
    - ``brute_force=True``: the O(N^2) cross-join — correctness baseline
      for small corpora and recall tests only.
    """
    from minivectordb_spark.operators.util import materialize
    from minivectordb_spark.scoring import norm_expr

    use_lsh = block_col is None and not brute_force

    keep = [id_col, emb_col] + ([block_col] if block_col else [])
    base = materialize(df.select(*keep), norm_expr(F.col(emb_col)), "__n", keep)

    if use_lsh:
        planes = _neardup_resolve_planes(
            df, emb_col, id_col, planes, target_block_size, max_planes
        )

    a_cols = [
        F.col(id_col).alias("id_a"),
        F.col(emb_col).alias("emb_a"),
        F.col("__n").alias("n_a"),
    ]
    b_cols = [
        F.col(id_col).alias("id_b"),
        F.col(emb_col).alias("emb_b"),
        F.col("__n").alias("n_b"),
    ]
    if use_lsh:
        cand = _neardup_lsh_candidates(
            df, planes, emb_col, id_col, multiprobe, max_probes
        )
        # hash-repartition the id-only candidates before the attach joins:
        # the cosine verify then parallelizes even when the attach side
        # broadcasts, and partitioning by id_a is reusable by the first
        # attach join (verify pin: plans.width.verify_repartition)
        cand = verify_repartition(cand, F.col("id_a"))
        joined = cand.join(
            base.select(*a_cols), "id_a"
        ).join(base.select(*b_cols), "id_b")
    elif block_col:
        # verify pin on both sides: the within-block self-join explodes
        # up to |block|^2 cosine rows out of byte-small inputs; the blocks
        # are cap-bounded, so no blk partition exceeds cap^2 pairs
        a = verify_repartition(
            base.select(*a_cols, F.col(block_col).alias("blk")), F.col("blk")
        )
        b = verify_repartition(
            base.select(*b_cols, F.col(block_col).alias("blk")), F.col("blk")
        )
        joined = a.join(b, "blk").filter(F.col("id_a") < F.col("id_b"))
    else:
        a = base.select(*a_cols)
        b = base.select(*b_cols)
        joined = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    sim = cosine_sim_cols(
        F.col("emb_a"), F.col("emb_b"), norm_a=F.col("n_a"), norm_b=F.col("n_b")
    )
    out_cols = ["id_a", "id_b"]
    if block_col:
        out_cols.append("blk")
    return (
        joined.withColumn("cosine", F.round(sim, 6))
        .filter(F.col("cosine") >= threshold)
        .select(*out_cols, "cosine")
    )


def neardup_against(
    df: DataFrame,
    reference: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    planes: list[list[float]] | None = None,
    multiprobe: bool = True,
    max_probes: int | None = None,
    target_block_size: int = 64,
    max_planes: int | None = None,
) -> DataFrame:
    """Cross-corpus EMBEDDING near-dup — the embedding-space form of
    ``dedup_against``: drop incoming rows whose cosine against some
    reference-corpus row >= ``threshold``, return the survivors of
    ``df``.  The missing half of the pipeline symmetry: text near-dups
    had both in-corpus (lsh_jaccard_pairs) and cross-corpus
    (dedup_against) forms, embeddings had in-corpus only.

    Plan: planes resolve from the REFERENCE corpus (the side whose size
    sets the bucket count — deterministic in count(*) + dim, so the SQL
    twin replays the choice); the reference side exposes HOME buckets
    only while the incoming side probes with query-directed Hamming-1
    multiprobe (same machinery as ``embedding_neardup_pairs``, same
    documented-miss recall contract — a qualifying pair whose differing
    plane is outside the new row's closest-``max_probes`` margin set is
    missed).  Candidates are (id, id) pairs only — embeddings re-attach
    after the bucket join; the candidate frame is explicitly
    repartitioned so the cosine verify parallelizes (same AQE-coalesce
    trap as the in-corpus operator).  Reference-internal duplicates are
    never paired (cross-frame join, no self-join of the union)."""
    from minivectordb_spark.operators.ann import (
        random_projection_buckets,
        random_projection_probes,
    )
    from minivectordb_spark.operators.util import materialize
    from minivectordb_spark.scoring import norm_expr

    planes = _neardup_resolve_planes(
        reference, emb_col, id_col, planes, target_block_size, max_planes
    )
    n_planes = len(planes)
    k_probes = n_planes if max_probes is None else min(max_probes, n_planes)
    probes = random_projection_probes(
        df,
        planes,
        id_col=id_col,
        emb_col=emb_col,
        max_probes=(k_probes if multiprobe else 0),
    )
    a_ids = probes.select(
        F.col(id_col).alias("id_new"), F.explode("probes").alias("__probe")
    )
    b_ids = random_projection_buckets(
        reference, planes, id_col=id_col, emb_col=emb_col
    ).select(F.col(id_col).alias("id_ref"), F.col("bucket").alias("__home"))
    # a given (new, ref) pair matches at most ONE probe (the one equal to
    # the ref row's home bucket); distinct is contract, not dedup work
    cand = (
        a_ids.join(b_ids, F.col("__probe") == F.col("__home"))
        .select("id_new", "id_ref")
        .distinct()
    )
    cand = verify_repartition(cand, F.col("id_new"))
    base_a = materialize(
        df.select(id_col, emb_col), norm_expr(F.col(emb_col)), "__n",
        [id_col, emb_col],
    )
    base_b = materialize(
        reference.select(id_col, emb_col), norm_expr(F.col(emb_col)), "__n",
        [id_col, emb_col],
    )
    a = base_a.select(
        F.col(id_col).alias("id_new"),
        F.col(emb_col).alias("emb_a"),
        F.col("__n").alias("n_a"),
    )
    b = base_b.select(
        F.col(id_col).alias("id_ref"),
        F.col(emb_col).alias("emb_b"),
        F.col("__n").alias("n_b"),
    )
    sim = cosine_sim_cols(
        F.col("emb_a"), F.col("emb_b"), norm_a=F.col("n_a"), norm_b=F.col("n_b")
    )
    hits = (
        cand.join(a, "id_new")
        .join(b, "id_ref")
        .withColumn("cosine", F.round(sim, 6))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("id_new").alias(id_col))
        .distinct()
    )
    return df.join(hits, id_col, "left_anti")


def semantic_blocks(
    assigned: DataFrame,
    id_col: str,
    max_cluster_size: int | None,
    keep: tuple[str, ...] = (),
) -> tuple[DataFrame, str]:
    """The deterministic over-cap cluster split ``semantic_dedup`` pairs
    within: clusters above ``max_cluster_size`` split into ceil(size/cap)
    md5-hash sub-blocks (engine-portable, oracle-replayable).  Returns
    ``(assigned_with_block, block_col)``; with ``max_cluster_size=None``
    the block is the centroid itself.  One K-row count aggregate plus a
    broadcast join — no corpus-sized shuffle is added by the split."""
    if max_cluster_size is None:
        return assigned, "centroid_id"
    from minivectordb_spark.operators.hashing import md5i32

    sizes = assigned.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("__csz"))
    n_sub = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.col("__csz") / F.lit(max_cluster_size)).cast("long"),
    )
    out = (
        assigned.join(F.broadcast(sizes), "centroid_id")
        .withColumn(
            "__sem_block",
            F.concat_ws(
                "#",
                F.col("centroid_id").cast("string"),
                F.pmod(md5i32(F.col(id_col).cast("string")), n_sub).cast("string"),
            ),
        )
        .select(id_col, *keep, "centroid_id", "__sem_block")
    )
    return out, "__sem_block"


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    max_cluster_size: int | None = None,
    assign_df: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al.,
    arXiv:2303.09540): coarse-cluster the corpus with a fitted centroid
    set, resolve cosine near-duplicates WITHIN each cluster, keep the
    min-id survivor of every duplicate group plus all unpaired rows.

    Composition of three existing scale paths — ``ann.ivf_assign`` (map-
    only argmax assignment over inlined centroids), ``embedding_neardup_
    pairs(block_col="centroid_id")`` (the equi-keyed blocking case, here
    with FITTED cluster cardinality that grows with the corpus — exactly
    the condition under which block_col blocking is scale-safe), and
    ``dedup_survivors`` (connected components, min-id representative).
    Pairs straddling two clusters are NOT compared — SemDeDup's
    documented approximation: near-duplicates co-locate under the same
    coarse quantizer with high probability, and cross-cluster recall is
    what ``embedding_neardup_pairs``' LSH multiprobe path trades back in
    when blocking-free dedup is wanted.

    ``max_cluster_size`` bounds the quadratic term BY CONSTRUCTION:
    within-cluster pairing is O(size^2), and an adaptive K only keeps the
    AVERAGE cluster near target — one mega-cluster of near-constant
    boilerplate (recorded 10x counters: max 280 vs avg 50.5) would
    otherwise become the whole job at 100 TB.  Clusters above the cap are
    split deterministically into ceil(size/cap) hash sub-blocks
    (engine-portable md5 of the id, so the oracle replays the identical
    split) and pairs are found within sub-blocks only — the same
    sampling trade SemDeDup makes by keeping cluster size ~constant;
    pairs straddling sub-blocks of an over-cap cluster are forgone, in
    exchange for a hard per-block pair bound.  Cost of the split: one
    K-row count aggregate + a broadcast join — no corpus shuffle.
    ``None`` keeps the uncapped behavior.

    ``assign_df``: an already-staged ``(id, emb, __n)`` frame for the
    assignment pass only — pass ``lloyd_kmeans_fit``'s staged checkpoint
    so the fit + assignment share one corpus scan; ``df`` itself still
    supplies the pairing/survivor columns.
    """
    from minivectordb_spark.operators.ann import (
        MATMUL_MIN_K,
        _collect_centroids,
        ivf_assign_join,
        ivf_assign_matmul,
    )

    # broadcast-join assignment (not the literal-inlined ivf_assign): its
    # expression shape matches the Lloyd-fit iterations that normally
    # precede this call, so codegen is a cache hit instead of a fresh
    # K x dim compile — equivalence with ivf_assign is unit-tested.  At
    # SemDeDup-scale cluster counts (K grows with the corpus) the
    # interpreted fold gives way to the BLAS matmul path, same dispatch
    # as the fit itself.
    src = assign_df if assign_df is not None else df
    cent_rows = _collect_centroids(centroids)
    if len(cent_rows) >= MATMUL_MIN_K:
        # carry the embedding THROUGH the assignment kernel (guide §8.4):
        # the blocked pairing input used to be re-built by joining the
        # corpus back on id — a full embedding shuffle whose only purpose
        # was re-attaching a column the kernel already held.  semantic_
        # blocks' broadcast split passes it along; no corpus-keyed
        # exchange remains before the banded pairing.
        assigned = ivf_assign_matmul(
            src, cent_rows, id_col=id_col, emb_col=emb_col, carry_emb=True
        ).select(id_col, emb_col, "centroid_id")
        assigned, block_col = semantic_blocks(
            assigned, id_col, max_cluster_size, keep=(emb_col,)
        )
        blocked = assigned
    else:
        assigned = ivf_assign_join(
            src,
            centroids,
            id_col=id_col,
            emb_col=emb_col,
            prestaged=assign_df is not None,
        ).select(id_col, "centroid_id")
        assigned, block_col = semantic_blocks(assigned, id_col, max_cluster_size)
        blocked = df.select(id_col, emb_col).join(assigned, id_col)
    pairs = embedding_neardup_pairs(
        blocked,
        emb_col=emb_col,
        id_col=id_col,
        block_col=block_col,
        threshold=threshold,
    )
    return dedup_survivors(df, pairs, id_col=id_col)


def repeated_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = DEFAULT_SHINGLE,
    min_docs: int = 2,
) -> DataFrame:
    """Repeated-passage detection — the Spark-shaped approximation of
    exact-substring dedup (Lee et al., arXiv:2107.06499, "Deduplicating
    Training Data Makes Language Models Better"): hash every token window
    of length ``window`` (the shingle machinery — per-doc distinct), then
    one explode + one hash-keyed groupBy reports the windows appearing in
    >= ``min_docs`` DISTINCT documents, with the min doc id as the
    canonical holder.  This is the candidate passage table a scrub pass
    joins against — passage-level dedup for the boilerplate/citation/
    license-block case where document-level near-dup is too coarse.

    Plan: map-only window hashing (tokens staged once per row, shingles
    once — see ``_shingle_frame``), rows fan out by windows-per-doc only,
    then ONE shuffle on the 4-byte hash with map-side partial aggregation.
    count(*) counts distinct docs for free because each doc's window set
    is already distinct.  At 100 TB the same plan runs with window ~50
    plus a stride; the shuffle key stays the hash, and AQE's skew join is
    irrelevant (pure aggregation, no join)."""
    sh = _shingle_frame(df, text_col, id_col, window)
    exploded = sh.select(F.col(id_col), F.explode("sh").alias("gram_hash"))
    return (
        exploded.groupBy("gram_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(F.col(id_col)).alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def dup_ngram_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = DEFAULT_SHINGLE,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-n-gram fraction — the RefinedWeb / Gopher
    CROSS-document repetition quality signal (Penedo et al.,
    arXiv:2306.01116 "fraction of characters in duplicated n-grams";
    Rae et al., arXiv:2112.11446): for each doc, the share of its
    distinct token windows that appear in >= ``min_docs`` documents
    corpus-wide.  High fraction = boilerplate/template/mirrored content
    — the standard filter signal BETWEEN document-level near-dup (too
    coarse) and passage scrubbing (destructive).  Returns
    ``(id_col, n_windows, n_repeated, dup_fraction)``; docs shorter than
    ``window`` tokens carry no windows and drop out.

    Plan: the shingle machinery stages tokens and window hashes once;
    the corpus-repeated window table is the ``repeated_passages``
    aggregate (ONE hash-keyed combiner-reduced shuffle, output bounded
    by distinct repeated windows); the per-doc pass re-explodes the
    staged shingles, LEFT-joins the repeated table on the 4-byte hash,
    and partial-aggregates on the id — two corpus-keyed shuffles total
    (the hash join's and the per-doc count's), both combiner-reduced.
    At 100 TB the repeated-window table is the only state that grows
    with corpus redundancy, and it shrinks as ``min_docs`` rises."""
    sh = _reused(_shingle_frame(df, text_col, id_col, window))
    exploded = sh.select(F.col(id_col), F.explode("sh").alias("gram_hash"))
    repeated = (
        exploded.groupBy("gram_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gram_hash", F.lit(1).alias("__rep"))
    )
    joined = exploded.join(repeated, "gram_hash", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count("__rep").alias("n_repeated"),
        )
        .select(
            F.col(id_col),
            "n_windows",
            "n_repeated",
            # exact-rational 6dp rounding (text._exact_avg_micros): a float
            # round(a/b, 6) flips between engines when the rational's 7th
            # decimal digit is exactly 5 — integer micros have no boundary
            _exact_avg_micros("n_repeated", "n_windows").alias("dup_fraction"),
        )
    )


def scrub_repeated_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = DEFAULT_SHINGLE,
    min_docs: int = 2,
) -> DataFrame:
    """The SCRUB half of exact-substring dedup (Lee et al.,
    arXiv:2107.06499): ``repeated_passages`` finds the token windows
    appearing in >= ``min_docs`` documents; this pass REMOVES every token
    covered by such a window from every document EXCEPT the window's
    canonical (min-id) holder — one surviving occurrence per passage,
    the rest of each document kept intact.  Returns
    ``(id_col, scrubbed)``.

    Plan: the flagged-window table comes from the repeated_passages
    aggregate (one hash-keyed shuffle); positional window hashes fan out
    by windows-per-doc, join the flagged table on the 4-byte hash, and
    collapse to a per-doc covered-position set (one id-keyed shuffle);
    reconstruction is a map-side index-lambda filter over the staged
    token array.  No stage pairs documents with documents — cost scales
    with flagged-window OCCURRENCES, never the doc-pair space.  Docs
    shorter than ``window`` behave as one whole-doc window (the shingle
    fallback), so a short doc duplicated across the corpus scrubs to
    empty outside its first holder."""
    flagged = repeated_passages(df, text_col, id_col, window, min_docs).select(
        "gram_hash", "first_doc"
    )
    staged = _barrier(
        _parallel(df), tokens(F.col(text_col)), "__toks", [id_col]
    )
    toks = F.col("__toks")
    n = F.size(toks)
    k = window
    wins = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.struct(
                i.alias("wpos"),
                F.lit(k).cast("int").alias("span"),
                md5i32(
                    F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)])
                ).alias("gram_hash"),
            ),
        ),
    ).otherwise(
        F.array(
            F.struct(
                F.lit(1).alias("wpos"),
                n.cast("int").alias("span"),
                md5i32(F.concat_ws(" ", toks)).alias("gram_hash"),
            )
        )
    )
    ex = _barrier(staged, wins, "__w", [id_col]).select(
        F.col(id_col), F.explode("__w").alias("w")
    ).select(id_col, "w.wpos", "w.span", "w.gram_hash")
    covered = (
        ex.join(flagged, "gram_hash")
        .filter(F.col(id_col) != F.col("first_doc"))
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("wpos"), F.col("wpos") + F.col("span") - 1)
            ).alias("tpos"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("tpos").alias("__cov"))
    )
    kept = F.filter(
        toks, lambda t, i: ~F.coalesce(
            F.array_contains(F.col("__cov"), i + 1), F.lit(False)
        )
    )
    return (
        staged.join(covered, id_col, "left")
        .select(F.col(id_col), F.concat_ws(" ", kept).alias("scrubbed"))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = DEFAULT_SHINGLE,
    min_overlap: int = 1,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination — flag training documents whose token
    n-grams overlap a held-out evaluation set (the published method used
    for GPT-3 / PaLM / Llama training sets: n-gram collision against the
    benchmark, then drop or scrub the colliding documents).  Returns
    ``(id_col, n_overlap)`` for every corpus document sharing at least
    ``min_overlap`` DISTINCT ``window``-token grams with any benchmark
    document; the caller left-anti-joins this against the corpus to drop
    them (or routes them to a passage-scrub pass).

    Plan: both sides reuse the shingle machinery (tokens staged once,
    per-doc-distinct gram hashes).  The benchmark side reduces to a
    DISTINCT gram-hash set; with ``broadcast_benchmark`` (default) that
    set broadcasts — eval suites are a few MB of n-grams even for large
    benchmark batteries — so the corpus-side probe is map-only, and the
    ONLY shuffle is the final per-doc count.  At 100 TB: same plan; if
    the benchmark set ever outgrows the broadcast threshold, pass
    ``broadcast_benchmark=False`` for a plain hash-partitioned semi-join
    on the 4-byte gram hash (two shuffles, still never all-pairs).

    Reference analogue: none — the reference searches one DB; this is the
    training-pipeline extension surface (BASELINE.json north star)."""
    corp_sh = _shingle_frame(corpus, text_col, id_col, window)
    bench_grams = (
        _shingle_frame(benchmark, text_col, id_col, window)
        .select(F.explode("sh").alias("gram_hash"))
        .distinct()
    )
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    hits = corp_sh.select(F.col(id_col), F.explode("sh").alias("gram_hash")).join(
        bench_grams, "gram_hash"
    )
    return (
        hits.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def contamination_fraction(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = DEFAULT_SHINGLE,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Per-document contamination SCORE: the fraction of a document's
    DISTINCT ``window``-token grams that collide with the benchmark set —
    the graded companion to ``decontaminate``'s binary flag (GPT-3's
    appendix-C methodology reports exactly this dirtiness fraction per
    document, and pipelines threshold it rather than dropping on any
    single collision; Brown et al., arXiv:2005.14165).  Returns
    ``(id_col, n_grams, n_hit, contamination)`` for EVERY document — the
    shingle machinery's short-doc fallback (whole text as one gram)
    means every doc carries at least one gram; ``contamination =
    n_hit / n_grams`` rounded at 6dp on the EXACT RATIONAL
    (``_exact_avg_micros`` — a float ``round(a/b, 6)`` flips between
    engines on .5e-6 boundaries).

    Plan: identical scale shape to ``decontaminate`` — shingles staged
    once per side, the benchmark reduced to a DISTINCT broadcast gram
    set, the probe a map-only LEFT join (left, not inner: zero-hit
    documents must appear with contamination 0.0), then ONE per-doc
    count shuffle.  Distinct-per-doc grams come free: the shingle array
    is already per-doc-distinct hashes."""
    from minivectordb_spark.operators.text import _exact_avg_micros

    corp_sh = _shingle_frame(corpus, text_col, id_col, window)
    bench_grams = (
        _shingle_frame(benchmark, text_col, id_col, window)
        .select(F.explode("sh").alias("gram_hash"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    probed = corp_sh.select(
        F.col(id_col), F.explode("sh").alias("gram_hash")
    ).join(bench_grams, "gram_hash", "left")
    return (
        probed.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_hit"),
        )
        .select(
            id_col,
            "n_grams",
            "n_hit",
            _exact_avg_micros("n_hit", "n_grams").alias("contamination"),
        )
    )


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    window: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Pairwise source-overlap matrix — the dataset-card "how much do my
    sources share?" rollup: for every unordered source pair, the number
    of DISTINCT ``window``-token grams present in both, plus the gram
    Jaccard.  High overlap between two crawl sources means shared
    boilerplate / mirrored content and predicts cross-source near-dups
    before any pairwise doc comparison is run.  Returns ``(source_a,
    source_b, n_shared_grams, jaccard)`` for pairs sharing >= 1 gram,
    with ``source_a < source_b`` and ``jaccard = shared / (|A| + |B| -
    shared)`` rounded at 6dp on the exact rational.

    Scale design: the gram->sources inversion aggregates to ONE row per
    distinct gram with a collect_set bounded by the SOURCE CATALOG (a
    dimension of dozens-hundreds at any corpus size — never data-
    sized), and the pair explosion is map-side combinations of that
    tiny array — a viral gram shared by every source costs
    |sources|^2/2 rows ONCE, not a self-join fan-out per occurrence.
    Totals are a |sources|-row broadcast.  Shuffles: the (source, gram)
    distinct and the gram groupBy — both combiner-reduced."""
    from minivectordb_spark.operators.text import _exact_avg_micros

    sg = (
        _shingle_frame(df, text_col, source_col, window)
        .select(F.col(source_col), F.explode("sh").alias("gram_hash"))
        .distinct()
    )
    sg = _reused(sg)
    totals = sg.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
    per_gram = (
        sg.groupBy("gram_hash")
        .agg(F.array_sort(F.collect_set(source_col)).alias("__ss"))
        .filter(F.size("__ss") > 1)
    )
    pairs = per_gram.select(
        F.explode(
            F.expr(
                """flatten(transform(__ss, (a, i) ->
                     transform(slice(__ss, i + 2, size(__ss)), b ->
                       struct(a AS sa, b AS sb))))"""
            )
        ).alias("pr")
    ).select("pr.sa", "pr.sb")
    shared = pairs.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).alias("n_shared_grams")
    )
    ta = F.broadcast(
        totals.select(F.col(source_col).alias("sa"), F.col("__n").alias("__na"))
    )
    tb = F.broadcast(
        totals.select(F.col(source_col).alias("sb"), F.col("__n").alias("__nb"))
    )
    return (
        shared.join(ta, "sa")
        .join(tb, "sb")
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "n_shared_grams",
            _exact_avg_micros(
                "n_shared_grams", "(__na + __nb - n_shared_grams)"
            ).alias("jaccard"),
        )
    )


def dedup_against(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = DEFAULT_N_HASHES,
    band_size: int = 2,
    k: int = DEFAULT_SHINGLE,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Cross-corpus dedup — drop incoming documents that near-duplicate an
    EXISTING reference corpus (the "dedup the new crawl against the
    training set" pass every pipeline refresh runs; same MinHash-LSH
    recipe as in-corpus dedup, per Lee et al. / RefinedWeb practice).
    Returns the surviving rows of ``df``.

    Plan: both sides compute identical band buckets (``_band_buckets`` —
    same MinHash literals, so keys are join-compatible across frames);
    the candidate join is new-side buckets x reference-side buckets on
    (band_idx, band_hash) — never a self-join of the union, so reference-
    internal duplicates are never paired and reference-side work is one
    banding pass.  Candidates verify with the exact n-gram Jaccard, and
    hits left-anti against ``df``.  Shuffles: one per side for banding
    keys, one for the verify join — all on hash keys, AQE handles hot
    buckets.  At 100 TB the reference side's buckets are a static table
    you'd persist once (same contract as ``save_ivf_index``) and the
    incremental cost is the NEW side only."""
    sh_new = _reused(_shingle_frame(df, text_col, id_col, k))
    sh_ref = _shingle_frame(reference, text_col, id_col, k)
    nb = _band_buckets(sh_new, id_col, n_hashes, band_size, seed)
    rb = _band_buckets(sh_ref, id_col, n_hashes, band_size, seed)
    cand = (
        nb.alias("n")
        .join(
            rb.alias("r"),
            (F.col("n.band_idx") == F.col("r.band_idx"))
            & (F.col("n.band_hash") == F.col("r.band_hash")),
        )
        .select(
            F.col(f"n.{id_col}").alias("id_new"),
            F.col(f"r.{id_col}").alias("id_ref"),
        )
        .distinct()
    )
    a = sh_new.select(F.col(id_col).alias("id_new"), F.col("sh").alias("sh_a"))
    b = sh_ref.select(F.col(id_col).alias("id_ref"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = inter.cast("double") / union.cast("double")
    # verify pin: each candidate row costs an array_intersect over two
    # full shingle sets
    hits = (
        verify_repartition(cand, F.col("id_new"))
        .join(a, "id_new")
        .join(b, "id_ref")
        .filter(F.round(jac, 6) >= threshold)
        .select(F.col("id_new").alias(id_col))
        .distinct()
    )
    return df.join(hits, id_col, "left_anti")


_DEDUP_MANIFEST = "_dedup_index_manifest.json"
_NEARDUP_MANIFEST = "_neardup_index_manifest.json"


def _gen_data(path: str, m: dict, sub: str) -> str:
    from minivectordb_spark import fsio

    return fsio.gen_data(path, m, sub)


def _load_index_or_empty(path: str, name: str) -> tuple[dict, int]:
    """(manifest, epoch) of an existing index, or ({}, 0) when ``path``
    holds no index yet (fresh build target)."""
    from minivectordb_spark import fsio

    try:
        return fsio.load_index_manifest(path, name)
    except (OSError, ValueError):
        return {}, 0


def _begin_index_append(path: str, name: str, m: dict, epoch: int) -> None:
    from minivectordb_spark import fsio

    fsio.begin_index_append(path, name, m, epoch)


def _end_index_append(path: str, name: str, m: dict) -> None:
    from minivectordb_spark import fsio

    fsio.end_index_append(path, name, m)


def save_dedup_index(
    reference: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = DEFAULT_N_HASHES,
    band_size: int = 2,
    k: int = DEFAULT_SHINGLE,
    seed: int = 42,
    prefix_len: int = 2,
    skip_if_fresh: bool = False,
    _fingerprint: str | None = "auto",
) -> bool:
    """Persist the reference side of ``dedup_against`` ONCE: the band
    buckets (id, band_idx, band_hash) and the exact-verify shingle-hash
    arrays (id, sh), plus a manifest pinning the hash parameters so every
    future probe replays join-compatible keys.  This is the contract
    ``dedup_against``'s docstring promises for 100 TB: the training-set
    side of "dedup the new crawl against the training set" is static
    between refreshes, so its banding/shingling pass should be paid once
    per refresh, not once per incoming batch.  Layout mirrors
    ``save_ivf_index`` (parquet tables + JSON manifest beside them).

    The bucket table is PARTITIONED BY the first ``prefix_len`` hex chars
    of band_hash (16^prefix_len dirs — md5 hex is uniform over them), so
    a probe can prune to the directories its batch's keys actually
    touch: a small batch against a huge index reads ~|batch bands| /
    16^prefix_len of the files at rest, the same file-level-pruning
    story as ``save_ivf_index``.  Size prefix_len to the index (256 dirs
    default; a 100 TB index wants 3-4 — each directory should still hold
    many row groups).

    With ``skip_if_fresh`` the build is SKIPPED when an existing index
    at ``path`` carries a manifest matching the current inputs (source
    files by size+mtime, canonicalized plan, hash parameters) — the
    ``save_ivf_index`` freshness contract: a persisted index is only
    worth its write cost if repeat probes reuse it, and a stale index is
    worse than no index, so freshness is CHECKED, never assumed
    (``update_dedup_index`` drops the fingerprint — an appended index
    corresponds to no single source snapshot).  Returns True when the
    index was (re)built, False when a fresh one was reused.

    Re-saving over an existing index writes the NEW GENERATION into its
    own ``gen=<N>-<token>`` dir and publishes it by a CAS manifest-epoch
    bump (``fsio.publish_index_manifest``) — probes of the previous
    generation keep working through the swap (the previous generation's
    data is retained until the next publish), a losing concurrent
    writer gets a clean ``ConcurrentIndexMutation``, and object stores
    never see a manifest rename window (epoch files are immutable,
    exclusive-created).  This is the snapshot-isolation translation of
    the reference's lock-serialized persistence
    (vector_database.py:19,538-548), the same contract durable.py's CAS
    gives the CoW table (VERDICT r13 item 1)."""
    from minivectordb_spark import fsio
    from minivectordb_spark.operators.util import source_fingerprint

    params = {
        "id_col": id_col,
        "n_hashes": n_hashes,
        "band_size": band_size,
        "k": k,
        "seed": seed,
        "prefix_len": prefix_len,
    }
    fp = (
        source_fingerprint(reference, [params, text_col])
        if _fingerprint == "auto"
        else _fingerprint
    )
    cur, epoch = _load_index_or_empty(path, _DEDUP_MANIFEST)
    if skip_if_fresh and fp is not None and cur.get("fingerprint") == fp:
        return False

    gen, gen_dir = fsio.new_gen_dir(cur)
    sh_ref = _reused(_shingle_frame(reference, text_col, id_col, k))
    buckets = _band_buckets(sh_ref, id_col, n_hashes, band_size, seed).withColumn(
        "bp", F.substring(F.col("band_hash"), 1, prefix_len)
    )
    # the two table writes are independent once sh_ref exists — overlap
    # them (util.run_concurrent, guide §2.6): each write's driver fixed
    # cost (plan/commit) and task tail back-fill the other's
    run_concurrent(
        lambda: (
            buckets.repartition("bp")
            .write.partitionBy("bp")
            .mode("overwrite")
            .parquet(f"{path}/{gen_dir}/buckets")
        ),
        lambda: (
            sh_ref.select(F.col(id_col), F.col("sh"))
            .write.mode("overwrite")
            .parquet(f"{path}/{gen_dir}/shingles")
        ),
    )
    m = dict(params)
    m["generation"], m["gen_dir"] = gen, gen_dir
    if cur.get("gen_dir"):
        m["prev_gen_dir"] = cur["gen_dir"]
    if fp is not None:
        m["fingerprint"] = fp
    try:
        fsio.publish_index_manifest(path, _DEDUP_MANIFEST, m, epoch)
    except fsio.ConcurrentIndexMutation:
        fsio.delete(f"{path.rstrip('/')}/{gen_dir}", recursive=True)
        raise
    fsio.sweep_index_generations(
        path, [gen_dir, cur.get("gen_dir")], ["buckets", "shingles"]
    )
    return True


def _load_dedup_manifest(path: str, id_col: str) -> tuple[dict, int]:
    """(manifest, epoch); resolves the generation-aware epoch log with
    legacy single-file fallback (``fsio.load_index_manifest``)."""
    from minivectordb_spark import fsio

    m, epoch = fsio.load_index_manifest(path, _DEDUP_MANIFEST)
    if m["id_col"] != id_col:
        raise ValueError(
            f"index was built with id_col={m['id_col']!r}, got {id_col!r}"
        )
    return m, epoch


def dedup_index_candidates(
    sh_new: DataFrame, path: str, id_col: str = "doc_id"
) -> DataFrame:
    """(id_new, id_ref) candidate pairs from probing a ``save_dedup_index``
    bucket table with an already-shingled new batch (``_shingle_frame``
    output).  The scale contract, plan-asserted in tests/test_plans.py:
    the new side's bucket keys are EXPLICITLY BROADCAST, so the stored
    bucket table — the 100 TB side — streams through a BroadcastHashJoin
    probe with NO exchange on the scan; the scan itself is PRUNED to the
    partition directories the batch's key prefixes touch (PartitionFilters
    on the ``bp`` layout column — file-level pruning, so a small batch
    reads a small fraction of a huge index's bytes at rest); the only
    keyed shuffle is the candidate-sized distinct.  The generation is
    resolved at plan time from the manifest (probes of a superseded
    generation keep their snapshot until the retention sweep, one
    publish later)."""
    m, _ = _load_dedup_manifest(path, id_col)
    nb = _reused(
        _band_buckets(sh_new, id_col, m["n_hashes"], m["band_size"], m["seed"])
    )
    prefix_len = m.get("prefix_len", 2)
    # distinct batch-key prefixes: bounded by min(16^prefix_len, batch
    # bands) — a constant-size driver collect, same class as centroid
    # ranking in ivf_search
    prefixes = [
        r["bp"]
        for r in nb.select(
            F.substring(F.col("band_hash"), 1, prefix_len).alias("bp")
        )
        .distinct()
        .collect()
    ]
    rb = sh_new.sparkSession.read.parquet(_gen_data(path, m, "buckets")).filter(
        F.col("bp").isin(prefixes)
    )
    return (
        rb.alias("r")
        .join(
            F.broadcast(nb.alias("n")),
            (F.col("n.band_idx") == F.col("r.band_idx"))
            & (F.col("n.band_hash") == F.col("r.band_hash")),
        )
        .select(
            F.col(f"n.{id_col}").alias("id_new"),
            F.col(f"r.{id_col}").alias("id_ref"),
        )
        .distinct()
    )


def dedup_against_indexed(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
) -> DataFrame:
    """Probe a ``save_dedup_index`` layout: drop rows of ``df`` that
    near-duplicate the indexed reference corpus.  Same answer as
    ``dedup_against(df, reference, ...)`` with the index's pinned
    parameters (equivalence-pinned in tests), but the reference-side
    banding/shingling never recomputes and — the scale point — the index
    side NEVER SHUFFLES: the incoming batch is small relative to a 100 TB
    index, so its bucket keys are explicitly broadcast and the stored
    bucket table streams through a BroadcastHashJoin probe
    (``dedup_index_candidates``, plan-asserted); the verify step
    likewise semi-joins the stored shingle table down to candidate ids
    via broadcast before the (candidate-sized) jaccard join.  Shuffles
    touching non-candidate-scale data: new-side banding only.
    """
    spark = df.sparkSession
    m, _ = _load_dedup_manifest(path, id_col)
    sh_new = _reused(_shingle_frame(df, text_col, id_col, m["k"]))
    cand = _reused(dedup_index_candidates(sh_new, path, id_col=id_col))
    sh_ref = spark.read.parquet(_gen_data(path, m, "shingles"))
    ref_needed = sh_ref.join(
        F.broadcast(cand.select(F.col("id_ref").alias(id_col)).distinct()),
        id_col,
        "left_semi",
    )
    a = sh_new.select(F.col(id_col).alias("id_new"), F.col("sh").alias("sh_a"))
    b = ref_needed.select(F.col(id_col).alias("id_ref"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    jac = inter.cast("double") / union.cast("double")
    # verify pin: each candidate row costs an array_intersect over two
    # full shingle sets
    hits = (
        verify_repartition(cand, F.col("id_new"))
        .join(a, "id_new")
        .join(b, "id_ref")
        .filter(F.round(jac, 6) >= threshold)
        .select(F.col("id_new").alias(id_col))
        .distinct()
    )
    return df.join(hits, id_col, "left_anti")


def update_dedup_index(
    df_new: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Incremental dedup-index maintenance — the step that closes the
    ingest loop: probe (``dedup_against_indexed``) -> accept the
    survivors -> APPEND the survivors' buckets and shingles so the next
    batch dedups against them too.  Bands/shingles are computed with the
    index's OWN manifest parameters (join-compatible keys by
    construction) and appended to the same band-hash-prefix partition
    dirs the probe prunes on, so cost scales with the batch, never the
    indexed corpus — the same lifecycle contract as ``update_ivf_index``
    (append between full rebuilds).  Id uniqueness vs already-indexed
    docs is the caller's contract (the ingest gates enforce it
    upstream).

    Concurrency contract (r14): the append STARTS with a CAS
    manifest-epoch bump that also drops the freshness fingerprint
    (``_begin_index_append`` — two appends racing from the same epoch
    get one clean ``ConcurrentIndexMutation``, and the r12
    invalidate-before-append crash ordering is preserved in the same
    write), appends into the manifest's live generation dir, and ENDS
    by verifying the generation survived (``_end_index_append`` — a
    rebuild that swapped generations mid-append raises instead of
    silently dropping the batch)."""
    m, epoch = _load_dedup_manifest(path, id_col)
    _begin_index_append(path, _DEDUP_MANIFEST, m, epoch)
    sh_new = _reused(_shingle_frame(df_new, text_col, id_col, m["k"]))
    buckets = _band_buckets(
        sh_new, id_col, m["n_hashes"], m["band_size"], m["seed"]
    ).withColumn("bp", F.substring(F.col("band_hash"), 1, m.get("prefix_len", 2)))
    # independent appends into the same generation dir — overlapped like
    # save_dedup_index's writes (util.run_concurrent, guide §2.6)
    run_concurrent(
        lambda: (
            buckets.repartition("bp")
            .write.partitionBy("bp")
            .mode("append")
            .parquet(_gen_data(path, m, "buckets"))
        ),
        lambda: (
            sh_new.select(F.col(id_col), F.col("sh"))
            .write.mode("append")
            .parquet(_gen_data(path, m, "shingles"))
        ),
    )
    _end_index_append(path, _DEDUP_MANIFEST, m)


def _emb_element_type(df: DataFrame, emb_col: str) -> str:
    """Canonical storage element type for an embedding column: ``double``
    when the source is double (preserves the exact-verify cosine bit-for-
    bit vs the unindexed operator), ``float`` for everything else (float
    sources stay float; exotic numerics normalize to float32)."""
    et = df.schema[emb_col].dataType.elementType.simpleString()
    return "double" if et == "double" else "float"


def save_neardup_index(
    reference: DataFrame,
    path: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    planes: list[list[float]] | None = None,
    target_block_size: int = 64,
    n_dirs: int = 64,
    max_planes: int | None = None,
    skip_if_fresh: bool = False,
    rebuild_if_stale: bool = False,
    _fingerprint: str | None = "auto",
) -> bool:
    """Persist the reference side of ``neardup_against`` ONCE: the
    sign-bit LSH bucket table (partitioned by ``pmod(bucket, n_dirs)``
    for file-level probe pruning), the embedding table for the exact
    verify, and a manifest pinning the PLANES as literals — the bucket
    keys of every future probe stay join-compatible by construction,
    exactly the role the MinHash parameter manifest plays for
    ``save_dedup_index``.  Planes resolve adaptively from the reference
    (count + dim) at build time and are then FROZEN: an index is a
    snapshot of one plane choice, rebuilt when the corpus outgrows it
    (same lifecycle as IVF centroids).

    Measured staleness law (tools/index_staleness.py, r12): growing the
    corpus past the build point via ``update_neardup_index`` degrades
    COST, never recall — candidates per probe row grow exactly linearly
    with corpus growth (256 -> 2,498 -> 25,022 at 1x/10x/100x on a
    5k-built index) while recall on planted duplicates stays 1.0 at
    every decade; a fresh rebuild at 100x (planes re-resolved, P 7 ->
    13) is ~22x cheaper to probe.  REBUILD TRIGGER (mechanized):
    ``neardup_index_staleness`` computes the one-aggregate occupancy
    check (occupancy = corpus_size / 2^P) and flags ``stale`` when it
    exceeds 4x ``target_block_size`` — probe cost is linear in
    occupancy, so that bound caps the stale-probe penalty at ~4x a
    fresh index; ``rebuild_neardup_index_if_stale`` rebuilds in place
    from the index's own (grown) embedding table when the trigger
    fires.

    ``skip_if_fresh`` follows the ``save_ivf_index`` freshness contract:
    skip the build when the manifest's fingerprint matches the current
    source files + plan + build knobs; ``update_neardup_index``
    invalidates the fingerprint.  ``rebuild_if_stale`` additionally
    re-checks the occupancy trigger on a fingerprint-FRESH index (the
    misconfigured-explicit-planes case — fresh fingerprint, 10x probe
    cost) and rebuilds instead of reusing.  Returns True when (re)built,
    False when a fresh index was reused.

    Re-saving over an existing index writes the new GENERATION into its
    own tokenized ``gen=<N>-...`` dir and publishes via the CAS
    manifest-epoch log (see ``save_dedup_index`` — same snapshot-
    isolation contract, VERDICT r13 item 1): in-flight probes keep the
    previous generation through the swap, and a losing concurrent
    writer raises ``ConcurrentIndexMutation`` with the index intact."""
    from minivectordb_spark import fsio
    from minivectordb_spark.operators.ann import random_projection_buckets
    from minivectordb_spark.operators.util import source_fingerprint

    fp = (
        source_fingerprint(
            reference,
            [id_col, emb_col, planes, target_block_size, n_dirs, max_planes],
        )
        if _fingerprint == "auto"
        else _fingerprint
    )
    cur, epoch = _load_index_or_empty(path, _NEARDUP_MANIFEST)
    if skip_if_fresh and fp is not None and cur.get("fingerprint") == fp:
        if not (
            rebuild_if_stale
            and neardup_index_staleness(reference.sparkSession, path)["stale"]
        ):
            return False

    gen, gen_dir = fsio.new_gen_dir(cur)
    planes = _neardup_resolve_planes(
        reference, emb_col, id_col, planes, target_block_size, max_planes
    )
    buckets = random_projection_buckets(
        reference, planes, id_col=id_col, emb_col=emb_col
    ).withColumn("bp", F.pmod(F.col("bucket"), F.lit(n_dirs)))
    # canonical element type = the SOURCE's element type, pinned in the
    # manifest (ADVICE r11): storing at source precision keeps the exact
    # verify cosine identical to neardup_against / the oracle (a float32
    # downcast can flip round(cosine, 6) >= threshold for borderline
    # pairs when the source is double); appends cast to the pinned type
    # so one directory never mixes element types (FAILED_READ_FILE.
    # PARQUET_COLUMN_DATA_TYPE_MISMATCH — found by the streaming-gate
    # test)
    emb_type = _emb_element_type(reference, emb_col)
    # the bucket and embedding writes are independent — overlapped like
    # save_dedup_index's pair (util.run_concurrent, guide §2.6)
    run_concurrent(
        lambda: (
            buckets.repartition("bp")
            .write.partitionBy("bp")
            .mode("overwrite")
            .parquet(f"{path}/{gen_dir}/buckets")
        ),
        lambda: (
            reference.select(
                F.col(id_col),
                F.col(emb_col).cast(f"array<{emb_type}>").alias(emb_col),
            )
            .write.mode("overwrite")
            .parquet(f"{path}/{gen_dir}/embeddings")
        ),
    )
    m = {
        "id_col": id_col,
        "emb_col": emb_col,
        "planes": planes,
        "n_dirs": n_dirs,
        "emb_type": emb_type,
        # build knobs recorded so the staleness check and an in-place
        # rebuild replay the build's OWN economics (not a caller guess)
        "target_block_size": target_block_size,
        "max_planes": max_planes,
        "generation": gen,
        "gen_dir": gen_dir,
    }
    if cur.get("gen_dir"):
        m["prev_gen_dir"] = cur["gen_dir"]
    if fp is not None:
        m["fingerprint"] = fp
    try:
        fsio.publish_index_manifest(path, _NEARDUP_MANIFEST, m, epoch)
    except fsio.ConcurrentIndexMutation:
        fsio.delete(f"{path.rstrip('/')}/{gen_dir}", recursive=True)
        raise
    fsio.sweep_index_generations(
        path, [gen_dir, cur.get("gen_dir")], ["buckets", "embeddings"]
    )
    return True


def dedup_index_stats(spark, path: str) -> dict:
    """Bucket-occupancy stats for a ``save_dedup_index`` layout — the
    CONTRAST case to ``neardup_index_staleness`` (measured r12,
    tools/index_staleness.py): band-bucket keys live in md5 hash space
    and the banding parameters (n_hashes, band_size, shingle k) are
    scale-free, so per-bucket occupancy tracks DUPLICATE DENSITY, not
    corpus size — appends never inflate probe cost the way frozen
    projection planes do, and no cost rebuild is ever needed (rebuilds
    only compact replay bytes).  Exposed so a pipeline can ASSERT that
    instead of assuming it: a rising ``avg_occupancy`` here means the
    incoming data's duplicate rate rose, not that the index aged.
    Audit-weight (one groupBy over the bucket table), not a per-cycle
    check like the near-dup metadata count."""
    from minivectordb_spark import fsio

    m, _ = fsio.load_index_manifest(path, _DEDUP_MANIFEST, spark)
    occ = (
        spark.read.parquet(_gen_data(path, m, "buckets"))
        .groupBy("band_hash")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.sum("c").alias("n"),
            F.avg("c").alias("avg"),
            F.max("c").alias("mx"),
        )
        .first()
    )
    return {
        "rows": int(occ["n"] or 0),
        "buckets_used": int(occ["nb"]),
        "avg_occupancy": float(occ["avg"] or 0.0),
        "max_occupancy": int(occ["mx"] or 0),
        "n_bands": int(m["n_hashes"]) // int(m["band_size"]),
    }


def neardup_index_staleness(spark, path: str) -> dict:
    """One-aggregate occupancy stats for a ``save_neardup_index`` layout
    — the mechanized form of the measured staleness law
    (tools/index_staleness.py, r12): probe cost is LINEAR in average
    bucket occupancy (= corpus_rows / 2^P with P frozen at build time)
    while recall stays 1.0, so the only thing staleness costs is time —
    and the trigger that bounds it is ``avg_occupancy > 4 *
    target_block_size`` (caps the stale-probe penalty at ~4x a fresh
    index; a fresh rebuild at 100x corpus growth measured ~22x cheaper
    to probe).  The row count is a parquet metadata-only aggregate —
    cheap enough to run per ingest cycle.

    Returns ``{rows, n_planes, avg_occupancy, target_block_size,
    occupancy_ratio, stale}`` where ``occupancy_ratio`` is
    avg_occupancy / target_block_size (rebuild at > 4)."""
    from minivectordb_spark import fsio

    m, _ = fsio.load_index_manifest(path, _NEARDUP_MANIFEST, spark)
    n_planes = len(m["planes"])
    # pre-r13 manifests did not record build knobs: the threshold below
    # then runs against the module DEFAULT (64), which can be looser
    # than the build's actual economics — ``knobs_missing`` lets a
    # pipeline distinguish a defaulted threshold from a recorded one
    # (ADVICE r13); a rebuild rewrites the manifest with knobs recorded
    knobs_missing = m.get("target_block_size") is None
    tbs = int(m.get("target_block_size") or 64)
    rows = spark.read.parquet(_gen_data(path, m, "buckets")).count()
    occ = rows / float(2**n_planes)
    return {
        "rows": int(rows),
        "n_planes": n_planes,
        "avg_occupancy": occ,
        "target_block_size": tbs,
        "knobs_missing": knobs_missing,
        "occupancy_ratio": occ / tbs,
        "stale": occ > 4 * tbs,
    }


def rebuild_neardup_index_if_stale(
    spark, path: str, force: bool = False
) -> bool:
    """Rebuild a ``save_neardup_index`` layout from its own embedding
    table — the full grown corpus, appended survivors included — when
    the occupancy trigger fires (``neardup_index_staleness``).  Planes
    re-resolve adaptively from the CURRENT corpus size under the
    manifest's recorded build knobs, so P grows with the corpus and
    occupancy resets to ~target_block_size (the measured 22x-cheaper
    fresh-probe point).

    r14: the rebuild writes the NEXT GENERATION's dirs while reading
    the live generation directly — no scratch staging (the r13 version
    copied the full corpus through scratch because it overwrote the
    path it was reading: one extra full write plus a window where
    probes saw a half-built index; generations cost one corpus write
    and zero downtime, VERDICT r13 Missing #2), and no fingerprint is
    recorded (the rebuilt index corresponds to the grown corpus, not
    any stat-able single source).  Publication is the CAS epoch bump —
    concurrent probes keep the old generation until the swap; a
    concurrent append/rebuild loses cleanly.  Returns True when a
    rebuild happened, False when the index is within budget."""
    st = neardup_index_staleness(spark, path)
    if not (force or st["stale"]):
        return False
    from minivectordb_spark import fsio

    m, _ = fsio.load_index_manifest(path, _NEARDUP_MANIFEST, spark)
    corpus = spark.read.parquet(_gen_data(path, m, "embeddings"))
    save_neardup_index(
        corpus,
        path,
        emb_col=m["emb_col"],
        id_col=m["id_col"],
        planes=None,  # re-resolve from the grown corpus
        target_block_size=int(m.get("target_block_size") or 64),
        n_dirs=int(m["n_dirs"]),
        max_planes=m.get("max_planes"),
        _fingerprint=None,
    )
    return True


def neardup_index_candidates(
    df: DataFrame,
    path: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe: bool = True,
    max_probes: int | None = None,
) -> DataFrame:
    """(id_new, id_ref) candidates from probing a ``save_neardup_index``
    bucket table.  Plan contract (locked in tests/test_plans.py): the
    batch's probe keys are explicitly BROADCAST so the stored bucket
    table never shuffles, and the scan carries PartitionFilters on the
    ``pmod(bucket, n_dirs)`` layout column (the probe dirs are a bounded
    <= n_dirs driver collect); the only keyed shuffle is the
    candidate-sized distinct."""
    from minivectordb_spark import fsio
    from minivectordb_spark.operators.ann import random_projection_probes

    spark = df.sparkSession
    m, _ = fsio.load_index_manifest(path, _NEARDUP_MANIFEST, spark)
    if m["id_col"] != id_col or m["emb_col"] != emb_col:
        raise ValueError(
            f"index was built with (id_col, emb_col)=({m['id_col']!r}, "
            f"{m['emb_col']!r}), got ({id_col!r}, {emb_col!r})"
        )
    planes = m["planes"]
    n_planes = len(planes)
    k_probes = n_planes if max_probes is None else min(max_probes, n_planes)
    probes = random_projection_probes(
        df,
        planes,
        id_col=id_col,
        emb_col=emb_col,
        max_probes=(k_probes if multiprobe else 0),
    )
    a_ids = _reused(
        probes.select(
            F.col(id_col).alias("id_new"), F.explode("probes").alias("__probe")
        )
    )
    dirs = [
        int(r["bp"])
        for r in a_ids.select(
            F.pmod(F.col("__probe"), F.lit(m["n_dirs"])).alias("bp")
        )
        .distinct()
        .collect()
    ]
    rb = spark.read.parquet(_gen_data(path, m, "buckets")).filter(
        F.col("bp").isin(dirs)
    )
    return (
        rb.join(F.broadcast(a_ids), F.col("__probe") == F.col("bucket"))
        .select(F.col("id_new"), F.col(id_col).alias("id_ref"))
        .distinct()
    )


def neardup_against_indexed(
    df: DataFrame,
    path: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    multiprobe: bool = True,
    max_probes: int | None = None,
) -> DataFrame:
    """Probe a ``save_neardup_index`` layout: drop rows of ``df`` whose
    cosine against some indexed reference row >= ``threshold``.  Same
    answer as ``neardup_against`` under the index's frozen planes
    (equivalence-pinned in tests); the scale contract mirrors
    ``dedup_against_indexed`` — the incoming batch's probe keys are
    explicitly broadcast so the stored bucket table never shuffles, and
    the scan prunes to the ``pmod(bucket, n_dirs)`` partition dirs the
    probes touch (a bounded driver collect of <= n_dirs values); the
    verify semi-joins the stored embedding table down to candidate ids
    before the exact cosine.  Probing policy (``max_probes``) is a
    probe-time choice — bucket KEYS depend only on the frozen planes."""
    from minivectordb_spark import fsio
    from minivectordb_spark.operators.util import materialize
    from minivectordb_spark.scoring import norm_expr

    spark = df.sparkSession
    m, _ = fsio.load_index_manifest(path, _NEARDUP_MANIFEST, spark)
    cand = _reused(
        neardup_index_candidates(
            df, path, emb_col=emb_col, id_col=id_col,
            multiprobe=multiprobe, max_probes=max_probes,
        )
    )
    ref_needed = spark.read.parquet(_gen_data(path, m, "embeddings")).join(
        F.broadcast(cand.select(F.col("id_ref").alias(id_col)).distinct()),
        id_col,
        "left_semi",
    )
    base_a = materialize(
        df.select(id_col, emb_col), norm_expr(F.col(emb_col)), "__n",
        [id_col, emb_col],
    )
    base_b = materialize(
        ref_needed, norm_expr(F.col(emb_col)), "__n", [id_col, emb_col]
    )
    a = base_a.select(
        F.col(id_col).alias("id_new"),
        F.col(emb_col).alias("emb_a"),
        F.col("__n").alias("n_a"),
    )
    b = base_b.select(
        F.col(id_col).alias("id_ref"),
        F.col(emb_col).alias("emb_b"),
        F.col("__n").alias("n_b"),
    )
    sim = cosine_sim_cols(
        F.col("emb_a"), F.col("emb_b"), norm_a=F.col("n_a"), norm_b=F.col("n_b")
    )
    # verify pin: each candidate row costs a full cosine
    hits = (
        verify_repartition(cand, F.col("id_new"))
        .join(a, "id_new")
        .join(b, "id_ref")
        .withColumn("cosine", F.round(sim, 6))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("id_new").alias(id_col))
        .distinct()
    )
    return df.join(hits, id_col, "left_anti")


def update_neardup_index(
    df_new: DataFrame,
    path: str,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Append accepted survivors to a ``save_neardup_index`` layout under
    the index's FROZEN planes — the probe -> accept -> append loop for
    embeddings, batch-cost only (same lifecycle as ``update_ivf_index`` /
    ``update_dedup_index``; rebuild when the corpus outgrows the plane
    count).  Concurrency contract (r14): CAS epoch bump +
    fingerprint-drop first, generation-survival check last — see
    ``update_dedup_index``."""
    from minivectordb_spark import fsio
    from minivectordb_spark.operators.ann import random_projection_buckets

    m, epoch = fsio.load_index_manifest(
        path, _NEARDUP_MANIFEST, df_new.sparkSession
    )
    _begin_index_append(path, _NEARDUP_MANIFEST, m, epoch)
    buckets = random_projection_buckets(
        df_new, m["planes"], id_col=id_col, emb_col=emb_col
    ).withColumn("bp", F.pmod(F.col("bucket"), F.lit(m["n_dirs"])))
    # cast to the manifest-pinned element type (source precision at build
    # time; "float" fallback for pre-emb_type manifests) so appends never
    # mix parquet element types in the embeddings directory
    emb_type = m.get("emb_type", "float")
    # independent appends, overlapped (util.run_concurrent, guide §2.6)
    run_concurrent(
        lambda: (
            buckets.repartition("bp")
            .write.partitionBy("bp")
            .mode("append")
            .parquet(_gen_data(path, m, "buckets"))
        ),
        lambda: (
            df_new.select(
                F.col(id_col),
                F.col(emb_col).cast(f"array<{emb_type}>").alias(emb_col),
            )
            .write.mode("append")
            .parquet(_gen_data(path, m, "embeddings"))
        ),
    )
    _end_index_append(path, _NEARDUP_MANIFEST, m)
