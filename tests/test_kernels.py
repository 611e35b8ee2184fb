"""Bit-exactness pins for the Arrow-batched shingle/MinHash kernels
(operators/kernels.py) against the retained Catalyst expression chain.

The r14 optimization moved the MinHash family's per-row inner loop from
interpreted Catalyst HOFs to Arrow-batched NumPy/hashlib kernels; every
dedup-family oracle twin transitively re-verifies the swap, but these
tests pin the exact contract at the kernel boundary — including the
edge rows (NULL text, empty text, short docs, repeated spaces) where
the two implementations could plausibly diverge.

The operators pick a side by estimated input size
(``util.use_arrow_kernel``): at test scale a file-backed input is below
the floor, and a frame built from local rows has no estimate and always
takes the kernel.  So the inputs here are parquet-backed, each gated
frame is built on BOTH sides by patching ``util.KERNEL_MIN_BYTES``, and
the kernel side must show its ``MapInArrow`` in the plan.
"""

import itertools

import pytest
from pyspark.sql import functions as F

from minivectordb_spark.operators import dedup as D
from minivectordb_spark.operators import util
from minivectordb_spark.operators.text import tokens
from minivectordb_spark.operators.util import materialize as _barrier
from minivectordb_spark.plans import physical_plan
from minivectordb_spark.plans.width import ensure_parallelism as _parallel

#: ``util.KERNEL_MIN_BYTES`` values that force each side of the size gate
BRANCHES = {"kernel": 0, "expression": 1 << 62}

EDGE_ROWS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, ""),
    (3, None),
    (4, "one"),
    (5, "two words"),
    (6, "a  b   c"),  # repeated separators -> empty tokens kept
    (7, " leading and trailing spaces "),
    (8, "héllo wörld ünïcode tøkens extra words"),
    (9, "dup dup dup dup dup dup"),
    (10, "tab\tand\nnewline inside one token stream"),
]


def _expr_shingle_frame(df, text_col, id_col, k):
    """The pre-r14 Catalyst implementation, kept verbatim as the
    reference for the kernel (barrier-staged token split + HOF fold)."""
    toks_df = _barrier(_parallel(df), tokens(F.col(text_col)), "__toks", [id_col])
    return _barrier(
        toks_df, D.shingle_hashes_from_tokens(F.col("__toks"), k), "sh", [id_col]
    )


def _expr_bands(sh, id_col, n_hashes, band_size, seed):
    n_bands = n_hashes // band_size
    sig_df = _barrier(
        sh, D.minhash_from_hashes(F.col("sh"), n_hashes, seed), "__sig", [id_col]
    )
    bands = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "_",
                    F.lit(b),
                    *[
                        F.element_at(F.col("__sig"), b * band_size + j + 1).cast(
                            "string"
                        )
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


@pytest.fixture
def on_each_branch(monkeypatch):
    """``run(build, rows)`` -> ``{branch: rows(build())}``, with the size
    gate forced to each side in turn and each built plan checked for the
    side that ran."""

    def run(build, rows):
        out = {}
        for branch, floor in BRANCHES.items():
            monkeypatch.setattr(util, "KERNEL_MIN_BYTES", floor)
            df = build()
            has_kernel = "MapInArrow" in physical_plan(df)
            assert has_kernel == (branch == "kernel"), branch
            out[branch] = rows(df)
        return out

    return run


@pytest.fixture(scope="module")
def scanned(spark, tmp_path_factory):
    """``scanned(df)``: ``df`` written to parquet and read back, so it
    carries the file-scan size estimate the gate reads."""
    root = tmp_path_factory.mktemp("kernel_inputs")
    n = itertools.count()

    def scan(df):
        path = str(root / f"t{next(n)}")
        df.write.parquet(path)
        return spark.read.parquet(path)

    return scan


@pytest.fixture(scope="module")
def corpus(spark, sf_dir, scanned):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(EDGE_ROWS, ["doc_id", "text"]).withColumn(
        "doc_id", (F.col("doc_id") + 1_000_000).cast("long")
    )
    return docs.union(scanned(edge))


@pytest.mark.parametrize("k", [2, 3])
def test_shingle_frame_exact(spark, corpus, k, on_each_branch):
    want = {
        r["doc_id"]: list(r["sh"])
        for r in _expr_shingle_frame(corpus, "text", "doc_id", k).collect()
    }
    got = on_each_branch(
        lambda: D._shingle_frame(corpus, "text", "doc_id", k),
        lambda df: {r["doc_id"]: list(r["sh"]) for r in df.collect()},
    )
    assert got == {b: want for b in BRANCHES}


def test_minhash_signatures_exact(spark, corpus, on_each_branch):
    sh = _expr_shingle_frame(corpus, "text", "doc_id", 3)
    want = {
        r["doc_id"]: list(r["mh"])
        for r in sh.select(
            "doc_id", D.minhash_from_hashes(F.col("sh"), 16, 42).alias("mh")
        ).collect()
    }
    got = on_each_branch(
        lambda: D.minhash_signatures(corpus),
        lambda df: {r["doc_id"]: list(r["minhash"]) for r in df.collect()},
    )
    assert got == {b: want for b in BRANCHES}


@pytest.mark.parametrize("n_hashes,band_size", [(16, 2), (16, 8), (8, 4)])
def test_band_buckets_exact(spark, corpus, n_hashes, band_size, on_each_branch):
    want = {
        (r["doc_id"], r["band_idx"]): r["band_hash"]
        for r in _expr_bands(
            _expr_shingle_frame(corpus, "text", "doc_id", 3),
            "doc_id",
            n_hashes,
            band_size,
            42,
        ).collect()
    }
    got = on_each_branch(
        lambda: D._band_buckets(
            D._shingle_frame(corpus, "text", "doc_id", 3),
            "doc_id",
            n_hashes,
            band_size,
            42,
        ),
        lambda df: {
            (r["doc_id"], r["band_idx"]): r["band_hash"] for r in df.collect()
        },
    )
    assert got == {b: want for b in BRANCHES}


def test_string_id_passthrough(spark, scanned, on_each_branch):
    df = scanned(
        spark.createDataFrame(
            [("a", "the quick brown fox jumps"), ("b", None), ("c", "x")],
            ["sid", "text"],
        )
    )
    want = {
        r["sid"]: list(r["sh"])
        for r in _expr_shingle_frame(df, "text", "sid", 3).collect()
    }
    got = on_each_branch(
        lambda: D._shingle_frame(df, "text", "sid", 3),
        lambda sh: {r["sid"]: list(r["sh"]) for r in sh.collect()},
    )
    assert got == {b: want for b in BRANCHES}
    bbs = on_each_branch(
        lambda: D._band_buckets(
            D._shingle_frame(df, "text", "sid", 3), "sid", 16, 2, 42
        ),
        lambda bb: (
            bb.schema["band_idx"].dataType.simpleString(),
            {r["sid"] for r in bb.collect()},
        ),
    )
    assert bbs == {b: ("int", {"a", "b", "c"}) for b in BRANCHES}


def test_schemas_unchanged(spark, scanned, on_each_branch):
    df = scanned(spark.createDataFrame([(0, "a b c d")], ["doc_id", "text"]))

    def schema(frame):
        return [f.simpleString() for f in frame.schema.fields]

    sh = on_each_branch(lambda: D._shingle_frame(df, "text", "doc_id", 3), schema)
    assert sh == {b: ["doc_id:bigint", "sh:array<bigint>"] for b in BRANCHES}
    bb = on_each_branch(
        lambda: D._band_buckets(
            D._shingle_frame(df, "text", "doc_id", 3), "doc_id", 16, 2, 42
        ),
        schema,
    )
    assert bb == {
        b: ["doc_id:bigint", "band_idx:int", "band_hash:string"] for b in BRANCHES
    }
    ms = on_each_branch(lambda: D.minhash_signatures(df), schema)
    assert ms == {b: ["doc_id:bigint", "minhash:array<bigint>"] for b in BRANCHES}


# ---------------------------------------------------------------------------
# DSIR feature-bucket kernel (kernels.dsir_bucket_mapper)


def _expr_bucket_frame(df, text_col, id_col, n_buckets, extra=()):
    """The pre-r14 Catalyst implementation of the DSIR bucket frame,
    kept verbatim as the kernel's reference (barrier-staged token split
    + interpreted md5 transform)."""
    from minivectordb_spark.operators.prep import _dsir_feature_buckets

    keep = [id_col] + list(extra)
    staged = _barrier(_parallel(df), tokens(F.col(text_col)), "__toks", keep)
    return _barrier(
        staged, _dsir_feature_buckets(F.col("__toks"), n_buckets), "__b", keep
    )


def _kernel_bucket_frame(df, text_col, id_col, n_buckets, extra=()):
    from pyspark.sql import types as T

    from minivectordb_spark.operators import kernels

    keep = [id_col] + list(extra)
    schema = T.StructType(
        [df.schema[c] for c in keep]
        + [T.StructField("__b", T.ArrayType(T.LongType()), True)]
    )
    return _parallel(df.select(*keep, text_col)).mapInArrow(
        kernels.dsir_bucket_mapper(
            text_col, id_col, n_buckets, extra_cols=tuple(extra)
        ),
        schema,
    )


@pytest.mark.parametrize("n_buckets", [64, 4096])
def test_dsir_buckets_exact(spark, corpus, n_buckets):
    want = {
        r["doc_id"]: (None if r["__b"] is None else list(r["__b"]))
        for r in _expr_bucket_frame(corpus, "text", "doc_id", n_buckets).collect()
    }
    got = {
        r["doc_id"]: (None if r["__b"] is None else list(r["__b"]))
        for r in _kernel_bucket_frame(corpus, "text", "doc_id", n_buckets).collect()
    }
    assert got == want
    # NULL text must stage a NULL array (not empty) for the twin to hold
    assert want[1_000_003] is None and got[1_000_003] is None
    assert want[1_000_002] == [] and got[1_000_002] == []


def test_dsir_buckets_extra_passthrough(spark):
    df = spark.createDataFrame(
        [(1, "a b c", True), (2, None, False), (3, "", None), (4, "x", True)],
        ["doc_id", "text", "flag"],
    )
    want = {
        (r["doc_id"], r["flag"]): (None if r["__b"] is None else list(r["__b"]))
        for r in _expr_bucket_frame(
            df, "text", "doc_id", 128, extra=("flag",)
        ).collect()
    }
    got = {
        (r["doc_id"], r["flag"]): (None if r["__b"] is None else list(r["__b"]))
        for r in _kernel_bucket_frame(
            df, "text", "doc_id", 128, extra=("flag",)
        ).collect()
    }
    assert got == want
