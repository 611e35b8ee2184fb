"""Search / autocut / rerank / embedder behavior (FIXTURES.md F6;
reference tests/test_vector_database.py:195-323, :272-302, :554-570)."""

import pytest

from minivectordb_spark.autocut import autocut_distances, autocut_scores
from minivectordb_spark.embedder import HashProjectionEmbedder, get_embedder
from minivectordb_spark.rerank import hybrid_rerank_results, partial_ratio
from minivectordb_spark.table import VectorTable


@pytest.fixture(scope="module")
def embedder():
    return HashProjectionEmbedder(dim=64)


@pytest.fixture(scope="module")
def semantic_table(spark, embedder):
    corpus = ["i like animals", "i like cars", "i like programming"]
    embs = embedder.embed_batch(corpus)
    return (
        VectorTable.empty(spark).store_embeddings_batch(
            ["1", "2", "3"], [e.tolist() for e in embs], [{"text": t} for t in corpus]
        ),
        corpus,
    )


def test_semantic_ranking(semantic_table, embedder, snapshot_paths):
    # "i like dogs" ranks "i like animals"-style shared-vocab sentences by
    # token overlap; all three corpus items share 2/3 tokens with the query,
    # so assert the exact-match query wins instead
    table, corpus = semantic_table
    q = embedder.embed("i like animals")
    ids, scores, metas = snapshot_paths.same(lambda: table.find_most_similar(q.tolist(), k=3))
    assert ids[0] == "1"
    assert metas[0]["text"] == "i like animals"
    assert scores[0] == pytest.approx(1.0, abs=1e-5)


def test_autocut_scores_reference_algorithm():
    # exact algorithm of vector_database.py:443-464
    assert autocut_scores([1.0, 0.95, 0.4, 0.35]) == [2, 3]
    assert autocut_scores([1.0, 0.95, 0.9]) == []
    assert autocut_scores([1.0]) == []
    # first occurrence of the max drop wins
    assert autocut_scores([1.0, 0.5, 0.25]) == [1, 2]


def test_autocut_distances_inverted():
    assert autocut_distances([0.1, 0.12, 0.5, 0.55]) == [2, 3]
    assert autocut_distances([0.1, 0.11, 0.12]) == []


def test_autocut_in_search(spark, snapshot_paths):
    # one close result + a flat distant cluster -> autocut keeps only the
    # close one (tests/test_vector_database.py:304-311 behavior).  Controlled
    # vectors: scores vs query [1,0] are 1.0, 0.5, 0.45, 0.4 — max relative
    # drop 0.5 at position 1, later drops ~0.1.
    t = VectorTable.empty(spark).store_embeddings_batch(
        ["t", "a", "b", "c"],
        [[1.0, 0.0], [0.5, 0.8660254], [0.45, 0.8930006], [0.4, 0.9165151]],
    )
    ids, scores, _ = snapshot_paths.same(lambda: t.find_most_similar([1.0, 0.0], k=4, autocut=True))
    assert ids == ["t"]
    # a flat score profile -> no >0.2 drop -> all rows survive
    flat = VectorTable.empty(spark).store_embeddings_batch(
        ["w", "x", "y", "z"],
        [[1.0, 0.0], [0.995, 0.0999], [0.99, 0.141], [0.985, 0.1726]],
    )
    ids2, _, _ = snapshot_paths.same(lambda: flat.find_most_similar([1.0, 0.0], k=4, autocut=True))
    assert len(ids2) == 4


def test_autocut_df_matches_driver(spark):
    from minivectordb_spark.autocut import autocut_df

    scores = [0.9, 0.85, 0.3, 0.2]
    df = spark.createDataFrame(
        [(str(i), s) for i, s in enumerate(scores)], ["id", "score"]
    )
    kept = autocut_df(df, "score", "id").collect()
    removed = autocut_scores(scores)
    assert len(kept) == len(scores) - len(removed)
    assert sorted(r["id"] for r in kept) == ["0", "1"]


def test_autocut_df_max_rows_guard(spark):
    """Global-window autocut has a hard row-count contract: a group larger
    than max_rows fails the job (raise_error in the predicate) instead of
    silently single-partition-sorting an unbounded frame."""
    import pyspark.sql.functions as F
    import pytest

    from minivectordb_spark.autocut import autocut_df

    big = spark.range(50).select(F.col("id"), F.rand(7).alias("score"))
    with pytest.raises(Exception, match="max_rows=10"):
        autocut_df(big, max_rows=10).count()
    # at or under the cap: runs fine
    assert autocut_df(big, max_rows=50).count() >= 1


def test_autocut_df_null_id_shares_global_group(spark):
    """A NULL id must fall in the same (single) window group — the sharp
    drop between the null-id row and 'b' cuts 'b'."""
    from minivectordb_spark.autocut import autocut_df

    df = spark.createDataFrame(
        [(None, 1.0), ("a", 0.98), ("b", 0.3)], "id string, score double"
    )
    kept = sorted((r["id"] or "<null>") for r in autocut_df(df).collect())
    assert kept == ["<null>", "a"]


def test_partial_ratio_contract():
    assert partial_ratio("abc", "abc") == 100.0
    assert partial_ratio("abc", "xxabcxx") == 100.0  # substring -> perfect
    assert partial_ratio("", "abc") == 0.0
    assert partial_ratio("abc", "xyz") < 40.0


def test_hybrid_rerank_empty():
    assert hybrid_rerank_results([], [], "q", k=2) == ([], [])


def test_hybrid_rerank_rank_order():
    sentences = ["cars and animals magazine", "quantum chromodynamics", "cars animals"]
    # equal search scores -> hash+fuzzy decide; query-overlapping texts win
    out_s, out_sc = hybrid_rerank_results(sentences, [0.5, 0.5, 0.5], "cars and animals", k=2)
    assert len(out_s) == 2
    assert "quantum chromodynamics" not in out_s
    assert out_sc == sorted(out_sc, reverse=True)


def test_rerank_df_matches_list_variant(spark):
    from minivectordb_spark.rerank import rerank_df

    sentences = ["cars and animals magazine", "quantum chromodynamics", "cars animals"]
    df = spark.createDataFrame(
        [(str(i), s, 0.5) for i, s in enumerate(sentences)], ["id", "text", "score"]
    )
    rows = rerank_df(df, "cars and animals", k=2, id_col="id").collect()
    list_s, list_sc = hybrid_rerank_results(sentences, [0.5, 0.5, 0.5], "cars and animals", k=2)
    assert [r["text"] for r in rows] == list(list_s)
    for r, sc in zip(rows, list_sc):
        assert r["combined_score"] == pytest.approx(sc)


def test_rerank_df_matches_duckdb_tail(spark):
    """Bit-parity of the JVM rerank features against the DuckDB oracle twin
    (the property the driver's CORRECTNESS gate relies on)."""
    import duckdb

    from minivectordb_spark.rerank import rerank_df, rerank_oracle_tail

    sentences = [
        "cars and animals magazine",
        "quantum chromodynamics",
        "cars animals",
        "it's a quoted 'string' with unicode",
        "",
        "xy",
    ]
    query = "cars and animals"
    rows_in = [(i, s, 0.1 * (i + 1)) for i, s in enumerate(sentences)]
    df = spark.createDataFrame(rows_in, ["doc_id", "text", "score"])
    got = [
        (r["doc_id"], round(r["combined_score"], 6))
        for r in rerank_df(df, query, k=4, id_col="doc_id").collect()
    ]

    con = duckdb.connect()
    vals = ", ".join(
        f"({i}, '{s.replace(chr(39), chr(39) * 2)}', {0.1 * (i + 1)!r})"
        for i, s in enumerate(sentences)
    )
    sql = (
        f"WITH cand AS (SELECT * FROM (VALUES {vals}) AS t(doc_id, text, score))"
        + rerank_oracle_tail(query, k=4)
    )
    want = [(r[0], r[1]) for r in con.execute(sql).fetchall()]
    assert got == want


def test_embedder_registry_and_determinism():
    e1 = get_embedder("hash64")
    e2 = HashProjectionEmbedder(dim=64)
    import numpy as np

    a = e1.embed("hello world")
    b = e2.embed("hello world")
    assert np.allclose(a, b)
    assert a.shape == (64,)
    with pytest.raises(ValueError):
        get_embedder("nope")


def test_real_model_backends_gated():
    with pytest.raises(NotImplementedError):
        get_embedder("e5_small")


def test_embed_column_udf(spark):
    from minivectordb_spark.embedder import embed_column

    df = spark.createDataFrame([("a", "hello world"), ("b", "hello spark")], ["id", "text"])
    out = embed_column(df, "text").collect()
    ref = HashProjectionEmbedder(dim=64)
    import numpy as np

    by_id = {r["id"]: np.array(r["embedding"]) for r in out}
    assert np.allclose(by_id["a"], ref.embed("hello world"), atol=1e-6)


def test_knn_plan_is_take_ordered(spark, sf_dir):
    """Scale check: the kNN physical plan must be TakeOrderedAndProject
    (per-partition partial top-k, no global sort/shuffle)."""
    from minivectordb_spark.scoring import knn

    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(i % 7) for i in range(64)]
    plan = knn(df, q, k=10, emb_col="embedding", id_col="vec_id")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_matmul_scorer_matches_knn_batch(spark, sf_dir):
    import numpy as np
    from pyspark.sql import functions as F
    from minivectordb_spark.scoring import CosineMatmulScorer, knn_batch

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrows = sorted(
        e.filter(F.col("vec_id") < 3).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    scorer = CosineMatmulScorer(
        [r["vec_id"] for r in qrows], np.array([r["embedding"] for r in qrows])
    )
    mm = scorer.score_topk(e, k=4, id_col="vec_id", emb_col="embedding").collect()
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_embedding")
    )
    jvm = knn_batch(queries, e, k=4, corpus_id_col="vec_id").collect()
    mm_map = {(r["query_id"], r["vec_id"]): r["score"] for r in mm}
    jvm_map = {(r["query_id"], r["vec_id"]): r["score"] for r in jvm}
    assert set(mm_map) == set(jvm_map)
    for key in mm_map:
        assert mm_map[key] == pytest.approx(jvm_map[key], abs=1e-9)


def test_partial_topk_tiebreak_deterministic():
    """>kk rows tied at the boundary score in one batch: the partial
    selection must keep the smallest ids (global (score desc, id asc)
    contract), never an argpartition-arbitrary subset."""
    import numpy as np

    from minivectordb_spark.scoring import top_rows

    scores = np.array([0.5, 0.9, 0.5, 0.5, 0.5, 0.1])
    ids = np.array([60, 10, 40, 20, 30, 5])
    rows = top_rows(scores, ids, 3)
    # top: id 10 (0.9), then the 0.5 tie broken by id asc -> ids 20, 30
    assert ids[rows].tolist() == [10, 20, 30]
    # kk >= n: all rows, still fully ordered
    rows_all = top_rows(scores, ids, 10)
    assert ids[rows_all].tolist() == [10, 20, 30, 40, 60, 5]


def test_matmul_scorer_tied_corpus_matches_exact(spark):
    """Duplicate corpus vectors (exact score ties crossing the k boundary)
    must yield the same ids from the batched scorer as from exact kNN."""
    import numpy as np
    from minivectordb_spark.scoring import CosineMatmulScorer, knn

    v = [1.0, 0.0, 0.0, 0.0]
    w = [0.0, 1.0, 0.0, 0.0]
    rows = [(i, v) for i in range(6)] + [(10 + i, w) for i in range(2)]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = (
        CosineMatmulScorer([0], np.array([v]))
        .score_topk(corpus, k=4, id_col="vec_id", emb_col="embedding")
        .collect()
    )
    exact = knn(corpus, v, k=4, id_col="vec_id", emb_col="embedding").collect()
    assert sorted(r["vec_id"] for r in got) == sorted(r["vec_id"] for r in exact) == [0, 1, 2, 3]


def test_quantize_roundtrip_and_cosine(spark):
    """int8 codec: per-element roundtrip error bounded by 0.5/scale, zero
    vector exact, and dequantized cosine within ~1e-2 of exact."""
    import math

    from pyspark.sql import functions as F

    from minivectordb_spark.scoring import dequantize_expr, quantize_embeddings

    rows = [
        (0, [1.0, -2.0, 0.5, 4.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),
        (2, [-0.001, 0.002, -0.003, 0.004]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = quantize_embeddings(df)
    back = {
        r["vec_id"]: (r["scale"], r["deq"])
        for r in q.withColumn(
            "deq", dequantize_expr(F.col("qvec"), F.col("scale"))
        ).collect()
    }
    for vid, orig in rows:
        scale, deq = back[vid]
        if all(x == 0 for x in orig):
            assert scale == 0.0 and deq == [0.0] * 4
            continue
        bound = 0.5 / scale + 1e-12
        for o, d in zip(orig, deq):
            assert abs(o - d) <= bound
        dot = sum(a * b for a, b in zip(orig, deq))
        cos = dot / (
            math.sqrt(sum(a * a for a in orig)) * math.sqrt(sum(b * b for b in deq))
        )
        assert cos > 0.9999


def test_int8_scorer_rank_overlap(spark, sf_dir):
    import numpy as np
    from pyspark.sql import functions as F
    from minivectordb_spark.scoring import CosineMatmulScorer, Int8MatmulScorer

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrows = sorted(
        e.filter(F.col("vec_id") < 2).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    ids = [r["vec_id"] for r in qrows]
    mat = np.array([r["embedding"] for r in qrows])
    exact = CosineMatmulScorer(ids, mat).score_topk(e, k=10, id_col="vec_id")
    quant = Int8MatmulScorer(ids, mat).score_topk(e, k=10, id_col="vec_id")
    ex = {}
    for r in exact.collect():
        ex.setdefault(r["query_id"], set()).add(r["vec_id"])
    qt = {}
    for r in quant.collect():
        qt.setdefault(r["query_id"], set()).add(r["vec_id"])
    for qid in ex:
        assert len(ex[qid] & qt[qid]) >= 8  # usearch-style contract: high recall
    # quantized scores stay within ~2e-2 of exact cosine
    exact_map = {(r["query_id"], r["vec_id"]): r["score"] for r in exact.collect()}
    for r in quant.collect():
        key = (r["query_id"], r["vec_id"])
        if key in exact_map:
            assert abs(r["score"] - exact_map[key]) < 2e-2


def test_maxsim_matches_numpy_oracle(spark):
    """maxsim_score == the straightforward numpy sum-of-max-cosine on a
    seeded multi-vector corpus; maxsim_topk orders (score desc, id asc)
    and drops empty documents."""
    import random

    import numpy as np

    from minivectordb_spark.scoring import maxsim_score, maxsim_topk

    rng = random.Random(23)
    docs = []
    for d in range(30):
        n_tok = rng.randrange(1, 6)
        docs.append(
            (d, [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(n_tok)])
        )
    docs.append((99, []))  # empty doc: must drop out
    df = spark.createDataFrame(docs, ["doc_id", "token_embeddings"])
    qs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(3)]

    got = {r["doc_id"]: r["score"] for r in maxsim_score(df, qs).collect()}
    assert 99 not in got and len(got) == 30

    def cos(a, b):
        a, b = np.array(a), np.array(b)
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    for d, toks in docs[:-1]:
        want = round(sum(max(cos(q, t) for t in toks) for q in qs), 6)
        assert abs(got[d] - want) < 2e-6, (d, got[d], want)

    top = maxsim_topk(df, qs, k=5).collect()
    want_order = sorted(got.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(r["doc_id"], r["score"]) for r in top] == want_order


def test_maxsim_topk_plan_is_map_only_take_ordered(spark):
    """The maxsim operator itself (stored multi-vector column) is one
    map-side pass + TakeOrderedAndProject — no Exchange, the knn plan
    class."""
    from minivectordb_spark.plans import assert_no_shuffle, assert_plan_contains
    from minivectordb_spark.scoring import maxsim_topk

    df = spark.createDataFrame(
        [(0, [[1.0, 0.0], [0.0, 1.0]]), (1, [[0.5, 0.5]])],
        ["doc_id", "token_embeddings"],
    )
    out = maxsim_topk(df, [[1.0, 0.0], [0.0, 1.0]], k=2)
    assert_plan_contains(out, "TakeOrderedAndProject")
    assert_no_shuffle(out)


# ---------------- MMR diversified rerank ----------------


def test_mmr_skips_near_duplicate(spark):
    """The point of MMR: with two near-identical top docs, the second pick
    must NOT be the duplicate of the first (plain top-k would return it)."""
    from minivectordb_spark.operators.mmr import mmr_rerank

    q = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (0, [1.0, 0.3, 0.0, 0.0]),    # rel ~0.958 (first pick, id tiebreak)
        (1, [1.0, 0.301, 0.0, 0.0]),  # near-dup of 0: sim(1,0) ~ 1.0
        (2, [1.0, -0.3, 0.0, 0.0]),   # same relevance, diverse: sim(2,0) ~ 0.835
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = mmr_rerank(df, q, k=2, lam=0.5, pool=3).collect()
    order = [r["id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order[0] == 0                 # tie on relevance -> id asc
    assert order[1] == 2                 # diversity beats the near-dup


def test_mmr_lambda_one_equals_topk(spark):
    """lam=1 disables the diversity term: selection order must equal plain
    cosine top-k order (rel desc, id asc)."""
    from minivectordb_spark.operators.mmr import mmr_rerank
    from minivectordb_spark.scoring import knn

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    import __spark_entry__ as e

    out = mmr_rerank(df, e.QVEC, k=5, lam=1.0, pool=20).collect()
    got = [r["id"] for r in sorted(out, key=lambda r: r["rank"])]
    want = [
        r["vec_id"]
        for r in knn(df, e.QVEC, k=5, emb_col="embedding", id_col="vec_id").collect()
    ]
    assert got == want


def test_mmr_matches_independent_python(spark):
    """Full greedy replayed by an independent numpy implementation over the
    same pool (float64 left-assoc dot, round-6 micro freeze)."""
    import math

    from minivectordb_spark.operators.mmr import mmr_rerank

    q = [0.3, -0.2, 0.9, 0.1]
    rows = [(i, [math.sin(i * 7.1 + j) for j in range(4)]) for i in range(12)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    import numpy as np

    def micro_cos(a, b):
        a = np.asarray(a, dtype=np.float32).astype(np.float64)
        b = np.asarray(b, dtype=np.float32).astype(np.float64)
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(x) * float(x) for x in b))
        return int(round(round(dot / (na * nb), 6) * 1e6))

    lam_u, k = 700000, 4
    rel = {i: micro_cos(v, np.asarray(q, dtype=np.float64)) for i, v in rows}
    # query is float64 on both sides; embedding goes through float32 storage
    vecs = dict(rows)
    cand, sel, want = dict(rel), [], []
    for _ in range(k):
        best = None
        for c, r in cand.items():
            if sel:
                pen = max(micro_cos(vecs[c], vecs[s0]) for s0 in sel)
                score = lam_u * r - (1_000_000 - lam_u) * pen
            else:
                score = lam_u * r
            if best is None or (-score, c) < best[0]:
                best = ((-score, c), c)
        want.append(best[1])
        sel.append(best[1])
        del cand[best[1]]

    out = mmr_rerank(df, q, k=k, lam=0.7, pool=12).collect()
    got = [r["id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert got == want


# --- query vectors as SQL text: exact literals, few py4j round trips -------


def _left_fold(xs, ys):
    import numpy as np

    acc = np.float64(0.0)
    for a, b in zip(xs, ys):
        acc = acc + np.float64(a) * np.float64(b)
    return acc


def _bits(x) -> bytes:
    import math
    import struct

    # every NaN compares as one value: the fold's NaN payload is not part
    # of the contract
    return b"nan" if math.isnan(x) else struct.pack("<d", x)


@pytest.mark.parametrize("dim", [64, 384, 1024])
def test_query_literals_score_bit_exact(spark, dim):
    """knn and cosine_sim scores equal a NumPy left fold in double, bit for
    bit, for query components that stress the SQL literal text: -0.0, the
    smallest subnormal, the largest finite double, NaN and +/-inf.  The
    embedding column name carries a backtick."""
    import math

    import numpy as np

    from minivectordb_spark.scoring import cosine_sim, knn, l2_normalize

    rng = np.random.default_rng(dim)
    corpus = rng.standard_normal((6, dim)).astype(np.float32)
    col = "e`mb"
    df = spark.createDataFrame(
        [(f"r{i}", [float(x) for x in v]) for i, v in enumerate(corpus)],
        f"id string, `{col.replace('`', '``')}` array<float>",
    )
    base = [float(x) for x in rng.standard_normal(dim)]
    base[1], base[2], base[3] = -0.0, 5e-324, -5e-324
    queries = [base]
    for special in (1.7976931348623157e308, 1.8e308, float("nan"), float("inf"), float("-inf")):
        q = list(base)
        q[dim // 2] = special
        queries.append(q)

    with np.errstate(all="ignore"):
        for q in queries:
            qn = math.sqrt(sum(x * x for x in q))
            unit = l2_normalize(q)
            want_cos = {
                f"r{i}": _left_fold(v, q) / (np.sqrt(_left_fold(v, v)) * np.float64(qn))
                for i, v in enumerate(corpus)
            }
            want_dot = {f"r{i}": _left_fold(v, unit) for i, v in enumerate(corpus)}
            got_cos = {
                r["id"]: r["s"] for r in df.select("id", cosine_sim(col, q).alias("s")).collect()
            }
            got_knn = {
                r["id"]: r["score"]
                for r in knn(df, q, k=len(corpus), emb_col=col, prenormalized=True).collect()
            }
            assert {k: _bits(v) for k, v in got_cos.items()} == {k: _bits(v) for k, v in want_cos.items()}
            assert {k: _bits(v) for k, v in got_knn.items()} == {k: _bits(v) for k, v in want_dot.items()}


def _py4j_calls(spark, monkeypatch, build):
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(command, *args, **kwargs):
        # py4j's "m d" commands release Java objects whose Python proxies
        # were garbage-collected; when they run is up to the Python GC,
        # not the code under test
        if not command.startswith("m\nd\n"):
            calls.append(1)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    try:
        build()
    finally:
        monkeypatch.setattr(client, "send_command", send)
    return len(calls)


def test_query_expressions_take_few_py4j_round_trips(spark, monkeypatch):
    """A query vector becomes one SQL string, so building a search plan
    costs a constant number of py4j round trips, not a few per vector
    component (a per-element literal array took 1,699 at dim 384)."""
    import numpy as np

    from minivectordb_spark.operators.ann import _assignment_struct
    from minivectordb_spark.scoring import knn

    df = spark.createDataFrame([("a", [1.0] * 384)], "id string, embedding array<float>")
    q = [float(x) for x in np.random.default_rng(0).standard_normal(384)]
    assert _py4j_calls(spark, monkeypatch, lambda: knn(df, q, k=5)) < 50
    cents = [(c, [float(x) for x in np.random.default_rng(c).standard_normal(64)]) for c in range(16)]
    assert _py4j_calls(spark, monkeypatch, lambda: _assignment_struct("embedding", cents, "__n")) < 50
