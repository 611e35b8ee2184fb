"""Unit tests for the scale-out operator modules (dedup, text, ann) against
hand-computed / python-reference expectations."""

import zlib

import pytest
from pyspark.sql import functions as F

from minivectordb_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    exact_dedup_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    minhash_signatures,
    simhash_fingerprints,
)
from minivectordb_spark.operators.text import (
    LANG_PRIORITY,
    fingerprints,
    lang_id,
    text_stats,
)
from minivectordb_spark.operators.ann import (
    ivf_assign,
    ivf_search,
    random_projection_buckets,
    seed_centroids,
)
from minivectordb_spark.scoring import knn


def _ivf_assign_dir(idx: str) -> str:
    """Live-generation assignments dir of an IVF layout (r14: data sits
    under the manifest's gen dir)."""
    from minivectordb_spark import fsio

    try:
        m, _ = fsio.load_index_manifest(idx, "_index_manifest.json")
    except (OSError, ValueError):
        m = {}
    return fsio.gen_data(idx, m, "assignments")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),  # near dup
        (3, "completely different content about spark engines"),
        (4, "a b"),  # shorter than shingle k
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    groups = exact_dedup_groups(docs).collect()
    by_keep = {r["keep_id"]: r["n_dups"] for r in groups}
    assert by_keep[0] == 2  # docs 0 and 1 collapse
    assert len(groups) == 4
    kept = exact_dedup(docs).select("doc_id").collect()
    assert sorted(r["doc_id"] for r in kept) == [0, 2, 3, 4]


def test_minhash_identical_and_neardup(docs):
    sigs = {r["doc_id"]: r["minhash"] for r in minhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]  # identical text -> identical signature
    assert sigs[0] != sigs[3]
    overlap01 = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    overlap03 = sum(a == b for a, b in zip(sigs[0], sigs[3]))
    assert overlap01 > overlap03  # near-dup shares more minima


def test_lsh_pipeline_finds_planted_dup(docs):
    pairs = minhash_dedup_pairs(docs, threshold=0.5).collect()
    found = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert (0, 1) in found and found[(0, 1)] == 1.0
    assert all(not (a == 0 and b == 3) for a, b in found)


def test_jaccard_exact_value(spark, docs):
    pairs = spark.createDataFrame([(0, 2)], ["id_a", "id_b"])
    out = jaccard_pairs(docs, pairs).collect()
    # shingle sets of doc0/doc2 (7 word-3-grams each) differ in the last
    # one only: |inter|=6, |union|=8
    assert out[0]["jaccard"] == pytest.approx(6 / 8)


def test_simhash_identity(docs):
    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    assert fps[0] == fps[1]
    assert 0 <= fps[0] < (1 << 32)
    ham_near = bin(fps[0] ^ fps[2]).count("1")
    ham_far = bin(fps[0] ^ fps[3]).count("1")
    assert ham_near < ham_far


def test_simhash_pairs_pigeonhole_recall(docs):
    """Every pair at Hamming <= n_bands-1 MUST be found (pigeonhole over
    the banded self-join) — checked against all-pairs brute force."""
    from minivectordb_spark.operators.dedup import simhash_pairs

    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    ids = sorted(fps)
    expected = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(docs, max_hamming=3).collect()
    }
    assert got == expected
    assert got[(0, 1)] == 0  # identical texts -> identical fingerprints


def test_simhash_pairs64_pigeonhole_recall(docs):
    """64-bit variant: every pair at Hamming <= n_bands-1 over the combined
    128... 64 bits must be found — checked against all-pairs brute force on
    the two-half fingerprints."""
    from minivectordb_spark.operators.dedup import (
        simhash_fingerprints64,
        simhash_pairs,
    )

    fps = {
        r["doc_id"]: (r["simhash_lo"], r["simhash_hi"])
        for r in simhash_fingerprints64(docs).collect()
    }
    ids = sorted(fps)

    def ham(a, b):
        return bin(fps[a][0] ^ fps[b][0]).count("1") + bin(
            fps[a][1] ^ fps[b][1]
        ).count("1")

    expected = {
        (a, b): ham(a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if ham(a, b) <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(docs, max_hamming=3, bits=64).collect()
    }
    assert got == expected
    assert got[(0, 1)] == 0  # identical texts -> identical 64-bit fingerprints


def test_auto_simhash_bits_thresholds_and_end_to_end(docs):
    """auto_simhash_bits: smallest width with per-band space >= n at 4
    bands (expected occupancy <= 1) — boundary-pinned; and bits="auto"
    on a tiny corpus reproduces the explicit 32-bit result."""
    from minivectordb_spark.operators.dedup import (
        auto_simhash_bits,
        simhash_pairs,
    )

    assert auto_simhash_bits(1) == 32
    assert auto_simhash_bits(256) == 32
    assert auto_simhash_bits(257) == 64
    assert auto_simhash_bits(65_536) == 64
    assert auto_simhash_bits(65_537) == 128
    assert auto_simhash_bits(10**9) == 128
    # n_bands=2 -> 16-bit bands at bits=32: space 65,536
    assert auto_simhash_bits(65_536, n_bands=2) == 32

    got_auto = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(docs, max_hamming=3, bits="auto").collect()
    }
    got_32 = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(docs, max_hamming=3, bits=32).collect()
    }
    assert got_auto == got_32


def test_simhash_pairs128_pigeonhole_recall_and_word_reference(docs):
    """128-bit variant: (a) the four words match an independent Python
    md5 recomputation (majority vote over hex chars 1-8/9-16/17-24/25-32
    of each token's digest), (b) every pair at Hamming <= n_bands-1 over
    the 128 bits is found vs all-pairs brute force."""
    import hashlib

    from minivectordb_spark.operators.dedup import (
        simhash_fingerprints128,
        simhash_pairs,
    )

    fps = {
        r["doc_id"]: tuple(r[f"simhash_w{w}"] for w in range(4))
        for r in simhash_fingerprints128(docs).collect()
    }

    def py_ref(text: str):
        toks = text.split(" ") if text else []
        out = []
        for w in range(4):
            counts = [0] * 32
            for t in toks:
                h = int(hashlib.md5(t.encode()).hexdigest()[8 * w : 8 * w + 8], 16)
                for b in range(32):
                    counts[b] += (h >> b) & 1
            out.append(
                sum((1 << b) for b in range(32) if counts[b] * 2 > len(toks))
            )
        return tuple(out)

    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for i, text in texts.items():
        assert fps[i] == py_ref(text), f"doc {i}"

    ids = sorted(fps)

    def ham(a, b):
        return sum(bin(fps[a][w] ^ fps[b][w]).count("1") for w in range(4))

    expected = {
        (a, b): ham(a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if ham(a, b) <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(docs, max_hamming=3, bits=128).collect()
    }
    assert got == expected
    assert got[(0, 1)] == 0  # identical texts -> identical 128-bit fingerprints
    # halves are genuinely independent: lo == 32-bit simhash, hi differs
    from minivectordb_spark.operators.dedup import simhash_fingerprints

    lo32 = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    assert all(fps[d][0] == lo32[d] for d in ids)
    assert any(fps[d][0] != fps[d][1] for d in ids)


def test_neardup_lsh_blocking_vs_bruteforce(spark):
    """Default (no block_col) near-dup path: sign-bit LSH blocking with
    multiprobe.  Identical vectors always share a bucket; every LSH pair
    must also be a brute-force pair with the identical cosine."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    rows.append((100, list(rows[5][1])))  # planted exact duplicate of id 5
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    planes = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(3)]

    lsh = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(
            df, threshold=0.5, planes=planes
        ).collect()
    }
    brute = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(
            df, threshold=0.5, brute_force=True
        ).collect()
    }
    assert (5, 100) in lsh and lsh[(5, 100)] == 1.0
    assert set(lsh) <= set(brute)
    for p, c in lsh.items():
        assert brute[p] == c


@pytest.mark.parametrize("collect_threshold", [0, 1_000_000])
def test_connected_components_chain_and_clique(spark, collect_threshold):
    """A 5-node chain (worst-case diameter) and a separate triangle must
    both collapse to their min id; disconnected nodes absent from pairs.
    Parametrized over BOTH paths: the distributed min-label loop
    (collect_threshold=0) and the size-gated driver union-find."""
    from minivectordb_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)],
        ["id_a", "id_b"],
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(
            pairs, collect_threshold=collect_threshold
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10}


def test_connected_components_empty(spark):
    from minivectordb_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0
    assert connected_components(pairs, collect_threshold=0).count() == 0


def test_connected_components_star_hot_path(spark):
    """10k-node star (VERDICT r3 item 9): the hub's degree exceeds
    hot_degree, so its label lookups take the broadcast path — edges for
    the hot destination never shuffle — and the result is identical to
    the unsplit algorithm: every spoke collapses to the hub's min id."""
    from minivectordb_spark.operators.dedup import connected_components

    n = 10_000
    pairs = spark.range(1, n).select(
        F.lit(0).alias("id_a"), F.col("id").alias("id_b")
    )
    out = connected_components(pairs, hot_degree=100, collect_threshold=0)
    assert out.count() == n
    assert out.agg(F.max("component"), F.min("component")).collect()[0] == (0, 0)
    # plus a mixed graph: one hot star + one cold triangle in the same call
    mixed = pairs.union(
        spark.createDataFrame(
            [(20_000, 20_001), (20_001, 20_002), (20_000, 20_002)],
            ["id_a", "id_b"],
        )
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(
            mixed, hot_degree=100, collect_threshold=0
        ).collect()
        if r["id"] >= 20_000
    }
    assert got == {20_000: 20_000, 20_001: 20_000, 20_002: 20_000}


def test_connected_components_hot_split_plan(spark):
    """The hot-destination label lookup must compile to a broadcast join
    (no Exchange of the hot edge rows on dst)."""
    from minivectordb_spark.operators.dedup import connected_components

    n = 2_000
    pairs = spark.range(1, n).select(
        F.lit(0).alias("id_a"), F.col("id").alias("id_b")
    )
    # behavioral proxy for "no hot partition": with hot_degree above the
    # hub degree the guard is off; below it the guard is on — both must
    # agree exactly, proving the split changes the plan, not the answer
    on = connected_components(pairs, hot_degree=100, collect_threshold=0).collect()
    off = connected_components(pairs, hot_degree=10**9, collect_threshold=0).collect()
    assert sorted(map(tuple, on)) == sorted(map(tuple, off))


def test_dedup_survivors(spark):
    from minivectordb_spark.operators.dedup import dedup_survivors

    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(6)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(0, 3), (3, 5), (1, 2)], ["id_a", "id_b"])
    kept = sorted(r["doc_id"] for r in dedup_survivors(df, pairs).collect())
    # groups {0,3,5} -> keep 0; {1,2} -> keep 1; singleton 4 kept
    assert kept == [0, 1, 4]


def test_dedup_survivors_ranked_keeps_best_scored(spark):
    from minivectordb_spark.operators.dedup import dedup_survivors_ranked

    df = spark.createDataFrame(
        [(0, 10), (1, 99), (2, 99), (3, 40), (4, 7), (5, 40)],
        ["doc_id", "quality"],
    )
    pairs = spark.createDataFrame([(0, 3), (3, 5), (1, 2)], ["id_a", "id_b"])
    kept = sorted(
        r["doc_id"]
        for r in dedup_survivors_ranked(df, pairs, "quality").collect()
    )
    # {0,3,5}: scores 10/40/40 -> max 40, tie -> min id 3
    # {1,2}: scores 99/99 -> tie -> min id 1; singleton 4 kept
    assert kept == [1, 3, 4]
    # empty pair set: everything survives
    empty = pairs.limit(0)
    assert dedup_survivors_ranked(df, empty, "quality").count() == 6


def test_dedup_survivors_ranked_null_score_never_wins(spark):
    """ADVICE r10: a NULL score coalesces to -inf — the NULL-scored member
    must lose to ANY real score (bare -NULL would sort first in the
    min_by struct and silently win), matching DESC NULLS LAST."""
    from minivectordb_spark.operators.dedup import dedup_survivors_ranked

    df = spark.createDataFrame(
        [(0, None), (1, 5), (2, None), (3, None)],
        "doc_id int, quality int",
    )
    pairs = spark.createDataFrame([(0, 1), (2, 3)], ["id_a", "id_b"])
    kept = sorted(
        r["doc_id"]
        for r in dedup_survivors_ranked(df, pairs, "quality").collect()
    )
    # {0,1}: 0 is NULL-scored, 1 has a real score -> keep 1 (not 0!)
    # {2,3}: both NULL -> both -inf -> tie -> min id 2
    assert kept == [1, 2]


def test_text_stats_values(spark):
    df = spark.createDataFrame([(0, "the cat the dog")], ["doc_id", "text"])
    r = text_stats(df).collect()[0]
    assert r["n_tokens"] == 4
    assert r["ttr"] == pytest.approx(3 / 4)
    assert r["stop_ratio"] == pytest.approx(2 / 4)  # 'the' twice
    assert r["avg_tok_len"] == pytest.approx(12 / 4)
    r2 = text_stats(spark.createDataFrame([(1, "")], ["doc_id", "text"])).collect()[0]
    assert r2["n_tokens"] == 0 and r2["ttr"] == 0.0


def test_lang_id_in_domain(docs):
    for r in lang_id(docs).collect():
        assert r["pred_lang"] in LANG_PRIORITY


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha"), (2, "alpha beta gamma")],
        ["doc_id", "text"],
    )
    fps = {r["doc_id"]: r["fp"] for r in fingerprints(df).collect()}
    assert fps[0] == fps[2]
    assert fps[0] != fps[1]  # same bag, different order -> different rolling fp


@pytest.fixture(scope="module")
def emb_df(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_ivf_assign_self_centroid(emb_df):
    cents = seed_centroids(emb_df, 10)
    assigned = {r["vec_id"]: r for r in ivf_assign(emb_df, cents).collect()}
    for cid in range(10):
        assert assigned[cid]["centroid_id"] == cid  # a centroid is its own nearest
        assert assigned[cid]["centroid_cos"] == pytest.approx(1.0, abs=1e-6)
    assert len(assigned) == emb_df.count()


def test_ivf_search_full_probe_equals_bruteforce(emb_df):
    q = [float((i * 3) % 7) - 2.0 for i in range(64)]
    cents = seed_centroids(emb_df, 10)
    approx = ivf_search(emb_df, cents, q, k=5, nprobe=10)  # probe ALL clusters
    exact = knn(emb_df, q, k=5, emb_col="embedding", id_col="vec_id")
    assert [r["vec_id"] for r in approx.collect()] == [
        r["vec_id"] for r in exact.collect()
    ]


def test_ivf_recall_contract(spark):
    """The ivf_search docstring's pinned nprobe recall bound, measured on
    a seeded clustered corpus (the regime IVF assumes): recall@10 >= 0.95
    mean at nprobe=1 and == 1.0 at nprobe>=2 of K=10 Lloyd-fitted
    centroids — plus the documented-miss case: a query equidistant
    between two clusters whose true neighbors straddle them loses the
    non-probed side at nprobe=1 and recovers it at nprobe=2."""
    import numpy as np

    from minivectordb_spark.operators.ann import (
        ivf_search,
        lloyd_kmeans_centroids,
    )

    rng = np.random.default_rng(17)
    centers = rng.normal(0, 1, (10, 16))
    rows, i = [], 0
    for c in range(10):
        for _ in range(120):
            rows.append(
                (i, (centers[c] + rng.normal(0, 0.25, 16)).tolist())
            )
            i += 1
    for _ in range(300):
        rows.append((i, rng.normal(0, 1, 16).tolist()))
        i += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).localCheckpoint()
    cents = lloyd_kmeans_centroids(df, 10, iters=2)

    recalls = {1: [], 2: [], 3: []}
    for qi in range(12):
        q = (centers[qi % 10] + rng.normal(0, 0.3, 16)).tolist()
        exact = {
            r["vec_id"]
            for r in knn(
                df, q, k=10, emb_col="embedding", id_col="vec_id"
            ).collect()
        }
        for nprobe in recalls:
            got = {
                r["vec_id"]
                for r in ivf_search(df, cents, q, k=10, nprobe=nprobe).collect()
            }
            recalls[nprobe].append(len(got & exact) / 10)
    assert sum(recalls[1]) / len(recalls[1]) >= 0.95, recalls[1]
    assert all(r == 1.0 for r in recalls[2]), recalls[2]
    assert all(r == 1.0 for r in recalls[3]), recalls[3]

    # documented miss, fully deterministic: two orthogonal clusters (A
    # along e0, B along e1), centroids = their axes, query at 45 degrees.
    # The exact top-10 straddles both clusters; nprobe=1 probes one side
    # and forgoes the other's members, nprobe=2 recovers them all.
    two = []
    for j in range(8):
        two.append((j, [1.0, 0.001 * j, 0.0, 0.0]))          # cluster A
        two.append((100 + j, [0.001 * j, 1.0, 0.0, 0.0]))    # cluster B
    tdf = spark.createDataFrame(two, ["vec_id", "embedding"])
    tcents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        ["centroid_id", "centroid_emb"],
    )
    mid = [1.0, 1.0, 0.0, 0.0]
    exact = {
        r["vec_id"]
        for r in knn(tdf, mid, k=10, emb_col="embedding", id_col="vec_id").collect()
    }
    assert any(v < 100 for v in exact) and any(v >= 100 for v in exact)
    r1 = {
        r["vec_id"] for r in ivf_search(tdf, tcents, mid, k=10, nprobe=1).collect()
    }
    r2 = {
        r["vec_id"] for r in ivf_search(tdf, tcents, mid, k=10, nprobe=2).collect()
    }
    # one-sided probe returns only one cluster's members — the documented
    # recall loss; the second probe restores exactness
    assert len({v // 100 for v in r1}) == 1
    assert len(r1 & exact) <= len(exact) - 5
    assert r2 == exact


def test_random_projection_buckets_deterministic(emb_df):
    planes = [[1.0 if j == i else 0.0 for j in range(64)] for i in range(4)]
    out = random_projection_buckets(emb_df, planes).collect()
    row = {r["vec_id"]: r["bucket"] for r in out}
    first = emb_df.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    expected = sum((1 << i) for i in range(4) if first[i] >= 0)
    assert row[0] == expected


def test_neardup_planted_duplicate(spark):
    base = [1.0, 2.0, 3.0, 4.0]
    rows = [
        (0, base, 0),
        (1, [x * 2.0 for x in base], 0),  # same direction -> cosine 1
        (2, [4.0, -3.0, 2.0, -1.0], 0),
        (3, base, 1),  # same vector but different block -> not compared
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = embedding_neardup_pairs(df, block_col="label", threshold=0.99).collect()
    assert [(r["id_a"], r["id_b"], r["cosine"]) for r in out] == [(0, 1, 1.0)]


def test_kmeans_centroids_contract(emb_df):
    from minivectordb_spark.operators.ann import kmeans_centroids

    cents = kmeans_centroids(emb_df.limit(200), n=4)
    rows = cents.collect()
    assert len(rows) == 4
    assert all(len(r["centroid_emb"]) == 64 for r in rows)
    # drop-in: assignment works against the fitted centroids
    assigned = ivf_assign(emb_df.limit(50), cents)
    assert assigned.count() == 50
    assert assigned.select("centroid_id").distinct().count() <= 4


def test_mllib_lsh_neighbors_recall(emb_df):
    from minivectordb_spark.operators.ann import mllib_lsh_neighbors

    q = [float((i * 3) % 7) - 2.0 for i in range(64)]
    approx = mllib_lsh_neighbors(emb_df, q, k=10, num_hash_tables=4)
    got = [r["vec_id"] for r in approx.collect()]
    exact = [
        r["vec_id"]
        for r in knn(emb_df, q, k=10, emb_col="embedding", id_col="vec_id").collect()
    ]
    # ANN contract: high overlap with exact top-k, scores in cosine range
    assert len(got) == 10
    assert len(set(got) & set(exact)) >= 5
    top = approx.collect()[0]
    assert -1.001 <= top["score"] <= 1.001


def test_chunk_documents_windows(spark):
    from minivectordb_spark.operators.prep import chunk_documents

    text10 = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, text10), (2, "short text"), (3, "")], ["doc_id", "text"]
    )
    rows = chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 10 tokens, stride 3 -> starts 0,3,6 -> 1+ceil(6/3)=3 chunks
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["chunk_text"] for r in c1] == [
        "w0 w1 w2 w3",
        "w3 w4 w5 w6",
        "w6 w7 w8 w9",
    ]
    # consecutive chunks share exactly `overlap` tokens
    assert c1[0]["chunk_text"].split()[-1] == c1[1]["chunk_text"].split()[0]
    # doc 2: shorter than one window -> one (short) chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_tokens"] == 2
    # doc 3: empty -> no chunks
    assert 3 not in by_doc


def test_chunk_documents_exact_boundary(spark):
    from minivectordb_spark.operators.prep import chunk_documents

    df = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    rows = chunk_documents(df, chunk_tokens=4, overlap=2).collect()
    assert len(rows) == 1  # n == chunk_tokens -> exactly one window

    import pytest

    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_scrub_text(spark):
    from minivectordb_spark.operators.prep import scrub_text

    df = spark.createDataFrame(
        [(1, "mail a.b+c@test.org or https://x.io/p?q=1 card 1234567890 ok 123")],
        ["doc_id", "text"],
    )
    out = scrub_text(df).first()["scrubbed"]
    assert out == "mail <EMAIL> or <URL> card <NUM> ok 123"


def test_stratified_sample_deterministic(spark):
    from minivectordb_spark.operators.prep import stratified_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(400)], ["doc_id", "lang"]
    )
    kw = dict(fractions={"de": 1.0, "en": 0.25}, strata_col="lang", id_col="doc_id")
    a = {r["doc_id"] for r in stratified_sample(df, **kw).collect()}
    b = {r["doc_id"] for r in stratified_sample(df, **kw).collect()}
    assert a == b  # bit-for-bit reproducible
    de = {i for i in a if i % 2 == 0}
    en = {i for i in a if i % 2 == 1}
    assert len(de) == 200  # fraction 1.0 keeps the whole stratum
    assert 20 <= len(en) <= 80  # ~25% of 200, hash-uniform
    # a different salt redraws the sample
    c = {r["doc_id"] for r in stratified_sample(df, **kw, salt="s1").collect()}
    assert c != a
    # no default fraction -> unknown strata drop
    df2 = spark.createDataFrame([(1, "fr")], ["doc_id", "lang"])
    assert stratified_sample(df2, **kw).count() == 0


def test_ivf_indexed_matches_onthefly(spark, tmp_path):
    """Persisted-index search returns exactly the on-the-fly ivf_search
    results for the same centroids/query/nprobe."""
    import random

    from minivectordb_spark.operators.ann import (
        ivf_search,
        ivf_search_indexed,
        save_ivf_index,
        seed_centroids,
    )

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = seed_centroids(df, 6)
    query = [rng.uniform(-1, 1) for _ in range(8)]

    idx = str(tmp_path / "ivf")
    save_ivf_index(df, cents, idx)
    live = [(r["vec_id"], r["score"]) for r in ivf_search(df, cents, query, k=7, nprobe=2).collect()]
    stored = [
        (r["vec_id"], r["score"])
        for r in ivf_search_indexed(spark, idx, query, k=7, nprobe=2).collect()
    ]
    assert stored == live and len(stored) == 7


def test_ivf_index_freshness_reuse(spark, tmp_path):
    """skip_if_fresh reuses an index only while its manifest matches the
    source files + centroids: unchanged source -> no rebuild (untouched
    file mtimes); changed source -> rebuild, and searches see the new data.
    In-memory sources have no fingerprint and always rebuild."""
    import os
    import random

    from minivectordb_spark.operators.ann import (
        ivf_search_indexed,
        save_ivf_index,
        seed_centroids,
    )

    rng = random.Random(11)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(100)],
        ["vec_id", "embedding"],
    ).write.parquet(src)
    df = spark.read.parquet(src)
    idx = str(tmp_path / "ivf")
    query = [rng.uniform(-1, 1) for _ in range(8)]

    assert save_ivf_index(df, seed_centroids(df, 5), idx, skip_if_fresh=True)
    adir = _ivf_assign_dir(idx)
    before = {
        f: os.stat(os.path.join(adir, f)).st_mtime_ns
        for f in os.listdir(adir)
        if not f.startswith("_")
    }
    # fresh: skipped, nothing rewritten (same generation, same files)
    assert not save_ivf_index(df, seed_centroids(df, 5), idx, skip_if_fresh=True)
    assert _ivf_assign_dir(idx) == adir
    after = {
        f: os.stat(os.path.join(adir, f)).st_mtime_ns
        for f in os.listdir(adir)
        if not f.startswith("_")
    }
    assert after == before

    # different centroids -> stale -> rebuilt
    assert save_ivf_index(df, seed_centroids(df, 6), idx, skip_if_fresh=True)

    # source data changes -> stale -> rebuilt, search reflects new rows
    spark.createDataFrame(
        [(i + 1000, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(100)],
        ["vec_id", "embedding"],
    ).write.mode("overwrite").parquet(src)
    df2 = spark.read.parquet(src)
    assert save_ivf_index(df2, seed_centroids(df2, 5), idx, skip_if_fresh=True)
    got = {r["vec_id"] for r in ivf_search_indexed(spark, idx, query, k=5, nprobe=2).collect()}
    assert got and all(v >= 1000 for v in got)

    # in-memory frame: no fingerprint -> conservative rebuild every time
    mem = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)],
        ["vec_id", "embedding"],
    )
    assert save_ivf_index(mem, seed_centroids(mem, 4), idx, skip_if_fresh=True)
    assert save_ivf_index(mem, seed_centroids(mem, 4), idx, skip_if_fresh=True)


def test_ivf_index_freshness_keyed_on_plan_not_just_files(spark, tmp_path):
    """A TRANSFORMED source over the same files (filter/dedup) is a
    different row set than the bare scan even though inputFiles() is
    identical — the fingerprint's canonicalized-plan digest must force a
    rebuild, or a filtered build would silently reuse the full-scan index
    (and vice versa) and return wrong search results."""
    import random

    from pyspark.sql import functions as F

    from minivectordb_spark.operators.ann import (
        save_ivf_index,
        seed_centroids,
    )

    rng = random.Random(12)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(100)],
        ["vec_id", "embedding"],
    ).write.parquet(src)
    df = spark.read.parquet(src)
    idx = str(tmp_path / "ivf")
    cents = seed_centroids(df, 4)

    assert save_ivf_index(df, cents, idx, skip_if_fresh=True)
    assert not save_ivf_index(df, cents, idx, skip_if_fresh=True)
    # same files, filtered plan -> stale -> rebuilt
    filt = df.filter(F.col("vec_id") < 50)
    assert save_ivf_index(filt, cents, idx, skip_if_fresh=True)
    # the filtered plan now IS the indexed source -> fresh
    assert not save_ivf_index(
        df.filter(F.col("vec_id") < 50), cents, idx, skip_if_fresh=True
    )
    # back to the bare scan -> stale again
    assert save_ivf_index(df, cents, idx, skip_if_fresh=True)


def test_ivf_index_incremental_update(spark, tmp_path):
    """update_ivf_index appends new rows to their centroid partitions:
    searches over the updated index equal on-the-fly search over the
    full corpus with the same centroids, and the freshness manifest is
    invalidated so skip_if_fresh rebuilds next time."""
    import os
    import random

    from minivectordb_spark.operators.ann import (
        ivf_search,
        ivf_search_indexed,
        save_ivf_index,
        seed_centroids,
        update_ivf_index,
    )

    rng = random.Random(17)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows[:80], ["vec_id", "embedding"]).write.parquet(src)
    base = spark.read.parquet(src)
    cents = seed_centroids(base, 6)
    idx = str(tmp_path / "ivf")
    save_ivf_index(base, cents, idx, skip_if_fresh=True)
    from minivectordb_spark import fsio as _fsio

    m, _ = _fsio.load_index_manifest(idx, "_index_manifest.json")
    assert "fingerprint" in m

    extra = spark.createDataFrame(rows[80:], ["vec_id", "embedding"])
    update_ivf_index(extra, idx)
    m, _ = _fsio.load_index_manifest(idx, "_index_manifest.json")
    assert "fingerprint" not in m

    full = spark.createDataFrame(rows, ["vec_id", "embedding"])
    query = [rng.uniform(-1, 1) for _ in range(8)]
    live = [
        (r["vec_id"], r["score"])
        for r in ivf_search(full, cents, query, k=9, nprobe=3).collect()
    ]
    stored = [
        (r["vec_id"], r["score"])
        for r in ivf_search_indexed(spark, idx, query, k=9, nprobe=3).collect()
    ]
    assert stored == live and len(stored) == 9
    # at least one appended row must be reachable through the index
    assert any(vid >= 80 for vid, _ in stored) or ivf_search_indexed(
        spark, idx, rows[100][1], k=1, nprobe=6
    ).first()["vec_id"] == 100

    # invalidated manifest -> skip_if_fresh rebuilds (returns True)
    assert save_ivf_index(base, cents, idx, skip_if_fresh=True)


def test_bigram_lm_backoff_and_pruning(spark):
    """Interpolated bigram LM: hand-computed score for a doc whose bigram
    is in the table; with top_bigrams=1 only the most frequent bigram
    survives pruning and every other position backs off to the unigram
    term alone; <2-token docs drop out."""
    import math

    from minivectordb_spark.operators.text import bigram_lm_score

    docs = spark.createDataFrame(
        [(0, "a b a b c"), (1, "a b"), (2, "z"), (3, "")], ["doc_id", "text"]
    )
    # corpus: bigrams {a b: 3, b a: 1, b c: 1}; ctx a->3, b->2; uni a3 b3 c1 z1 T=8
    full = {r["doc_id"]: r for r in bigram_lm_score(docs, top_bigrams=100).collect()}
    assert set(full) == {0, 1}  # <2-token docs drop
    assert full[1]["n_bigrams"] == 1
    assert full[1]["avg_logp"] == round(math.log(0.75 * 1.0 + 0.25 * 3 / 8), 6)

    pruned = {
        r["doc_id"]: r for r in bigram_lm_score(docs, top_bigrams=1).collect()
    }
    # only "a b" (count 3) survives the prune; doc 0's "b a"/"b c" positions
    # back off to 0.25 * p_uni
    t_ab = round(math.log(0.75 * 1.0 + 0.25 * 3 / 8), 6)
    t_ba = round(math.log(0.25 * 3 / 8), 6)
    t_bc = round(math.log(0.25 * 1 / 8), 6)
    exp0 = round((2 * t_ab + t_ba + t_bc) / 4, 6)
    assert pruned[0]["avg_logp"] == exp0
    assert pruned[1]["avg_logp"] == t_ab


def test_bigram_lm_property_matches_python_model(spark):
    """Hypothesis: on random small corpora, bigram_lm_score (with and
    without pruning) equals an independent pure-Python interpolated-LM
    with the same count-desc/key-asc prune order."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from minivectordb_spark.operators.text import bigram_lm_score

    def jround(x: float) -> float:
        # Spark's F.round = BigDecimal.valueOf(double).setScale(6, HALF_UP):
        # half-up on the double's SHORTEST decimal rendering (repr), not
        # Python's banker's rounding
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    words = st.sampled_from(["aa", "bb", "cc", "dd"])
    doc = st.lists(words, min_size=0, max_size=8).map(" ".join)
    corpus = st.lists(doc, min_size=1, max_size=8)

    @given(corpus=corpus, top=st.sampled_from([1, 3, 10_000]))
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(corpus, top):
        df = spark.createDataFrame(
            list(enumerate(corpus)), ["doc_id", "text"]
        )
        got = {
            r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
            for r in bigram_lm_score(df, top_bigrams=top).collect()
        }

        toks = {i: (t.split(" ") if t else []) for i, t in enumerate(corpus)}
        bic = Counter(
            f"{a} {b}" for tk in toks.values() for a, b in zip(tk, tk[1:])
        )
        pruned = dict(
            sorted(bic.items(), key=lambda kv: (-kv[1], kv[0]))[:top]
        )
        ctx = Counter()
        for bg, c in bic.items():
            ctx[bg.split(" ")[0]] += c
        uni = Counter(t for tk in toks.values() for t in tk)
        T = sum(uni.values())
        exp = {}
        for i, tk in toks.items():
            terms = []
            for a, b in zip(tk, tk[1:]):
                bg = f"{a} {b}"
                p_bi = pruned[bg] / ctx[a] if bg in pruned else 0.0
                term = jround(math.log(0.75 * p_bi + 0.25 * uni[b] / T))
                terms.append(term)
            if terms:
                # decimal(18,6) sum is exact; mimic with integer micros,
                # then average with the operator's exact half-away-from-zero
                # integer form (_exact_avg_micros): (2*|s| + n) div (2n),
                # sign split — a float round(s/1e6/n, 6) lands a double ulp
                # off whenever s/n sits exactly on a .5e-6 boundary.
                s = sum(int(round(t * 1_000_000)) for t in terms)
                n = len(terms)
                if s >= 0:
                    q = (2 * s + n) // (2 * n)
                else:
                    q = -((2 * (-s) + n) // (2 * n))
                exp[i] = (n, q / 1_000_000)
        assert got == exp

    check()


def test_hash_classifier_fit_discriminates_and_scores_portably(spark):
    """fit_hash_classifier learns weights that separate a lexically
    distinct positive class, and hash_classifier_score's integer-micro
    expression equals a numpy recomputation of the same model."""
    import math
    import random

    from minivectordb_spark.operators.text import (
        fit_hash_classifier,
        hash_classifier_score,
    )

    rng = random.Random(13)
    good_w = ["clean", "prose", "article", "essay", "report"]
    bad_w = ["spam", "casino", "click", "winner", "free"]
    pos = spark.createDataFrame(
        [(i, " ".join(rng.choices(good_w, k=12))) for i in range(40)],
        ["doc_id", "text"],
    )
    neg = spark.createDataFrame(
        [(100 + i, " ".join(rng.choices(bad_w, k=12))) for i in range(40)],
        ["doc_id", "text"],
    )
    weights, bias = fit_hash_classifier(pos, neg, n_buckets=64)
    assert len(weights) == 64

    scored = {
        r["doc_id"]: r["score"]
        for r in hash_classifier_score(
            pos.unionAll(neg), weights, bias=bias
        ).collect()
    }
    pos_scores = [scored[i] for i in range(40)]
    neg_scores = [scored[100 + i] for i in range(40)]
    assert min(pos_scores) > max(neg_scores)

    # portability: integer-micro fold == float recomputation on frozen micros
    from minivectordb_spark.operators.hashing import md5i32
    import hashlib

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    wi = [int(round(w * 1_000_000)) for w in weights]
    row = neg.collect()[0]
    toks = row["text"].split(" ")
    feats = [h32(t) % 64 for t in toks] + [
        h32(f"{a} {b}") % 64 for a, b in zip(toks, toks[1:])
    ]
    z = bias + (sum(wi[b] for b in feats) / 1e6) / len(feats)
    assert scored[row["doc_id"]] == round(1.0 / (1.0 + math.exp(-z)), 6)


def test_quality_mix_composition(spark):
    """quality_mix keeps a deterministic, band-gated subset: output is a
    subset of the classifier-scored docs, every kept row's band matches
    its score, rare bands are upweighted (tau<1) relative to their raw
    share, and the keep set is invariant under repartitioning."""
    import random

    from minivectordb_spark.operators.text import (
        default_classifier_weights,
        hash_classifier_score,
        quality_mix,
    )

    rng = random.Random(23)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choices(vocab, k=10))) for i in range(300)],
        ["doc_id", "text"],
    )
    w = default_classifier_weights(64, seed=3)
    kept = quality_mix(docs, w).collect()
    assert kept, "mix should keep a non-trivial subset"
    scores = {
        r["doc_id"]: r["score"] for r in hash_classifier_score(docs, w).collect()
    }
    for r in kept:
        s = scores[r["doc_id"]]
        expected_band = "high" if s >= 0.55 else ("mid" if s >= 0.45 else "low")
        assert r["band"] == expected_band and r["score"] == s

    kept2 = {
        r["doc_id"] for r in quality_mix(docs.repartition(13), w).collect()
    }
    assert kept2 == {r["doc_id"] for r in kept}


def test_temperature_fractions(spark):
    """tau<1 upweights rare strata; fractions sum to 1; tau=1 recovers
    plain proportions."""
    from minivectordb_spark.operators.prep import temperature_fractions

    df = spark.createDataFrame(
        [(i, "en" if i < 90 else "sw") for i in range(100)], ["doc_id", "lang"]
    )
    t7 = {r["stratum"]: r["mix_frac"] for r in temperature_fractions(df, tau=0.7).collect()}
    t1 = {r["stratum"]: r["mix_frac"] for r in temperature_fractions(df, tau=1.0).collect()}
    assert abs(sum(t7.values()) - 1.0) < 1e-9
    assert t1["en"] == pytest.approx(0.9) and t1["sw"] == pytest.approx(0.1)
    assert t7["sw"] > t1["sw"]  # rare stratum upweighted at tau < 1
    assert t7["en"] < t1["en"]


def test_vocabulary(spark):
    from minivectordb_spark.operators.prep import vocabulary

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a c"), (3, "")], ["doc_id", "text"]
    )
    rows = vocabulary(df).collect()
    got = {r["token"]: (r["count"], r["doc_freq"]) for r in rows}
    assert got == {"a": (3, 2), "b": (1, 1), "c": (1, 1)}
    assert rows[0]["token"] == "a"  # count desc first
    top1 = vocabulary(df, top_n=1).collect()
    assert len(top1) == 1 and top1[0]["token"] == "a"
    assert {r["token"] for r in vocabulary(df, min_count=2).collect()} == {"a"}


def test_stratified_sample_null_stratum_default_bucket(spark):
    """NULL strata must fall into the default bucket, not be silently
    dropped by a NULL ~isin() (review finding)."""
    from minivectordb_spark.operators.prep import stratified_sample

    df = spark.createDataFrame(
        [(1, None), (2, "en"), (3, None)], "doc_id long, lang string"
    )
    kept = stratified_sample(
        df, fractions={"en": 1.0}, default_fraction=1.0
    ).collect()
    assert sorted(r["doc_id"] for r in kept) == [1, 2, 3]


def test_vocabulary_top_n_zero(spark):
    from minivectordb_spark.operators.prep import vocabulary

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    assert vocabulary(df, top_n=0).count() == 0


def test_connected_components_nonconvergence_raises(spark):
    from minivectordb_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(chain, max_iter=1, collect_threshold=0)
    # with enough rounds the same chain resolves fine
    got = {r["id"]: r["component"] for r in connected_components(chain, max_iter=10).collect()}
    assert set(got.values()) == {0}


def test_bm25_hand_computed(spark):
    """3-doc corpus, single-token query — score checked against the Okapi
    formula computed by hand in Python."""
    import math

    from minivectordb_spark.operators.bm25 import bm25_search

    df = spark.createDataFrame(
        [(1, "cat cat dog"), (2, "cat"), (3, "fish fish")], ["doc_id", "text"]
    )
    rows = bm25_search(df, ["cat"], k=10).collect()
    got = {r["doc_id"]: r["bm25"] for r in rows}
    n, avgdl = 3, (3 + 1 + 2) / 3
    df_t = 2
    idf = math.log((n - df_t + 0.5) / (df_t + 0.5) + 1.0)

    def okapi(tf, dl):
        return round(idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6)

    assert got == {1: okapi(2, 3), 2: okapi(1, 1)}  # doc 3 has no match
    # doc 2 (dl=1, tf=1) outranks doc 1 (dl=3, tf=2): length normalization
    # beats raw tf at these sizes — exactly what the formula says
    assert got[2] > got[1]


def test_bm25_multi_token_and_empty(spark):
    from minivectordb_spark.operators.bm25 import bm25_search

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d"), (3, "x y z")], ["doc_id", "text"]
    )
    rows = bm25_search(df, ["a", "d"], k=10).collect()
    ids = {r["doc_id"] for r in rows}
    assert ids == {1, 2}
    assert bm25_search(df, ["zzz"], k=5).count() == 0  # absent token
    assert bm25_search(df, [], k=5).count() == 0


def test_bm25_map_mode_matches_expr_mode(spark, sf_dir):
    """The aggregate-over-idf-map scoring path (long-query plan, VERDICT r3
    item 4) must produce bit-identical scores to the unrolled per-token
    expression: fold order is engineered to match (sorted tokens, 0.0
    seed, absent tokens contribute exact +0.0)."""
    from minivectordb_spark.operators.bm25 import bm25_search

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = ["vector", "hash", "join", "spark", "filter", "nosuchtoken"]
    expr = bm25_search(docs, q, k=30, mode="expr").collect()
    mapped = bm25_search(docs, q, k=30, mode="map").collect()
    assert [(r["doc_id"], r["bm25"]) for r in expr] == [
        (r["doc_id"], r["bm25"]) for r in mapped
    ]


def test_bm25_long_query_bounded_plan(spark):
    """A 200-token query must NOT compile one __toks-rescanning branch per
    token: auto mode switches to the single aggregate() fold, so the
    analyzed plan contains O(1) filter/aggregate nodes, not O(|Q|)."""
    from minivectordb_spark.operators.bm25 import EXPR_TOKEN_BOUND, bm25_search

    df = spark.createDataFrame(
        [(1, "tok0 tok1 tok2 shared"), (2, "tok5 shared shared")],
        ["doc_id", "text"],
    )
    long_query = [f"tok{i}" for i in range(200)] + ["shared"]
    assert len(long_query) > EXPR_TOKEN_BOUND
    out = bm25_search(df, long_query, k=10)  # auto -> map mode
    plan = out._jdf.queryExecution().analyzed().toString()
    # the unrolled form would contain ~201 filter(__toks, ...) scans
    assert plan.count("filter(__toks") <= 3
    assert plan.count("aggregate(") <= 2
    # and it still computes correct scores (both docs match 'shared' + toks)
    rows = out.collect()
    assert {r["doc_id"] for r in rows} == {1, 2}
    # doc 2: tf(shared)=2 and a shorter... doc1 dl=4 matches 4 tokens;
    # sanity: scores positive and deterministic across the two modes
    expr_rows = bm25_search(df, long_query, k=10, mode="expr").collect()
    assert [(r["doc_id"], r["bm25"]) for r in rows] == [
        (r["doc_id"], r["bm25"]) for r in expr_rows
    ]


def test_bm25_batch_matches_single(spark, sf_dir):
    """bm25_search_batch = one corpus pass for all queries; per-query
    results must equal the single-query operator's."""
    from minivectordb_spark.operators.bm25 import bm25_search, bm25_search_batch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = {0: ["vector", "hash"], 1: ["spark", "merge", "window"]}
    batch = bm25_search_batch(docs, queries, k=15)
    got = {
        qid: [(r["doc_id"], r["bm25"]) for r in rows]
        for qid, rows in _group_sorted(batch.collect(), "query_id")
    }
    for qid, toks in queries.items():
        single = bm25_search(docs, toks, k=15).collect()
        assert got[qid] == [(r["doc_id"], r["bm25"]) for r in single], f"q{qid}"


def _group_sorted(rows, key):
    from itertools import groupby

    rows = sorted(rows, key=lambda r: (r[key], -r["bm25"], r["doc_id"]))
    return [(k, list(g)) for k, g in groupby(rows, key=lambda r: r[key])]


def test_rrf_fuse_batch_matches_single(spark):
    """rrf_fuse_batch per query == rrf_fuse run on that query's legs."""
    from minivectordb_spark.operators.hybrid import rrf_fuse, rrf_fuse_batch

    a = spark.createDataFrame(
        [(0, 1, 0.9), (0, 2, 0.8), (1, 2, 0.7), (1, 3, 0.6)],
        ["query_id", "vec_id", "s"],
    )
    b = spark.createDataFrame(
        [(0, 2, 5.0), (0, 9, 4.0), (1, 3, 2.0)], ["query_id", "doc_id", "t"]
    )
    batch = rrf_fuse_batch(
        a, b, "s", "t", k=10, id_a="vec_id", id_b="doc_id"
    ).collect()
    for qid in (0, 1):
        single = rrf_fuse(
            a.filter(f"query_id = {qid}").drop("query_id"),
            b.filter(f"query_id = {qid}").drop("query_id"),
            "s", "t", k=10, id_a="vec_id", id_b="doc_id",
        ).collect()
        got = sorted(
            [(r["id"], r["rrf"]) for r in batch if r["query_id"] == qid],
            key=lambda x: (-x[1], x[0]),
        )
        assert got == [(r["id"], r["rrf"]) for r in single], f"q{qid}"


def test_rrf_fuse_hand_computed(spark):
    """RRF on two 3-row lists with one shared id — exact 1/(60+rank) sums,
    single-list ids contribute one term."""
    from minivectordb_spark.operators.hybrid import rrf_fuse

    a = spark.createDataFrame([(1, 0.9), (2, 0.8), (3, 0.7)], ["vec_id", "s"])
    b = spark.createDataFrame([(2, 5.0), (9, 4.0)], ["doc_id", "t"])
    rows = rrf_fuse(a, b, "s", "t", k=10, id_a="vec_id", id_b="doc_id").collect()
    got = {r["id"]: r["rrf"] for r in rows}
    assert got == {
        1: round(1 / 61, 6),
        2: round(1 / 62 + 1 / 61, 6),  # rank 2 dense, rank 1 sparse
        3: round(1 / 63, 6),
        9: round(1 / 62, 6),
    }
    # shared id ranks first
    assert rows[0]["id"] == 2


def test_pack_sequences_hand_computed(spark):
    """Concatenation packing: shard = id % 2, budget 10; hand-checked
    start offsets, window ids, straddling doc, and an over-budget doc."""
    from minivectordb_spark.operators.prep import pack_sequences

    rows = [
        # shard 0: ids 0,2,4  tokens 6,6,25 -> starts 0,6,12
        (0, 6), (2, 6), (4, 25),
        # shard 1: ids 1,3    tokens 10,3  -> starts 0,10
        (1, 10), (3, 3),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    out = {
        r["doc_id"]: r
        for r in pack_sequences(df, budget=10, n_shards=2).collect()
    }
    G = 1_000_000_000_000
    assert (out[0]["seq"], out[0]["seq_off"]) == (0, 0)
    # doc 2 starts at offset 6 inside window 0 and straddles into window 1
    assert (out[2]["seq"], out[2]["seq_off"]) == (0, 6)
    # doc 4 is longer than the budget: it owns window 1 onward, seq = start//B
    assert (out[4]["seq"], out[4]["seq_off"]) == (1, 2)
    assert (out[1]["seq"], out[1]["seq_off"]) == (G + 0, 0)
    assert (out[3]["seq"], out[3]["seq_off"]) == (G + 1, 0)


def test_pack_sequences_plan_single_exchange(spark):
    """One hash shuffle (by shard) and zero Python UDFs: the window cumsum
    must reuse the shard partitioning, not add a second Exchange."""
    from minivectordb_spark.operators.prep import pack_sequences

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("n_tokens")
    )
    plan = pack_sequences(df, budget=64, n_shards=4)._jdf.queryExecution().executedPlan().toString()
    # count the shuffle operator specifically: bare "Exchange" also matches
    # AQE wrapper nodes (AQEShuffleRead) and is version-unstable (ADVICE r4)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_one_sided_probing_documented_miss(spark):
    """Adversarial pin of the one-sided query-directed probing contract
    (VERDICT r4 item 3): a pair at cosine >= threshold whose single
    differing sign-bit plane is OUTSIDE the smaller id's closest-max_probes
    margin set is a DOCUMENTED MISS — only the smaller id probes, and it
    flips only its own closest planes.  Exhaustive Hamming-1 probing
    (max_probes=None) must still find the same pair, proving the miss is
    the probe cap, not the banding."""
    from minivectordb_spark.operators.dedup import embedding_neardup_pairs

    # planes = standard basis of R^6, so margin on plane i is just |x_i|.
    planes = [[1.0 if j == i else 0.0 for j in range(6)] for i in range(6)]
    u = [0.001, 0.002, 0.05, 1.0, 1.0, 1.0]   # closest-2 planes: {0, 1}
    v = [0.001, 0.002, -0.05, 1.0, 1.0, 1.0]  # differs in plane 2 only
    # cosine(u, v) ~ 0.9983 — a true near-dup at threshold 0.9
    df = spark.createDataFrame([(1, u), (2, v)], ["vec_id", "embedding"])

    capped = embedding_neardup_pairs(
        df, threshold=0.9, planes=planes, max_probes=2
    ).collect()
    assert capped == [], (
        "pair must be missed: smaller id's closest-2 planes {0,1} exclude "
        f"the differing plane 2, got {capped}"
    )

    exhaustive = embedding_neardup_pairs(
        df, threshold=0.9, planes=planes, max_probes=None
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in exhaustive] == [(1, 2)]


def test_one_sided_probing_measured_recall(spark):
    """Measured recall bound for the graded adaptive path on a seeded
    clustered corpus (jittered replicas, the scaling harness's shape):
    one-sided query-directed probing (max_probes=4) must recover >= 95% of
    the brute-force truth at the graded threshold, and every emitted pair
    must be exact-verified (subset of truth — the cosine filter is exact,
    only candidate GENERATION approximates)."""
    import numpy as np

    from minivectordb_spark.operators.dedup import embedding_neardup_pairs

    rng = np.random.default_rng(1234)
    base = rng.normal(size=(60, 16))
    rows = []
    vid = 0
    for b in base:
        for rep in range(3):  # 3 jittered replicas per base vector
            jit = b * (1.0 + 1e-3 * rep * np.sin(np.arange(16) + 1))
            rows.append((vid, [float(x) for x in jit]))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    truth = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            df, threshold=0.95, brute_force=True
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(
            df, threshold=0.95, max_probes=4, target_block_size=32
        ).collect()
    }
    assert truth, "seeded corpus must contain true near-dup pairs"
    assert got <= truth, f"false positives: {sorted(got - truth)[:5]}"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, f"recall {recall:.3f} below documented bound 0.95"


def test_lloyd_kmeans_deterministic_and_adaptive(spark):
    """lloyd_kmeans_centroids: same input -> identical centers (no RNG);
    centers move toward cluster means (data-adaptive, unlike
    seed_centroids); every centroid id from the seed set survives
    (empty clusters keep their previous center)."""
    from minivectordb_spark.operators.ann import (
        lloyd_kmeans_centroids,
        seed_centroids,
    )

    # two well-separated blobs in R^4; seeds (ids 0,1) land one per blob
    rows = [
        (0, [1.0, 0.0, 0.1, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.1]),
        (2, [0.9, 0.1, 0.1, 0.0]),
        (3, [1.1, 0.1, 0.1, 0.0]),
        (4, [0.1, 0.9, 0.0, 0.1]),
        (5, [-0.1, 1.1, 0.1, 0.1]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    a = lloyd_kmeans_centroids(df, 2, iters=2).collect()
    b = lloyd_kmeans_centroids(df, 2, iters=2).collect()
    got_a = {r["centroid_id"]: r["centroid_emb"] for r in a}
    got_b = {r["centroid_id"]: r["centroid_emb"] for r in b}
    assert got_a == got_b  # bit-identical across runs
    assert sorted(got_a) == [0, 1]  # all seed ids survive

    seeds = {
        r["centroid_id"]: r["centroid_emb"]
        for r in seed_centroids(df, 2).collect()
    }
    # fitted centers differ from the raw seeds and equal the blob means
    assert got_a[0] != seeds[0]
    assert got_a[0] == pytest.approx([1.0, 0.2 / 3, 0.1, 0.0], abs=1e-6)
    assert got_a[1] == pytest.approx([0.0, 1.0, 0.1 / 3, 0.1], abs=1e-6)


def test_semantic_dedup_within_cluster_only(spark):
    """semantic_dedup drops the non-min member of a same-cluster near-dup
    group and keeps everything else; a near-dup pair SPLIT across two
    clusters is not compared — SemDeDup's documented approximation."""
    from minivectordb_spark.operators.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # centroid A seed
        (1, [0.0, 1.0, 0.0, 0.0]),   # centroid B seed
        (2, [1.0, 0.001, 0.0, 0.0]), # ~dup of 0, lands in A -> dropped
        (3, [0.0, 1.0, 0.001, 0.0]), # ~dup of 1, lands in B -> dropped
        (4, [0.0, 0.0, 1.0, 0.0]),   # unique, no near-dup anywhere
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        ["centroid_id", "centroid_emb"],
    )
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup(df, cents, threshold=0.99).collect()
    )
    assert kept == [0, 1, 4]

    # straddling pair: 5 and 6 are near-identical but argmax-assign to
    # DIFFERENT clusters (tiny opposite leans) -> both survive (blocking
    # approximation, not a bug)
    rows2 = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.70712, 0.70709, 0.0, 0.0]),  # leans to A
        (6, [0.70709, 0.70712, 0.0, 0.0]),  # leans to B
    ]
    df2 = spark.createDataFrame(rows2, ["vec_id", "embedding"])
    kept2 = sorted(
        r["vec_id"]
        for r in semantic_dedup(df2, cents, threshold=0.99).collect()
    )
    assert kept2 == [0, 1, 5, 6]


def test_semantic_dedup_matmul_branch_matches_fold_branch(spark):
    """The matmul assignment branch of semantic_dedup (r14: carries the
    embedding through the kernel instead of re-joining the corpus by id)
    must keep the exact survivor set of the fold branch, with and
    without the cluster cap."""
    import minivectordb_spark.operators.ann as ann
    from minivectordb_spark.operators.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [1.0, 0.001, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.001, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
        (5, [0.9999, 0.0001, 0.0, 0.0]),
        (6, [0.0, 0.0, 0.999, 0.001]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        ["centroid_id", "centroid_emb"],
    )
    for cap in (None, 2):
        fold = sorted(
            r["vec_id"]
            for r in semantic_dedup(
                df, cents, threshold=0.99, max_cluster_size=cap
            ).collect()
        )
        orig = ann.MATMUL_MIN_K
        ann.MATMUL_MIN_K = 1
        try:
            mm = sorted(
                r["vec_id"]
                for r in semantic_dedup(
                    df, cents, threshold=0.99, max_cluster_size=cap
                ).collect()
            )
        finally:
            ann.MATMUL_MIN_K = orig
        assert mm == fold


def test_semantic_dedup_cluster_cap_bounds_blocks(spark):
    """max_cluster_size bounds the quadratic pairing term BY CONSTRUCTION:
    one mega-cluster splits into deterministic md5 sub-blocks whose max
    occupancy is near the cap; a non-binding cap changes nothing; and the
    capped survivor set is a SUPERSET of the uncapped one (splitting can
    only forgo edges, never invent them)."""
    import math
    import random

    from pyspark.sql import functions as F

    from minivectordb_spark.operators.dedup import (
        semantic_blocks,
        semantic_dedup,
    )

    rng = random.Random(5)
    # 300 rows, all pulled to ONE centroid: x-dominant unit-ish vectors
    # with 30 jittered near-dup replicas of row 0
    rows = []
    for i in range(300):
        if 1 <= i <= 30:
            base = [1.0, 0.01, 0.01, 0.01]
            rows.append((i, [v + rng.uniform(-1e-4, 1e-4) for v in base]))
        else:
            rows.append(
                (i, [1.0] + [rng.uniform(-0.05, 0.05) for _ in range(3)])
            )
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [-1.0, 0.0, 0.0, 0.0])],
        ["centroid_id", "centroid_emb"],
    )

    # the split itself: cap 50 over a 300-row cluster -> 6 sub-blocks,
    # every block bounded well under the cluster size, deterministic
    assigned = df.select("vec_id", F.lit(0).alias("centroid_id"))
    split, bc = semantic_blocks(assigned, "vec_id", 50)
    sizes = {r[bc]: r["n"] for r in split.groupBy(bc).agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert len(sizes) == math.ceil(300 / 50)
    assert max(sizes.values()) < 300
    assert sum(sizes.values()) == 300
    split2, _ = semantic_blocks(assigned, "vec_id", 50)
    assert sorted(split2.collect()) == sorted(split.collect())

    uncapped = {
        r["vec_id"]
        for r in semantic_dedup(df, cents, threshold=0.999).collect()
    }
    nonbinding = {
        r["vec_id"]
        for r in semantic_dedup(
            df, cents, threshold=0.999, max_cluster_size=1000
        ).collect()
    }
    assert nonbinding == uncapped
    capped = {
        r["vec_id"]
        for r in semantic_dedup(
            df, cents, threshold=0.999, max_cluster_size=50
        ).collect()
    }
    assert uncapped <= capped
    # the clique of 31 near-dups still collapses per block: the capped run
    # must drop a substantial share of the 30 replicas
    dropped = set(range(1, 31)) - capped
    assert len(dropped) >= 20


def test_connected_components_long_chain(spark):
    """A 200-hop chain (the loose-threshold similarity-chain shape that
    defeats plain O(diameter) min-label propagation at max_iter=15) must
    converge via pointer jumping in O(log diameter) rounds and collapse
    to the chain head."""
    from minivectordb_spark.operators.dedup import connected_components

    n = 200
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(pairs, collect_threshold=0).collect()
    }
    assert len(got) == n
    assert set(got.values()) == {0}


def test_repeated_passages(docs):
    """Identical docs 0/1 repeat all 7 of their 3-token windows; near-dup
    doc 2 shares 6 of them (n_docs=3); unique docs contribute nothing.
    first_doc is the min holder."""
    from minivectordb_spark.operators.dedup import repeated_passages

    out = {
        r["gram_hash"]: (r["n_docs"], r["first_doc"])
        for r in repeated_passages(docs).collect()
    }
    assert len(out) == 7  # the shared fox-sentence windows, nothing else
    counts = sorted(n for n, _ in out.values())
    assert counts == [2, 3, 3, 3, 3, 3, 3]  # last window differs dog/cat
    assert all(first == 0 for _, first in out.values())


def test_ivf_assign_join_equivalence(spark, emb_df):
    """Broadcast-join assignment (large-K path) must produce exactly the
    inlined-literal assignment: same nearest centroid, same rounded
    cosine, same min-id tiebreak."""
    from minivectordb_spark.operators.ann import (
        ivf_assign,
        ivf_assign_join,
        seed_centroids,
    )

    cents = seed_centroids(emb_df, 5)
    lit = {
        r["vec_id"]: (r["centroid_id"], r["centroid_cos"])
        for r in ivf_assign(emb_df, cents).collect()
    }
    jn = {
        r["vec_id"]: (r["centroid_id"], r["centroid_cos"])
        for r in ivf_assign_join(emb_df, cents).collect()
    }
    assert lit == jn
    # the join path shuffles one row per vector (partial agg), never K
    plan = (
        ivf_assign_join(emb_df, cents)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_decontaminate_flags_overlapping_docs(spark):
    """Corpus doc sharing any 3-gram with the benchmark is flagged with
    the DISTINCT overlapping-gram count; disjoint docs are not."""
    from minivectordb_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            # shares 3 distinct 3-grams with bench
            (0, "the quick brown fox jumps high"),
            # shares exactly one ("quick brown fox")
            (1, "a quick brown fox sleeps"),
            # token overlap but no 3-token window in common
            (2, "fox and quick and brown"),
            (3, "completely unrelated text here"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["n_overlap"]
        for r in decontaminate(corpus, bench).collect()
    }
    assert out == {0: 3, 1: 1}
    # min_overlap raises the bar
    strict = decontaminate(corpus, bench, min_overlap=2).collect()
    assert [r["doc_id"] for r in strict] == [0]


def test_decontaminate_plan_broadcast_probe(spark):
    """The benchmark gram set must broadcast (map-only corpus probe): the
    corpus side sees exactly one hash shuffle (the final per-doc count).
    The second Exchange in the plan is the BENCHMARK side's distinct —
    it moves eval-set grams only, never corpus data."""
    from minivectordb_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame([(9, "a b c d")], ["doc_id", "text"])
    corpus = spark.createDataFrame([(0, "a b c d e")], ["doc_id", "text"])
    df = decontaminate(corpus, bench)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    # the corpus-side shuffle keys on the doc id (per-doc count); the
    # gram-keyed shuffle must sit under the BroadcastExchange (benchmark)
    bcast_part = plan.split("BroadcastExchange", 1)[1]
    assert "Exchange hashpartitioning(gram_hash" in bcast_part
    before_bcast = plan.split("BroadcastExchange", 1)[0]
    assert "Exchange hashpartitioning(gram_hash" not in before_bcast


def test_lm_score_hand_computed(spark):
    """Unigram logp from corpus frequencies: hand-check a 2-doc corpus."""
    import math

    from minivectordb_spark.operators.text import lm_score

    df = spark.createDataFrame(
        [(0, "a a b"), (1, "a c")], ["doc_id", "text"]
    )
    # counts: a=3, b=1, c=1, T=5
    lp = {t: round(math.log(c / 5), 6) for t, c in {"a": 3, "b": 1, "c": 1}.items()}
    out = {r["doc_id"]: r for r in lm_score(df).collect()}
    assert out[0]["n_tokens"] == 3
    assert out[0]["avg_logp"] == pytest.approx(
        round((2 * lp["a"] + lp["b"]) / 3, 6), abs=1e-9
    )
    assert out[1]["n_tokens"] == 2
    assert out[1]["avg_logp"] == pytest.approx(
        round((lp["a"] + lp["c"]) / 2, 6), abs=1e-9
    )


def test_lm_score_empty_doc_drops(spark):
    from minivectordb_spark.operators.text import lm_score

    df = spark.createDataFrame([(0, "x y"), (1, "")], ["doc_id", "text"])
    assert [r["doc_id"] for r in lm_score(df).collect()] == [0]


def test_lm_score_plan_broadcast_vocab(spark):
    """The vocab probe join must be broadcast (no shuffle of the exploded
    corpus for the join itself)."""
    from minivectordb_spark.operators.text import lm_score

    df = spark.createDataFrame([(0, "a b"), (1, "b c")], ["doc_id", "text"])
    plan = lm_score(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_dsir_logweights_hand_computed(spark):
    """2-doc corpus, target = doc 0: verify the add-one-smoothed
    importance log-ratio sum against a pure-python replay."""
    import hashlib
    import math

    from minivectordb_spark.operators.prep import dsir_logweights

    rows = [(0, "a b a"), (1, "c d")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    target = df.filter(F.col("doc_id") == 0)
    B = 64

    def bucket(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % B

    def feats(text):
        tk = text.split(" ")
        return [bucket(t) for t in tk] + [
            bucket(f"{tk[i]} {tk[i+1]}") for i in range(len(tk) - 1)
        ]

    raw, tgt = {}, {}
    for i, text in rows:
        for b in feats(text):
            raw[b] = raw.get(b, 0) + 1
            if i == 0:
                tgt[b] = tgt.get(b, 0) + 1
    t_raw, t_tgt = sum(raw.values()), sum(tgt.values())
    lr = {
        b: round(
            math.log((tgt.get(b, 0) + 1) / (t_tgt + B))
            - math.log((c + 1) / (t_raw + B)),
            6,
        )
        for b, c in raw.items()
    }
    expected = {
        i: (len(feats(text)), round(sum(lr[b] for b in feats(text)), 6))
        for i, text in rows
    }
    out = {
        r["doc_id"]: (r["n_feats"], r["log_weight"])
        for r in dsir_logweights(df, target, n_buckets=B).collect()
    }
    assert out.keys() == expected.keys()
    for k in expected:
        assert out[k][0] == expected[k][0]
        assert out[k][1] == pytest.approx(expected[k][1], abs=1e-9)
    # target-like doc scores strictly higher than the off-target doc
    assert out[0][1] > out[1][1]


def test_dsir_plan_broadcast_ratio_table(spark):
    """The bucket log-ratio table must broadcast: the corpus-sized probe
    stage is map-only, and no shuffle keys on the corpus row count."""
    from minivectordb_spark.operators.prep import dsir_logweights

    df = spark.createDataFrame([(0, "a b"), (1, "c a")], ["doc_id", "text"])
    plan = (
        dsir_logweights(df, df.limit(1))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_connected_components_driver_matches_distributed(spark):
    """Randomized equivalence: the size-gated driver union-find and the
    distributed min-label loop must return identical (id, component)
    sets on an arbitrary multigraph with chains, cliques and isolates."""
    import random

    from minivectordb_spark.operators.dedup import connected_components

    rng = random.Random(11)
    edges = [
        (rng.randrange(60), rng.randrange(60)) for _ in range(120)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    drv = sorted(map(tuple, connected_components(pairs).collect()))
    dist = sorted(map(tuple, connected_components(pairs, collect_threshold=0).collect()))
    assert drv == dist


def test_gumbel_topk_deterministic_and_weighted(spark):
    """Same seed -> identical selection across calls; keys replay the
    documented hash draw; heavy weights dominate the selection."""
    import hashlib
    import math

    from minivectordb_spark.operators.prep import gumbel_topk

    rows = [(i, 5.0 if i < 10 else -5.0) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "log_weight"])

    def expected_key(i, lw, seed=17):
        u = (int(hashlib.md5(f"{seed}|{i}".encode()).hexdigest()[:8], 16) + 1) / (
            (1 << 32) + 1
        )
        return round(lw + -math.log(-math.log(u)), 6)

    out = gumbel_topk(df, k=10).collect()
    assert len(out) == 10
    for r in out:
        assert r["gumbel_key"] == pytest.approx(
            expected_key(r["doc_id"], r["log_weight"]), abs=1e-9
        )
    # exp(5) vs exp(-5): the ten heavy rows win essentially surely
    assert all(r["doc_id"] < 10 for r in out)
    again = gumbel_topk(df, k=10).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # a different seed reshuffles within the heavy band
    other = gumbel_topk(df, k=10, seed=18).collect()
    assert {r["doc_id"] for r in other} == set(range(10))


def test_gumbel_topk_plan_no_global_sort(spark):
    """TakeOrderedAndProject, not a global Sort+Exchange."""
    from minivectordb_spark.operators.prep import gumbel_topk

    df = spark.createDataFrame([(i, 0.0) for i in range(50)], ["doc_id", "log_weight"])
    plan = gumbel_topk(df, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_ivf_assign_matmul_equivalence(spark, emb_df):
    """BLAS matmul assignment must agree with the join path: same nearest
    centroid everywhere, cosines equal to 1e-9 (the documented ulp-level
    BLAS-vs-fold difference, rounded at 6 dp)."""
    from minivectordb_spark.operators.ann import (
        _collect_centroids,
        ivf_assign_join,
        ivf_assign_matmul,
        seed_centroids,
    )

    cents = seed_centroids(emb_df, 5)
    rows = _collect_centroids(cents)
    jn = {
        r["vec_id"]: (r["centroid_id"], r["centroid_cos"])
        for r in ivf_assign_join(emb_df, cents).collect()
    }
    mm = {
        r["vec_id"]: (r["centroid_id"], r["centroid_cos"])
        for r in ivf_assign_matmul(emb_df, rows).collect()
    }
    assert jn.keys() == mm.keys()
    for vid in jn:
        assert jn[vid][0] == mm[vid][0]
        assert mm[vid][1] == pytest.approx(jn[vid][1], abs=1e-9)


def test_lloyd_kmeans_matmul_path_matches_join_path(spark, emb_df):
    """Force the matmul dispatch (MATMUL_MIN_K=0 monkeypatch is not
    needed: fit with K >= MATMUL_MIN_K via a wide seed set is impractical
    on the tiny fixture, so instead pin that BOTH assignment paths yield
    the same fit when K is small by comparing against the recorded
    join-path centers)."""
    import minivectordb_spark.operators.ann as ann

    cents_join = ann.lloyd_kmeans_centroids(emb_df, 4, iters=2).collect()
    orig = ann.MATMUL_MIN_K
    ann.MATMUL_MIN_K = 1  # force the BLAS path for the same tiny K
    try:
        cents_mm = ann.lloyd_kmeans_centroids(emb_df, 4, iters=2).collect()
    finally:
        ann.MATMUL_MIN_K = orig
    a = {r["centroid_id"]: r["centroid_emb"] for r in cents_join}
    b = {r["centroid_id"]: r["centroid_emb"] for r in cents_mm}
    assert a.keys() == b.keys()
    for cid in a:
        assert a[cid] == pytest.approx(b[cid], abs=1e-6)


def test_dedup_against_drops_reference_neardups(spark):
    """New docs near-duplicating the reference are dropped; novel docs and
    reference-internal duplicates survive (reference is never self-paired)."""
    from minivectordb_spark.operators.dedup import dedup_against

    ref = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "the quick brown fox jumps over the lazy dog"),  # ref-internal dup
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),  # exact dup of ref
            (1, "the quick brown fox jumps over the lazy cat"),  # near dup of ref
            (2, "completely different content about spark engines"),
        ],
        ["doc_id", "text"],
    )
    out = sorted(
        r["doc_id"] for r in dedup_against(new, ref, threshold=0.5).collect()
    )
    assert out == [2]
    # high threshold keeps the near-dup, still drops the exact dup
    strict = sorted(
        r["doc_id"] for r in dedup_against(new, ref, threshold=0.99).collect()
    )
    assert strict == [1, 2]


def test_dedup_against_empty_reference_keeps_all(spark):
    from minivectordb_spark.operators.dedup import dedup_against

    ref = spark.createDataFrame([], "doc_id long, text string")
    new = spark.createDataFrame([(0, "a b c d")], ["doc_id", "text"])
    assert dedup_against(new, ref).count() == 1


def test_dedup_against_indexed_equivalence(spark, tmp_path):
    """save_dedup_index + dedup_against_indexed == dedup_against at every
    threshold tried: the persisted-reference path must change the PLAN
    (reference banding paid once; index side probed via broadcast join,
    never shuffled), never the answer.  Also pins the manifest id_col
    guard and that a second probe reuses the index files unchanged."""
    from minivectordb_spark.operators.dedup import (
        dedup_against,
        dedup_against_indexed,
        save_dedup_index,
    )

    ref = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "the quick brown fox jumps over the lazy dog"),
            (102, "spark catalyst optimizer rewrites logical plans"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
            (2, "completely different content about parquet files"),
            (3, "spark catalyst optimizer rewrites logical plans quickly"),
        ],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "dedup_idx")
    save_dedup_index(ref, idx)
    for thr in (0.5, 0.99):
        direct = sorted(
            r["doc_id"] for r in dedup_against(new, ref, threshold=thr).collect()
        )
        probed = sorted(
            r["doc_id"]
            for r in dedup_against_indexed(new, idx, threshold=thr).collect()
        )
        assert probed == direct, f"threshold {thr}"
    # second probe (index reuse) still agrees
    again = sorted(
        r["doc_id"] for r in dedup_against_indexed(new, idx, threshold=0.5).collect()
    )
    assert again == sorted(
        r["doc_id"] for r in dedup_against(new, ref, threshold=0.5).collect()
    )
    with pytest.raises(ValueError, match="id_col"):
        dedup_against_indexed(new, idx, id_col="other_id")


def test_neardup_against_drops_reference_neardups(spark):
    """Cross-corpus embedding near-dup: (a) an exact duplicate of a
    reference vector is dropped, a far vector survives; (b) every DROP is
    a true near-dup (the verify is exact cosine, so the ANN path can only
    MISS hits, never invent them) — survivors are a superset of the brute
    answer by construction, pinned against a numpy brute pass; (c) the
    reference is never self-paired (ref-internal dups irrelevant)."""
    import numpy as np

    from minivectordb_spark.operators.dedup import neardup_against

    rng = np.random.RandomState(11)
    ref_vecs = rng.randn(40, 8).astype("float32")
    ref_rows = [(100 + i, v.tolist()) for i, v in enumerate(ref_vecs)]
    new_rows = [
        (0, ref_vecs[3].tolist()),                      # exact dup of ref 103
        (1, (-ref_vecs[5]).tolist()),                   # antipode: cos = -1
        (2, rng.randn(8).astype("float32").tolist()),   # random
        (3, (ref_vecs[7] * 2.0).tolist()),              # scaled dup: cos = 1
    ]
    ref = spark.createDataFrame(ref_rows, ["vec_id", "embedding"])
    new = spark.createDataFrame(new_rows, ["vec_id", "embedding"])
    got = {
        r["vec_id"]
        for r in neardup_against(
            new, ref, threshold=0.95, max_probes=None, target_block_size=8
        ).collect()
    }
    assert 0 not in got and 3 not in got  # exact + scaled dups dropped
    assert 1 in got  # antipode survives

    # one-sided error direction: drops must be true near-dups
    R = ref_vecs / np.linalg.norm(ref_vecs, axis=1, keepdims=True)
    for vid, v in new_rows:
        if vid in got:
            continue
        vn = np.array(v) / np.linalg.norm(v)
        assert np.round(R @ vn, 6).max() >= 0.95, f"false drop of {vid}"


def test_neardup_against_indexed_equivalence_and_loop(spark, tmp_path):
    """save_neardup_index + neardup_against_indexed == neardup_against
    under the index's frozen planes; update_neardup_index closes the
    probe -> accept -> append loop (an appended survivor dedups the next
    batch); manifest column guard raises."""
    import numpy as np

    from minivectordb_spark.operators.dedup import (
        neardup_against,
        neardup_against_indexed,
        save_neardup_index,
        update_neardup_index,
    )

    rng = np.random.RandomState(23)
    ref_vecs = rng.randn(60, 8).astype("float32")
    ref = spark.createDataFrame(
        [(100 + i, v.tolist()) for i, v in enumerate(ref_vecs)],
        ["vec_id", "embedding"],
    )
    new_vecs = [ref_vecs[4].tolist()] + [
        rng.randn(8).astype("float32").tolist() for _ in range(9)
    ]
    new = spark.createDataFrame(
        [(i, v) for i, v in enumerate(new_vecs)], ["vec_id", "embedding"]
    )
    idx = str(tmp_path / "nidx")
    save_neardup_index(ref, idx, target_block_size=8)
    # the index froze the adaptive planes; replay the same choice directly
    from minivectordb_spark.operators.dedup import _neardup_resolve_planes

    planes = _neardup_resolve_planes(ref, "embedding", "vec_id", None, 8)
    for thr in (0.95, 0.5):
        direct = sorted(
            r["vec_id"]
            for r in neardup_against(
                new, ref, threshold=thr, planes=planes, max_probes=4
            ).collect()
        )
        probed = sorted(
            r["vec_id"]
            for r in neardup_against_indexed(
                new, idx, threshold=thr, max_probes=4
            ).collect()
        )
        assert probed == direct, f"threshold {thr}"
        assert 0 not in probed  # the exact dup of ref 104 is dropped

    survivors = neardup_against_indexed(new, idx, threshold=0.95, max_probes=4)
    update_neardup_index(survivors, idx)
    # a copy of an appended survivor is now dropped by the next batch
    kept_vec = survivors.orderBy("vec_id").first()["embedding"]
    batch2 = spark.createDataFrame(
        [(50, list(kept_vec)), (51, rng.randn(8).astype("float32").tolist())],
        ["vec_id", "embedding"],
    )
    got2 = sorted(
        r["vec_id"]
        for r in neardup_against_indexed(
            batch2, idx, threshold=0.95, max_probes=4
        ).collect()
    )
    assert 50 not in got2

    with pytest.raises(ValueError, match="id_col"):
        neardup_against_indexed(new, idx, id_col="other")


def test_update_dedup_index_ingest_loop(spark, tmp_path):
    """The incremental loop: probe -> accept survivors -> append them to
    the index -> the NEXT batch dedups against the appended docs too."""
    from minivectordb_spark.operators.dedup import (
        dedup_against_indexed,
        save_dedup_index,
        update_dedup_index,
    )

    ref = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "idx")
    save_dedup_index(ref, idx)

    batch1 = spark.createDataFrame(
        [(0, "spark catalyst optimizer rewrites logical plans")],
        ["doc_id", "text"],
    )
    survivors1 = dedup_against_indexed(batch1, idx, threshold=0.5)
    assert survivors1.count() == 1  # novel doc survives
    update_dedup_index(survivors1, idx)

    batch2 = spark.createDataFrame(
        [
            (1, "spark catalyst optimizer rewrites logical plans"),  # dup of appended
            (2, "the quick brown fox jumps over the lazy dog"),  # dup of original ref
            (3, "entirely novel content about parquet row groups"),
        ],
        ["doc_id", "text"],
    )
    out = sorted(
        r["doc_id"]
        for r in dedup_against_indexed(batch2, idx, threshold=0.5).collect()
    )
    assert out == [3]  # both the appended and the original dup are dropped


def test_repetition_stats_hand_computed(spark):
    """Gopher repetition fractions on constructed docs: a degenerate
    repetition loop scores high, normal prose scores low, short docs drop."""
    from minivectordb_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (0, "buy now buy now buy now buy now"),  # 7 bigrams, 2 distinct
            (1, "the quick brown fox jumps over dogs"),  # all distinct
            (2, "x"),  # shorter than n -> drops
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert set(out) == {0, 1}
    r0 = out[0]
    # "buy now" x4, "now buy" x3 -> total 7, distinct 2, top 4/7
    assert r0["n_ngrams"] == 7
    assert r0["dup_ngram_frac"] == pytest.approx(round(1 - 2 / 7, 6))
    assert r0["top_ngram_frac"] == pytest.approx(round(4 / 7, 6))
    r1 = out[1]
    assert r1["dup_ngram_frac"] == 0.0
    assert r1["top_ngram_frac"] == pytest.approx(round(1 / 6, 6))


def test_ensure_parallelism_identity_on_wide_input(spark):
    """The gate must be IDENTITY (no repartition node) when the input
    already has >= defaultParallelism partitions, and must widen a
    narrow input to exactly defaultParallelism."""
    from minivectordb_spark.plans.width import ensure_parallelism

    wide = spark.range(0, 1000, 1, spark.sparkContext.defaultParallelism)
    assert ensure_parallelism(wide) is wide
    narrow = spark.range(0, 1000, 1, 1)
    widened = ensure_parallelism(narrow)
    assert (
        widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )


def test_run_concurrent_keeps_callers_job_group(spark):
    """Overlapped actions run in the caller's job group, so the group's
    status tracking (and ``cancelJobGroup``) covers them."""
    from minivectordb_spark.operators.util import run_concurrent

    sc = spark.sparkContext
    group = "run-concurrent-group-test"
    sc.setJobGroup(group, "run_concurrent inherits the job group")
    try:
        counts = run_concurrent(
            lambda: spark.range(10).count(), lambda: spark.range(20).count()
        )
    finally:
        sc._jsc.clearJobGroup()
    assert counts == [10, 20]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2


def test_decimal_frozen_scores_partitioning_invariant(spark):
    """The engine-parity design claim for lm_score / dsir_logweights: the
    per-entry DECIMAL(18,6) freeze makes per-doc aggregates EXACTLY
    order-independent, so any repartitioning yields bit-identical
    scores (floats would drift at the ulp level across sum orders)."""
    import random

    from minivectordb_spark.operators.prep import dsir_logweights
    from minivectordb_spark.operators.text import lm_score

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(50)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(5, 60))))
        for i in range(40)
    ]
    df1 = spark.createDataFrame(rows, ["doc_id", "text"])
    df2 = df1.repartition(7, "doc_id")
    df3 = df1.repartition(1)

    base = sorted(map(tuple, lm_score(df1).collect()))
    assert sorted(map(tuple, lm_score(df2).collect())) == base
    assert sorted(map(tuple, lm_score(df3).collect())) == base

    tgt = df1.filter(F.col("doc_id") % 3 == 0)
    dbase = sorted(map(tuple, dsir_logweights(df1, tgt).collect()))
    assert sorted(map(tuple, dsir_logweights(df2, tgt.repartition(3)).collect())) == dbase


def test_scrub_repeated_passages_semantics(spark):
    """Lee et al. scrub: repeated windows removed everywhere EXCEPT the
    min-id holder; unique content untouched; short-doc duplicates scrub
    to empty outside their first holder."""
    from minivectordb_spark.operators.dedup import scrub_repeated_passages

    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta unique zero"),
            (1, "alpha beta gamma delta something else entirely"),
            (2, "totally different words here now"),
            (3, "x y"),
            (4, "x y"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["scrubbed"] for r in scrub_repeated_passages(df).collect()}
    assert out[0] == "alpha beta gamma delta unique zero"  # canonical holder
    assert out[1] == "something else entirely"  # shared prefix removed
    assert out[2] == "totally different words here now"  # untouched
    assert out[3] == "x y" and out[4] == ""  # short-doc dup
    assert set(out) == {0, 1, 2, 3, 4}  # every doc keeps its row


def test_sketch_accuracy_contracts(spark):
    """The documented sketch error bounds hold against exact answers on a
    seeded corpus, and the plans are partial-aggregated (the shuffle
    moves sketch buffers, not raw rows)."""
    import random

    from pyspark.sql import functions as F

    from minivectordb_spark.operators.sketches import (
        approx_distinct,
        approx_quantiles,
    )

    rng = random.Random(47)
    rows = [
        (f"g{i % 4}", rng.randrange(0, 5000), rng.gauss(100.0, 15.0))
        for i in range(40_000)
    ]
    df = spark.createDataFrame(rows, ["g", "uid", "v"]).repartition(16)

    exact = {
        r["g"]: r["d"]
        for r in df.groupBy("g").agg(F.count_distinct("uid").alias("d")).collect()
    }
    approx = {
        r["g"]: r["approx_distinct"]
        for r in approx_distinct(df, "uid", group_by=["g"], rsd=0.05).collect()
    }
    for g, d in exact.items():
        assert abs(approx[g] - d) <= 0.15 * d, (g, approx[g], d)  # 3 sigma

    vals = sorted(v for _, _, v in rows)
    probs = [0.5, 0.9, 0.99]
    got = approx_quantiles(df, "v", probs, accuracy=10_000).first()["approx_q"]
    n = len(vals)
    for p, q in zip(probs, got):
        # returned value's true rank must be within 1/accuracy (+ slack)
        import bisect

        rank = bisect.bisect_left(vals, q)
        assert abs(rank - p * n) <= n * 2e-3, (p, q, rank)

    # plan: partial aggregation before the exchange for both sketches
    plan = approx_distinct(df, "uid", group_by=["g"])._jdf.queryExecution().executedPlan().toString()
    assert "partial_approx_count_distinct" in plan


def test_heavy_hitters_exact_contract(spark):
    """heavy_hitters output equals the exact groupBy-HAVING answer on a
    skewed seeded corpus regardless of partitioning (the Misra-Gries
    candidate superset never drops a true heavy hitter), and the
    per-partition summary stays bounded at k entries."""
    import math
    import random

    from pyspark.sql import functions as F

    from minivectordb_spark.operators.sketches import heavy_hitters

    rng = random.Random(31)
    # Zipf-ish skew: a few boilerplate items dominate a long noise tail
    pool = [f"hot{i}" for i in range(5) for _ in range(200)] + [
        f"cold{rng.randrange(0, 4000)}" for _ in range(4000)
    ]
    rng.shuffle(pool)
    theta = 0.02
    for parts in (1, 7, 32):
        df = spark.createDataFrame([(x,) for x in pool], ["item"]).repartition(parts)
        got = {
            (r["item"], r["cnt"]) for r in heavy_hitters(df, "item", theta).collect()
        }
        thr = max(1, math.ceil(theta * len(pool)))
        exact = {
            (r["item"], r["cnt"])
            for r in df.groupBy("item")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .where(F.col("cnt") >= thr)
            .collect()
        }
        assert got == exact, (parts, got ^ exact)
    assert {i for i, _ in exact} == {f"hot{i}" for i in range(5)}

    # bounded state: the mapInPandas summary never exceeds k entries even
    # when the partition's distinct cardinality is far larger
    k = int(1.0 / theta) + 1
    one_part = spark.createDataFrame([(x,) for x in pool], ["item"]).coalesce(1)
    import pandas as pd

    # replicate the internal fold on the full partition in one batch
    counters = {}
    for item, c in pd.Series(pool).value_counts().items():
        counters[item] = counters.get(item, 0) + int(c)
    if len(counters) > k:
        cut = sorted(counters.values(), reverse=True)[k]
        counters = {key: v - cut for key, v in counters.items() if v - cut > 0}
    assert len(counters) <= k
    assert {f"hot{i}" for i in range(5)} <= set(counters)


def test_heavy_hitters_broadcast_probe_path(spark, monkeypatch):
    """Above _HH_ISIN_MAX candidates the pass-2 probe switches from an
    inlined isin literal list to a broadcast LEFT SEMI join; forcing the
    switchover must not change the answer, and the plan must carry the
    broadcast join (never a shuffle of the items side)."""
    import math
    import random

    from pyspark.sql import functions as F

    from minivectordb_spark.operators import sketches

    rng = random.Random(13)
    pool = [f"hot{i}" for i in range(3) for _ in range(150)] + [
        f"cold{rng.randrange(0, 800)}" for _ in range(800)
    ]
    rng.shuffle(pool)
    df = spark.createDataFrame([(x,) for x in pool], ["item"]).repartition(8)
    theta = 0.05
    expected = {
        (r["item"], r["cnt"])
        for r in sketches.heavy_hitters(df, "item", theta).collect()
    }

    monkeypatch.setattr(sketches, "_HH_ISIN_MAX", 0)
    out = sketches.heavy_hitters(df, "item", theta)
    got = {(r["item"], r["cnt"]) for r in out.collect()}
    assert got == expected
    thr = max(1, math.ceil(theta * len(pool)))
    exact = {
        (r["item"], r["cnt"])
        for r in df.groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= thr)
        .collect()
    }
    assert got == exact
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:800]


def test_ivf_assign_join_prestaged_is_explicit(spark, emb_df):
    """Staged-norm reuse is opt-in (prestaged=True), never sniffed from a
    column named __n: an unrelated __n column on the input must be
    ignored (recomputed norms, correct cosines), and prestaged=True
    without the staged column is a clear error (ADVICE r6)."""
    import pytest
    from pyspark.sql import functions as F

    from minivectordb_spark.operators.ann import (
        ivf_assign_join,
        lloyd_kmeans_fit,
        seed_centroids,
    )

    cents = seed_centroids(emb_df, 5)
    want = {
        r["vec_id"]: (r["centroid_id"], r["centroid_cos"])
        for r in ivf_assign_join(emb_df, cents).collect()
    }
    # poison: a coincidental __n column with garbage values
    poisoned = emb_df.withColumn("__n", F.lit(1e9))
    got = {
        r["vec_id"]: (r["centroid_id"], r["centroid_cos"])
        for r in ivf_assign_join(poisoned, cents).collect()
    }
    assert got == want  # garbage __n ignored without prestaged=True
    with pytest.raises(ValueError, match="prestaged"):
        ivf_assign_join(emb_df, cents, prestaged=True)
    # the real staged frame still round-trips bit-identically
    fit_cents, staged = lloyd_kmeans_fit(emb_df, 5, iters=1)
    a = {
        r["vec_id"]: (r["centroid_id"], r["centroid_cos"])
        for r in ivf_assign_join(staged, fit_cents, prestaged=True).collect()
    }
    b = {
        r["vec_id"]: (r["centroid_id"], r["centroid_cos"])
        for r in ivf_assign_join(emb_df.select("vec_id", "embedding"), fit_cents).collect()
    }
    assert a == b


def _bpe_reference(word_counts: dict, n_merges: int):
    """Pure-Python BPE trainer (Sennrich et al. 2016 pseudocode) as the
    independent oracle for bpe_merge_table: same (count DESC, pair ASC)
    tiebreak, same left-to-right non-overlapping merge application."""
    vocab = {
        tuple(list(w) + ["</w>"]): c for w, c in word_counts.items()
    }
    merges = []
    for step in range(n_merges):
        pairs: dict = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, l, r, l + r, c))
        new_vocab = {}
        for syms, cnt in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + cnt
        vocab = new_vocab
    return merges


def test_bpe_merge_table_classic_example(spark):
    """The Sennrich toy corpus: merges must follow the canonical
    greedy order with the deterministic tiebreak."""
    from minivectordb_spark.operators.prep import bpe_merge_table

    rows = (
        [("low",)] * 5 + [("lower",)] * 2 + [("newest",)] * 6 + [("widest",)] * 3
    )
    df = spark.createDataFrame(
        [(i, " ".join(t for t, in rows))] if False else
        [(i, t) for i, (t,) in enumerate(rows)],
        ["doc_id", "text"],
    )
    got = [
        (r["step"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_merge_table(df, n_merges=5).orderBy("step").collect()
    ]
    counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    want = _bpe_reference(counts, 5)
    assert got == want
    # the canonical first merges: (e,s) 9 then (es,t) 9 then (est,</w>) 9
    assert got[0][1:] == ("e", "s", "es", 9)
    assert got[1][1:] == ("es", "t", "est", 9)


def test_bpe_merge_table_matches_reference_random(spark):
    """Randomized corpus (seeded): the relational trainer must equal the
    pure-Python reference exactly, merge for merge — including words
    with repeated characters (the overlapping-pair case the wrapped
    encoding exists for)."""
    import random

    from minivectordb_spark.operators.prep import bpe_merge_table

    rng = random.Random(11)
    words = ["aaa", "aaaa", "abab", "banana", "aa"] + [
        "".join(rng.choices("abcd", k=rng.randrange(1, 7))) for _ in range(40)
    ]
    docs = [
        (i, " ".join(rng.choices(words, k=rng.randrange(1, 12))))
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    counts: dict = {}
    for _, t in docs:
        for w in t.split(" "):
            if w:
                counts[w] = counts.get(w, 0) + 1
    want = _bpe_reference(counts, 12)
    got = [
        (r["step"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_merge_table(df, n_merges=12).orderBy("step").collect()
    ]
    assert got == want


def test_bpe_encode_roundtrip(spark):
    """Encoding with the learned merges: concatenating a word's BPE
    tokens (minus the marker) must reproduce the word, and fully-merged
    frequent words collapse to few tokens."""
    from minivectordb_spark.operators.prep import (
        BPE_EOW,
        bpe_encode,
        bpe_merge_table,
    )

    rows = [(i, "low lower newest") for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    merges = [
        (r["left"], r["right"])
        for r in bpe_merge_table(df, n_merges=8).orderBy("step").collect()
    ]
    out = {r["doc_id"]: r for r in bpe_encode(df, merges).collect()}
    toks = out[0]["bpe_tokens"]
    text = "".join(t for t in toks).replace(BPE_EOW, " ").strip()
    assert text == "low lower newest"
    assert out[0]["n_bpe_tokens"] == len(toks) and len(toks) < len("low lower newest")


def test_exact_avg_micros_boundary(spark):
    """The .5e-6 boundary that flipped bigram_lm at sf0.1 (doc 913:
    sum/n = -3.3974605 exactly): the integer-micro rounding must give
    half-AWAY-from-zero on the exact rational — deterministically, with
    no float quotient — for both signs and for count ratios."""
    from pyspark.sql import functions as F

    from minivectordb_spark.operators.text import _exact_avg_micros

    rows = [
        # (sum as decimal string, n, expected half-away 6dp avg)
        ("-33.974605", 10, -3.397461),
        ("33.974605", 10, 3.397461),
        ("-33.974604", 10, -3.39746),
        ("1.000005", 2, 0.500003),   # 0.5000025 -> away -> 0.500003
        ("0.000000", 7, 0.0),
    ]
    df = spark.createDataFrame(
        [(s, n, want) for s, n, want in rows], "s string, n long, want double"
    ).select(
        F.col("s").cast("decimal(18,6)").alias("__sum"),
        F.col("n"),
        "want",
    )
    got = df.select(
        _exact_avg_micros("__sum", "n").alias("avg"), "want"
    ).collect()
    for r in got:
        assert r["avg"] == r["want"], (r["avg"], r["want"])
    # integer-numerator form (count ratios): 1/3 at 6dp = 0.333333
    cr = spark.createDataFrame([(1, 3), (2, 3), (1, 2)], "a long, b long")
    vals = [
        r["v"]
        for r in cr.select(_exact_avg_micros("a", "b").alias("v")).collect()
    ]
    assert vals == [0.333333, 0.666667, 0.5]


# ---------------- exact set-similarity join (prefix filtering) ----------------


def _py_shingle_sets(rows, k=3):
    """Independent pure-Python oracle for the shingle-hash sets: whitespace
    tokens, word k-gram shingles (whole-doc fallback under k tokens),
    md5-prefix 32-bit hashes — mirrors hashing.md5i32 by construction."""
    import hashlib

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    out = {}
    for doc_id, text in rows:
        toks = text.split(" ") if text else []
        if len(toks) >= k:
            sh = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
        else:
            sh = {" ".join(toks)}
        out[doc_id] = {h32(s) for s in sh}
    return out


def _py_bruteforce_pairs(rows, tau, k=3):
    sets = _py_shingle_sets(rows, k)
    ids = sorted(sets)
    got = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a]) + len(sets[b]) - inter
            if union and inter * 1_000_000 >= int(round(tau * 1e6)) * union:
                got.add((a, b))
    return got


@pytest.mark.parametrize("tau", [0.3, 0.5, 0.8])
def test_setsim_pairs_exact_vs_bruteforce(spark, tau):
    """Prefix filtering is EXACT: output == brute-force all-pairs at every
    threshold — the recall guarantee LSH only approximates."""
    from minivectordb_spark.operators.setsim import setsim_pairs

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different content about spark engines"),
        (4, "a b"),
        (5, "a b"),
        (6, "the quick brown fox leaps over the lazy dog today"),
        (7, "spark engines about content different completely extra"),
        (8, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"])
        for r in setsim_pairs(df, threshold=tau).collect()
    }
    assert got == _py_bruteforce_pairs(rows, tau)


def test_setsim_pairs_gate_table_vs_bruteforce(spark):
    """Exactness on the real gate table (sf0.001 documents): the operator's
    output equals the pure-Python brute force over all N*(N-1)/2 pairs."""
    from minivectordb_spark.operators.setsim import setsim_pairs

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = [(r["doc_id"], r["text"]) for r in df.select("doc_id", "text").collect()]
    got = {
        (r["id_a"], r["id_b"])
        for r in setsim_pairs(df, threshold=0.5).collect()
    }
    assert got == _py_bruteforce_pairs(rows, 0.5)


def test_setsim_jaccard_values(spark):
    """Reported jaccard equals the exact set ratio rounded to 6dp."""
    from minivectordb_spark.operators.setsim import setsim_pairs

    rows = [
        (0, "w x y z a b c d"),
        (1, "w x y z a b c e"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sets = _py_shingle_sets(rows)
    inter = len(sets[0] & sets[1])
    union = len(sets[0] | sets[1])
    out = setsim_pairs(df, threshold=0.3).collect()
    assert len(out) == 1
    assert out[0]["jaccard"] == round(inter / union, 6)


def test_setsim_diagnostics_candidates_bounded(spark):
    """The counters the bench records: candidates must sit between the true
    output and brute force, and the posting-list bound must hold."""
    from minivectordb_spark.operators.setsim import setsim_diagnostics

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = setsim_diagnostics(df, threshold=0.5)
    brute = d["n_docs"] * (d["n_docs"] - 1) // 2
    assert d["output_pairs"] <= d["candidate_pairs"] <= brute
    assert d["candidate_pairs"] < brute  # the filter actually prunes
    assert d["max_posting_list"] <= d["n_docs"]


def test_setsim_against_matches_pairset_reconstruction(spark):
    """Cross-corpus exact dedup == full pair set restricted to cross-side
    pairs: survivors are exactly the new docs with no >=tau pair into the
    reference side (reconstructed independently from setsim_pairs, whose
    own exactness is brute-force-pinned above)."""
    from minivectordb_spark.operators.setsim import setsim_against, setsim_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ref = docs.filter(F.col("doc_id") % 7 == 0)
    new = docs.filter(F.col("doc_id") % 7 != 0)
    survivors = {
        r["doc_id"] for r in setsim_against(new, ref, threshold=0.5).collect()
    }
    newids = {r["doc_id"] for r in new.select("doc_id").collect()}
    flagged = set()
    for p in setsim_pairs(docs, threshold=0.5).collect():
        a, b = p["id_a"], p["id_b"]
        if a in newids and b not in newids:
            flagged.add(a)
        if b in newids and a not in newids:
            flagged.add(b)
    assert survivors == newids - flagged


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e", "f"]),
            min_size=0,
            max_size=10,
        ).map(" ".join),
        min_size=2,
        max_size=12,
    ),
    tau=st.sampled_from([0.2, 0.4, 0.6, 0.9]),
)
def test_setsim_pairs_property_exact(spark, texts, tau):
    """Prefix filtering is exact for ARBITRARY corpora and thresholds:
    random small-alphabet texts (dense shingle collisions — the worst
    case for candidate pruning, the best case for finding recall bugs)
    always reproduce the brute-force pair set."""
    from minivectordb_spark.operators.setsim import setsim_pairs

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"])
        for r in setsim_pairs(df, threshold=tau).collect()
    }
    assert got == _py_bruteforce_pairs(rows, tau)


def test_leakage_free_split_no_component_straddles(spark):
    """The guarantee the operator exists for: every duplicate component's
    members land in ONE split — checked on the real gate table against
    the same pair set the graded dedup rows use."""
    import __spark_entry__ as e
    from minivectordb_spark.operators.dedup import connected_components
    from minivectordb_spark.operators.prep import leakage_free_split

    d = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{d}/documents.parquet")
    pairs = e.q_lsh_jaccard_pairs(spark, d)
    split = leakage_free_split(docs, pairs)
    comp = connected_components(pairs)
    straddlers = (
        comp.join(split, comp["id"] == split["doc_id"])
        .groupBy("component")
        .agg(F.count_distinct("split").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert straddlers == 0
    # and the split is total + deterministic
    rows = {r["doc_id"]: r["split"] for r in split.collect()}
    rows2 = {r["doc_id"]: r["split"] for r in leakage_free_split(docs, pairs).collect()}
    assert rows == rows2 and len(rows) == docs.count()


def test_leakage_free_split_weights(spark):
    """Weights steer the bucket arithmetic: (1,0,9)-ish extremes behave,
    and a planted clique follows its representative's bucket."""
    from minivectordb_spark.operators.prep import leakage_free_split

    docs = spark.createDataFrame(
        [(i, "x") for i in range(200)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], ["id_a", "id_b"]
    )
    out = {r["doc_id"]: r["split"] for r in
           leakage_free_split(docs, pairs, weights=(1, 1, 2)).collect()}
    assert out[0] == out[1] == out[2]
    assert out[10] == out[11]
    assert set(out.values()) <= {"train", "val", "test"}


def test_survivors_ranked_diagnostics_counts_group_structure(spark):
    from minivectordb_spark.operators.dedup import (
        survivors_ranked_diagnostics,
    )

    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], ["id_a", "id_b"]
    )
    d = survivors_ranked_diagnostics(pairs)
    # groups {0,3,5} and {1,2}: 5 members, 2 groups, 3 removed
    assert d == {
        "n_pairs": 3,
        "n_groups": 2,
        "max_group_size": 3,
        "n_group_members": 5,
        "n_removed": 3,
    }
    # empty pair set: all zeros, no NULL leaks from max/sum
    z = survivors_ranked_diagnostics(pairs.limit(0))
    assert z == {
        "n_pairs": 0,
        "n_groups": 0,
        "max_group_size": 0,
        "n_group_members": 0,
        "n_removed": 0,
    }


def test_distribution_drift_exact_ppm_tv(spark):
    """distribution_drift (r11): exact integer-ppm total variation vs
    the corpus, hand-computed.  A={0,0,0,0,10}, B={10,10,20,20},
    width 10 -> global buckets {0:4, 10:3, 20:2}, N=9 (ppm 444444 /
    333333 / 222222).  A: p={800000, 200000, 0} -> terms 355556 +
    133333 + 222222 = 711111 -> tv 355555.  B: p={0, 500000, 500000}
    -> terms 444444 + 166667 + 277778 = 888889 -> tv 444444."""
    from minivectordb_spark.operators.anomaly import distribution_drift

    df = spark.createDataFrame(
        [("A", 0), ("A", 0), ("A", 0), ("A", 0), ("A", 10),
         ("B", 10), ("B", 10), ("B", 20), ("B", 20)],
        ["source", "v"],
    )
    out = {
        r["source"]: (r["n"], r["tv_ppm"])
        for r in distribution_drift(df, "v", "source", 10).collect()
    }
    assert out == {"A": (5, 355555), "B": (4, 444444)}
    # identical shape -> zero drift
    same = spark.createDataFrame(
        [("A", 1), ("A", 11), ("B", 1), ("B", 11)], ["source", "v"]
    )
    z = {r["source"]: r["tv_ppm"]
         for r in distribution_drift(same, "v", "source", 10).collect()}
    assert z == {"A": 0, "B": 0}


def test_simhash_band_diagnostics_occupancy_and_bound(spark):
    """simhash_band_diagnostics (r11): occupancy counters computed
    through the pair join's own band machinery.  Two identical docs
    share all 4 band buckets (bound = 4*C(2,2) = 4, one verified pair);
    a third distinct doc adds its own buckets without collisions."""
    from minivectordb_spark.operators.dedup import simhash_band_diagnostics

    df = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"),
         (2, "completely different words here entirely unrelated")],
        ["doc_id", "text"],
    )
    d = simhash_band_diagnostics(df, join=True)
    assert d["n_docs"] == 3
    assert d["band_space"] == 4 * 65536
    # doc 0 and 1 share every bucket; doc 2's 4 buckets are its own
    # (band values could theoretically collide, but not for these texts)
    assert d["n_buckets"] == 8
    assert d["max_bucket"] == 2
    assert d["collision_pairs_bound"] == 4
    assert d["output_pairs"] == 1
    # join=False skips the pair materialization but keeps the bound
    d2 = simhash_band_diagnostics(df, join=False)
    assert "output_pairs" not in d2
    assert d2["collision_pairs_bound"] == 4


def test_distribution_shift_exact_ppm(spark):
    """distribution_shift (r11): one-row A-vs-B TV, hand-computed.
    A={0,0,10,20} buckets {0:2,10:1,20:1} (ppm 500000/250000/250000);
    B={10,10,30} buckets {10:2,30:1} (ppm 666666/333333).  Terms:
    |500000-0| + |250000-666666| + |250000-0| + |0-333333|
    = 500000+416666+250000+333333 = 1499999 -> tv 749999."""
    from minivectordb_spark.operators.anomaly import distribution_shift

    a = spark.createDataFrame([(0,), (0,), (10,), (20,)], ["v"])
    b = spark.createDataFrame([(10,), (10,), (30,)], ["v"])
    r = distribution_shift(a, b, "v", 10).collect()
    assert len(r) == 1
    assert (r[0]["n_a"], r[0]["n_b"], r[0]["tv_ppm"]) == (4, 3, 749999)
    # identical frames -> zero drift
    z = distribution_shift(a, a, "v", 10).collect()[0]
    assert z["tv_ppm"] == 0 and z["n_a"] == z["n_b"] == 4


def test_quota_sample_exact_counts_and_determinism(spark):
    """quota_sample: exact per-stratum counts (capped at stratum size),
    deterministic set across calls, salt redraws, NULL strata get the
    default quota, and the selected rows are the md5-order prefix."""
    from minivectordb_spark.operators.prep import quota_sample

    rows = (
        [(i, "en") for i in range(30)]
        + [(100 + i, "de") for i in range(4)]
        + [(200 + i, "fr") for i in range(10)]
        + [(300, None)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = quota_sample(
        df, quotas={"en": 5, "de": 9}, default_quota=2
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r["lang"], set()).add(r["doc_id"])
    assert len(by["en"]) == 5        # exact quota
    assert by["de"] == {100, 101, 102, 103}  # under-full stratum keeps all
    assert len(by["fr"]) == 2        # default quota
    assert by[None] == {300}         # NULL stratum: default quota, kept

    again = {
        (r["doc_id"], r["lang"])
        for r in quota_sample(df, quotas={"en": 5, "de": 9}, default_quota=2).collect()
    }
    assert again == {(r["doc_id"], r["lang"]) for r in out}  # deterministic

    redraw = {
        r["doc_id"]
        for r in quota_sample(
            df, quotas={"en": 5, "de": 9}, default_quota=2, salt="q1"
        ).collect()
        if r["lang"] == "en"
    }
    assert redraw != by["en"]  # salt redraws the sample


def test_token_budget_sample_running_sum_contract(spark):
    """token_budget_sample: the kept set is the md5-order prefix whose
    RUNNING token sum fits the stratum budget — verified against a
    Python replay of the same order and sum; never padded, never split;
    NULL strata get the default budget."""
    import hashlib

    from minivectordb_spark.operators.prep import token_budget_sample

    rows = (
        [(i, "en", "w " * (i % 7 + 1)) for i in range(20)]
        + [(100, "de", "a b c"), (101, "de", "d e"), (102, None, "x y z")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = {
        r["doc_id"]
        for r in token_budget_sample(
            df, budgets={"en": 15, "de": 4}, default_budget=3
        ).collect()
    }

    def order_key(lang, doc_id):
        key = f"t0#{lang}#{doc_id}" if lang is not None else f"t0#{doc_id}"
        # concat_ws skips NULL segments, mirroring Spark
        return (int(hashlib.md5(key.encode()).hexdigest()[:8], 16), doc_id)

    expected = set()
    for lang, budget in (("en", 15), ("de", 4), (None, 3)):
        members = [(i, t) for i, l, t in rows if l == lang]
        members.sort(key=lambda it: order_key(lang, it[0]))
        cum = 0
        for i, t in members:
            # Spark's split(text, ' ') keeps a trailing empty token;
            # Python's bare split() would strip it
            cum += len(t.split(" "))
            if cum <= budget:
                expected.add(i)
            else:
                break
    assert got == expected
    # the de budget of 4 keeps exactly one of the two 3/2-token docs
    assert len({i for i in got if 100 <= i <= 101}) == 1
    assert 102 in expected or 102 not in got  # NULL stratum followed default


def test_auto_simhash_bits_properties():
    """Property pins for the width law: widths only come from {32,64,128},
    never shrink as the corpus grows, and whenever the chosen width is
    below the ceiling its per-band space covers the corpus (expected
    occupancy <= 1) while the next-smaller width's does not."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from minivectordb_spark.operators.dedup import auto_simhash_bits

    @settings(max_examples=300, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=10**12),
        n_bands=st.sampled_from([2, 4]),
    )
    def check(n, n_bands):
        b = auto_simhash_bits(n, n_bands)
        assert b in (32, 64, 128)
        assert auto_simhash_bits(n * 10, n_bands) >= b  # monotone in n
        if b < 128:
            assert (1 << (b // n_bands)) >= n  # covering
        smaller = {64: 32, 128: 64}.get(b)
        if smaller is not None:
            assert (1 << (smaller // n_bands)) < n  # minimal

    check()


def test_neardup_index_preserves_source_precision(spark, tmp_path):
    """ADVICE r11: a double-source reference must be stored at DOUBLE
    precision (manifest-pinned), so the indexed verify cosine is bit-
    identical to the unindexed neardup_against; appends from frames with
    a different element type cast to the pinned type (no mixed-type
    parquet directory)."""
    import json
    import numpy as np

    from minivectordb_spark.operators.dedup import (
        neardup_against,
        neardup_against_indexed,
        save_neardup_index,
        update_neardup_index,
        _neardup_resolve_planes,
    )

    rng = np.random.RandomState(47)
    ref_vecs = rng.randn(40, 8)  # float64
    ref = spark.createDataFrame(
        [(100 + i, [float(x) for x in v]) for i, v in enumerate(ref_vecs)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "didx_prec")
    save_neardup_index(ref, idx, target_block_size=8)

    from minivectordb_spark import fsio as _fsio

    m, _ = _fsio.load_index_manifest(idx, "_neardup_index_manifest.json")
    assert m["emb_type"] == "double"
    stored = spark.read.parquet(_fsio.gen_data(idx, m, "embeddings"))
    assert stored.schema["embedding"].dataType.elementType.simpleString() == "double"

    new = spark.createDataFrame(
        [(0, [float(x) for x in ref_vecs[3]])]
        + [(1 + i, [float(x) for x in rng.randn(8)]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    planes = _neardup_resolve_planes(ref, "embedding", "vec_id", None, 8)
    direct = sorted(
        r["vec_id"]
        for r in neardup_against(
            new, ref, threshold=0.9, planes=planes, max_probes=4
        ).collect()
    )
    probed = sorted(
        r["vec_id"]
        for r in neardup_against_indexed(
            new, idx, threshold=0.9, max_probes=4
        ).collect()
    )
    assert probed == direct and 0 not in probed

    # append a FLOAT-typed frame: must cast to the pinned double type and
    # leave the directory readable (the mixed-type poison case)
    floaty = spark.createDataFrame(
        [(200, [float(x) for x in rng.randn(8).astype("float32")])],
        "vec_id long, embedding array<float>",
    )
    update_neardup_index(floaty, idx)
    back = spark.read.parquet(_fsio.gen_data(idx, m, "embeddings"))
    assert back.schema["embedding"].dataType.elementType.simpleString() == "double"
    assert back.count() == 41


def test_neardup_resolve_planes_max_planes_cap(spark):
    """ADVICE r11: max_planes caps the adaptive plane count (the twin's
    inlined-literal prefix bound) and is a no-op below the cap."""
    import numpy as np

    from minivectordb_spark.operators.dedup import _neardup_resolve_planes

    rng = np.random.RandomState(3)
    df = spark.createDataFrame(
        [(i, rng.randn(4).tolist()) for i in range(600)],
        ["vec_id", "embedding"],
    )
    # N=600, target=2 -> uncapped P = ceil(log2(300)) = 9
    assert len(_neardup_resolve_planes(df, "embedding", "vec_id", None, 2)) == 9
    assert (
        len(
            _neardup_resolve_planes(
                df, "embedding", "vec_id", None, 2, max_planes=6
            )
        )
        == 6
    )
    # below the cap: unchanged
    assert (
        len(
            _neardup_resolve_planes(
                df, "embedding", "vec_id", None, 2, max_planes=16
            )
        )
        == 9
    )
    # explicit planes bypass resolution entirely
    assert _neardup_resolve_planes(
        df, "embedding", "vec_id", [[1.0, 0.0, 0.0, 0.0]], 2, max_planes=1
    ) == [[1.0, 0.0, 0.0, 0.0]]


def test_dedup_index_skip_if_fresh_contract(spark, tmp_path):
    """save_dedup_index(skip_if_fresh=True) follows the IVF freshness
    contract: reuse on identical inputs, rebuild when the SOURCE frame
    differs (plan canonicalization, not just files), invalidate after an
    incremental append."""
    import json

    from minivectordb_spark.operators.dedup import (
        save_dedup_index,
        update_dedup_index,
    )

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"document number {i} with some shared words") for i in range(30)],
        ["doc_id", "text"],
    ).write.parquet(src)
    docs = spark.read.parquet(src)
    idx = str(tmp_path / "didx_fresh")

    assert save_dedup_index(docs, idx, skip_if_fresh=True) is True
    from minivectordb_spark import fsio as _fsio

    assert "fingerprint" in _fsio.load_index_manifest(
        idx, "_dedup_index_manifest.json"
    )[0]
    # identical inputs: reused
    assert save_dedup_index(spark.read.parquet(src), idx, skip_if_fresh=True) is False
    # different PLAN over the same files: rebuilt
    assert (
        save_dedup_index(
            spark.read.parquet(src).filter("doc_id < 10"), idx, skip_if_fresh=True
        )
        is True
    )
    # append invalidates the fingerprint -> next fresh-check rebuilds
    save_dedup_index(docs, idx, skip_if_fresh=True)
    update_dedup_index(
        spark.createDataFrame([(100, "a brand new appended document")],
                              ["doc_id", "text"]),
        idx,
    )
    assert "fingerprint" not in _fsio.load_index_manifest(
        idx, "_dedup_index_manifest.json"
    )[0]
    assert save_dedup_index(docs, idx, skip_if_fresh=True) is True
    # skip_if_fresh=False always rebuilds
    assert save_dedup_index(docs, idx) is True


def test_neardup_index_skip_if_fresh_contract(spark, tmp_path):
    import json

    import numpy as np

    from minivectordb_spark.operators.dedup import (
        save_neardup_index,
        update_neardup_index,
    )

    rng = np.random.RandomState(11)
    src = str(tmp_path / "vecs")
    spark.createDataFrame(
        [(i, rng.randn(8).astype("float32").tolist()) for i in range(40)],
        "vec_id long, embedding array<float>",
    ).write.parquet(src)
    vecs = spark.read.parquet(src)
    idx = str(tmp_path / "nidx_fresh")

    assert save_neardup_index(vecs, idx, target_block_size=8,
                              skip_if_fresh=True) is True
    assert save_neardup_index(spark.read.parquet(src), idx,
                              target_block_size=8, skip_if_fresh=True) is False
    # a different build knob is a different index
    assert save_neardup_index(vecs, idx, target_block_size=4,
                              skip_if_fresh=True) is True
    save_neardup_index(vecs, idx, target_block_size=8, skip_if_fresh=True)
    update_neardup_index(
        spark.createDataFrame(
            [(200, rng.randn(8).astype("float32").tolist())],
            "vec_id long, embedding array<float>",
        ),
        idx,
    )
    from minivectordb_spark import fsio as _fsio

    assert "fingerprint" not in _fsio.load_index_manifest(
        idx, "_neardup_index_manifest.json"
    )[0]
    assert save_neardup_index(vecs, idx, target_block_size=8,
                              skip_if_fresh=True) is True


def test_neardup_staleness_trigger_and_inplace_rebuild(spark, tmp_path):
    """VERDICT r12 item 2: the measured staleness law is mechanized —
    grow a corpus ~30x past the build point via appends, watch the
    occupancy trigger fire, rebuild in place, and observe planes grow /
    occupancy reset while appended rows stay probe-visible."""
    import numpy as np

    from minivectordb_spark.operators.dedup import (
        neardup_against_indexed,
        neardup_index_staleness,
        rebuild_neardup_index_if_stale,
        save_neardup_index,
        update_neardup_index,
    )

    rng = np.random.RandomState(13)
    dim, tbs = 6, 4
    ref = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(dim)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    idx = str(tmp_path / "stale_idx")
    save_neardup_index(ref, idx, target_block_size=tbs, n_dirs=8)

    st0 = neardup_index_staleness(spark, idx)
    assert st0["rows"] == 60 and not st0["stale"]
    assert st0["target_block_size"] == tbs
    p0 = st0["n_planes"]

    # grow ~30x under the frozen planes: occupancy inflates linearly
    grow_vecs = rng.randn(1900, dim)
    grown = spark.createDataFrame(
        [(1000 + i, [float(x) for x in v]) for i, v in enumerate(grow_vecs)],
        "vec_id long, embedding array<double>",
    )
    update_neardup_index(grown, idx)
    st1 = neardup_index_staleness(spark, idx)
    assert st1["rows"] == 1960 and st1["n_planes"] == p0  # planes frozen
    assert st1["stale"] and st1["occupancy_ratio"] > 4

    # within budget -> no-op; past the trigger -> in-place rebuild
    assert rebuild_neardup_index_if_stale(spark, idx) is True
    st2 = neardup_index_staleness(spark, idx)
    assert st2["rows"] == 1960  # corpus preserved, appends included
    assert st2["n_planes"] > p0  # planes re-resolved for the grown corpus
    assert not st2["stale"] and st2["occupancy_ratio"] <= 4
    assert rebuild_neardup_index_if_stale(spark, idx) is False  # reset

    # appended rows are still probe-visible after the rebuild: an exact
    # duplicate of an APPENDED vector must be rejected
    dup = spark.createDataFrame(
        [(9000, [float(x) for x in grow_vecs[7]]),
         (9001, [float(x) for x in rng.randn(dim)])],
        "vec_id long, embedding array<double>",
    )
    kept = [r["vec_id"] for r in neardup_against_indexed(
        dup, idx, threshold=0.999).collect()]
    assert 9000 not in kept


def test_save_neardup_rebuild_if_stale_on_fresh_fingerprint(spark, tmp_path):
    """A fingerprint-FRESH index can still sit at 10x the intended probe
    cost (explicit planes too few for the corpus): rebuild_if_stale
    re-checks the occupancy trigger on the fresh path instead of
    silently reusing."""
    import numpy as np

    from minivectordb_spark.operators.ann import default_projection_planes
    from minivectordb_spark.operators.dedup import (
        neardup_index_staleness,
        save_neardup_index,
    )

    rng = np.random.RandomState(29)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(5)]) for i in range(600)],
        "vec_id long, embedding array<double>",
    ).write.parquet(src)
    ref = spark.read.parquet(src)
    idx = str(tmp_path / "fresh_stale_idx")
    planes = default_projection_planes(5, n_planes=3)  # 600/8 = 75 >> 4*tbs

    assert save_neardup_index(
        ref, idx, planes=planes, target_block_size=4, skip_if_fresh=True
    )
    assert neardup_index_staleness(spark, idx)["stale"]
    # fresh fingerprint: plain skip_if_fresh silently reuses the hot mess
    assert not save_neardup_index(
        ref, idx, planes=planes, target_block_size=4, skip_if_fresh=True
    )
    # the opt-in trigger rebuilds instead (same knobs honored — returning
    # True is the contract; fixing the knobs is the caller's move)
    assert save_neardup_index(
        ref, idx, planes=planes, target_block_size=4, skip_if_fresh=True,
        rebuild_if_stale=True,
    )


def test_ivf_index_balance_structural_and_drift_trigger(spark, tmp_path):
    """ivf_index_balance is STRUCTURAL: its stats are the assignments
    table's actual per-cluster row counts — exactly the rows a probe of
    those clusters scans — and a drifted append against the frozen
    centroids inflates the tail until the >4x trigger fires.  Explicit
    axis-aligned centroids make every assignment deterministic."""
    import numpy as np

    from minivectordb_spark.operators.ann import (
        ivf_index_balance,
        save_ivf_index,
        update_ivf_index,
    )

    rng = np.random.RandomState(7)
    dim = 8

    def vec(d, scale=0.05):
        v = rng.randn(dim) * scale
        v[d] += 1.0
        return [float(x) for x in v]

    base = spark.createDataFrame(
        [(i, vec(i % dim)) for i in range(400)],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(d, [1.0 if j == d else 0.0 for j in range(dim)]) for d in range(dim)],
        "centroid_id long, centroid_emb array<double>",
    )
    idx = str(tmp_path / "ivf_bal")
    save_ivf_index(base, cents, idx)
    st0 = ivf_index_balance(spark, idx)
    assert st0["rows"] == 400 and st0["n_clusters"] == dim
    assert st0["max_cluster"] == 50 and not st0["unbalanced"]  # 50/axis

    # structural equality: stats == the real partition row counts (the
    # rows a probe of those dirs would scan)
    per = {
        r["centroid_id"]: r["c"]
        for r in spark.read.parquet(_ivf_assign_dir(idx))
        .groupBy("centroid_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert st0["max_cluster"] == max(per.values())
    assert abs(st0["mean_cluster"] - sum(per.values()) / len(per)) < 1e-9

    # drifted append: a concentrated blob near axis 1 lands entirely in
    # the frozen cluster 1 -> tail inflates, trigger fires at the
    # documented >4x bound (3050 / (3400/8) = 7.18)
    blob = spark.createDataFrame(
        [(10_000 + i, vec(1, scale=0.01)) for i in range(3000)],
        "vec_id long, embedding array<double>",
    )
    update_ivf_index(blob, idx)
    st1 = ivf_index_balance(spark, idx)
    assert st1["rows"] == 3400 and st1["max_cluster"] == 3050
    assert st1["unbalanced"] and st1["balance_ratio"] > 7
    # and it is still the true partition histogram
    per1 = {
        r["centroid_id"]: r["c"]
        for r in spark.read.parquet(_ivf_assign_dir(idx))
        .groupBy("centroid_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert st1["max_cluster"] == max(per1.values())


def test_dedup_index_stats_occupancy_flat_under_growth(spark, tmp_path):
    """The dedup index's occupancy contrast law, now assertable by
    pipelines: appending NOVEL docs grows the corpus but leaves
    per-bucket occupancy ~flat (band keys live in md5 hash space),
    while the near-dup index under the same doubling inflates its
    occupancy ratio ~2x (frozen planes)."""
    from minivectordb_spark.operators.dedup import (
        dedup_index_stats,
        save_dedup_index,
        update_dedup_index,
    )

    def docs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("unique document body "),
                F.col("id").cast("string"),
                F.lit(" with distinct trailing tokens "),
                (F.col("id") * 7919).cast("string"),
            ).alias("text"),
        )

    idx = str(tmp_path / "dd_stats")
    save_dedup_index(docs(0, 300), idx)
    st0 = dedup_index_stats(spark, idx)
    assert st0["rows"] > 0 and st0["buckets_used"] > 0

    update_dedup_index(docs(1000, 1300), idx)  # 2x corpus, all novel
    st1 = dedup_index_stats(spark, idx)
    assert st1["rows"] == 2 * st0["rows"]
    # flat: novel docs open NEW buckets instead of deepening old ones
    assert st1["avg_occupancy"] < st0["avg_occupancy"] * 1.25
    assert st1["buckets_used"] > st0["buckets_used"] * 1.5


def test_rebuild_ivf_index_if_unbalanced(spark, tmp_path):
    """The IVF refit trigger end-to-end: a drifted append fires the
    balance trigger; the in-place rebuild (corpus staged from the
    index's own assignments, appends included) under caller-supplied
    refit centroids splits the blob, resets the ratio, and the rebuilt
    index still searches correctly."""
    import math

    import numpy as np

    from minivectordb_spark.operators.ann import (
        ivf_index_balance,
        ivf_search_indexed,
        rebuild_ivf_index_if_unbalanced,
        save_ivf_index,
        update_ivf_index,
    )

    rng = np.random.RandomState(11)
    dim = 8

    def vec(d, scale=0.05):
        v = rng.randn(dim) * scale
        v[d] += 1.0
        return [float(x) for x in v]

    base = spark.createDataFrame(
        [(i, vec(i % dim)) for i in range(400)],
        "vec_id long, embedding array<double>",
    )
    axes = [[1.0 if j == d else 0.0 for j in range(dim)] for d in range(dim)]
    cents = spark.createDataFrame(
        [(d, axes[d]) for d in range(dim)],
        "centroid_id long, centroid_emb array<double>",
    )
    idx = str(tmp_path / "ivf_refit")
    save_ivf_index(base, cents, idx)

    # drift: two sub-blobs around 2*e0 +/- e1 — both nearest e0 under
    # the frozen centroids (cos ~0.894), so cluster 0 concentrates
    s5 = math.sqrt(5.0)
    def blob(sign, n0, count):
        return spark.createDataFrame(
            [
                (
                    n0 + i,
                    [
                        (2.0 / s5) + float(rng.randn()) * 0.01 if j == 0
                        else (sign / s5) + float(rng.randn()) * 0.01 if j == 1
                        else float(rng.randn()) * 0.01
                        for j in range(dim)
                    ],
                )
                for i in range(count)
            ],
            "vec_id long, embedding array<double>",
        )

    update_ivf_index(blob(+1.0, 10_000, 1200), idx)
    update_ivf_index(blob(-1.0, 20_000, 1200), idx)
    st1 = ivf_index_balance(spark, idx)
    assert st1["rows"] == 2800 and st1["max_cluster"] >= 2400
    assert st1["unbalanced"]

    # refit with centroids that CAN separate the sub-blobs (u1, u2 plus
    # the still-populated axes): the trigger fires, the rebuild stages
    # the grown corpus, and balance resets under the new placement
    u1 = [2.0 / s5, 1.0 / s5] + [0.0] * (dim - 2)
    u2 = [2.0 / s5, -1.0 / s5] + [0.0] * (dim - 2)
    refit = spark.createDataFrame(
        [(0, u1), (1, u2)] + [(d, axes[d]) for d in range(2, dim)],
        "centroid_id long, centroid_emb array<double>",
    )
    assert rebuild_ivf_index_if_unbalanced(spark, idx, centroids=refit) is True
    st2 = ivf_index_balance(spark, idx)
    assert st2["rows"] == 2800  # appends preserved
    assert st2["max_cluster"] <= 1300  # the blob split across u1/u2
    assert not st2["unbalanced"]
    # trigger reset -> second call is a no-op
    assert rebuild_ivf_index_if_unbalanced(spark, idx) is False

    # the rebuilt index still answers: a probe at u1 returns blob-1 ids
    hits = [
        r["vec_id"]
        for r in ivf_search_indexed(spark, idx, u1, k=5, nprobe=2).collect()
    ]
    assert hits and all(10_000 <= v < 11_200 for v in hits)
