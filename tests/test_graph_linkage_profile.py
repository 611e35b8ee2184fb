"""Unit surface for the r7 additions: pagerank (operators/graph),
blocked record linkage (operators/linkage), and the single-pass table
profiler (operators/profile).

pagerank gets the independent-oracle treatment the other iterative
operators get (BPE vs a pure-Python trainer, k-means vs numpy): the
integer-micro recurrence is compared against a float power iteration
computed in plain Python on the same graph — ranks must agree to within
the flooring error bound (< iterations * N micros of drift per node on
these tiny graphs, checked much tighter below).
"""

import datetime

import pytest
from pyspark.sql import functions as F

from minivectordb_spark.operators.graph import pagerank, pagerank_diagnostics
from minivectordb_spark.operators.linkage import (
    blocked_best_match,
    blocked_link_pairs,
    linkage_diagnostics,
)
from minivectordb_spark.operators.profile import profile_table
from minivectordb_spark.operators.ranges import (
    bucketed_range_join,
    range_join_diagnostics,
)

TOTAL = 1_000_000_000_000


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _ranks(df):
    return {r["id"]: r["rank_micro"] for r in df.collect()}


# ---------------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------------

def test_pagerank_two_node_cycle_symmetric(spark):
    r = _ranks(pagerank(_edges(spark, [(1, 2), (2, 1)]), iterations=4))
    assert set(r) == {1, 2}
    assert r[1] == r[2]
    # symmetric 2-cycle is a fixpoint at uniform mass: rank stays ~N/2
    assert abs(r[1] - TOTAL // 2) <= 4  # <= 1 micro floor loss per round


def test_pagerank_dangling_mass_redistributed(spark):
    # 1 -> 2, 2 dangling.  Without the dangling term node 2's mass would
    # leak out of the system each round; with it, total mass stays ~TOTAL.
    out = pagerank(_edges(spark, [(1, 2)]), iterations=5)
    r = _ranks(out)
    total = sum(r.values())
    assert abs(total - TOTAL) < 1_000  # floors shed < 1 micro per term per round
    assert r[2] > r[1]  # 2 receives 1's full contribution plus teleport


def test_pagerank_matches_float_power_iteration(spark):
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 1), (5, 4)]
    iters = 5
    got = _ranks(pagerank(_edges(spark, edges), iterations=iters))

    # independent float oracle: textbook damped PageRank, same fixed
    # iteration count, uniform dangling redistribution
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {u: 1.0 / n for u in nodes}
    for _ in range(iters):
        dang = sum(rank[u] for u in nodes if u not in outdeg)
        inb = {u: 0.0 for u in nodes}
        for s, d in edges:
            inb[d] += rank[s] / outdeg[s]
        rank = {
            u: 0.15 / n + 0.85 * (inb[u] + dang / n) for u in nodes
        }
    for u in nodes:
        # integer recurrence floors at each of ~3 terms per round; on a
        # 5-node graph drift stays far below 1e-6 of total mass per node
        assert got[u] / TOTAL == pytest.approx(rank[u], abs=1e-6)
    # ordering identical
    assert sorted(nodes, key=lambda u: (got[u], u)) == sorted(
        nodes, key=lambda u: (rank[u], u)
    )


def test_pagerank_deterministic_and_duplicate_edges_collapse(spark):
    e1 = _edges(spark, [(1, 2), (2, 3), (3, 1)])
    e2 = _edges(spark, [(1, 2), (1, 2), (2, 3), (3, 1), (3, 1)])
    assert _ranks(pagerank(e1, iterations=3)) == _ranks(
        pagerank(e2, iterations=3)
    )


def test_pagerank_empty_graph(spark):
    out = pagerank(_edges(spark, []), iterations=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "rank_micro"]


# ---------------------------------------------------------------------------
# record linkage
# ---------------------------------------------------------------------------

def _frames(spark):
    left = spark.createDataFrame(
        [(1, "smith-001"), (2, "smith-0x2"), (3, "zzzzz-003")],
        "lid long, name string",
    )
    right = spark.createDataFrame(
        [(10, "smith-001"), (11, "smith-002"), (12, "smith-999")],
        "rid long, name string",
    )
    return left, right


def test_linkage_pairs_blocking_and_threshold(spark):
    left, right = _frames(spark)
    pairs = blocked_link_pairs(
        left, right, "lid", "rid", "name", "name", block_len=6, max_dist=2
    )
    got = {(r["lid"], r["rid"]): r["dist"] for r in pairs.collect()}
    # lid=3 is in block 'zzzzz-' — no candidates at all, regardless of
    # distance (blocking semantics: cross-block pairs are never compared)
    assert all(l != 3 for l, _ in got)
    # lid=1 exact-matches rid=10, dist-1 to rid=11, dist>2 to rid=12 pruned
    assert got[(1, 10)] == 0 and got[(1, 11)] == 1 and (1, 12) not in got


def test_linkage_thresholded_levenshtein_boundary(spark):
    """The thresholded-levenshtein verify (banded DP, -1 past the
    threshold) must keep/drop exactly at the boundary and report the
    same distances the full matrix would: dist == max_dist kept with
    the exact value, dist == max_dist + 1 dropped, length-gap > max_dist
    dropped, equal strings dist 0 — across both blocked_link_pairs and
    the qgram verify."""
    from minivectordb_spark.operators.linkage import _qgram_verify

    left = spark.createDataFrame(
        [(1, "abcde-xx"), (2, "abcde-yyyy"), (3, "abcde-zz")],
        "lid long, name string",
    )
    right = spark.createDataFrame(
        # vs lid=1 "abcde-xx": dist 2 (boundary keep), vs lid=3
        # "abcde-zz": dist 2; "abcde-yyyy" vs "abcde-qqq": dist 4 (drop);
        # length gap 4 vs "abcde-xx" pruned before any DP.
        [(10, "abcde-x"), (11, "abcde-qqq"), (12, "abcde-xx")],
        "rid long, name string",
    )
    got = {
        (r["lid"], r["rid"]): r["dist"]
        for r in blocked_link_pairs(
            left, right, "lid", "rid", "name", "name", block_len=6, max_dist=2
        ).collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    import itertools

    want = {
        (l, r): lev(a, b)
        for (l, a), (r, b) in itertools.product(
            [(1, "abcde-xx"), (2, "abcde-yyyy"), (3, "abcde-zz")],
            [(10, "abcde-x"), (11, "abcde-qqq"), (12, "abcde-xx")],
        )
        if lev(a, b) <= 2
    }
    assert got == want
    assert got[(1, 12)] == 0 and got[(3, 12)] == 2  # boundary keep, exact value

    # the qgram verify path: same boundary law on a candidate frame
    cand = spark.createDataFrame(
        [
            (1, 10, "banana", "bananna"),   # dist 1 keep
            (2, 11, "banana", "bonanzas"),  # dist 3 drop
            (3, 12, "kwyjibo", "kwyjibo"),  # dist 0 keep
            (4, 13, "aaaa", "aaaaaa"),      # dist 2 boundary keep
            (5, 14, "aa", "aaaaaaa"),       # length gap 5 drop
        ],
        "__lid long, __rid long, __ls string, __rs string",
    )
    out = {
        (r["lid"], r["rid"]): r["dist"]
        for r in _qgram_verify(cand, "lid", "rid", max_dist=2).collect()
    }
    assert out == {(1, 10): 1, (3, 12): 0, (4, 13): 2}


def test_linkage_best_match_tiebreak(spark):
    left, right = _frames(spark)
    best = {
        r["lid"]: (r["rid"], r["dist"])
        for r in blocked_best_match(
            left, right, "lid", "rid", "name", "name", block_len=6, max_dist=2
        ).collect()
    }
    assert best[1] == (10, 0)
    # lid=2 'smith-0x2' is dist 1 from BOTH 'smith-001'(sub x->0? no: 0x2
    # vs 001 is dist 2) — compute: vs 002 is one substitution -> dist 1,
    # vs 001 is two -> the min is rid=11
    assert best[2] == (11, 1)
    assert 3 not in best


def test_linkage_equidistant_ties_pick_min_right_id(spark):
    left = spark.createDataFrame([(1, "aaa-1")], "lid long, name string")
    right = spark.createDataFrame(
        [(21, "aaa-2"), (20, "aaa-3")], "rid long, name string"
    )
    best = blocked_best_match(
        left, right, "lid", "rid", "name", "name", block_len=4, max_dist=2
    ).collect()
    assert len(best) == 1 and best[0]["rid"] == 20  # both dist 1 -> min rid


def test_pagerank_diagnostics_counters(spark):
    # 1->2, 1->3, 3->1; 2 dangling; in-degree max at 1 (from 3) and 3? no:
    # dst counts: 2<-1, 3<-1, 1<-1 — all in-degree 1; out: 1 has 2
    d = pagerank_diagnostics(_edges(spark, [(1, 2), (1, 3), (3, 1), (1, 2)]))
    assert d == {
        "n_nodes": 3,
        "n_edges": 3,  # duplicate (1,2) collapses
        "n_dangling": 1,  # node 2
        "max_out_degree": 2,  # node 1
        "max_in_degree": 1,
    }


def test_linkage_diagnostics_counts_block_products(spark):
    left, right = _frames(spark)
    d = linkage_diagnostics(left, right, "name", "name", block_len=6)
    # blocks: 'smith-' has L=2, R=3 -> 6 comparisons; 'zzzzz-' has no
    # right-side rows so it contributes NO joint block
    assert d["n_left"] == 3 and d["n_right"] == 3
    assert d["n_joint_blocks"] == 1
    assert d["candidate_comparisons"] == 6
    assert d["max_block_l"] == 2 and d["max_block_r"] == 3


# ---------------------------------------------------------------------------
# profiler
# ---------------------------------------------------------------------------

def test_profile_counts_nulls_distinct_minmax(spark):
    df = spark.createDataFrame(
        [
            (1, 2.5, "aa", datetime.datetime(2024, 1, 1)),
            (2, None, "bbbb", datetime.datetime(2024, 1, 2)),
            (None, -1.25, None, None),
            (2, 2.5, "aa", datetime.datetime(2024, 1, 1)),
        ],
        "i long, x double, s string, t timestamp",
    )
    prof = {r["column"]: r.asDict() for r in profile_table(df).collect()}
    assert set(prof) == {"i", "x", "s", "t"}
    assert all(v["n_rows"] == 4 for v in prof.values())
    assert prof["i"]["n_nonnull"] == 3 and prof["i"]["n_distinct"] == 2
    assert prof["i"]["min_num"] == 1.0 and prof["i"]["max_num"] == 2.0
    assert prof["x"]["min_num"] == -1.25 and prof["x"]["max_num"] == 2.5
    assert prof["s"]["n_nonnull"] == 3 and prof["s"]["min_str"] == "aa"
    assert prof["s"]["max_str"] == "bbbb"
    # avg_len = (2 + 4 + 2) / 3 = 2.666667 (exact-rational half-away round)
    assert prof["s"]["avg_len"] == 2.666667
    assert prof["t"]["n_nonnull"] == 3
    # epoch micros for 2024-01-01T00:00:00Z
    assert prof["t"]["min_num"] == 1704067200.0 * 1e6
    # numeric col has no string stats and vice versa
    assert prof["i"]["min_str"] is None and prof["s"]["min_num"] is None


def test_profile_all_null_string_column(spark):
    df = spark.createDataFrame(
        [(1, None), (2, None)], "i long, s string"
    )
    prof = {r["column"]: r.asDict() for r in profile_table(df).collect()}
    s = prof["s"]
    assert s["n_nonnull"] == 0 and s["n_distinct"] == 0
    assert s["min_str"] is None and s["avg_len"] is None


def test_profile_epoch_nano_longs_do_not_overflow(spark):
    # the engine's events.ts contract is int64 epoch-nanos (~1.7e18);
    # the earlier micro-scaled contract overflowed int64 here
    df = spark.createDataFrame(
        [(1_704_067_207_179_575_000,), (1_706_659_032_194_062_000,)],
        "ts_ns long",
    )
    row = profile_table(df).collect()[0]
    assert row["min_num"] == float(1_704_067_207_179_575_000)
    assert row["max_num"] == float(1_706_659_032_194_062_000)


def test_profile_approx_distinct_path(spark):
    df = spark.createDataFrame([(i % 10,) for i in range(1000)], "i long")
    row = profile_table(df, exact_distinct=False).collect()[0]
    # HLL++ at default rsd is exact-ish at cardinality 10
    assert row["n_distinct"] == 10


def test_profile_selected_columns_only(spark):
    df = spark.createDataFrame([(1, "a", 2.0)], "i long, s string, x double")
    cols = [r["column"] for r in profile_table(df, columns=["s"]).collect()]
    assert cols == ["s"]


# ---------------------------------------------------------------------------
# bucketed range join
# ---------------------------------------------------------------------------

def _range_frames(spark):
    pts = spark.createDataFrame(
        [(1, 5.0), (2, 10.0), (3, 25.0), (4, 99.0)], "pid long, v double"
    )
    iv = spark.createDataFrame(
        [(100, 0.0, 10.0), (200, 5.0, 30.0), (300, 30.0, 40.0)],
        "band long, lo double, hi double",
    )
    return pts, iv


def test_range_join_matches_and_multi_match(spark):
    pts, iv = _range_frames(spark)
    got = {
        (r["pid"], r["band"])
        for r in bucketed_range_join(
            pts, iv, "v", bucket_width=7.0, point_cols=["pid"],
            interval_cols=["band"],
        ).collect()
    }
    # v=5 in [0,10) and [5,30) (multi-match); v=10 only [5,30) (hi
    # exclusive); v=25 in [5,30); v=99 matches nothing
    assert got == {(1, 100), (1, 200), (2, 200), (3, 200)}


@pytest.mark.parametrize("w", [0.5, 3.0, 1000.0])
def test_range_join_result_independent_of_bucket_width(spark, w):
    pts, iv = _range_frames(spark)
    got = {
        (r["pid"], r["band"])
        for r in bucketed_range_join(
            pts, iv, "v", bucket_width=w, point_cols=["pid"],
            interval_cols=["band"],
        ).collect()
    }
    assert got == {(1, 100), (1, 200), (2, 200), (3, 200)}


def test_range_join_rejects_nonpositive_width(spark):
    pts, iv = _range_frames(spark)
    with pytest.raises(ValueError):
        bucketed_range_join(pts, iv, "v", bucket_width=0)


def test_range_join_diagnostics(spark):
    pts, iv = _range_frames(spark)
    d = range_join_diagnostics(pts, iv, "v", bucket_width=10.0)
    # buckets: [0,10) -> b0..b1, [5,30) -> b0..b3, [30,40) -> b3..b4
    assert d["n_intervals"] == 3
    assert d["exploded_interval_rows"] == 2 + 4 + 2
    # points: b0 holds v=5, b1 holds v=10, b2 v=25, b9 v=99 (no interval)
    assert d["max_points_per_bucket"] == 1
    assert d["max_intervals_per_bucket"] == 2  # b0 and b1 and b3 hold 2
    assert d["candidate_pairs"] == 2 + 2 + 1  # b0:1x2, b1:1x2, b2:1x1


# ---------------- triangle counting ----------------


def test_triangle_counts_known_graph(spark):
    """K4 plus a pendant: K4 has C(4,3)=4 triangles, each K4 node sits in
    exactly 3 of them; the pendant node sits in none (absent from output)."""
    from minivectordb_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(k4 + [(3, 9)], "src long, dst long")
    got = {r["node"]: r["n_tri"] for r in triangle_counts(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_counts_direction_and_dup_insensitive(spark):
    """The input is treated as undirected with multiplicity collapsed:
    reversed and duplicated edges change nothing."""
    from minivectordb_spark.operators.graph import triangle_counts

    base = [(0, 1), (1, 2), (0, 2)]
    noisy = base + [(b, a) for a, b in base] + base
    e1 = spark.createDataFrame(base, "src long, dst long")
    e2 = spark.createDataFrame(noisy, "src long, dst long")
    g1 = sorted(map(tuple, triangle_counts(e1).collect()))
    g2 = sorted(map(tuple, triangle_counts(e2).collect()))
    assert g1 == g2 == [(0, 1), (1, 1), (2, 1)]


def test_triangle_orientation_bounds_hub(spark):
    """A star hub (degree 40) plus one rim edge: the hub's ORIENTED
    out-degree must be O(sqrt(m)), not its raw degree — the counter the
    bench records, asserted on the adversarial shape."""
    from minivectordb_spark.operators.graph import triangle_diagnostics

    star = [(100, i) for i in range(40)]  # hub 100
    edges = spark.createDataFrame(star + [(0, 1)], "src long, dst long")
    d = triangle_diagnostics(edges)
    assert d["max_degree"] == 40
    # the hub's edges all point INTO it (rim nodes have smaller degree)
    assert d["max_out_degree_oriented"] <= 2
    assert d["triangles"] == 1  # (hub, 0, 1)


# ---------------------------------------------------------------- k-core


def _py_kcore(edge_list, k):
    """Independent pure-Python peeling oracle."""
    from collections import defaultdict

    adj = defaultdict(set)
    for u, v in edge_list:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < k]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    return {n: len(nb) for n, nb in adj.items() if nb}


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_kcore_matches_python_peeling_oracle(spark):
    import random

    from minivectordb_spark.operators.graph import kcore

    rng = random.Random(13)
    # a dense clique + a sparse fringe that must peel away in cascades
    pairs = [(a, b) for a in range(6) for b in range(a + 1, 6)]  # K6
    pairs += [(5 + i, 6 + i) for i in range(10)]  # chain off the clique
    pairs += [(rng.randrange(30), rng.randrange(30)) for _ in range(40)]
    for k in (2, 3, 5):
        got = {
            r["id"]: r["degree"]
            for r in kcore(_edges_df(spark, pairs), k).collect()
        }
        assert got == _py_kcore(pairs, k), f"k={k}"


def test_kcore_chain_peels_to_empty(spark):
    from minivectordb_spark.operators.graph import kcore

    # a path graph has no 2-core: every peel round removes the endpoints,
    # cascading until nothing remains — pins the iterative fixpoint.
    chain = [(i, i + 1) for i in range(12)]
    assert kcore(_edges_df(spark, chain), 2).count() == 0


def test_kcore_raises_when_max_rounds_binds_before_fixpoint(spark):
    import pytest

    from minivectordb_spark.operators.graph import kcore

    # a 12-edge path at k=2 needs 6 peel rounds to empty out; with
    # max_rounds=3 the peel is truncated mid-cascade — the operator must
    # raise (a truncated return would be a superset of the true core
    # with degrees describing no induced subgraph), and the same graph
    # must still converge cleanly when the bound is lifted.
    chain = [(i, i + 1) for i in range(12)]
    with pytest.raises(RuntimeError, match="did not reach the peel fixpoint"):
        kcore(_edges_df(spark, chain), 2, max_rounds=3).count()
    assert kcore(_edges_df(spark, chain), 2, max_rounds=10).count() == 0


def test_kcore_direction_and_dup_insensitive(spark):
    from minivectordb_spark.operators.graph import kcore

    tri = [(1, 2), (2, 3), (3, 1)]
    noisy = tri + [(b, a) for a, b in tri] + tri  # reversed + duplicated
    got = {
        r["id"]: r["degree"] for r in kcore(_edges_df(spark, noisy), 2).collect()
    }
    assert got == {1: 2, 2: 2, 3: 2}


# ---------------------------------------------------------------- LPA


def test_label_propagation_two_triangle_communities(spark):
    from minivectordb_spark.operators.graph import (
        community_sizes,
        label_propagation,
    )

    # two triangles joined by one bridge edge; synchronous rounds with
    # the (count DESC, label ASC) tie-break hand-trace to:
    #   l1 = {1:2, 2:1, 3:1, 4:3, 5:4, 6:4}
    #   l2 = {1:1, 2:1, 3:1, 4:4, 5:3, 6:3}
    #   l3 = {1:1, 2:1, 3:1, 4:3, 5:3, 6:3}  -> the two triangles
    edges = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)]
    got = {
        r["id"]: r["label"]
        for r in label_propagation(_edges_df(spark, edges), rounds=3).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}
    sizes = {
        r["label"]: r["n_nodes"]
        for r in community_sizes(
            label_propagation(_edges_df(spark, edges), rounds=3)
        ).collect()
    }
    assert sizes == {1: 3, 3: 3}


def test_label_propagation_converged_early_exit(spark):
    """VERDICT r9 item 7: on a graph that converges, the early-exit
    variant stops as soon as a round changes nothing — rounds_run is the
    exchange count saved vs a fixed budget — and its labels equal the
    fixed-round operator run to the same depth AND to any deeper depth
    (zero-change round == fixpoint of the synchronous update)."""
    from minivectordb_spark.operators.graph import (
        label_propagation,
        label_propagation_converged,
    )

    # two disjoint triangles: converge fast and stay put
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)]
    labels, rounds_run = label_propagation_converged(
        _edges_df(spark, edges), max_rounds=20
    )
    assert rounds_run < 20  # actually exited early
    got = {r["id"]: r["label"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}
    for depth in (rounds_run, rounds_run + 3):
        fixed = {
            r["id"]: r["label"]
            for r in label_propagation(
                _edges_df(spark, edges), rounds=depth
            ).collect()
        }
        assert fixed == got, f"depth {depth}"


def test_label_propagation_converged_caps_at_max_rounds(spark):
    """On the oscillating bridge fixture (lpa_diagnostics proved it does
    NOT converge in 3 rounds), the probe must not loop forever: it stops
    at max_rounds and still returns that round's deterministic labels."""
    from minivectordb_spark.operators.graph import (
        label_propagation,
        label_propagation_converged,
    )

    edges = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)]
    labels, rounds_run = label_propagation_converged(
        _edges_df(spark, edges), max_rounds=2
    )
    assert rounds_run == 2
    got = {r["id"]: r["label"] for r in labels.collect()}
    want = {
        r["id"]: r["label"]
        for r in label_propagation(_edges_df(spark, edges), rounds=2).collect()
    }
    assert got == want


def test_label_propagation_direction_and_dup_insensitive(spark):
    from minivectordb_spark.operators.graph import label_propagation

    tri = [(1, 2), (2, 3), (3, 1)]
    noisy = tri + [(b, a) for a, b in tri] + tri
    got = {
        r["id"]: r["label"]
        for r in label_propagation(_edges_df(spark, noisy), rounds=2).collect()
    }
    want = {
        r["id"]: r["label"]
        for r in label_propagation(_edges_df(spark, tri), rounds=2).collect()
    }
    assert got == want and set(got) == {1, 2, 3}


def test_label_propagation_string_ids(spark):
    # ADVICE r8: the old negated-label tie-break nulled out on string
    # ids; the min_by(struct(-count, label)) form is type-generic.  Same
    # two-triangle topology as the integer test, mapped to letters —
    # labels must resolve to the lexicographic analog, not partition
    # order.
    from minivectordb_spark.operators.graph import label_propagation

    m = {1: "a", 2: "b", 3: "c", 4: "d", 5: "e", 6: "f"}
    edges = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)]
    sedges = spark.createDataFrame(
        [(m[a], m[b]) for a, b in edges], "src string, dst string"
    )
    got = {
        r["id"]: r["label"]
        for r in label_propagation(sedges, rounds=3).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "d": "c", "e": "c", "f": "c"}


def test_lpa_diagnostics_counts_changes_and_convergence(spark):
    from minivectordb_spark.operators.graph import lpa_diagnostics

    # one triangle converges to all-label-1; hand-trace of the
    # synchronous rounds with (count DESC, label ASC) ties:
    #   l1 = {1:2, 2:1, 3:1}  (all three changed)
    #   l2 = {1:1, 2:1, 3:1}  (node 1 changed)
    #   l3 = fixpoint          (nothing changed -> converged)
    tri = [(1, 2), (2, 3), (3, 1)]
    d = lpa_diagnostics(_edges_df(spark, tri), rounds=3)
    assert d["rounds"] == 3
    assert d["labels_changed_per_round"] == [3, 1, 0]
    assert d["communities_per_round"] == [2, 1, 1]
    assert d["converged"] is True


# ------------------------------------------------------------ qgram join


def test_qgram_edit_join_finds_prefix_corruptions(spark):
    from minivectordb_spark.operators.linkage import qgram_edit_join

    # the whole point vs blocking: an edit in the PREFIX still links.
    left = spark.createDataFrame(
        [(1, "Xlphabet-city"), (2, "nomatchanywher")],
        "lid long, s string",
    )
    right = spark.createDataFrame(
        [(10, "alphabet-city"), (11, "zzzzzzzz-town")],
        "rid long, s string",
    )
    got = {
        (r["lid"], r["rid"]): r["dist"]
        for r in qgram_edit_join(
            left, right, "lid", "rid", "s", "s", max_dist=1, q=2
        ).collect()
    }
    assert got == {(1, 10): 1}


def test_choose_qgram_q_tracks_the_measured_law_across_scales():
    # VERDICT r8 item 3: q picked programmatically from the N^2 p^2 / B
    # law at two synthetic scales.  The picks must reproduce the r8
    # hand-measured decisions: q=5 at sf0.1 (n~60k hex keys) and q=6 at
    # the next decade (n~600k) — the values PLANS' head-to-head runs
    # validated as lossless-and-13.6x-cheaper.
    from minivectordb_spark.operators.linkage import choose_qgram_q

    q_small, pred_small, sat_small = choose_qgram_q(600, 16, max_dist=1)
    q_mid, pred_mid, sat_mid = choose_qgram_q(60_000, 16, max_dist=1)
    q_big, pred_big, sat_big = choose_qgram_q(600_000, 16, max_dist=1)
    assert (q_small, sat_small) == (3, False)
    assert (q_mid, sat_mid) == (5, False)       # the r8 fixture choice
    assert (q_big, sat_big) == (6, False)       # "q=6 is the move" (PLANS)
    assert pred_small <= 4 * 600
    assert pred_mid <= 4 * 60_000
    assert pred_big <= 4 * 600_000
    # saturation: keys too short for any q that meets the target ->
    # largest feasible q + the loud flag (min_len 6, d=1 caps q at 3)
    q_sat, pred_sat, sat = choose_qgram_q(60_000, 6, max_dist=1)
    assert (q_sat, sat) == (3, True) and pred_sat > 4 * 60_000
    # degenerate short strings: no feasible q at all -> explicit raise
    import pytest

    with pytest.raises(ValueError):
        choose_qgram_q(1000, 3, max_dist=1)


def test_qgram_edit_join_auto_q_resolves_and_warns_on_saturation(spark):
    from minivectordb_spark.operators.linkage import qgram_edit_join

    # auto on comfortable keys: resolves silently, same answer as q=2
    left = spark.createDataFrame(
        [(1, "Xlphabet-city"), (2, "nomatchanywher")], "lid long, s string"
    )
    right = spark.createDataFrame(
        [(10, "alphabet-city"), (11, "zzzzzzzz-town")], "rid long, s string"
    )
    got = {
        (r["lid"], r["rid"]): r["dist"]
        for r in qgram_edit_join(
            left, right, "lid", "rid", "s", "s", max_dist=1, q="auto"
        ).collect()
    }
    assert got == {(1, 10): 1}
    # saturated inputs (short strings, alphabet 2 so B can't grow):
    # still runs, but warns
    import warnings

    sl = spark.createDataFrame([(i, "ababab") for i in range(30)],
                               "lid long, s string")
    sr = spark.createDataFrame([(i + 100, "ababab") for i in range(30)],
                               "rid long, s string")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        n = qgram_edit_join(
            sl, sr, "lid", "rid", "s", "s",
            max_dist=1, q="auto", alphabet_size=2,
        ).count()
    assert n == 900  # all-pairs match at dist 0
    assert any("saturated" in str(x.message) for x in w)


def test_qgram_auto_q_ignores_short_outliers(spark):
    # ADVICE r9: q='auto' used to size the knob from the GLOBAL min
    # string length, so one empty/short outlier hard-failed the whole
    # join with "no feasible q" — even though pinned-q mode just
    # contractually excludes short rows from candidates.  The min must
    # be taken over participating rows only (length >= 2*(max_dist+1)).
    from minivectordb_spark.operators.linkage import qgram_edit_join

    left = spark.createDataFrame(
        [(1, "Xlphabet-city"), (2, ""), (3, "ab")], "lid long, s string"
    )
    right = spark.createDataFrame(
        [(10, "alphabet-city"), (11, "")], "rid long, s string"
    )
    got = {
        (r["lid"], r["rid"]): r["dist"]
        for r in qgram_edit_join(
            left, right, "lid", "rid", "s", "s", max_dist=1, q="auto"
        ).collect()
    }
    assert got == {(1, 10): 1}  # outliers excluded, join not aborted
    # ALL rows short on one side: fall back to q=2 with a loud warning
    # (not a raise) — the join legitimately produces zero candidates,
    # exactly what pinned-q mode would ship
    import warnings

    allshort = spark.createDataFrame([(9, "ab")], "rid long, s string")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        n = qgram_edit_join(
            left, allshort, "lid", "rid", "s", "s", max_dist=1, q="auto"
        ).count()
    assert n == 0
    assert any("participation floor" in str(x.message) for x in w)


def test_qgram_edit_join_lossless_vs_bruteforce(spark):
    import itertools

    from minivectordb_spark.operators.linkage import qgram_edit_join

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    # strings with repeated grams (multiset numbering matters: 'aaaa'
    # vs 'aaab' share three 'aa' occurrences) and assorted near-misses
    ls = ["aaaaaa", "abcdef", "abcdff", "banana", "bananas", "kwyjibo"]
    rs = ["aaaaab", "abcdef", "bananna", "kwyjib", "zzzzzz"]
    d, q = 2, 2
    min_len = q * (d + 1)
    left = spark.createDataFrame(list(enumerate(ls)), "lid long, s string")
    right = spark.createDataFrame(list(enumerate(rs)), "rid long, s string")
    got = {
        (r["lid"], r["rid"]): r["dist"]
        for r in qgram_edit_join(
            left, right, "lid", "rid", "s", "s", max_dist=d, q=q
        ).collect()
    }
    want = {
        (i, j): lev(a, b)
        for (i, a), (j, b) in itertools.product(
            enumerate(ls), enumerate(rs)
        )
        if len(a) >= min_len and len(b) >= min_len and lev(a, b) <= d
    }
    assert got == want


def test_qgram_edit_join_min_len_contract(spark):
    from minivectordb_spark.operators.linkage import qgram_edit_join

    # strings below q*(d+1) are excluded by contract, even exact matches
    left = spark.createDataFrame([(1, "abc")], "lid long, s string")
    right = spark.createDataFrame([(10, "abc")], "rid long, s string")
    assert (
        qgram_edit_join(
            left, right, "lid", "rid", "s", "s", max_dist=1, q=2
        ).count()
        == 0
    )


def test_choose_qgram_q_monotone_properties():
    # property pins for the auto-q law: q never shrinks as the corpus
    # grows (B must keep pace with N^2), and the predicted candidate
    # count strictly decreases as q grows at fixed n (p^2 grows
    # polynomially, B exponentially)
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from minivectordb_spark.operators.linkage import choose_qgram_q

    @settings(max_examples=200, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=10**9),
        min_len=st.integers(min_value=4, max_value=128),
    )
    def check(n, min_len):
        q1, pred1, sat1 = choose_qgram_q(n, min_len, max_dist=1)
        q2, pred2, sat2 = choose_qgram_q(n * 10, min_len, max_dist=1)
        assert 2 <= q1 <= q2, (n, min_len, q1, q2)
        assert q1 * 2 <= min_len and q2 * 2 <= min_len  # feasibility
        if not sat1:
            assert pred1 <= 4.0 * n
        # at fixed n, prediction strictly decreases with q
        preds = [
            (float(n) ** 2) * ((1 * q + 1) ** 2) / 16.0**q
            for q in range(2, min_len // 2 + 1)
        ]
        assert all(a > b for a, b in zip(preds, preds[1:]))

    check()


def test_heavy_shuffle_partitions_law(spark):
    """VERDICT r11 item 1: the EDJoin resource law, pinned at the exact
    numbers of the recorded 5M-name failure trail — ~64M occurrence rows
    at 96 B/row need ceil(6.1 GB / 32 MB) = 184 partitions, not the
    session's 32; small working sets keep the session width."""
    from minivectordb_spark.plans.width import heavy_width

    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # small input: session width unchanged (no plan drift at gate scale)
    assert heavy_width(spark, 10_000, 96) == session
    # the r11 trail: 64M occurrence rows died at 32, ran at 256
    p = heavy_width(spark, 64_000_000, 96)
    assert p == max(session, -(-64_000_000 * 96 // (32 << 20)))
    assert p >= 184  # the sized width the hand-tuned 256 approximated
    # zero rows never divides by zero / returns junk
    assert heavy_width(spark, 0, 96) == session


def test_qgram_heavy_path_same_answer_and_sized_plan(spark, monkeypatch):
    """Force the heavy path on a small corpus (thresholds patched down):
    the output must equal the light path bit-for-bit, the law counters
    must report the sized width and the hash-join (non-broadcast)
    doc-frequency decision, and the plan must stay all-equi-join."""
    from minivectordb_spark.operators import linkage
    from minivectordb_spark.plans import physical_plan, width

    rows_l = [(i, f"prefix-{i:04d}-suffix") for i in range(1, 60)]
    rows_r = [(1000 + i, f"prefix-{i:04d}-suffix") for i in range(1, 60, 3)] + [
        (2000, "totally-different")
    ]
    left = spark.createDataFrame(rows_l, "lid long, s string")
    right = spark.createDataFrame(rows_r, "rid long, s string")

    light = sorted(
        (r["lid"], r["rid"], r["dist"])
        for r in linkage.qgram_edit_join(
            left, right, "lid", "rid", "s", "s", max_dist=1, q=3
        ).collect()
    )
    d_light = linkage.qgram_join_diagnostics(
        left, right, "lid", "rid", "s", "s", max_dist=1, q=3
    )
    assert d_light["heavy"] is False and d_light["df_broadcast"] is True
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert d_light["shuffle_partitions"] == session

    # shrink the law's units so ~2k occurrence rows count as heavy and
    # every df table is "too big to broadcast"
    monkeypatch.setattr(width, "AGG_PARTITION_BYTES", 1024)
    monkeypatch.setattr(linkage, "DF_BROADCAST_MAX_ROWS", 1)
    heavy = sorted(
        (r["lid"], r["rid"], r["dist"])
        for r in linkage.qgram_edit_join(
            left, right, "lid", "rid", "s", "s", max_dist=1, q=3
        ).collect()
    )
    assert heavy == light and light  # same answer, non-empty
    d_heavy = linkage.qgram_join_diagnostics(
        left, right, "lid", "rid", "s", "s", max_dist=1, q=3
    )
    assert d_heavy["heavy"] is True and d_heavy["df_broadcast"] is False
    assert d_heavy["shuffle_partitions"] > session
    assert d_heavy["est_occurrence_rows"] == d_light["est_occurrence_rows"] > 0
    # candidates/output identical across paths
    assert d_heavy["candidate_pairs"] == d_light["candidate_pairs"]
    assert d_heavy["output_rows"] == d_light["output_rows"] == len(light)

    # the heavy plan must still be all equi-joins — no nested loop crept
    # in when the broadcast hint was dropped
    cand, _, _, _ = linkage._qgram_prefix_candidates(
        left, right, "lid", "rid", "s", "s", 1, 3
    )
    plan = physical_plan(cand)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
