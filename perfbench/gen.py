"""Seeded input generator for the benchmark.

Writes the ten tables the engine's queries read (TPC-H-style star schema,
an ``events`` stream, ``documents`` and ``embeddings``) as one Parquet file
each, with the schemas and value domains the queries expect.  The same
``(seed, scale)`` always gives the same rows.

Row counts follow the usual scale factors: ``sf=0.01`` is 500 documents,
10k events and 60k lineitems; documents and embeddings never drop below
500 rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the row key value table column data query join filter scan sort group "
    "agg hash merge window batch stream spark vector order line part customer "
    "fast slow big small"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
DIM = 64
N_LABELS = 10
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "green")
PART_NOUN = ("ring", "widget", "bolt", "gear", "plate", "rod", "pipe", "screw")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def random_texts(rng: np.random.Generator, n: int, lo: int = 44, hi: int = 578) -> list[str]:
    """``n`` bag-of-words texts over VOCAB, each cut to a length in [lo, hi)."""
    lengths = rng.integers(lo, hi, n)
    words = np.array(VOCAB)
    out = []
    for length in lengths:
        picks = words[rng.integers(0, len(words), length // 3 + 2)]
        out.append(" ".join(picks)[:length])
    return out


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; 5% are one-word edits of an earlier document
    and 0.2% verbatim copies, so the dedup operators find real pairs."""
    texts = random_texts(rng, n)
    for i in range(1, n):
        u = rng.random()
        if u < 0.05:
            src = texts[int(rng.integers(0, i))].split(" ")
            src[int(rng.integers(0, len(src)))] = "dup"
            texts[i] = " ".join(src)
        elif u < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.permutation(np.arange(n) % N_SOURCES)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors around ten label centres (a clustered corpus)."""
    centres = rng.standard_normal((N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centres[labels] + 4.0 * rng.standard_normal((n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def events(rng: np.random.Generator, n: int) -> pa.Table:
    n_users = max(10, n // 66)
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _dates(rng: np.random.Generator, n: int, days: int) -> pa.Array:
    d = _EPOCH_1995 + (rng.integers(0, days, n) * _DAY_US).astype("timedelta64[us]")
    return pa.array(d, type=pa.timestamp("us"))


def tpch(rng: np.random.Generator, counts: dict[str, int]) -> dict[str, pa.Table]:
    nc, ns, npart = counts["customer"], counts["supplier"], counts["part"]
    no, nl = counts["orders"], counts["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, npart)]),
            "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2)),
            "o_orderdate": _dates(rng, no, 2404),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
            "l_shipdate": _dates(rng, nl, 2499),
        }),
    }


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table at scale ``sf`` under ``out_dir``; return row
    counts.  Each family of tables draws from its own stream derived from
    ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    counts = row_counts(sf)
    built = tpch(np.random.default_rng([seed, TABLES.index("lineitem")]), counts)
    for t, make in (("events", events), ("documents", documents), ("embeddings", embeddings)):
        built[t] = make(np.random.default_rng([seed, TABLES.index(t)]), counts[t])
    for t in TABLES:
        pq.write_table(built[t], os.path.join(out_dir, f"{t}.parquet"))
    return {t: built[t].num_rows for t in TABLES}
