"""Seeded input generator for the benchmark.

``generate(seed, root)`` writes one directory of parquet tables with the
TESTDATA schemas (TPC-H-ish star + events + documents + embeddings), the
serving training table and the serving request stream. The same seed
always gives the same bytes of data; the directory is cached per seed,
so a repeated seed costs nothing and generation stays outside every
timed window.

Money and rate columns carry at most two decimals, as in the repository's
test data (TESTDATA.md): the engine's exact integer-cents aggregates
(functions/exact.py) depend on it.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when the generated data changes, so stale caches are not reused.
VERSION = 3

#: Table sizes (rows): the star schema and events at half the sf0.1 sizes
#: of TESTDATA.md. Sizes are bounded by run time: every run pays JVM start
#: plus a checked warm pass of each query before its timed cycle, and a
#: run should stay well under a minute.
SIZES = {
    "customer": 7_500,
    "supplier": 500,
    "part": 10_000,
    "orders": 75_000,
    "lineitem": 300_000,
    "events": 50_000,
    "documents": 2_000,
    "embeddings": 1_000,
    "serve_train": 2_000,
}
#: Planted duplicate shares of the corpus inputs.
DOC_EXACT_DUP_SHARE = 0.02  # text copied verbatim from an earlier doc
DOC_NEAR_DUP_SHARE = 0.05  # earlier doc's text plus one appended token
EMB_NEAR_DUP_SHARE = 0.05  # earlier vector plus small gaussian noise
EMB_DIM = 64
#: Serving request stream: one cycle of requests, half 1-row and half
#: 100-row, in a seeded order.
SERVE_FEATURES = ["f1", "f2", "f3", "f4"]
SERVE_REQUEST_SIZES = (1, 100)
SERVE_REQUESTS_PER_CYCLE = 20
#: Seed directories kept in the cache; older ones are removed.
KEEP_SEEDS = 6

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "shiny", "small"]
PART_NOUN = ["bolt", "gear", "nut", "plate", "ring", "rod", "spring", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _star(rng: np.random.Generator, out: str) -> None:
    n_cust, n_supp, n_part = SIZES["customer"], SIZES["supplier"], SIZES["part"]
    n_ord, n_li = SIZES["orders"], SIZES["lineitem"]
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.permutation(np.arange(25) % 5), pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)
        ],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0,
    })
    order_day = rng.integers(0, 2404, n_ord)
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + order_day * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    l_order = rng.integers(0, n_ord, n_li)
    ship_day = order_day[l_order] + rng.integers(1, 122, n_li)
    _write(out, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_EPOCH_1995 + ship_day * _DAY_US),
    })
    n_ev = SIZES["events"]
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })


def _documents(rng: np.random.Generator, out: str) -> None:
    n = SIZES["documents"]
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
        for _ in range(n)
    ]
    n_chars = [len(t) for t in texts]
    # Plant duplicates: each planted doc copies a doc with a lower id.
    kinds = rng.permutation(
        np.repeat([1, 2, 0], [round(n * DOC_EXACT_DUP_SHARE),
                              round(n * DOC_NEAR_DUP_SHARE), n])[:n]
    )
    for i in np.flatnonzero(kinds[1:]) + 1:
        src = int(rng.integers(0, i))
        texts[i] = texts[src] if kinds[i] == 1 else texts[src] + " dup"
        n_chars[i] = len(texts[i])
    _write(out, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array(n_chars, dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, out: str) -> None:
    n = SIZES["embeddings"]
    m = rng.standard_normal((n, EMB_DIM))
    near = np.flatnonzero(rng.random(n) < EMB_NEAR_DUP_SHARE)
    for i in near[near > 0]:
        m[i] = m[rng.integers(0, i)] + 0.1 * m[i]  # cosine ~0.995
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _serving(rng: np.random.Generator, out: str) -> None:
    n = SIZES["serve_train"]
    x = rng.random((n, len(SERVE_FEATURES))).round(4)
    label = ((x[:, 0] + x[:, 1] > 1.0) ^ (x[:, 2] > 0.8)).astype(np.float64)
    cols = {f: x[:, j] for j, f in enumerate(SERVE_FEATURES)}
    _write(out, "serve_train", {**cols, "label": label})
    sizes = rng.permutation(
        np.resize(SERVE_REQUEST_SIZES, SERVE_REQUESTS_PER_CYCLE)
    )
    requests = [
        rng.random((int(k), len(SERVE_FEATURES))).round(4).tolist() for k in sizes
    ]
    with open(os.path.join(out, "requests.json"), "w") as f:
        json.dump({"feature_names": SERVE_FEATURES, "requests": requests}, f)


def generate(seed: int, root: str) -> str:
    """Return the input directory for ``seed``, generating it if needed."""
    out = os.path.join(root, f"v{VERSION}-seed{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        os.utime(out)
        return out
    os.makedirs(root, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    _star(rng, tmp)
    _documents(rng, tmp)
    _embeddings(rng, tmp)
    _serving(rng, tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write(f"{time.time()}\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    _prune(root)
    return out


def _prune(root: str) -> None:
    dirs = [
        os.path.join(root, d) for d in os.listdir(root)
        if os.path.exists(os.path.join(root, d, "_DONE"))
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_SEEDS:]:
        shutil.rmtree(d, ignore_errors=True)
