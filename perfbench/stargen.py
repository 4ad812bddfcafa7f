"""Seeded star-schema tables for the ``entry_queries`` probes.

The tables have the schemas and value domains of the repository's
star-schema fixtures (FIXTURES.md, section A) at roughly their smallest
scale factor: region, nation, customer, supplier, part, orders, lineitem,
events, documents (word-salad text with near-duplicate clusters) and
embeddings (unit vectors, 64 dimensions). The same seed and scale give
the same files, so the benchmark never reads input from outside its
checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows at scale 1 (about the smallest fixture scale factor)
ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the "
         "value vector window").split()
EMBED_DIM = 64
N_LABELS = 10
DUP_SHARE = 0.3  # documents that copy an earlier one, with a small edit


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    return (np.datetime64(start, "us")
            + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]"))


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _documents(rng, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                words.append("dup")
            else:
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return texts


def tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {t: max(int(r * scale), 10) for t, r in ROWS.items()}
    n_cust, n_supp, n_part, n_ord, n_li = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"])
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def table(cols: dict[str, tuple]) -> pa.Table:
        return pa.table({c: pa.array(v, type=t) for c, (v, t) in cols.items()})

    out = {
        "region": table({"r_regionkey": (range(5), i32), "r_name": (REGIONS, s)}),
        "nation": table({
            "n_nationkey": (range(25), i32),
            "n_name": ([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": (rng.integers(0, 5, 25), i32)}),
        "customer": table({
            "c_custkey": (range(n_cust), i64),
            "c_name": ([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": (rng.integers(0, 25, n_cust), i32),
            "c_acctbal": (_money(rng.uniform(-999, 9999, n_cust)), f64),
            "c_mktsegment": (rng.choice(SEGMENTS, n_cust), s)}),
        "supplier": table({
            "s_suppkey": (range(n_supp), i64),
            "s_name": ([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": (rng.integers(0, 25, n_supp), i32),
            "s_acctbal": (_money(rng.uniform(-999, 9999, n_supp)), f64)}),
        "part": table({
            "p_partkey": (range(n_part), i64),
            "p_name": ([f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                                   rng.choice(PART_NOUN, n_part))], s),
            "p_brand": ([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
            "p_type": (rng.choice(PART_TYPES, n_part), s),
            "p_size": (rng.integers(1, 51, n_part), i32),
            "p_retailprice": (np.round(900 + 0.1 * np.arange(n_part), 2), f64)}),
        "orders": table({
            "o_orderkey": (range(n_ord), i64),
            "o_custkey": (rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": (rng.choice(["F", "O", "P"], n_ord), s),
            "o_totalprice": (_money(rng.uniform(1000, 500000, n_ord)), f64),
            "o_orderdate": (_days(rng, n_ord, "1995-01-01", 2405), ts),
            "o_orderpriority": (rng.choice(PRIORITIES, n_ord), s)}),
    }
    qty = rng.integers(1, 51, n_li).astype(float)
    out["lineitem"] = table({
        "l_orderkey": (rng.integers(0, n_ord, n_li), i64),
        "l_partkey": (rng.integers(0, n_part, n_li), i64),
        "l_suppkey": (rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": (rng.integers(1, 8, n_li), i32),
        "l_quantity": (qty, f64),
        "l_extendedprice": (_money(qty * rng.uniform(900, 2100, n_li)), f64),
        "l_discount": (rng.integers(0, 11, n_li) / 100, f64),
        "l_tax": (rng.integers(0, 9, n_li) / 100, f64),
        "l_returnflag": (rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": (rng.choice(["F", "O"], n_li), s),
        "l_shipdate": (_days(rng, n_li, "1995-01-02", 2497), ts)})

    n_ev = n["events"]
    # ascending timestamps from 2024-01-01 over about 30 days, all distinct
    gaps = rng.integers(1, 2 * 30 * 86400 * 10**6 // n_ev, n_ev)
    out["events"] = table({
        "event_id": (range(n_ev), i64),
        "ts": (np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"), ts),
        "user_id": (rng.integers(0, min(15, n_cust), n_ev), i64),
        "event_type": (rng.choice(EVENT_TYPES, n_ev), s),
        "value": (_money(rng.exponential(60, n_ev) + 0.01), f64),
        "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})

    n_doc = n["documents"]
    texts = _documents(rng, n_doc)
    out["documents"] = table({
        "doc_id": (range(n_doc), i64),
        "text": (texts, s),
        "lang": (rng.choice(LANGS, n_doc, p=[0.15, 0.38, 0.16, 0.16, 0.15]), s),
        "source": ([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": ([len(t) for t in texts], i64)})

    n_emb = n["embeddings"]
    labels = rng.integers(0, N_LABELS, n_emb)
    centers = rng.normal(0, 1, (N_LABELS, EMBED_DIM))
    vecs = 0.15 * centers[labels] + rng.normal(0, 1, (n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = table({
        "vec_id": (range(n_emb), i64),
        "embedding": (list(vecs), pa.list_(pa.float32())),
        "label": (labels, i32)})
    return out


def write_star(path: str, seed: int, scale: float = 1.0) -> None:
    """Write every table as ``<path>/<table>.parquet``, the layout
    ``sources.star.load_table`` reads."""
    os.makedirs(path, exist_ok=True)
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(path, f"{name}.parquet"))
