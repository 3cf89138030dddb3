"""Deterministic inputs for the benchmark.

Two kinds of input, both pure functions of their seed:

- ``write_tables``: the star schema, events, documents and embeddings the
  read queries scan, with the schemas and value domains of the package's
  fixture tables (FIXTURES.md section 2). The tables use a fixed seed, so
  every run reads the same bytes and oracle checks are comparable.
- ``order_batches``: landing-zone order documents in the
  ``fixtures.SEED_ORDERS`` shape for the commit cycles. The run seed picks
  which batches are large, which carry a negative amount, and every
  document's content; the batch-size and rejection multisets are fixed.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
ADJ = "red new hot small large cold old blue".split()
NOUN = "bolt anvil ring rod plate gear widget nut".split()
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng, n: int) -> dict:
    texts = [
        " ".join(rng.choice(WORDS, int(k)))
        for k in rng.integers(10, 101, n)
    ]
    # ~5% near-duplicates (a copy of another document plus one token) and a
    # few exact copies, so the dedup operators have pairs to find
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(n))] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(n))]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(LANGS, n, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_tables(out_dir: str, sf: float, n_docs: int, n_vecs: int) -> None:
    """Write the ten fixture tables at scale ``sf`` into ``out_dir``."""
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32 = np.int32
    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": list(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(PTYPES, n_part)),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": list(rng.choice(PRIORITIES, n_ord)),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": list(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": list(rng.choice(EVENT_TYPES, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    emb = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(i32),
    })


CITIES = [
    ("Hyderabad", "Telangana", "500081"),
    ("Bangalore", "Karnataka", "560001"),
    ("Mumbai", "Maharashtra", "400001"),
    ("Chennai", "Tamil Nadu", "600001"),
    ("Pune", "Maharashtra", "411001"),
    ("Delhi", "Delhi", "110001"),
    ("Kolkata", "West Bengal", "700001"),
    ("Jaipur", "Rajasthan", "302001"),
]
PRODUCTS = [
    ("P001", "Gaming Laptop", 1200.50), ("P002", "Monitor 27-inch", 300.00),
    ("P003", "Mechanical Keyboard", 45.00), ("P005", "Wireless Mouse", 25.00),
    ("P009", "Mouse Pad", 10.00), ("P010", "USB-C Hub", 15.99),
]
STATUSES = ["DELIVERED", "PROCESSING", "SHIPPED", "CANCELLED"]


def order_batches(seed: int, sizes: list[int], rejected: list[bool]) -> list[list[dict]]:
    """One list of order documents per batch. ~10% of documents carry the
    reference's schema drift (``shipping_address.landmark`` and a top-level
    ``discount``); a rejected batch holds exactly one negative amount, which
    the write-audit-publish check must catch."""
    rng = np.random.default_rng([seed, 1])
    out, next_id = [], 0
    for size, bad in zip(sizes, rejected):
        docs = []
        for _ in range(size):
            items = []
            for p in rng.choice(len(PRODUCTS), int(rng.integers(1, 4)), replace=False):
                pid, pname, price = PRODUCTS[int(p)]
                items.append({"product_id": pid, "product_name": pname,
                              "quantity": int(rng.integers(1, 6)), "unit_price": price})
            city, state, zipc = CITIES[int(rng.integers(len(CITIES)))]
            doc = {
                "order_id": f"ORD-{next_id:07d}",
                "customer_id": f"CUST-{int(rng.integers(100, 999))}",
                "order_date": f"2024-02-{int(rng.integers(1, 29)):02d}T{int(rng.integers(0, 24)):02d}:00:00",
                "status": STATUSES[int(rng.integers(len(STATUSES)))],
                "items": items,
                "total_amount": round(sum(i["quantity"] * i["unit_price"] for i in items), 2),
                "shipping_address": {"city": city, "state": state, "zip": zipc},
            }
            if rng.random() < 0.1:
                doc["shipping_address"]["landmark"] = f"landmark_{int(rng.integers(50))}"
                doc["discount"] = int(rng.integers(1, 500))
            docs.append(doc)
            next_id += 1
        if bad:
            docs[int(rng.integers(size))]["total_amount"] = -1.0
        out.append(docs)
    return out


def write_batch(path: str, docs: list[dict]) -> int:
    """Write one batch as a JSON array (the reference's landing format);
    returns its size in bytes."""
    data = json.dumps(docs).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)
