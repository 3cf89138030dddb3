"""Generate deterministic sf1-scale documents/embeddings for scaling runs.

The driver ships sf0.001/sf0.01/sf0.1 only; the scale claims (MinHash LSH,
blocked ANN, embedding near-dup, containment join) need at least one more
decade of measured evidence. This synthesizes a 10x corpus FROM the sf0.1
tables (never replacing driver data — output lives in .scale/, gitignored):

- documents: the 5,000 originals plus 45,000 recombinants (first half of
  doc a's words + second half of doc b's words, a,b seeded-random), with
  a unique salt token spliced in every 4th position. The salt is the
  load-bearing part: the corpus is template-generated, so unsalted
  half-swaps frequently reproduce near-identical documents and the
  0.8-Jaccard pair count exploded 58x super-linearly (148k pairs at sf1 vs
  a linear organic trend of ~2.5k). Salting every 4th token kills ~75% of
  trigram shingles between any two docs, so only the organic
  template-dup population survives and the dup RATE stays scale-invariant.
- embeddings: the 2,000 originals plus 18,000 unit-normalized 0.6/0.4
  mixtures of seeded-random SAME-LABEL pairs (cross-label mixtures landed
  between clusters and inflated the >=0.4-cosine pair rate ~4x over
  organic), plus slight gaussian noise.

Seeded (numpy PCG64(7)), so reruns produce identical bytes-for-bytes data.

Round-5: the recipe CHAINS — pass a source dir to scale any existing decade
by another 10x (sf1 -> sf10: ~500k docs / 200k embeddings / 60M lineitem).
Chained runs pass a salt ``tag`` so recombinant salt tokens never collide
with the previous generation's (sf1 keeps tag="" for byte-identical
reruns), and a distinct seed so the pair-sampling is independent.

Usage: python scripts/gen_scale_data.py [out_dir] [src_dir] [seed] [tag]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"


def gen_documents(
    out_dir: str, rng: np.random.Generator, tag: str = ""
) -> int:
    t = pq.read_table(f"{SRC}/documents.parquet")
    doc_id = t["doc_id"].to_numpy()
    text = t["text"].to_pylist()
    lang = t["lang"].to_pylist()
    source = t["source"].to_pylist()
    n = len(text)
    n_new = 9 * n
    a_idx = rng.integers(0, n, n_new)
    b_idx = rng.integers(0, n, n_new)
    next_id = int(doc_id.max()) + 1
    new_rows = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for k in range(n_new):
        wa = text[a_idx[k]].split(" ")
        wb = text[b_idx[k]].split(" ")
        words = wa[: len(wa) // 2] + wb[len(wb) // 2 :]
        salted = []
        for i, w in enumerate(words):
            salted.append(w)
            if i % 4 == 3:
                salted.append(f"s{tag}{k}x{i}")
        tx = " ".join(salted)
        new_rows["doc_id"].append(next_id + k)
        new_rows["text"].append(tx)
        new_rows["lang"].append(lang[a_idx[k]])
        new_rows["source"].append(source[b_idx[k]])
        new_rows["n_chars"].append(len(tx))
    combined = pa.concat_tables([t, pa.table(new_rows, schema=t.schema)])
    pq.write_table(combined, f"{out_dir}/documents.parquet", row_group_size=8192)
    return combined.num_rows


def gen_embeddings(out_dir: str, rng: np.random.Generator) -> int:
    t = pq.read_table(f"{SRC}/embeddings.parquet")
    vecs = np.array(t["embedding"].to_pylist(), dtype=np.float32)
    labels = t["label"].to_numpy()
    n, dim = vecs.shape
    n_new = 9 * n
    a_idx = rng.integers(0, n, n_new)
    # partner sampled from the SAME label so mixtures stay inside their
    # cluster instead of bridging two clusters
    by_label: dict[int, np.ndarray] = {
        lab: np.flatnonzero(labels == lab) for lab in np.unique(labels)
    }
    b_idx = np.array(
        [by_label[labels[a]][rng.integers(0, len(by_label[labels[a]]))] for a in a_idx]
    )
    mixed = 0.6 * vecs[a_idx] + 0.4 * vecs[b_idx]
    mixed += rng.normal(0.0, 0.05, mixed.shape).astype(np.float32)
    mixed /= np.maximum(np.linalg.norm(mixed, axis=1, keepdims=True), 1e-9)
    next_id = int(t["vec_id"].to_numpy().max()) + 1
    new = pa.table(
        {
            "vec_id": pa.array(range(next_id, next_id + n_new), pa.int64()),
            "embedding": pa.array(
                [row for row in mixed.astype(np.float32)], pa.list_(pa.float32())
            ),
            "label": pa.array(labels[a_idx], pa.int32()),
        },
        schema=t.schema,
    )
    combined = pa.concat_tables([t, new])
    pq.write_table(combined, f"{out_dir}/embeddings.parquet", row_group_size=8192)
    return combined.num_rows


def gen_events(out_dir: str, rng: np.random.Generator) -> int:
    """9x new events: resampled rows with fresh ids and +-30 min timestamp
    jitter — event density per (user, window) grows 10x while the type mix,
    per-user fan-out, and the view->purchase temporal structure (as-of /
    sessionization semantics) stay distributionally intact. The ts column
    keeps its source physical type (TIMESTAMP(NANOS) in driver fixtures)
    by jittering the int64 representation directly."""
    t = pq.read_table(f"{SRC}/events.parquet")
    n = t.num_rows
    n_new = 9 * n
    idx = rng.integers(0, n, n_new)
    ts_type = t.schema.field("ts").type
    ts_i64 = t["ts"].cast(pa.int64()).to_numpy()
    unit = {"ns": 10**9, "us": 10**6, "ms": 10**3, "s": 1}[ts_type.unit]
    jitter = rng.integers(-1800, 1801, n_new) * unit
    next_id = int(t["event_id"].to_numpy().max()) + 1
    new = pa.table(
        {
            "event_id": pa.array(
                range(next_id, next_id + n_new), t.schema.field("event_id").type
            ),
            "ts": pa.array(ts_i64[idx] + jitter, pa.int64()).cast(ts_type),
            "user_id": t["user_id"].take(pa.array(idx)),
            "event_type": t["event_type"].take(pa.array(idx)),
            "value": t["value"].take(pa.array(idx)),
            "props": t["props"].take(pa.array(idx)),
        },
        schema=t.schema,
    )
    combined = pa.concat_tables([t, new])
    pq.write_table(combined, f"{out_dir}/events.parquet", row_group_size=16384)
    return combined.num_rows


def gen_tpch(out_dir: str) -> dict[str, int]:
    """10x the TPC-H-shaped relational tables by KEY-OFFSET BLOCK COPY:
    block j (j = 0..9) is the original table with every key column shifted
    by j * (max_key + 1), names regenerated from the new key. This is how
    dbgen itself scales — entity count grows linearly while every
    distributional property that drives plan shape is EXACTLY preserved:
    per-key join fan-out (orders per customer, lineitems per order/part/
    supplier), value and date histograms (each day/flag/price bucket gets
    exactly 10x the rows), and referential consistency (an order and its
    lineitems shift together, so o_orderdate/l_shipdate relationships
    hold). region/nation stay fixed-size (25/5 rows), as in real TPC-H,
    so customers-per-nation grows 10x. Deterministic: no RNG at all."""
    counts: dict[str, int] = {}
    for t in ("region", "nation"):
        tbl = pq.read_table(f"{SRC}/{t}.parquet")
        pq.write_table(tbl, f"{out_dir}/{t}.parquet")
        counts[t] = tbl.num_rows

    spans: dict[str, int] = {}

    def blocks(name: str, key_shifts: dict[str, str],
               names_fmt: dict[str, str] | None = None) -> int:
        tbl = pq.read_table(f"{SRC}/{name}.parquet")
        out = []
        for j in range(10):
            cols = {}
            for field in tbl.schema.names:
                col = tbl[field]
                if field in key_shifts:
                    span_of = key_shifts[field]
                    if span_of not in spans:
                        spans[span_of] = int(
                            pa.compute.max(tbl[field]).as_py()
                        ) + 1
                    shifted = pa.compute.add(
                        col, j * spans[span_of]
                    ).cast(tbl.schema.field(field).type)
                    cols[field] = shifted
                elif names_fmt and field in names_fmt:
                    keyfield = names_fmt[field]
                    keys = pa.compute.add(
                        tbl[keyfield], j * spans[key_shifts[keyfield]]
                    ).to_numpy()
                    prefix = field.split("_")[0]
                    label = {"c": "Customer", "s": "Supplier"}[prefix]
                    cols[field] = pa.array(
                        [f"{label}#{k:09d}" for k in keys], pa.string()
                    )
                else:
                    cols[field] = col
            out.append(
                pa.table(cols, schema=tbl.schema)
                if j else tbl
            )
        combined = pa.concat_tables(out)
        pq.write_table(
            combined, f"{out_dir}/{name}.parquet", row_group_size=65536
        )
        return combined.num_rows

    counts["customer"] = blocks(
        "customer", {"c_custkey": "c"}, {"c_name": "c_custkey"}
    )
    counts["supplier"] = blocks(
        "supplier", {"s_suppkey": "s"}, {"s_name": "s_suppkey"}
    )
    counts["part"] = blocks("part", {"p_partkey": "p"})
    counts["orders"] = blocks(
        "orders", {"o_orderkey": "o", "o_custkey": "c"}
    )
    counts["lineitem"] = blocks(
        "lineitem",
        {"l_orderkey": "o", "l_partkey": "p", "l_suppkey": "s"},
    )
    return counts


def main() -> int:
    global SRC
    out_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, ".scale", "sf1"
    )
    if len(sys.argv) > 2:
        SRC = sys.argv[2]
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 7
    tag = sys.argv[4] if len(sys.argv) > 4 else ""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    nd = gen_documents(out_dir, rng, tag)
    ne = gen_embeddings(out_dir, rng)
    nv = gen_events(out_dir, rng)
    nt = gen_tpch(out_dir)
    print(
        f"wrote {out_dir}: documents={nd} embeddings={ne} events={nv} "
        + " ".join(f"{k}={v}" for k, v in nt.items())
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
