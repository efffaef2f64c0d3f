"""Deterministic sf1 fixture — the FULL star schema at 10x sf0.1 (r9).

The 5x fixtures (make_scaled_{documents,embeddings,events}.py) cover the
document/embedding/event-side operators; the frozen CORE bench set also
reads lineitem/orders/customer/part/supplier, so its sf0.1→sf1 slope
(tools/scale_gate.py, SCALING.md) needs every table at the second
scale point.

Construction, chosen so every cost driver stays stationary while row
count grows 10x:

- ``region``/``nation`` copy verbatim — they are fixed-size dimensions at
  every TPC-H scale factor.
- ``customer``/``supplier``/``part``/``orders``/``lineitem`` replicate in
  10 key-offset blocks: block b shifts every key column by
  b x (max_key + 1) of its dimension, so referential integrity holds
  within each block, join fan-out per fact row stays exactly 1, value
  and date distributions are identical by construction, and group-by
  cardinalities on key-derived columns grow linearly.
- ``documents``/``embeddings``/``events`` follow the 5x scripts' recipes
  at SCALE=10 (template resampling with i.i.d. unigram refill / verbatim
  vectors / jittered timestamps + widened user space) so similarity
  density, Gram statistics, and per-user event depth stay stationary.

Output: .scaling/sf1/*.parquet (gitignored; seeds pinned).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scaling",
    "sf1",
)
SCALE = 10
SEED = 20240


def _offset_blocks(t: pa.Table, key_offsets: dict[str, int]) -> pa.Table:
    """SCALE key-offset replicas of ``t``; non-key columns are reused
    zero-copy, key columns shift by b x offset in block b."""
    np_keys = {
        c: t.column(c).to_numpy(zero_copy_only=False) for c in key_offsets
    }
    blocks = []
    for b in range(SCALE):
        cols = {}
        for c in t.schema.names:
            if c in key_offsets and b > 0:
                cols[c] = pa.array(
                    np_keys[c] + b * key_offsets[c],
                    type=t.schema.field(c).type,
                )
            else:
                cols[c] = t.column(c)
        blocks.append(pa.table(cols))
    return pa.concat_tables(blocks)


def _write(name: str, t: pa.Table) -> None:
    pq.write_table(t, os.path.join(OUT_DIR, f"{name}.parquet"))
    print(f"{name}: {t.num_rows} rows")


def _star_schema() -> None:
    for name in ("region", "nation"):
        shutil.copyfile(
            os.path.join(SRC, f"{name}.parquet"),
            os.path.join(OUT_DIR, f"{name}.parquet"),
        )
        print(f"{name}: copied verbatim (fixed dimension)")

    customer = pq.read_table(os.path.join(SRC, "customer.parquet"))
    supplier = pq.read_table(os.path.join(SRC, "supplier.parquet"))
    part = pq.read_table(os.path.join(SRC, "part.parquet"))
    orders = pq.read_table(os.path.join(SRC, "orders.parquet"))
    lineitem = pq.read_table(os.path.join(SRC, "lineitem.parquet"))

    def span(t, c):
        return int(
            t.column(c).to_numpy(zero_copy_only=False).max()
        ) + 1

    off_c = span(customer, "c_custkey")
    off_s = span(supplier, "s_suppkey")
    off_p = span(part, "p_partkey")
    off_o = span(orders, "o_orderkey")

    _write("customer", _offset_blocks(customer, {"c_custkey": off_c}))
    _write("supplier", _offset_blocks(supplier, {"s_suppkey": off_s}))
    _write("part", _offset_blocks(part, {"p_partkey": off_p}))
    _write(
        "orders",
        _offset_blocks(orders, {"o_orderkey": off_o, "o_custkey": off_c}),
    )
    _write(
        "lineitem",
        _offset_blocks(
            lineitem,
            {"l_orderkey": off_o, "l_partkey": off_p, "l_suppkey": off_s},
        ),
    )


def _documents() -> None:
    # the make_scaled_documents.py recipe at SCALE=10: template rows keep
    # length/lang/source, tokens refill i.i.d. from the corpus unigram
    # distribution so pairwise-similarity density stays stationary.
    t = pq.read_table(os.path.join(SRC, "documents.parquet"))
    doc_id = t.column("doc_id").to_pylist()
    text = t.column("text").to_pylist()
    lang = t.column("lang").to_pylist()
    source = t.column("source").to_pylist()

    tokens = [s.split(" ") for s in text]
    vocab, counts = np.unique(
        np.concatenate([np.array(tk) for tk in tokens]), return_counts=True
    )
    p = counts / counts.sum()
    lengths = np.array([len(tk) for tk in tokens])

    rng = np.random.default_rng(SEED)
    n_orig = len(doc_id)
    n_new = n_orig * (SCALE - 1)
    tmpl = rng.integers(0, n_orig, size=n_new)
    new_lengths = lengths[tmpl]
    draws = rng.choice(vocab, size=int(new_lengths.sum()), p=p)

    new_ids, new_text, new_lang, new_src = [], [], [], []
    pos = 0
    next_id = max(doc_id) + 1
    for i in range(n_new):
        ln = int(new_lengths[i])
        new_text.append(" ".join(draws[pos : pos + ln]))
        pos += ln
        new_ids.append(next_id + i)
        new_lang.append(lang[tmpl[i]])
        new_src.append(source[tmpl[i]])

    _write(
        "documents",
        pa.table(
            {
                "doc_id": pa.array(doc_id + new_ids, pa.int64()),
                "text": pa.array(text + new_text, pa.string()),
                "lang": pa.array(lang + new_lang, pa.string()),
                "source": pa.array(source + new_src, pa.string()),
                "n_chars": pa.array(
                    [len(s) for s in text] + [len(s) for s in new_text],
                    pa.int64(),
                ),
            }
        ),
    )


def _embeddings() -> None:
    t = pq.read_table(os.path.join(SRC, "embeddings.parquet"))
    n = t.num_rows
    rng = np.random.default_rng(SEED + 1)
    vec_id = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    emb = t.column("embedding").to_pylist()
    label = np.asarray(t.column("label").to_pylist(), dtype=np.int32)
    extra = n * (SCALE - 1)
    pick = rng.integers(0, n, size=extra)
    _write(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array(
                    np.concatenate([vec_id, vec_id.max() + 1 + np.arange(extra)]),
                    pa.int64(),
                ),
                "embedding": pa.array(
                    emb + [emb[i] for i in pick], pa.list_(pa.float32())
                ),
                "label": pa.array(
                    np.concatenate([label, label[pick]]), pa.int32()
                ),
            }
        ),
    )


def _events() -> None:
    t = pq.read_table(os.path.join(SRC, "events.parquet"))
    n = t.num_rows
    rng = np.random.default_rng(SEED + 2)
    event_id = np.asarray(t.column("event_id").to_pylist(), dtype=np.int64)
    ts = np.asarray(t.column("ts").cast(pa.int64()).to_pylist(), dtype=np.int64)
    ts_type = t.schema.field("ts").type
    if pa.types.is_timestamp(ts_type) and ts_type.unit == "ns":
        # historical driver fixtures stored TIMESTAMP(NANOS) (the reason
        # load_table carries the nanosAsLong + DIV-1000 path) — truncate
        # the same way so a regenerated ns fixture can't silently become
        # nanos-reinterpreted-as-micros here
        ts = ts // 1000
    user_id = np.asarray(t.column("user_id").to_pylist(), dtype=np.int64)
    etype = np.asarray(t.column("event_type").to_pylist(), dtype=object)
    value = np.asarray(t.column("value").to_pylist(), dtype=np.float64)
    props = np.asarray(t.column("props").to_pylist(), dtype=object)

    extra = n * (SCALE - 1)
    pick = rng.integers(0, n, size=extra)
    lo, hi = ts.min(), ts.max()
    new_ts = rng.integers(lo, hi + 1, size=extra)
    max_user = user_id.max() + 1
    new_user = user_id[pick] + max_user * rng.integers(1, SCALE, size=extra)

    _write(
        "events",
        pa.table(
            {
                "event_id": pa.array(
                    np.concatenate(
                        [event_id, event_id.max() + 1 + np.arange(extra)]
                    ),
                    pa.int64(),
                ),
                "ts": pa.array(
                    np.concatenate([ts, new_ts]), pa.int64()
                ).cast(pa.timestamp("us")),
                "user_id": pa.array(
                    np.concatenate([user_id, new_user]), pa.int64()
                ),
                "event_type": pa.array(
                    np.concatenate([etype, etype[pick]]).tolist(), pa.string()
                ),
                "value": pa.array(
                    np.concatenate([value, value[pick]]), pa.float64()
                ),
                "props": pa.array(
                    np.concatenate([props, props[pick]]).tolist(), pa.string()
                ),
            }
        ),
    )


def main() -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    _star_schema()
    _documents()
    _embeddings()
    _events()
    print(f"sf1 fixture complete in {OUT_DIR}")


if __name__ == "__main__":
    main()
