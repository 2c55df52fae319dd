"""Seeded input generator for the benchmark.

Writes the engine's ten parquet tables (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
schemas, value domains and planted structure of the repo's sf0.1 test
data, drawn from a seeded random stream:

- TPC-H-style star schema: uniform foreign keys into the dimension
  tables, uniform flags and priorities, order and ship dates spread over
  1995-2001, prices rounded to cents.
- events: a 30-day stream from 2024-01-01 with exponential gaps,
  exponential values and `{"k": n}` props.
- documents: 10-100 words drawn from the corpus' 30-word vocabulary,
  `source = src<doc_id % 20>`, and 5% planted near-duplicates (an
  existing document's text plus the token `dup`), each copying a
  different original.
- embeddings: unit-norm 64-dim float32 vectors with labels 0-9.

The same seed gives byte-identical files; another seed gives other bytes
with the same row counts and the same planted near-duplicate count. Every
table draws from its own stream, so resizing one table leaves the others
unchanged.
"""
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
DUP_FRAC = 0.05
DIM = 64

EPOCH = dt.datetime(1970, 1, 1)


def _stream(seed, table):
    """Independent generator per (seed, table)."""
    h = hashlib.sha256(f"{seed}:{table}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _ts_days(rng, n, start, end):
    """n midnight timestamps drawn uniformly from the days start..end."""
    days = (start - EPOCH).days + rng.integers(0, (end - start).days + 1, n)
    return pa.array(days.astype(np.int64) * 86_400_000_000,
                    pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)].tolist(), pa.string())


def region(seed, scale):
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(names, pa.string())})


def nation(seed, scale):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def _counts(scale):
    return {"customer": max(150, int(150_000 * scale)),
            "supplier": max(10, int(10_000 * scale)),
            "part": max(200, int(200_000 * scale)),
            "orders": max(1500, int(1_500_000 * scale)),
            "lineitem": max(6000, int(6_000_000 * scale)),
            "events": max(1000, int(1_000_000 * scale)),
            "users": max(150, int(15_000 * scale))}


def customer(seed, scale):
    n = _counts(scale)["customer"]
    rng = _stream(seed, "customer")
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})


def supplier(seed, scale):
    n = _counts(scale)["supplier"]
    rng = _stream(seed, "supplier")
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n))})


def part(seed, scale):
    n = _counts(scale)["part"]
    rng = _stream(seed, "part")
    adj = ["blue", "hot", "large", "small", "green", "red", "cold", "shiny"]
    noun = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
    names = [f"{adj[a]} {noun[b]}" for a, b in
             zip(rng.integers(0, len(adj), n), rng.integers(0, len(noun), n))]
    return pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array(names, pa.string()),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1))})


def orders(seed, scale):
    c = _counts(scale)
    n = c["orders"]
    rng = _stream(seed, "orders")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n)
                              .astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _ts_days(rng, n, dt.datetime(1995, 1, 1),
                                dt.datetime(2001, 8, 1)),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})


def lineitem(seed, scale):
    c = _counts(scale)
    n = c["lineitem"]
    rng = _stream(seed, "lineitem")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, c["orders"], n)
                               .astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, c["part"], n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n)
                              .astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) * 0.01, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) * 0.01, 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts_days(rng, n, dt.datetime(1995, 1, 2),
                               dt.datetime(2001, 11, 4))})


def events(seed, scale):
    c = _counts(scale)
    n = c["events"]
    rng = _stream(seed, "events")
    span_us = 30 * 86_400_000_000
    gaps = rng.exponential(span_us / (n + 1), n)
    start = (dt.datetime(2024, 1, 1) - EPOCH).days * 86_400_000_000
    ts = np.minimum(start + np.cumsum(gaps), start + span_us - 1)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype(np.int64), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, c["users"], n).astype(np.int64)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string())})


def documents_table(seed, n, tag="documents"):
    """n documents with round(n * DUP_FRAC) planted near-duplicates."""
    rng = _stream(seed, tag)
    vocab = np.asarray(VOCAB, dtype=object)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # n_dup disjoint (original, copy) pairs: every seed plants the same
    # cluster structure, so the dedup loops run the same rounds
    n_dup = int(round(n * DUP_FRAC))
    picked = rng.choice(n, 2 * n_dup, replace=False)
    for src, p in zip(picked[:n_dup], picked[n_dup:]):
        texts[p] = texts[src] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64))})


def embeddings_table(seed, n):
    rng = _stream(seed, "embeddings")
    v = rng.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32))})


BUILDERS = {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events}


def write(table, path):
    pq.write_table(table, path, compression="snappy")


def generate(out_dir, seed, scale=0.1, n_docs=5000, n_vecs=2000,
             docs_tag="documents"):
    """Writes all ten tables into out_dir and returns it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, build in BUILDERS.items():
        write(build(seed, scale), os.path.join(out_dir, f"{name}.parquet"))
    write(documents_table(seed, n_docs, docs_tag),
          os.path.join(out_dir, "documents.parquet"))
    write(embeddings_table(seed, n_vecs),
          os.path.join(out_dir, "embeddings.parquet"))
    return out_dir

