"""Seeded fixture generation for the benchmark.

Every table is a pure function of ``(seed, scale)``: the same pair gives
byte-identical parquet files.  Schemas follow the engine's TPC-H-ish test
tables (customer, orders, lineitem, documents, embeddings) plus two
benchmark-only shapes: ``wide`` (mixed wire types for result export) and
``ingest`` blocks (seeded 10k-row inserts spanning several months).
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1970, 1, 1)
DATE_LO = (dt.date(1992, 1, 1) - EPOCH).days
DATE_HI = (dt.date(1998, 12, 31) - EPOCH).days
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = (
    "a the spark line column order small sort fast value scan hash slow group "
    "batch agg filter query big key window row part table stream merge data "
    "vector join customer"
).split()
LANGS = ["en", "en", "de", "fr", "es", "zh"]
EVENT_TYPES = ["click", "view", "buy", "share", "scroll"]


@dataclass(frozen=True)
class Scale:
    """Row counts of one fixture size."""

    customers: int
    orders: int
    wide: int
    export_rows: tuple[int, ...]
    ingest_rows: int
    ingest_base_blocks: int
    documents: int
    planted_dups: int
    embeddings: int


# "full" is the measured size; "smoke" is the sf0.001-sized profile the
# benchmark's own tests use.
SCALES = {
    "full": Scale(
        customers=15_000, orders=150_000, wide=120_000,
        export_rows=(20_000,), ingest_rows=10_000, ingest_base_blocks=2,
        documents=2_000, planted_dups=40, embeddings=2_000,
    ),
    "smoke": Scale(
        customers=150, orders=1_500, wide=2_000,
        export_rows=(500,), ingest_rows=500, ingest_base_blocks=2,
        documents=200, planted_dups=8, embeddings=200,
    ),
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per table."""
    return np.random.default_rng([seed, sum(ord(c) << (i % 24) for i, c in enumerate(stream))])


def _pick(rng, choices, n) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)], pa.string())


def customer(seed: int, sc: Scale) -> pa.Table:
    r = _rng(seed, "customer")
    n = sc.customers
    keys = np.arange(1, n + 1, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
        "c_nationkey": r.integers(0, 25, n, dtype=np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": _pick(r, SEGMENTS, n),
    })


def orders(seed: int, sc: Scale) -> pa.Table:
    r = _rng(seed, "orders")
    n = sc.orders
    return pa.table({
        "o_orderkey": np.arange(1, n + 1, dtype=np.int64),
        "o_custkey": r.integers(1, sc.customers + 1, n, dtype=np.int64),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n),
        "o_totalprice": np.round(r.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": pa.array(r.integers(DATE_LO, DATE_HI + 1, n).astype(np.int32), pa.date32()),
        "o_orderpriority": _pick(r, PRIORITIES, n),
    })


def wide(seed: int, sc: Scale) -> pa.Table:
    """Mixed-type export table: Int64, Date, DateTime, Float64, String,
    Nullable(Int64), Nullable(String), Decimal(18,4)."""
    r = _rng(seed, "wide")
    n = sc.wide
    ni = r.integers(-10**12, 10**12, n)
    ni_null = r.random(n) < 0.2
    ns_null = r.random(n) < 0.2
    words = np.asarray(WORDS, dtype=object)
    w1 = words[r.integers(0, len(WORDS), n)]
    w2 = words[r.integers(0, len(WORDS), n)]
    dec = r.integers(-10**9, 10**9, n)
    ts = (np.int64(DATE_LO) * 86400 + r.integers(0, (DATE_HI - DATE_LO) * 86400, n))
    return pa.table({
        "id": np.arange(n, dtype=np.int64),
        "d": pa.array(r.integers(DATE_LO, DATE_HI + 1, n).astype(np.int32), pa.date32()),
        "ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
        "x": r.normal(0.0, 1e4, n),
        "s": pa.array([f"{a}-{b}-{i}" for i, (a, b) in enumerate(zip(w1, w2))], pa.string()),
        "ni": pa.array(np.where(ni_null, 0, ni), pa.int64(), mask=ni_null),
        "ns": pa.array(np.where(ns_null, None, w1), pa.string()),
        "dec": pa.array([Decimal(int(v)).scaleb(-4) for v in dec], pa.decimal128(18, 4)),
    })


def ingest_block(seed: int, sc: Scale, block: int) -> dict[str, np.ndarray]:
    """One seeded insert block for the ``ingest`` table: rows spread over
    six months of 1996, so every insert touches several partitions."""
    r = _rng(seed, f"ingest{block:+d}")
    n = sc.ingest_rows
    lo = (dt.date(1996, 1, 1) - EPOCH).days * 86400
    return {
        "ts": lo + r.integers(0, 182 * 86400, n),
        "user_id": r.integers(1, 50_000, n),
        "event_type": np.asarray(EVENT_TYPES, dtype=object)[r.integers(0, len(EVENT_TYPES), n)],
        "value": r.integers(0, 10_000, n),
    }


def ingest_base_columns(seed: int, sc: Scale) -> dict[str, np.ndarray]:
    """The ``ingest`` table's starting content: blocks -1 .. -ingest_base_blocks."""
    blocks = [ingest_block(seed, sc, -b) for b in range(1, sc.ingest_base_blocks + 1)]
    return {k: np.concatenate([b[k] for b in blocks]) for k in blocks[0]}


def ingest_base(seed: int, sc: Scale) -> pa.Table:
    cols = ingest_base_columns(seed, sc)
    return pa.table({
        "ts": pa.array(cols["ts"] * 1_000_000, pa.timestamp("us", tz="UTC")),
        "user_id": cols["user_id"].astype(np.int64),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": cols["value"].astype(np.int64),
    })


def documents(seed: int, sc: Scale) -> tuple[pa.Table, list[tuple[int, int]]]:
    """Random word documents plus ``planted_dups`` near-copies (one word
    changed in a >=60-word text).  Returns the table and the planted pairs."""
    r = _rng(seed, "documents")
    base = sc.documents - sc.planted_dups
    texts = []
    for _ in range(base):
        texts.append(" ".join(np.asarray(WORDS)[r.integers(0, len(WORDS), int(r.integers(10, 90)))]))
    pairs = []
    long_ids = [i for i, t in enumerate(texts) if t.count(" ") >= 69]
    srcs = r.choice(long_ids, sc.planted_dups, replace=False)
    for j, src in enumerate(srcs):
        w = texts[src].split(" ")
        w[int(r.integers(0, len(w)))] = "planted"
        texts.append(" ".join(w))
        pairs.append((int(src), base + j))
    n = len(texts)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(r, LANGS, n),
        "source": pa.array([f"src{i % 5}" for i in range(n)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), pairs


def embeddings(seed: int, sc: Scale, dim: int = 64) -> pa.Table:
    r = _rng(seed, "embeddings")
    n = sc.embeddings
    centers = r.normal(0.0, 1.0, (10, dim))
    label = r.integers(0, 10, n)
    vecs = (centers[label] * 0.3 + r.normal(0.0, 1.0, (n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def write_tables(out_dir: str, seed: int, sc: Scale, names: list[str]) -> dict:
    """Write the named fixtures as ``<out_dir>/<name>.parquet``; returns
    side facts (planted duplicate pairs)."""
    os.makedirs(out_dir, exist_ok=True)
    facts: dict = {}
    for name in names:
        if name == "documents":
            tab, facts["planted_pairs"] = documents(seed, sc)
        else:
            tab = {"customer": customer, "orders": orders, "wide": wide,
                   "ingest": ingest_base, "embeddings": embeddings}[name](seed, sc)
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return facts
