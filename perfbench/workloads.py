"""Workload definitions shared by the client (``run.py``) and the server.

Each workload names the fixtures it needs, the engine tables it loads, the
wire doors it opens, and how its operations are generated from the seed.
Every generator returns operations in fixed cycles (one of each kind per
cycle), so a run that stops on a cycle boundary holds the same mix of
operations whatever the seed.  The oracles here compute expected answers
outside every timed interval.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import random
from dataclasses import dataclass
from decimal import Decimal

import fixtures

DDL = {
    "orders": "CREATE TABLE orders (o_orderkey Int64, o_custkey Int64, o_orderstatus String, "
              "o_totalprice Float64, o_orderdate Date, o_orderpriority String) "
              "PARTITION BY toYear(o_orderdate)",
    "ingest": "CREATE TABLE ingest (ts DateTime, user_id Int64, event_type String, value Int64) "
              "PARTITION BY toYYYYMM(ts)",
}
WIDE_COLUMNS = "id, d, ts, x, s, ni, ns, dec"
PIPELINE_OPS = ("brute_force_topk", "pq_topk", "minhash_lsh", "bm25_topk", "embedding_dedup")
TOPK_QUERIES = 16
TOPK_K = 5
EMB_DEDUP_THRESHOLD = 0.4


@dataclass(frozen=True)
class Spec:
    tables: tuple[str, ...]  # fixtures written by the server
    engine_tables: tuple[str, ...]  # created from DDL, loaded with insert_df if a fixture
    views: tuple[str, ...]  # fixtures read in place: temp views and DataFrames
    doors: tuple[str, ...]  # wire doors the server opens


WORKLOADS = {
    # the partitioned tables go through the engine's ingest path; the
    # unpartitioned dimension and export tables are read in place, which
    # keeps two cold table loads out of every run's set-up
    # both end with the ingest phase, so its metrics are gated on both;
    # pipeline_ops starts it from an empty table, which keeps a cold table
    # load out of its set-up
    "serving": Spec(("customer", "orders", "ingest", "wide"), ("orders", "ingest"),
                    ("customer", "wide"), ("native", "http", "mysql")),
    "pipeline_ops": Spec(("documents", "embeddings"), ("ingest",),
                         ("documents", "embeddings"), ("native",)),
}


def rng_for(seed: int, *stream) -> random.Random:
    return random.Random(f"{seed}:" + ":".join(map(str, stream)))


# ---------------------------------------------------------------------------
# olap_native: small-result ClickHouse-dialect SELECTs, checked by DuckDB
# ---------------------------------------------------------------------------

def olap_cycle(r: random.Random, sc: fixtures.Scale) -> list[tuple[str, str, str | None]]:
    """One of each read kind: (kind, ClickHouse SQL, DuckDB SQL).  The last
    kind reads the ingest table; its third item is the month range it
    reads, checked against the blocks inserted (``IngestPhase.check_read``)."""
    prio = r.choice(fixtures.PRIORITIES)
    y = r.randint(1992, 1998)
    m = r.randint(1, 11)
    d0, d1 = f"{y}-{m:02d}-01", f"{y}-{m + 1:02d}-01"
    key = r.randint(1, sc.orders)
    mod, rem = r.choice([(7, r.randint(0, 6)), (11, r.randint(0, 10))])
    jy = r.randint(1992, 1998)
    return [
        ("agg_year_uniq",
         "SELECT toYear(o_orderdate) AS y, uniqExact(o_custkey) AS u, count(*) AS c "
         f"FROM orders WHERE o_orderpriority = '{prio}' GROUP BY y ORDER BY y",
         "SELECT year(o_orderdate) AS y, count(DISTINCT o_custkey) AS u, count(*) AS c "
         f"FROM orders WHERE o_orderpriority = '{prio}' GROUP BY y ORDER BY y"),
        ("range_pruned",
         "SELECT count(*) AS c, sum(o_totalprice) AS s FROM orders "
         f"WHERE o_orderdate >= toDate('{d0}') AND o_orderdate < toDate('{d1}')",
         "SELECT count(*) AS c, sum(o_totalprice) AS s FROM orders "
         f"WHERE o_orderdate >= DATE '{d0}' AND o_orderdate < DATE '{d1}'"),
        ("point",
         "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders "
         f"WHERE o_orderkey = {key}",
         "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders "
         f"WHERE o_orderkey = {key}"),
        ("join_segment",
         "SELECT c_mktsegment AS seg, count(*) AS c, sum(o_totalprice) AS s "
         "FROM orders JOIN customer ON o_custkey = c_custkey "
         f"WHERE o_orderdate >= toDate('{jy}-01-01') AND o_orderdate < toDate('{jy + 1}-01-01') "
         "GROUP BY seg ORDER BY seg",
         "SELECT c_mktsegment AS seg, count(*) AS c, sum(o_totalprice) AS s "
         "FROM orders JOIN customer ON o_custkey = c_custkey "
         f"WHERE o_orderdate >= DATE '{jy}-01-01' AND o_orderdate < DATE '{jy + 1}-01-01' "
         "GROUP BY seg ORDER BY seg"),
        ("status_agg",
         "SELECT o_orderstatus AS st, count(*) AS c, avg(o_totalprice) AS a FROM orders "
         f"WHERE o_custkey % {mod} = {rem} GROUP BY st ORDER BY st",
         "SELECT o_orderstatus AS st, count(*) AS c, avg(o_totalprice) AS a FROM orders "
         f"WHERE o_custkey % {mod} = {rem} GROUP BY st ORDER BY st"),
        ("ingest_range", *ingest_read_sql(r)),
    ]


def _norm(v):
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return float(v)
    return v


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Row multisets equal, floats to 1e-9 relative."""
    if len(got) != len(want):
        return False
    g = sorted((tuple(map(_norm, r)) for r in got), key=repr)
    w = sorted((tuple(map(_norm, r)) for r in want), key=repr)
    for a, b in zip(g, w):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


# ---------------------------------------------------------------------------
# export_wide: large mixed-type results through three doors
# ---------------------------------------------------------------------------

def export_sql(r: random.Random, sc: fixtures.Scale) -> tuple[str, tuple[int, int]]:
    """A SELECT of ``n`` consecutive ids; returns it with (first id, n)."""
    n = r.choice(sc.export_rows)
    a = r.randint(0, sc.wide - n)
    return f"SELECT {WIDE_COLUMNS} FROM wide WHERE id >= {a} AND id < {a + n}", (a, n)


def export_expected(wide, first: int, n: int) -> tuple[int, str]:
    """Digest of the fixture rows an export query selects (id = row index):
    the rows' ``_canon`` text, built column by column with Arrow."""
    import pyarrow as pa
    import pyarrow.compute as pc

    part = wide.slice(first, n)
    null = "\\N"
    text = [
        pc.cast(part["id"], pa.string()),
        pc.cast(part["d"], pa.string()),
        pc.strftime(pc.cast(part["ts"], pa.timestamp("s", tz="UTC")), "%Y-%m-%d %H:%M:%S"),
        pa.array([f"{v:.12g}" for v in part["x"].to_pylist()], pa.string()),
        part["s"],
        pc.fill_null(pc.cast(part["ni"], pa.string()), null),
        pc.fill_null(part["ns"], null),
        pc.cast(part["dec"], pa.string()),
    ]
    return _digest(s.encode() for s in pc.binary_join_element_wise(*text, "\x1f").to_pylist())


def _canon(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float):
        return f"{v:.12g}"
    if isinstance(v, Decimal):
        return f"{v:.4f}"
    return str(v)


def rows_digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) over door-independent text."""
    return _digest("\x1f".join(map(_canon, r)).encode() for r in rows)


def _digest(lines) -> tuple[int, str]:
    acc = 0
    n = 0
    for line in lines:
        h = hashlib.blake2b(line, digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) & (2**64 - 1)
        n += 1
    return n, f"{acc:016x}"


# ---------------------------------------------------------------------------
# ingest_mixed: seeded insert blocks beside partition-range reads
# ---------------------------------------------------------------------------

INGEST_MONTHS = 6  # blocks span January to June 1996


def raw_bytes(n_rows: int, event_types) -> int:
    """Raw column bytes of ingest rows: DateTime 4, two Int64 8 each, plus
    the String bytes."""
    return n_rows * (4 + 8 + 8) + sum(len(s.encode()) for s in event_types)


@dataclass
class BlockFacts:
    """What a block of ingest rows adds to the table: row count and value
    sum per month of 1996 (index 0 is January), raw column bytes, and the
    number of toYYYYMM partitions it spans."""

    counts: list[int]
    sums: list[int]
    raw: int

    @classmethod
    def of(cls, ts_s, values, event_types) -> "BlockFacts":
        import numpy as np

        month = (np.asarray(ts_s).astype("datetime64[s]").astype("datetime64[M]")
                 - np.datetime64("1996-01", "M")).astype(np.int64)
        counts = np.bincount(month, minlength=INGEST_MONTHS)
        sums = np.zeros(INGEST_MONTHS, dtype=np.int64)
        np.add.at(sums, month, np.asarray(values, dtype=np.int64))
        return cls(counts.tolist(), sums.tolist(), raw_bytes(len(month), event_types))

    @property
    def rows(self) -> int:
        return sum(self.counts)

    @property
    def partitions(self) -> int:
        return sum(1 for c in self.counts if c)

    def in_range(self, months: tuple[int, int]) -> tuple[int, int]:
        """(count, sum) of the rows in months [m0, m1) of 1996."""
        m0, m1 = months
        return sum(self.counts[m0 - 1:m1 - 1]), sum(self.sums[m0 - 1:m1 - 1])


def ingest_columns(seed: int, sc: fixtures.Scale, block: int) -> tuple[list, BlockFacts]:
    """Native INSERT columns for one block, with its facts."""
    b = fixtures.ingest_block(seed, sc, block)
    cols = [
        ("ts", "DateTime", [int(v) for v in b["ts"]]),
        ("user_id", "Int64", [int(v) for v in b["user_id"]]),
        ("event_type", "String", list(b["event_type"])),
        ("value", "Int64", [int(v) for v in b["value"]]),
    ]
    return cols, BlockFacts.of(b["ts"], b["value"], cols[2][2])


def ingest_base_facts(workload: str, seed: int, sc: fixtures.Scale) -> BlockFacts:
    """Facts of the ingest table's starting content."""
    if "ingest" not in WORKLOADS[workload].tables:
        return BlockFacts([0] * INGEST_MONTHS, [0] * INGEST_MONTHS, 0)
    b = fixtures.ingest_base_columns(seed, sc)
    return BlockFacts.of(b["ts"], b["value"], b["event_type"])


def ingest_read_sql(r: random.Random) -> tuple[str, tuple[int, int]]:
    """A count/sum over months [m0, m1) of 1996, with that month range."""
    m0 = r.randint(1, INGEST_MONTHS - 1)
    m1 = r.randint(m0 + 1, INGEST_MONTHS + 1)
    return ("SELECT count(*) AS c, sum(value) AS s FROM ingest "
            f"WHERE ts >= toDateTime('1996-{m0:02d}-01 00:00:00') "
            f"AND ts < toDateTime('1996-{m1:02d}-01 00:00:00')"), (m0, m1)


# ---------------------------------------------------------------------------
# pipeline_ops: LLM-data-pipeline operators, run in-process by the server
# ---------------------------------------------------------------------------

def pipeline_params(r: random.Random, sc: fixtures.Scale, op: str) -> dict:
    if op in ("brute_force_topk", "pq_topk"):
        return {"q_ids": sorted(r.sample(range(sc.embeddings), TOPK_QUERIES))}
    if op == "bm25_topk":
        return {"queries": [(q, " ".join(r.sample(fixtures.WORDS, 3))) for q in (1, 2, 3)]}
    return {}


def pipeline_frame(spark, frames: dict, op: str, params: dict):
    """Build the operator's result DataFrame (server side)."""
    from pyspark.sql import functions as F

    from tensorbase_spark.pipeline import dedup, similarity, text

    emb, docs = frames.get("embeddings"), frames.get("documents")
    if op in ("brute_force_topk", "pq_topk"):
        q = emb.filter(F.col("vec_id").isin(params["q_ids"]))
        fn = similarity.brute_force_topk if op == "brute_force_topk" else similarity.pq_topk
        return fn(emb, q, k=TOPK_K, n=frames["n_embeddings"])
    if op == "minhash_lsh":
        return dedup.minhash_lsh_pairs(docs, threshold=0.8)
    if op == "bm25_topk":
        return text.bm25_topk(docs, params["queries"], k=TOPK_K, n_docs=frames["n_documents"])
    if op == "embedding_dedup":
        return similarity.embedding_near_dup_pairs(
            emb, threshold=EMB_DEDUP_THRESHOLD, n=frames["n_embeddings"])
    raise ValueError(f"unknown pipeline op {op}")


def topk_oracle(vecs, q_ids: list[int], k: int) -> list[tuple[int, int, int]]:
    """Exact cosine top-k per query, self excluded, ties by id: (q, c, rank)."""
    import numpy as np

    v = vecs.astype(np.float64)
    norms = np.sqrt((v * v).sum(axis=1))
    out = []
    for q in q_ids:
        cos = (v @ v[q]) / (norms * norms[q])
        cos[q] = -np.inf
        order = np.lexsort((np.arange(len(v)), -cos))[:k]
        out += [(q, int(c), rank + 1) for rank, c in enumerate(order)]
    return out


def near_dup_oracle(vecs, threshold: float) -> set[tuple[int, int]]:
    import numpy as np

    v = vecs.astype(np.float64)
    v = v / np.sqrt((v * v).sum(axis=1))[:, None]
    cos = v @ v.T
    a, b = np.nonzero(np.triu(cos >= threshold, k=1))
    return set(zip(a.tolist(), b.tolist()))


def bm25_oracle(texts: list[str], queries, k: int, k1: float = 1.2, b: float = 0.75):
    """Robertson BM25 top-k, scores rounded to 6 places before ranking:
    [(q_id, doc_id, rank, score)]."""
    toks = [t.lower().split() for t in texts]
    n = len(toks)
    avgdl = sum(len(t) for t in toks) / n
    out = []
    for qid, qs in queries:
        terms = list(dict.fromkeys(qs.lower().split()))
        dfreq = {t: sum(1 for d in toks if t in d) for t in terms}
        scored = []
        for doc_id, d in enumerate(toks):
            score, hit = 0.0, False
            for t in terms:
                tf = d.count(t)
                if tf:
                    hit = True
                    idf = math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
                    score += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * len(d) / avgdl))
            if hit:
                scored.append((round(score, 6), doc_id))
        scored.sort(key=lambda s: (-s[0], s[1]))
        out += [(qid, doc_id, rank + 1, s) for rank, (s, doc_id) in enumerate(scored[:k])]
    return out
