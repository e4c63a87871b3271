"""Similarity search over embedding columns (array<float>).

Operators:

- brute_force_topk: the exact baseline.  One mapInPandas scan of the corpus
  with the collected query vectors in the closure; each Arrow batch keeps
  its top-(k+1) per query and a window ranks the survivors.
- pq_topk / ivfpq_topk: product-quantized ADC scans (plain, and bucketed by
  coarse centroid) with the exact cosine of every per-batch survivor
  computed inside the same scan; two q_id windows (ADC cut, exact re-rank)
  share one Exchange.  build_ivfpq_index / ivfpq_search_indexed persist and
  search the code table.
- ivf_topk / ivf_search_indexed, lsh_topk: bucketed ANN — queries probe
  k-means buckets (or sign-LSH buckets), candidates join on the bucket key
  and only candidates are scored.  The corpus is bucketed once (one
  shuffle); a persisted IVF index is partitioned by centroid_id, so a probe
  reads nprobe of nlist directories.
- embedding_near_dup_pairs, semantic_contamination, label_knn_classify:
  pair scans (bucketed GEMM per centroid; broadcast crossJoins).

Every piece of work has one implementation, shared by all operators:

- numpy kernels: ``_unit`` (unit rows), ``_cos_rows`` (row-wise float64
  einsum cosine, zero norm -> 0.0 — also the body of the Arrow ``cosine``
  UDF), ``_order``/``_nearest`` (the (score desc, id asc, NaN last) top-n
  cut), ``_pq_codes`` (nearest codeword per subspace), ``_train_codebooks``
  (per-subspace k-means) and ``_train_centroids_np`` (spherical k-means);
- ``_topk_scan`` + ``_top_cut``: the Arrow top-k scan skeleton and its
  per-batch cut; ``_adc_slices``: the IVF-PQ ADC per same-centroid slice;
- ``_query_side``: the query set collected once, with its ADC lookup
  tables and IVF probe sets;
- ``_top_rows``/``_rank_tail``: the (score desc, c_id asc) window and the
  rank <= k, round(cos, 6) result shape; ``_probe_frame``/``_score_probes``:
  the distributed IVF probe ranking and candidate scoring.

Centroids and codebooks are deterministic k-means, trained driver-side on a
bounded, hash-ordered sample (index libraries train quantizers on a sample,
never the corpus): maximin init + fixed Lloyd iterations in numpy.  No
runtime randomness anywhere, so results are reproducible and
oracle-checkable.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def _dot_expr(a, b) -> F.Column:
    # cast each element to double BEFORE multiplying: float32 accumulation
    # is engine-dependent; double accumulation in element order is exactly
    # the same everywhere (and matches the DuckDB oracle bit-for-bit).
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def cosine_expr(a, b) -> F.Column:
    """Pure-JVM-expression cosine.  Correct but SLOW at volume: zip_with /
    aggregate are CodegenFallback — interpreted per element — and measured
    wall time on the same plan varied 40x with JIT profile luck.  Kept for
    tests and tiny inputs; the operators below use the Arrow-vectorized
    pandas_udf, which is the right shape for dense math at 100 TB.

    Zero-norm guard: a zero vector's cosine is defined as 0, never NaN —
    NaN compares GREATER than everything in Spark ordering, so an unguarded
    failed-embedding row would rank first in every top-k and pass every
    >= threshold filter."""
    den = F.sqrt(_dot_expr(a, a)) * F.sqrt(_dot_expr(b, b))
    return F.when(den > 0, _dot_expr(a, b) / den).otherwise(F.lit(0.0))


# ---- numpy kernels ----------------------------------------------------------


def _unit(X: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm; zero rows stay zero."""
    n = np.linalg.norm(X, axis=1, keepdims=True)
    return X / np.where(n > 0, n, 1.0)


def _norms(X: np.ndarray) -> np.ndarray:
    return np.sqrt(np.einsum("ij,ij->i", X, X))


def _cos_rows(a: np.ndarray, b: np.ndarray, nb: np.ndarray | None = None) -> np.ndarray:
    """Row-wise float64 cosine of two (n, dim) matrices: one einsum for the
    dots, one per side for the norms (``nb``: b's norms, when the caller
    already holds them).  A zero norm gives 0.0, never NaN (NaN sorts above
    everything in Spark).  Per-row reductions do not depend on which other
    rows share the call, so batch composition never changes a score."""
    num = np.einsum("ij,ij->i", a, b)
    den = _norms(a) * (_norms(b) if nb is None else nb)
    return np.where(den > 0, num / np.where(den > 0, den, 1.0), 0.0)


def _order(S: np.ndarray, ids: np.ndarray, n: int) -> np.ndarray:
    """Column indices of each row's ``n`` best scores: score desc, ties to
    the lower id, NaN last — the order of Spark's (score DESC NULLS LAST,
    id ASC) window."""
    return np.lexsort((np.broadcast_to(ids, S.shape), -S), axis=1)[:, :n]


def _nearest(S: np.ndarray, ids: np.ndarray, n: int) -> np.ndarray:
    """The ids of each row's ``n`` best-scoring columns.  With unit
    centroid rows, dot order is cosine order, so ``S = X @ C.T`` ranks
    centroids by cosine."""
    return ids[_order(S, ids, n)]


def _top_cut(s, ids, top, qi, q_ids, col):
    """One per-batch (or per-slice) top cut of a (len(qi), len(ids)) score
    matrix: each query's ``top`` best candidates as (q_id, c_id, <col>)
    column arrays, plus the query row and candidate index of every kept
    pair.  A global top-n row ranks <= n inside any batch or slice that
    holds it, so a cut of n+1 never depends on batch boundaries."""
    o = _order(s, ids, top)
    rep = np.repeat(qi, o.shape[1])
    flat = o.ravel()
    cut = {
        "q_id": q_ids[rep],
        "c_id": ids[flat],
        col: np.take_along_axis(s, o, axis=1).ravel(),
    }
    return cut, rep, flat


def _pq_codes(X: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Nearest codeword per subspace (codebooks (m, ksub, dsub)):
    argmin ||x-c||^2 = argmin -2 x.c + ||c||^2, one GEMM per subspace,
    ties to the lowest code."""
    m, _ks, dsub = books.shape
    out = np.empty((len(X), m), dtype=np.int32)
    for j in range(m):
        xs = X[:, j * dsub : (j + 1) * dsub]
        d = -2.0 * (xs @ books[j].T) + (books[j] ** 2).sum(axis=1)
        out[:, j] = np.argmin(d, axis=1)
    return out


def _ivfpq_codes(Xn: np.ndarray, cents: np.ndarray, books: np.ndarray):
    """IVF-PQ encoding of unit rows: nearest coarse centroid, then the PQ
    codes of the residual."""
    cid = np.argmax(Xn @ cents.T, axis=1)
    return cid, _pq_codes(Xn - cents[cid], books)


def _train_codebooks(x: np.ndarray, m: int, ksub: int, iters: int = 8) -> np.ndarray:
    """Deterministic product-quantizer training (Jégou et al. 2011): split
    the rows into m contiguous subvectors and run an independent L2 k-means
    per subspace — maximin init from row 0 of the hash order, a fixed Lloyd
    count, ties to the lowest index, empty cells keep their codeword.
    Returns codebooks of shape (m, min(ksub, n), dim // m)."""
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    ks = min(ksub, len(x))
    books = np.empty((m, ks, dsub))
    for j in range(m):
        xs = x[:, j * dsub : (j + 1) * dsub]
        chosen = [0]
        d2 = ((xs - xs[0]) ** 2).sum(axis=1)
        for _ in range(1, ks):
            nxt = int(np.argmax(d2))
            chosen.append(nxt)
            d2 = np.minimum(d2, ((xs - xs[nxt]) ** 2).sum(axis=1))
        cb = xs[chosen].copy()
        for _ in range(iters):
            # argmin ||x-c||^2 as in _pq_codes, but with the (n, ks) distance
            # matrix kept bound through the update loop: freed there, glibc
            # hands the buffer back to the OS and every Lloyd iteration
            # faults it in again (measured ~1.4x slower training)
            dist = -2.0 * (xs @ cb.T) + (cb**2).sum(axis=1)
            assign = np.argmin(dist, axis=1)
            for c in range(ks):
                members = xs[assign == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        books[j] = cb
    return books


# ---- Spark helpers ----------------------------------------------------------


@pandas_udf(T.DoubleType())
def _cosine_pudf(a: pd.Series, b: pd.Series) -> pd.Series:
    # Arrow hands each array column as a Series of np arrays; stacking gives
    # (batch, dim) matrices for one _cos_rows per batch.  NULL embeddings
    # yield NULL (not a stage-killing np.stack crash).  The return type is a
    # DataType instance: a DDL string would be parsed through the active
    # SparkSession, which does not exist yet at import time.
    valid = (a.notna() & b.notna()).to_numpy()
    out = np.full(len(a), np.nan)  # NaN -> Arrow null -> Spark NULL
    if valid.any():
        out[valid] = _cos_rows(
            np.stack(a[valid].to_numpy()).astype(np.float64),
            np.stack(b[valid].to_numpy()).astype(np.float64),
        )
    return pd.Series(out)


def cosine(a, b) -> F.Column:
    return _cosine_pudf(a, b)


def _spread(
    df: DataFrame, id_col: str, n: int | None, rows_per_task: int = 2000
) -> DataFrame:
    """Spread a corpus DataFrame ahead of a compute-bound Python scan when
    the scan is starved for parallelism — sized by DATA, never by core
    count alone.

    Why (r15): the driver's fixture embeddings are 1-2 parquet files (one
    row group each — unsplittable), so every mapInPandas/Arrow pass over
    them ran as 1-2 TASKS regardless of core count — PERF_r14's scaling
    block read ~1.0 for the whole ANN family at 8 vs 32 cores because the
    corpus scans were single-task, and the pinned sf1 fixture made
    sim_pq_topk/sim_brute_force 4-6x slower than their probe-normalized
    expectation.  The dedup module has spread its doc scans this way since
    r2 (dedup._repartitioned).

    Sizing: target = ceil(n / rows_per_task) capped at the configured
    parallelism — ~2000-row slices amortize the per-task Arrow + numpy
    fixed costs (a measured spread-to-32 of a 2000-row corpus LOST 15-25%
    at sf0.1: 62-row batches are all overhead).  Callers pass ``n`` from
    catalog stats / parquet footers (the registry wrappers do); an upper
    bound (a filtered corpus's whole table, say) can only ask for more
    tasks, still capped by the parallelism.  With n unknown the input is
    left alone — no surprise shuffles for library callers or tiny test
    fixtures.  When the scan already has >= target
    partitions (the 100 TB case: thousands of files) this is a no-op, so
    the shuffle only ever exists where the file layout starves the scan
    (guide §2: scale-adaptive partitioning, not a constant tuned for one
    mode).  Row-level results are unaffected: every consumer is either
    per-row (encode/bucketize/assign) or a per-batch top-cut proven
    batch-boundary-independent."""
    from tensorbase_spark.session import default_parallelism

    if n is None:
        return df
    target = min(default_parallelism(), max(1, -(-int(n) // rows_per_task)))
    if target <= 1 or df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(id_col))


def _topk_scan(emb, queries, id_col, vec_col, n, cols, score, corpus=None):
    """The Arrow top-k scan: ONE mapInPandas over the corpus — by default
    ``emb``'s (c_id, v), spread by _spread — with the query side in
    ``score``'s closure.  ``score(pdf)`` yields each non-empty batch's top
    cuts as (q_id, c_id, *cols) column dicts, each sent as one pandas
    frame (adding a column to a built frame costs more than building it
    whole); ids keep the callers' types (string ids included).  Self
    matches drop after the scan, so cuts keep one row more than the window
    downstream."""
    schema = T.StructType(
        [
            T.StructField("q_id", queries.schema[id_col].dataType),
            T.StructField("c_id", emb.schema[id_col].dataType),
        ]
        + [T.StructField(c, T.DoubleType()) for c in cols]
    )

    def _scan(batches):
        for pdf in batches:
            if len(pdf):
                yield from (pd.DataFrame(cut) for cut in score(pdf) if len(cut["q_id"]))

    if corpus is None:
        corpus = _spread(
            emb.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("v")),
            "c_id",
            n,
        )
    return corpus.mapInPandas(_scan, schema=schema).filter(
        F.col("q_id") != F.col("c_id")
    )


def _top_rows(df: DataFrame, score: str, n: int, rank: str = "rank", tie: str = "c_id"):
    """Each q_id's ``n`` best rows by (score desc, ``tie`` asc), numbered in
    ``rank``.  A NULL score sorts last."""
    w = W.partitionBy("q_id").orderBy(F.col(score).desc(), F.col(tie))
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= n)


def _rank_tail(scored: DataFrame, k: int, c_id: str = "c_id") -> DataFrame:
    """The result of every top-k operator: (q_id, c_id, rank, cos) with
    rank <= k by (cos desc, c_id asc) and cos rounded to 6 places."""
    return _top_rows(scored, "cos", k, tie=c_id).select(
        "q_id", F.col(c_id).alias("c_id"), "rank", F.round("cos", 6).alias("cos")
    )


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: every query x corpus pair, ranked per query.

    One _topk_scan over the corpus with the collected query vectors in the
    closure: each Arrow batch scores every query against its rows
    (_cos_rows) and keeps each query's top-(k+1) — the +1 absorbs a query
    matching itself.  The corpus crosses the Python boundary once and the
    window input is batches x nq x (k+1) skinny rows.  A NULL query or
    corpus vector scores NaN -> Spark NULL, which sorts last under cos DESC
    with the c_id tiebreak, as np.lexsort places NaN last."""
    qrows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in qrows])
    q_vecs = [None if r[1] is None else np.asarray(r[1], dtype=np.float64) for r in qrows]
    every = np.arange(len(q_ids))

    def _score(pdf):
        ids = pdf["c_id"].to_numpy()
        raw = pdf["v"].to_numpy()
        valid = np.array([v is not None for v in raw])
        s = np.full((len(q_ids), len(ids)), np.nan)
        if valid.any():
            X = np.stack(raw[valid]).astype(np.float64)
            nx = _norms(X)
            for qi, qv in enumerate(q_vecs):
                if qv is not None:
                    s[qi, valid] = _cos_rows(np.broadcast_to(qv, X.shape), X, nx)
        yield _top_cut(s, ids, k + 1, every, q_ids, "cos")[0]

    return _rank_tail(_topk_scan(emb, queries, id_col, vec_col, n, ["cos"], _score), k)


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
) -> DataFrame:
    """Embedding-space benchmark-leak scan: corpus items whose embedding is
    near-identical (cosine >= threshold) to any benchmark item — catches the
    paraphrased/reformatted contamination the n-gram scan misses.

    Exact, not bucketed: benchmarks are tiny relative to a 100 TB corpus,
    so the right plan is broadcast(benchmark) x streaming corpus — a
    map-side Arrow-batched cosine with NO shuffle of the corpus at all.
    If the benchmark side ever outgrows the broadcast threshold, swap the
    benchmark side into the IVF index and probe per corpus row."""
    c = _spread(
        corpus.select(
            F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("c_vec")
        ),
        "corpus_id",
        n,
    )
    b = benchmark.select(
        F.col(id_col).alias("bench_id"), F.col(vec_col).alias("b_vec")
    )
    return (
        c.crossJoin(F.broadcast(b))
        .withColumn("cos", cosine(F.col("c_vec"), F.col("b_vec")))
        .filter(F.col("cos") >= threshold)
        .select(
            "corpus_id", "bench_id", F.round("cos", 6).alias("cos")
        )
    )


def _sample_frame(
    emb: DataFrame, id_col: str, vec_col: str, sample_size: int = 4096
) -> DataFrame:
    """The bounded training sample as (i, v): the ``sample_size`` non-NULL
    rows lowest by (md5(id), id) — a uniform but reproducible pseudo-sample."""
    return (
        emb.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.col("i").cast("string")), F.col("i"))
        .limit(sample_size)
    )


def _collect_training_sample(
    emb: DataFrame, id_col: str, vec_col: str, sample_size: int = 4096
) -> np.ndarray:
    """The training sample as a UNIT-NORMALIZED (n, dim) float64 matrix —
    one collect job, shared by every trainer that needs the same sample."""
    rows = _sample_frame(emb, id_col, vec_col, sample_size).collect()
    return _unit(np.array([r.v for r in rows], dtype=np.float64))


def _train_centroids_np(
    emb: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    sample_size: int = 4096,
    iters: int = 5,
    x: np.ndarray | None = None,
) -> np.ndarray:
    """Numpy core of train_centroids: deterministic spherical k-means on the
    hash-ordered bounded sample.  Returns a (k, dim) unit-row matrix."""
    if x is None:
        x = _collect_training_sample(emb, id_col, vec_col, sample_size)
    k = min(n_centroids, len(x))
    # maximin init: start from row 0 (hash-ordered, so pseudo-random), then
    # repeatedly take the point least similar to its nearest chosen centroid
    chosen = [0]
    best_sim = x @ x[0]
    for _ in range(1, k):
        nxt = int(np.argmin(best_sim))
        chosen.append(nxt)
        best_sim = np.maximum(best_sim, x @ x[nxt])
    cents = x[chosen].copy()
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)  # argmax -> lowest index on ties
        for c in range(k):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cents[c] = m / n
    return cents


def _centroid_frame(spark, C: np.ndarray, ids=None) -> DataFrame:
    """The broadcastable (centroid_id long, cent_vec array<double>) table of
    a centroid matrix (ids default to 0..k-1)."""
    schema = T.StructType(
        [
            T.StructField("centroid_id", T.LongType(), False),
            T.StructField("cent_vec", T.ArrayType(T.DoubleType()), False),
        ]
    )
    ids = range(len(C)) if ids is None else ids
    return spark.createDataFrame(
        [(int(i), [float(v) for v in c]) for i, c in zip(ids, C)], schema
    )


def train_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    iters: int = 5,
) -> DataFrame:
    """Deterministic spherical k-means coarse quantizer.

    Training runs driver-side on a BOUNDED sample (at most ``sample_size``
    rows — the FAISS/IVF convention; at 100 TB you never Lloyd-iterate the
    corpus, you train the quantizer on ~100k sampled vectors and broadcast
    it).  Determinism, with no seeds: the sample is the ``sample_size``
    lowest md5(id) rows (a uniform but reproducible pseudo-sample), init is
    maximin/farthest-point, ties break on the lowest index, and the Lloyd
    iteration count is fixed.  Empty clusters keep their previous centroid.

    Returns a tiny (n_centroids)-row DataFrame (centroid_id, cent_vec) meant
    to be broadcast."""
    cents = _train_centroids_np(emb, n_centroids, id_col, vec_col, sample_size, iters)
    return _centroid_frame(emb.sparkSession, cents)


def _assign_multi(
    emb: DataFrame,
    cents: DataFrame,
    probes: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Assign every vector to its ``probes`` nearest centroids (multi-probe).

    The centroid matrix rides INSIDE an Arrow-batched UDF: one corpus pass,
    one GEMM per batch, n x probes output rows — never a crossJoin+window,
    which materializes n x k (vector, centroid) ROWS and goes quadratic once
    auto-sized k grows with n.  Ranking is cosine desc, centroid_id asc
    (_nearest); NULL/zero vectors score 0 against every centroid and fall
    to the lowest centroid ids, the NULLS-LAST + tie-break outcome."""
    rows = cents.orderBy("centroid_id").collect()
    C = np.array([r.cent_vec for r in rows], dtype=np.float64)
    ids = np.array([r.centroid_id for r in rows], dtype=np.int64)
    return _assign_multi_np(emb, C, ids, probes, id_col, vec_col)


def _assign_multi_np(
    emb: DataFrame,
    C: np.ndarray,
    ids: np.ndarray,
    probes: int,
    id_col: str,
    vec_col: str,
    n: int | None = None,
) -> DataFrame:
    """Numpy-core of _assign_multi: callers that already hold the centroid
    matrix driver-side (they just trained it) skip the DataFrame
    round-trip collect job."""
    n_probe = min(probes, len(ids))

    @pandas_udf(T.ArrayType(T.LongType()))
    def _top(v: pd.Series) -> pd.Series:
        vals = [
            np.zeros(C.shape[1]) if x is None else np.asarray(x, dtype=np.float64)
            for x in v
        ]
        if not vals:
            return pd.Series([], dtype=object)
        return pd.Series(list(_nearest(np.stack(vals) @ C.T, ids, n_probe)))

    return _spread(
        emb.select(F.col(id_col).alias("v_id"), F.col(vec_col).alias("v_vec")),
        "v_id",
        n,
    ).select(
        "v_id", "v_vec", F.explode(_top(F.col("v_vec"))).alias("centroid_id")
    )


def assign_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF bucketing: deterministic k-means centroids (train_centroids);
    every vector is assigned to its nearest centroid by cosine.

    Returns (centroids, assigned) where assigned has centroid_id per row.
    The trained matrix is kept driver-side, so assignment is one Arrow pass
    over the corpus with no collect of the centroid table."""
    cents = _train_centroids_np(emb, n_centroids, id_col, vec_col)
    assigned = _assign_multi_np(
        emb, cents, np.arange(len(cents), dtype=np.int64), 1, id_col, vec_col, n=n
    )
    return _centroid_frame(emb.sparkSession, cents), assigned


def auto_n_centroids(n: int, target_bucket: int, floor: int = 16, probes: int = 1) -> int:
    """Corpus-derived centroid count: hold expected bucket size
    (n x probes / k) at ``target_bucket`` so per-bucket quadratic work is
    constant and total work is linear in n (the r7 sweep fix, PLANS §17).
    The floor preserves small-fixture layouts that recall tests pin."""
    return max(floor, -(-n * probes // max(1, target_bucket)))


def auto_n_bits(n: int, target_bucket: int, min_bits: int = 10) -> int:
    """Corpus-derived LSH width: ceil(log2(n / target_bucket)) with a
    fixture-preserving floor — expected bucket size n / 2^bits stays at or
    under ``target_bucket`` once n clears the floor's capacity."""
    ratio = max(2, -(-n // max(1, target_bucket)))
    return max(min_bits, (ratio - 1).bit_length())


def _probe_frame(
    queries: DataFrame, cents: DataFrame, nprobe: int, id_col: str, vec_col: str
) -> DataFrame:
    """Distributed IVF probe ranking: every query crossJoins the broadcast
    centroid table and keeps its ``nprobe`` best (cos desc, centroid_id asc)
    as (q_id, q_vec, centroid_id) rows.  A NULL query vector scores NULL
    against every centroid, so it probes the lowest centroid ids."""
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    q_cent = q.crossJoin(F.broadcast(cents)).withColumn(
        "cos_c", cosine(F.col("q_vec"), F.col("cent_vec"))
    )
    return _top_rows(q_cent, "cos_c", nprobe, "rn", "centroid_id").select(
        "q_id", "q_vec", "centroid_id"
    )


def _score_probes(
    probes: DataFrame, cands: DataFrame, k: int, c_id: str, c_vec: str
) -> DataFrame:
    """Candidate scoring of the IVF paths: probe rows join their buckets'
    candidates on centroid_id, self matches drop, the Arrow cosine scores
    the pairs and the rank tail keeps the top-k."""
    scored = (
        probes.join(cands, "centroid_id")
        .filter(F.col("q_id") != F.col(c_id))
        .withColumn("cos", cosine(F.col("q_vec"), F.col(c_vec)))
    )
    return _rank_tail(scored, k, c_id)


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int | None = None,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
    target_bucket: int = 1024,
) -> DataFrame:
    """Approximate top-k: probe the nprobe nearest centroid buckets only.

    Join order: query -> its nprobe centroids -> only matching corpus
    buckets.  The corpus-side join key is centroid_id, so Catalyst prunes
    all other buckets before any dot product runs.

    ``n_centroids`` defaults to ceil(n / target_bucket), floor 16 — the
    same corpus-derived sizing that fixed the r7 embedding-near-dup
    quadratic (the r7 sweep measured the FIXED-16 default at 4.85x per 10x
    data: per-query candidates grow with bucket size; auto-scaled, bucket
    size — and so per-query probe cost — stays constant).  The floor keeps
    every fixture SF on the historical 16-centroid layout the recall tests
    pin.  Callers with a known corpus size pass ``n`` to skip the sizing
    count job; the persisted-index twins take nlist as an explicit build
    parameter, which remains the steady-state story."""
    if n_centroids is None:
        if n is None:
            n = emb.count()
        n_centroids = auto_n_centroids(n, target_bucket)
    cents, assigned = assign_centroids(emb, n_centroids, id_col, vec_col, n=n)
    probes = _probe_frame(queries, cents, nprobe, id_col, vec_col)
    return _score_probes(probes, assigned, k, "v_id", "v_vec")


def _hyperplanes(dim: int, n_bits: int, n_tables: int) -> np.ndarray:
    """Deterministic random hyperplanes for sign-LSH: fixed-seed Gaussian,
    shape (n_tables, n_bits, dim).  No runtime randomness — the same planes
    every run, so results are reproducible."""
    rng = np.random.RandomState(0x5EED)
    return rng.standard_normal((n_tables, n_bits, dim))


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int | None = None,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
    target_bucket: int = 1024,
    min_bits: int = 10,
    probes: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Sign-LSH (random hyperplane) bucketed ANN — the alternative scale
    path to IVF: each vector hashes to one bucket per table (sign bits of
    n_bits hyperplane dot products packed into an int), candidates are
    corpus rows sharing ANY table's bucket with the query (equi-join on
    (table_idx, bucket)), and exact cosine ranks candidates only.

    vs IVF: no training pass at all (planes are data-independent), recall
    tuned by n_tables instead of nprobe, buckets are 2^n_bits per table.
    At 100 TB: one corpus pass computes all signatures (Arrow-batched),
    bucket keys are near-uniform by construction (no centroid skew), and
    the join is the same bounded band-join topology as MinHash.

    ``n_bits`` defaults to ceil(log2(n / target_bucket)), floor ``min_bits``
    (default 10, the historical fixed default): expected bucket size
    n / 2^n_bits — the per-query candidate volume the r7 sweep saw growing
    4.77x per 10x data under a fixed width — stays ~constant, so total
    candidate work stays linear.  A caller tuned for a small fixture layout
    lowers ``min_bits`` to keep that layout below the scaling point.  Pass
    ``n`` when known to skip the sizing count job.

    ``probes`` > 1 turns on QUERY-SIDE MULTI-PROBE (Lv et al., VLDB'07,
    simplified to single-bit flips): each query additionally probes the
    probes-1 Hamming-adjacent buckets whose sign bit had the SMALLEST
    hyperplane margin |w.x| — the buckets its true neighbors most likely
    fell into.  The corpus still hashes to ONE bucket per table, so corpus
    row volume is unchanged; per-query candidate volume is
    probes x n / 2^n_bits per table, which lets n_bits grow (narrower
    buckets, cheaper joins) at the same recall instead of widening
    buckets or adding tables (VERDICT r8 #4).  The auto-width rule
    accounts for it: n_bits defaults to ceil(log2(n x probes /
    target_bucket))."""
    if n_bits is None:
        if n is None:
            n = emb.count()
        n_bits = auto_n_bits(n * max(1, probes), target_bucket, min_bits)
    if dim is None:
        # callers that know the embedding width (fixture metadata, catalog
        # schema) pass ``dim`` and this probe job disappears
        dim = len(
            emb.select(vec_col).filter(F.col(vec_col).isNotNull()).first()[0]
        )
    planes = _hyperplanes(dim, n_bits, n_tables)
    powers = 1 << np.arange(n_bits)
    n_probes = max(1, min(probes, n_bits if n_bits else 1))

    def _bucket_udf(per_table: int):
        @pandas_udf(T.ArrayType(T.LongType()))
        def _buckets(v: pd.Series) -> pd.Series:
            # flat array of n_tables x per_table buckets: for each table the
            # base bucket, then single-bit flips in ascending |margin| order
            out = []
            for vec in v:
                if vec is None:
                    out.append(None)
                    continue
                marg = np.einsum("tbd,d->tb", planes, np.asarray(vec, dtype=np.float64))
                buckets = [(marg > 0).astype(np.int64) @ powers]  # (t,)
                if per_table > 1:
                    flip = np.argsort(np.abs(marg), axis=1)  # (t, b)
                    buckets += [buckets[0] ^ (1 << flip[:, j]) for j in range(per_table - 1)]
                out.append(np.stack(buckets, axis=1).reshape(-1).tolist())
            return pd.Series(out)

        return _buckets

    def bucketize(df: DataFrame, prefix: str, per_table: int) -> DataFrame:
        base = df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.col(vec_col).alias(f"{prefix}_vec"),
        )
        if prefix == "c":  # corpus side: the signature UDF is the hot pass
            base = _spread(base, f"{prefix}_id", n)
        d = base.select(
            f"{prefix}_id",
            f"{prefix}_vec",
            F.posexplode(_bucket_udf(per_table)(F.col(f"{prefix}_vec"))).alias(
                "pos", "bucket"
            ),
        )
        return d.select(
            f"{prefix}_id",
            f"{prefix}_vec",
            (F.col("pos") / per_table).cast("int").alias("table_idx"),
            "bucket",
        )

    c = bucketize(emb, "c", 1)
    q = bucketize(queries, "q", n_probes)
    # NOTE (r14, measured): scoring BEFORE the pair dedup (to shuffle
    # skinny (q_id, c_id, cos) rows instead of vector payloads) was tried
    # and REVERTED — a close pair co-occurs in up to n_tables x probes
    # buckets, so pre-dedup scoring multiplied the Arrow cosine rows by
    # the duplication factor and lost ×1.32 at sf0.1 (control-normalized
    # A/B).  Dedup-then-score stays the right order; at 100 TB the
    # payload-shuffle concern is answered by PQ/IVF codes, not by
    # reordering this plan.
    cand = (
        q.join(c, ["table_idx", "bucket"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "q_vec", "c_id", "c_vec")
        .dropDuplicates(["q_id", "c_id"])
    )
    return _rank_tail(cand.withColumn("cos", cosine(F.col("q_vec"), F.col("c_vec"))), k)


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    probes: int = 8,
    exact: bool = False,
    target_bucket: int = 4096,
    n: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos) with
    cos >= threshold and id_a < id_b.

    Default path is BUCKETED, never all-pairs: every vector is multi-probe
    assigned to its ``probes`` nearest k-means centroids (one Arrow pass,
    centroid matrix in the UDF closure — no crossJoin, no ranking window),
    then each bucket scores ITSELF with one blocked float64 GEMM inside
    ``applyInPandas`` and emits only pairs already >= threshold.  The only
    corpus shuffle is the groupBy(centroid_id) Exchange carrying
    n x probes vector rows; qualifying pairs (tiny by definition) are
    deduped after.  Compare the r2 shape — equi-join building EVERY
    candidate pair row (vectors duplicated per pair) and scoring them one
    Arrow batch at a time — which at sf0.1 moved ~2 GB of vector pairs for
    a 2000-vector corpus: 11.1 s -> this plan 0.9 s, same results.

    The quadratic term is bounded by bucket size, GEMM-at-C-speed per
    bucket — and the bucket size is now held CONSTANT as the corpus grows:
    ``n_centroids`` defaults to ceil(n x probes / target_bucket) with a
    floor of 16, so total GEMM work stays linear in n (the round-7 sf1
    sweep caught the fixed-16 default going quadratic: 8.1x time at 10x
    data; auto-scaled, the same sweep is linear — PLANS.md §17).  The
    floor keeps every fixture SF on the exact historical 16-bucket layout,
    where 8 probes hold 100% recall at the test threshold 0.4 on all three
    fixture SFs — far below any real near-dup bar, so it needs more probes
    than production would — verified exhaustively against the exact path
    in tests and against the all-pairs DuckDB oracle at sf0.1.  At 100 TB
    pass probes 2-4 at production thresholds ~0.95 and let n_centroids
    scale (65k centroids for ~10^10 docs).
    A skewed bucket is one task but constant memory: the GEMM is chunked
    1024 rows at a time.

    ``exact=True`` is the all-pairs baseline used only as the small-N test
    oracle."""
    if exact:
        a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
        b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
        pairs = a.crossJoin(F.broadcast(b)).filter(F.col("id_a") < F.col("id_b"))
        scored = pairs.withColumn(
            "cos", cosine(F.col("vec_a"), F.col("vec_b"))
        ).filter(F.col("cos") >= threshold)
        return scored.select("id_a", "id_b", F.round("cos", 6).alias("cos"))

    if n_centroids is None:
        # hold the expected bucket size (n x probes / k) at target_bucket
        # so per-bucket GEMM work — the only quadratic term — is constant
        # and total work is linear in corpus size.  Callers that know the
        # corpus size (catalog stats, parquet footers) pass ``n`` and the
        # sizing count job disappears from the hot path (ADVICE r7 nit /
        # VERDICT r7 #2 — the count was the r7 bench regression).
        if n is None:
            n = emb.count()
        n_centroids = auto_n_centroids(n, target_bucket, probes=probes)
    cents = _train_centroids_np(emb, n_centroids, id_col, vec_col)
    cent_ids = np.arange(len(cents))
    n_probe = min(probes, len(cents))

    @pandas_udf(T.ArrayType(T.LongType()))
    def _probe_ids(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)
        return pd.Series(list(_nearest(X @ cents.T, cent_ids, n_probe)))

    assigned = _spread(
        emb.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("v_id"), F.col(vec_col).alias("v_vec")
        ),
        "v_id",
        n,
    ).select(
        "v_id", "v_vec", F.explode(_probe_ids(F.col("v_vec"))).alias("centroid_id")
    )

    id_type = emb.schema[id_col].dataType
    pair_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cos", T.DoubleType()),
        ]
    )
    thr = float(threshold)

    def _score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["v_id"].to_numpy()
        X = np.stack(pdf["v_vec"].to_numpy()).astype(np.float64)
        norms = _norms(X)
        safe = np.where(norms > 0, norms, 1.0)
        m = len(ids)
        out_a, out_b, out_c = [], [], []
        step = 1024  # chunked GEMM: memory ~ step x m doubles, skew-safe
        for s in range(0, m, step):
            e = min(s + step, m)
            C = (X[s:e] @ X.T) / (safe[s:e, None] * safe[None, :])
            C[(norms[s:e] == 0)[:, None] | (norms == 0)[None, :]] = 0.0
            ii, jj = np.nonzero(C >= thr)
            ga, gb = ids[s + ii], ids[jj]
            keep = ga < gb
            out_a.append(ga[keep])
            out_b.append(gb[keep])
            out_c.append(C[ii, jj][keep])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else [],
                "id_b": np.concatenate(out_b) if out_b else [],
                "cos": np.concatenate(out_c) if out_c else [],
            }
        )

    # a pair probing p shared buckets appears p times with bit-identical cos
    # (same float ops on the same vectors); dedup the skinny pair rows
    return (
        assigned.groupBy("centroid_id")
        .applyInPandas(_score_bucket, schema=pair_schema)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def label_knn_classify(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n: int | None = None,
) -> DataFrame:
    """kNN majority-vote over the label column — the standard embedding
    quality probe for a training-data pipeline."""
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    c = _spread(
        emb.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"),
            F.col(label_col).alias("c_label"),
        ),
        "c_id",
        n,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("cos", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    votes = _top_rows(scored, "cos", k).groupBy("q_id", "c_label").agg(
        F.count("*").alias("votes")
    )
    wv = W.partitionBy("q_id").orderBy(F.col("votes").desc(), F.col("c_label"))
    return (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("q_id", F.col("c_label").alias("pred_label"), "votes")
    )


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = 127 / max|v|,
    q_i = round(v_i * scale).

    This is the standard shuffle-volume lever for 100 TB similarity work:
    int8 vectors cut every exchange, broadcast, and cache 4x vs float32 at
    ~1% cosine error.  Pure higher-order-function expressions (transform /
    array_max / aggregate) — JVM codegen, no Python."""
    v = F.col(vec_col)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.lit(127.0) / F.greatest(absmax.cast("double"), F.lit(1e-12))
    q = F.transform(v, lambda x: F.round(x.cast("double") * scale).cast("int"))
    return emb.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + F.abs(x)).alias("q_l1"),
        F.array_max(q).alias("q_max"),
        F.size(F.filter(q, lambda x: (x == 127) | (x == -127))).alias("n_sat"),
    )


def build_ivf_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
) -> None:
    """Persist an IVF index: vectors written as parquet PARTITIONED BY
    centroid_id, centroids as a side table.  This is the storage layout that
    makes ANN work at 100 TB — a probe reads only nprobe/nlist of the corpus
    via *directory-level partition pruning*, before parquet even opens a
    footer.  Rebuild is a single pass over the corpus."""
    cents, assigned = assign_centroids(emb, n_centroids, id_col, vec_col, n=n)
    assigned.select(
        F.col("v_id").alias(id_col), F.col("v_vec").alias(vec_col), "centroid_id"
    ).write.mode("overwrite").partitionBy("centroid_id").parquet(f"{path}/vectors")
    cents.write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_index_append(
    spark,
    path: str,
    new_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental add to a persisted IVF index (the continuous-ingest
    path): new vectors are assigned to the EXISTING centroids — no
    retrain, the Faiss-style append contract; centroid drift is handled
    by periodic full rebuilds — and appended as NEW files inside their
    centroid partition directories.  Single pass, partition-local
    appends, existing files untouched; searches see the union
    immediately."""
    cents = spark.read.parquet(f"{path}/centroids")
    assigned = _assign_multi(new_vecs, cents, 1, id_col, vec_col)
    assigned.select(
        F.col("v_id").alias(id_col),
        F.col("v_vec").alias(vec_col),
        "centroid_id",
    ).write.mode("append").partitionBy("centroid_id").parquet(
        f"{path}/vectors"
    )


def _read_parquet_local(path: str):
    """A tiny side table read driver-side with pyarrow — a metadata-scale
    read that spends ZERO Spark jobs."""
    import pyarrow.parquet as pq

    return pq.read_table(path)


def ivf_search_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_collect: int = 10000,
) -> DataFrame:
    """Search a persisted IVF index.  The probe set becomes an IN filter on
    the partition column, so the scan shows PartitionFilters and touches only
    the probed directories (asserted in tests/test_plans.py).

    Centroids load via pyarrow (no Spark job).  A query set of at most
    ``max_query_collect`` rows is collected and ranked against the
    centroids driver-side, one _cos_rows per query; a larger one stays a
    DataFrame and takes the distributed ranking (_probe_frame, as ivf_topk),
    so a large query table can never OOM the driver.  Both rankings are
    (cos desc, centroid_id asc) with NULL query vectors probing the lowest
    centroid ids, so both paths give identical results (pinned in tests),
    and both share the candidate scoring (_score_probes)."""
    crows = sorted(
        _read_parquet_local(f"{path}/centroids").to_pylist(),
        key=lambda r: r["centroid_id"],
    )
    C = np.array([r["cent_vec"] for r in crows], dtype=np.float64)
    cent_ids = np.array([r["centroid_id"] for r in crows], dtype=np.int64)
    vecs = spark.read.parquet(f"{path}/vectors")
    qrows = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    ).limit(max_query_collect + 1).collect()
    if len(qrows) > max_query_collect:
        # checkpointed: the collect below would otherwise re-run the
        # centroid scoring when the returned plan executes
        probes = _probe_frame(
            queries, _centroid_frame(spark, C, cent_ids), nprobe, id_col, vec_col
        ).localCheckpoint()
        probe_ids = sorted(
            {r.centroid_id for r in probes.select("centroid_id").distinct().collect()}
        )
    else:
        n_probe = min(nprobe, len(cent_ids))
        probe_rows = []
        for r in qrows:
            if r.q_vec is None:
                chosen = cent_ids[:n_probe]
            else:
                qv = np.broadcast_to(np.asarray(r.q_vec, dtype=np.float64), C.shape)
                chosen = _nearest(_cos_rows(qv, C)[None], cent_ids, n_probe)[0]
            probe_rows += [(r.q_id, r.q_vec, int(c)) for c in chosen]
        probes = spark.createDataFrame(
            probe_rows,
            T.StructType(
                [
                    T.StructField("q_id", queries.schema[id_col].dataType),
                    T.StructField("q_vec", queries.schema[vec_col].dataType),
                    T.StructField("centroid_id", T.LongType()),
                ]
            ),
        )
        probe_ids = sorted({c for *_, c in probe_rows})
    candidates = vecs.filter(F.col("centroid_id").isin(probe_ids))
    return _score_probes(probes, candidates, k, id_col, vec_col)


def _train_pq_np(
    emb: DataFrame,
    m: int,
    ksub: int,
    id_col: str,
    vec_col: str,
    sample_size: int = 4096,
    iters: int = 8,
    x: np.ndarray | None = None,
) -> np.ndarray:
    """Product-quantizer codebooks (_train_codebooks, shape
    (m, ksub, dim//m)) on the same bounded hash-ordered, L2-normalized
    sample train_centroids uses.  ``x``: a pre-collected unit-normalized
    sample matrix (skips the collect job)."""
    if x is None:
        x = _collect_training_sample(emb, id_col, vec_col, sample_size)
    return _train_codebooks(x, m, ksub, iters)


def pq_encode(
    emb: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as m small codes (nearest codebook entry per
    subspace, on the normalized vector).  One Arrow-batched pass; the
    codebooks ride the UDF closure (m*ksub*dsub doubles — KBs).  The encoded
    corpus is dim*8 / m bytes-per-vector smaller: the representation that
    makes 100 TB of embeddings scannable from memory."""

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _codes(v: pd.Series) -> pd.Series:
        X = _unit(np.stack(v.to_numpy()).astype(np.float64))
        return pd.Series(list(_pq_codes(X, codebooks)))

    return emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("v_id"), _codes(F.col(vec_col)).alias("codes")
    )


class _Queries(NamedTuple):
    """The query side of the PQ scans (see _query_side)."""

    ids: np.ndarray
    Q: np.ndarray  # (nq, dim) raw float64 rows: the exact re-rank's input
    Qn: np.ndarray  # unit rows
    lut: np.ndarray  # (m, nq, ksub): LUT[j] = Qn_j . codebook_j
    sim_qc: np.ndarray | None = None  # (nq, nlist) query . centroid
    probing: dict | None = None  # centroid id -> rows of the queries probing it


def _query_side(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    books: np.ndarray,
    cents: np.ndarray | None = None,
    nprobe: int = 0,
    rows=None,
) -> _Queries:
    """The non-NULL query set collected once (one job, unless the caller
    passes the (id, vector) rows it already holds), normalized, with its
    per-subspace ADC lookup tables and — given coarse centroids — each
    query's ``nprobe`` nearest centroids.  An empty or all-NULL query set
    gives (0, dim) matrices, so every scan over it emits nothing and the
    operator returns an empty result with its usual schema."""
    if rows is None:
        rows = (
            queries.filter(F.col(vec_col).isNotNull()).select(id_col, vec_col).collect()
        )
    m, _ks, dsub = books.shape
    Q = np.array([r[1] for r in rows], dtype=np.float64).reshape(len(rows), m * dsub)
    Qn = _unit(Q)
    lut = np.stack([Qn[:, j * dsub : (j + 1) * dsub] @ books[j].T for j in range(m)])
    qs = _Queries(np.array([r[0] for r in rows]), Q, Qn, lut)
    if cents is None:
        return qs
    sim_qc = Qn @ cents.T
    order = np.argsort(-sim_qc, axis=1)[:, : min(nprobe, len(cents))]
    probing = {c: np.nonzero((order == c).any(axis=1))[0] for c in range(len(cents))}
    return qs._replace(sim_qc=sim_qc, probing=probing)


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 256,
    cand_mult: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k with exact re-rank (the FAISS
    IVFPQ+refine shape):

    1. train codebooks on a bounded sample (driver, deterministic);
    2. ONE _topk_scan encodes each corpus batch, scores every code against
       every query with per-query lookup tables (LUT[j][code] = q_sub .
       codeword — a numpy gather+sum, no float dot products), keeps each
       batch's top-(k*cand_mult+1) candidates per query and computes their
       EXACT cosine (_cos_rows) from the raw vectors already in hand;
    3. two q_id windows — the global ADC cut to k*cand_mult per query, then
       the exact re-rank over the carried cos — share one Exchange, with no
       join after the scan.

    Queries ride the closure as a (nq, dim) matrix (bounded by contract —
    same envelope as brute_force_topk's broadcast)."""
    import hashlib

    # ONE collect job fetches the training sample AND the query set: a
    # tagged union, with the sample branch re-sorted driver-side by the
    # exact Spark ordering key (hashlib.md5 hexdigest == Spark md5() text)
    # so training sees the identical row order however the union returns
    # partitions.  The re-sort replays md5(cast(id as string)) via
    # md5(str(id)) — valid only where Python's str() equals Spark's string
    # cast, i.e. integral/string ids; other id types (float, decimal,
    # timestamp) take a separate Spark-ordered sample collect instead.
    union_ok = isinstance(
        emb.schema[id_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType),
    )
    samp_b = _sample_frame(emb, id_col, vec_col).select(F.lit(0).alias("b"), "i", "v")
    q_b = queries.filter(F.col(vec_col).isNotNull()).select(
        F.lit(1).alias("b"), F.col(id_col).alias("i"), F.col(vec_col).alias("v")
    )
    if union_ok:
        rows = samp_b.unionByName(q_b).collect()
        srows = sorted(
            (r for r in rows if r["b"] == 0),
            key=lambda r: (hashlib.md5(str(r["i"]).encode()).hexdigest(), r["i"]),
        )
    else:
        srows = samp_b.collect()  # Spark-ordered: no driver-side re-sort
        rows = srows + q_b.collect()  # b-tags still partition the two sets
    xs = _unit(np.array([r["v"] for r in srows], dtype=np.float64))
    books = _train_codebooks(xs, m, ksub)
    qs = _query_side(
        queries, id_col, vec_col, books, rows=[(r["i"], r["v"]) for r in rows if r["b"]]
    )
    every = np.arange(len(qs.ids))
    k2 = k * cand_mult

    def _score(pdf):
        ids = pdf["c_id"].to_numpy()
        X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        C = _pq_codes(_unit(X), books)
        s = qs.lut[0][:, C[:, 0]]  # sum_j LUT[j][:, C[:, j]]: (nq, nb)
        for j in range(1, m):
            s = s + qs.lut[j][:, C[:, j]]
        cut, rep, flat = _top_cut(s, ids, k2 + 1, every, qs.ids, "adc")
        cut["cos"] = _cos_rows(qs.Q[rep], X[flat])
        yield cut

    adc = _topk_scan(
        emb.filter(F.col(vec_col).isNotNull()),
        queries, id_col, vec_col, n, ["adc", "cos"], _score,
    )
    return _rank_tail(_top_rows(adc, "adc", k2, "rn"), k)


def l2_normalize(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Unit-normalize every vector with pure JVM higher-order functions
    (aggregate for the norm, transform for the scale) — codegen'd, zero
    Python, zero shuffle.  The standard pre-pass that turns dot products
    into cosines downstream."""
    v = F.col(vec_col)
    norm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double"))
    )
    safe = F.greatest(norm, F.lit(1e-300))
    return emb.select(
        F.col(id_col),
        F.round(norm, 6).alias("norm"),
        F.transform(v, lambda x: F.round(x.cast("double") / safe, 6)).alias("unit_vec"),
    )


def mean_pool(
    emb: DataFrame,
    group_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Element-wise mean of embeddings per group (centroid pooling — the
    per-source/per-cluster representative vector).  posexplode -> partial
    avg per (group, position) -> re-assemble sorted.  Two shuffles, both
    map-side combined and bounded by groups x dim, never by corpus size."""
    pos = (
        emb.select(group_col, F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy(group_col, "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"), F.count("*").alias("n"))
    )
    return (
        pos.groupBy(group_col)
        .agg(
            F.max("n").alias("n_vecs"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: F.round(s["m"], 6),
            ).alias("mean_vec"),
        )
    )


def _pca_moments_np(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> tuple[int, np.ndarray, np.ndarray]:
    """EXACT full-corpus first and second moments, distributed: each
    partition emits one (n, sum_x, X^T X) partial (an Arrow batch of
    dim + dim² doubles — KBs), the driver combines.  Unlike the sampled
    centroid/codebook training, PCA moments are cheap to make exact: the
    reduction is a fixed-size matrix sum, so corpus size only adds
    partials, never state."""
    schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("g", T.ArrayType(T.DoubleType())),
        ]
    )

    def _partials(batches):
        n, s, g = 0, None, None
        for pdf in batches:
            vs = pdf[pdf.columns[0]].dropna()
            if not len(vs):
                continue
            X = np.stack(vs.to_numpy()).astype(np.float64)
            n += len(X)
            s = X.sum(axis=0) if s is None else s + X.sum(axis=0)
            gg = X.T @ X
            g = gg if g is None else g + gg
        if n:
            yield pd.DataFrame({"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]})

    parts = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(vec_col)
        .mapInPandas(_partials, schema=schema)
        .collect()
    )
    n = sum(r.n for r in parts)
    s = np.sum([np.asarray(r.s) for r in parts], axis=0)
    dim = len(s)
    g = np.sum([np.asarray(r.g).reshape(dim, dim) for r in parts], axis=0)
    return n, s, g


def pca_train(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact full-corpus PCA: covariance from the distributed moments, then
    a deterministic driver-side eigh (dim x dim — trivial for embedding
    dims).  Sign convention: each component's largest-|coord| entry is made
    positive, so the basis is bit-stable across runs.  Returns
    (mean, components[k, dim], eigvals[k] descending)."""
    n, s, g = _pca_moments_np(emb, id_col, vec_col)
    mean = s / n
    cov = g / n - np.outer(mean, mean)  # population covariance
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean, comps, vals[order]


def pca_project(
    emb: DataFrame,
    mean: np.ndarray,
    comps: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project every vector onto the PCA basis — one Arrow pass, the
    (mean, components) ride the closure.  The k-dim output is the
    dimensionality-reduction lever: downstream ANN/clustering shuffles
    shrink by dim/k."""

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def _proj(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64) - mean
        P = X @ comps.T
        return pd.Series(list(P))

    return emb.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), _proj(F.col(vec_col)).alias("pca_vec")
    )


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 256,
    cand_mult: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
) -> DataFrame:
    """IVF-PQ — the production ANN index shape (FAISS IVFPQ, Jégou et al.
    2011): coarse k-means buckets prune the corpus to nprobe/nlist, residual
    product quantization compresses what remains to m bytes/vector, ADC
    scores candidates from lookup tables, and an exact re-rank fixes the
    top-k.

    In memory this is ONE corpus pass (_ivfpq_topk_fused); at 100 TB the
    encoded corpus is written PARTITIONED BY centroid_id (build_ivfpq_index)
    and a probe reads nprobe directories of m-byte codes.  Residual PQ
    matters: residuals are centered near zero, so the same codebook budget
    quantizes them ~one centroid-radius finer than raw vectors."""
    cents, books = _train_ivfpq_np(emb, n_centroids, m, ksub, id_col, vec_col)
    return _ivfpq_topk_fused(
        emb, queries, cents, books, k, nprobe, cand_mult, id_col, vec_col, n=n
    )


def _adc_slices(qs: _Queries, cid, codes, ids, top):
    """IVF-PQ ADC per same-centroid slice of a batch: each slice is scored
    against the queries probing its centroid — LUT sum over j = 0..m-1,
    then the query.centroid term (q.(centroid + residual)) — and cut to
    each query's ``top`` best (_top_cut).  Yields (cut, query row of each
    kept pair, batch row of each kept pair)."""
    for c in np.unique(cid):
        qi = qs.probing.get(int(c))
        if qi is None or not len(qi):
            continue
        rows = np.nonzero(cid == c)[0]
        C = codes[rows]
        s = qs.lut[0][qi][:, C[:, 0]]
        for j in range(1, len(qs.lut)):
            s = s + qs.lut[j][qi][:, C[:, j]]
        s = s + qs.sim_qc[qi, int(c)][:, None]
        cut, rep, flat = _top_cut(s, ids[rows], top, qi, qs.ids, "adc")
        yield cut, rep, rows[flat]


def _ivfpq_topk_fused(
    emb: DataFrame,
    queries: DataFrame,
    cents: np.ndarray,
    books: np.ndarray,
    k: int,
    nprobe: int,
    cand_mult: int,
    id_col: str,
    vec_col: str,
    n: int | None = None,
) -> DataFrame:
    """In-memory IVF-PQ search as ONE _topk_scan over the raw embeddings:
    encode (_ivfpq_codes), per-centroid-slice ADC (_adc_slices) AND the
    exact cosine of each per-slice survivor, then the same two
    q_id-partitioned windows as pq_topk.  The INDEXED path keeps a join
    re-rank: its code table deliberately stores m-byte codes, not raw
    vectors (_ivfpq_search)."""
    qs = _query_side(queries, id_col, vec_col, books, cents, nprobe)
    k2 = k * cand_mult

    def _score(pdf):
        ids = pdf["c_id"].to_numpy()
        X = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        cid, codes = _ivfpq_codes(_unit(X), cents, books)
        for cut, rep, sel in _adc_slices(qs, cid, codes, ids, k2 + 1):
            cut["cos"] = _cos_rows(qs.Q[rep], X[sel])
            yield cut

    adc = _topk_scan(
        emb.filter(F.col(vec_col).isNotNull()),
        queries, id_col, vec_col, n, ["adc", "cos"], _score,
    )
    return _rank_tail(_top_rows(adc, "adc", k2, "rn"), k)


def _train_ivfpq_np(
    emb: DataFrame,
    n_centroids: int,
    m: int,
    ksub: int,
    id_col: str,
    vec_col: str,
) -> tuple[np.ndarray, np.ndarray]:
    """Driver-side IVF-PQ training on the bounded hash-ordered sample,
    collected ONCE: spherical coarse centroids, then per-subspace
    codebooks on the residuals to each row's nearest centroid."""
    xs = _collect_training_sample(emb, id_col, vec_col)
    cents = _train_centroids_np(emb, n_centroids, id_col, vec_col, x=xs)  # unit rows
    res = xs - cents[np.argmax(xs @ cents.T, axis=1)]
    return cents, _train_codebooks(res, m, ksub)


def _ivfpq_encode(
    emb: DataFrame,
    cents: np.ndarray,
    books: np.ndarray,
    id_col: str,
    vec_col: str,
    n: int | None = None,
) -> DataFrame:
    """One Arrow pass: nearest centroid + residual codes per vector, with
    v_id in the caller's id type."""
    enc_schema = T.StructType(
        [
            T.StructField("v_id", emb.schema[id_col].dataType),
            T.StructField("centroid_id", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def _encode(batches):
        for pdf in batches:
            X = _unit(np.stack(pdf["v"].to_numpy()).astype(np.float64))
            cid, codes = _ivfpq_codes(X, cents, books)
            yield pd.DataFrame(
                {
                    "v_id": pdf["v_id"].to_numpy(),
                    "centroid_id": cid.astype(np.int32),
                    "codes": list(codes),
                }
            )

    return _spread(
        emb.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("v_id"), F.col(vec_col).alias("v")
        ),
        "v_id",
        n,
    ).mapInPandas(_encode, schema=enc_schema)


def _ivfpq_search(
    enc: DataFrame,
    emb: DataFrame,
    queries: DataFrame,
    qs: _Queries,
    k: int,
    cand_mult: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """ADC scan of a (partition-pruned) code table, then the global
    k*cand_mult cut and an exact re-rank that joins the raw embeddings
    back.  The scan is a mapInPandas, not a groupBy(centroid_id): ADC needs
    only each row's own centroid, so batches may mix centroids and
    _adc_slices scores each same-centroid slice."""
    k2 = k * cand_mult

    def _score(pdf):
        slices = _adc_slices(
            qs,
            pdf["centroid_id"].to_numpy(),
            np.stack(pdf["codes"].to_numpy()),
            pdf["v_id"].to_numpy(),
            k2 + 1,
        )
        for cut, _rep, _rows in slices:
            yield cut

    adc = _topk_scan(emb, queries, id_col, vec_col, None, ["adc"], _score, corpus=enc)
    cand = _top_rows(adc, "adc", k2, "rn")
    c = emb.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"))
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    scored = (
        cand.select("q_id", "c_id")
        .join(c, "c_id")
        .join(F.broadcast(q), "q_id")
        .withColumn("cos", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    return _rank_tail(scored, k)


def build_ivfpq_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
) -> None:
    """Persist an IVF-PQ index: the m-byte-per-vector code table written as
    parquet PARTITIONED BY centroid_id, plus the trained centroids and
    codebooks as side tables.  This is the 100 TB layout in full: a probe
    reads nprobe/nlist DIRECTORIES of codes (directory pruning before any
    footer opens), and each directory holds m ints per vector instead of
    the raw embedding — pruning x compression compose."""
    cents, books = _train_ivfpq_np(emb, n_centroids, m, ksub, id_col, vec_col)
    enc = _ivfpq_encode(emb, cents, books, id_col, vec_col, n=n)
    enc.write.mode("overwrite").partitionBy("centroid_id").parquet(f"{path}/codes")
    spark = emb.sparkSession
    cent_schema = T.StructType(
        [
            T.StructField("centroid_id", T.IntegerType(), False),
            T.StructField("vec", T.ArrayType(T.DoubleType()), False),
        ]
    )
    spark.createDataFrame(
        [(i, [float(x) for x in cents[i]]) for i in range(len(cents))], cent_schema
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    book_schema = T.StructType(
        [
            T.StructField("subspace", T.IntegerType(), False),
            T.StructField("code", T.IntegerType(), False),
            T.StructField("vec", T.ArrayType(T.DoubleType()), False),
        ]
    )
    rows = [
        (j, c, [float(x) for x in books[j, c]])
        for j in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    spark.createDataFrame(rows, book_schema).write.mode("overwrite").parquet(
        f"{path}/codebooks"
    )


def ivfpq_search_indexed(
    spark,
    path: str,
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    cand_mult: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted IVF-PQ index: centroids/codebooks load driver-side
    with pyarrow (tiny, zero Spark jobs), the query set is collected once
    (_query_side), its probe set becomes an IN filter on the codes table's
    partition column (PartitionFilters — only probed directories are read),
    and ADC + exact re-rank run as _ivfpq_search, so results equal the
    in-memory path's (asserted in tests)."""
    cent_rows = sorted(
        _read_parquet_local(f"{path}/centroids").to_pylist(),
        key=lambda r: r["centroid_id"],
    )
    cents = np.stack([np.asarray(r["vec"]) for r in cent_rows])
    book_rows = _read_parquet_local(f"{path}/codebooks").to_pylist()
    mm = max(r["subspace"] for r in book_rows) + 1
    ks = max(r["code"] for r in book_rows) + 1
    dsub = len(book_rows[0]["vec"])
    books = np.empty((mm, ks, dsub))
    for r in book_rows:
        books[r["subspace"], r["code"]] = r["vec"]
    qs = _query_side(queries, id_col, vec_col, books, cents, nprobe)
    probe_ids = sorted(c for c, qi in qs.probing.items() if len(qi))
    codes = spark.read.parquet(f"{path}/codes").filter(
        F.col("centroid_id").isin(probe_ids)
    )
    return _ivfpq_search(codes, emb, queries, qs, k, cand_mult, id_col, vec_col)
