"""Nearest-neighbour search over embedding columns (array<float>).

Six top-k operators share one read path built from three pieces, so all
of them return (q_id, vec_id, <score>, rk:int) ranked by ONE tie-break:
score descending, then id ascending.
- `_topk`: the single rank window that keeps rk <= k per query.
- `_cosine_topk`: exact cosine over a frame of (vector, query) pairs,
  scored JVM-side (zip_with/aggregate in whole-stage codegen, no
  Python); self-matches and zero-norm vectors drop out. The operators
  differ only in the pairs they feed it: `brute_force_topk` a cross join
  with the broadcast query set, `lsh_topk` a join on random-hyperplane
  signature buckets, `ivf_topk`/`ivf_topk_indexed` a join on each
  query's nprobe nearest inverted lists.
- `_adc_topk`: code-space scoring in ONE mapInPandas. Each Arrow batch
  keeps its local top-k per query under the global tie-break (map-side
  combine), so the corpus never shuffles; `pq_topk_adc` scores PQ codes,
  `ivfpq_topk`/`ivfpq_topk_indexed` residual codes of the probed lists.

`semdedup` reuses the IVF coarse model to prune near-duplicates cluster
by cluster. The numpy kernels are plain module functions so the single-process
oracle (scripts/gen_expected.py) runs the SAME code the executors run
and the doubles hash bit-identically.
"""

from __future__ import annotations

import hashlib
import json
import logging

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger(__name__)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    """NULL for zero-norm inputs (ANSI mode would raise on divide-by-zero;
    a zero vector has no defined direction)."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _topk(scored: DataFrame, k: int, q_id_col: str, id_col: str,
          score_col: str) -> DataFrame:
    """The rank window every operator ends in: per query, score
    descending then id ascending; keeps rk <= k."""
    w = Window.partitionBy(q_id_col).orderBy(F.col(score_col).desc(),
                                             F.col(id_col))
    return (scored.withColumn("rk", F.row_number().over(w).cast("int"))
            .where(F.col("rk") <= k))


def _cosine_topk(pairs: DataFrame, k: int, id_col: str, emb_col: str,
                 q_id_col: str, q_emb_col: str) -> DataFrame:
    """Cosine top-k over candidate (vector, query) pairs."""
    scored = (pairs.where(F.col(id_col) != F.col(q_id_col))
              .select(q_id_col, id_col,
                      cosine(F.col(q_emb_col), F.col(emb_col)).alias("cosine"))
              .where(F.col("cosine").isNotNull()))
    return _topk(scored, k, q_id_col, id_col, "cosine")


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", emb_col: str = "embedding",
                     q_id_col: str = "q_id", q_emb_col: str = "q_emb") -> DataFrame:
    """Exact cosine top-k: the query set broadcasts and each partition
    scores its shard; the only shuffle carries the rank window's
    candidates."""
    return _cosine_topk(embeddings.crossJoin(F.broadcast(queries)), k,
                        id_col, emb_col, q_id_col, q_emb_col)


def _plane_matrix(n_planes: int, dim: int) -> np.ndarray:
    """(n_planes, dim) matrix of +1/-1 hyperplane weights: plane p's
    weight for dimension d is set by the parity of the portable md5 hash
    of 'p:d' — no stored random state, identical on every executor, every
    engine, every run."""
    W = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dim):
            h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16)
            W[p, d] = 1.0 if h % 2 == 0 else -1.0
    return W


def hyperplane_signature(emb_col: str | Column, n_planes: int,
                         dim: int | None = None) -> Column:
    """Deterministic random-hyperplane signature as a bit string.

    Vectorized pandas_udf with a lazily-built (n_planes x dim) weight
    matrix: one Arrow-batched kernel per batch, a plan of constant size
    regardless of n_planes x dim (the round-1 expression form compiled
    ~n_planes*dim Catalyst nodes per column — plan compilation beat the
    data at dim>=256), and no driver-side job: dim is taken from the
    first Arrow batch (`dim` is accepted for validation only).

    The dot products accumulate LEFT-TO-RIGHT over dimensions in float64
    (a per-dimension add loop, not a BLAS matmul): a BLAS `X @ W.T` can
    reorder the summation and flip the sign of near-zero dots between
    BLAS builds, whereas this fixed-order reduction reproduces the
    Catalyst `aggregate(zip_with(...))` fold exactly — signatures are
    identical across engines and environments."""
    planes: dict[int, np.ndarray] = {}

    @F.pandas_udf("string")
    def sig(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype="object")
        X = np.stack(s.to_numpy()).astype(np.float64)
        d = X.shape[1]
        if dim is not None and d != dim:
            raise ValueError(f"embedding dim {d} != declared dim {dim}")
        W = planes.get(d)
        if W is None:
            W = planes[d] = _plane_matrix(n_planes, d)
        # fixed-order (left-to-right over dims) accumulation; still
        # vectorized over (rows x planes) per dimension step
        acc = np.zeros((X.shape[0], W.shape[0]), dtype=np.float64)
        WT = W.T   # (d, n_planes)
        for j in range(d):
            acc += X[:, j:j + 1] * WT[j:j + 1, :]
        bits = np.where(acc >= 0, "1", "0")
        return pd.Series(["".join(row) for row in bits])

    return sig(F.col(emb_col) if isinstance(emb_col, str) else emb_col)


def lsh_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
             n_planes: int = 8, dim: int | None = None,
             id_col: str = "vec_id", emb_col: str = "embedding",
             q_id_col: str = "q_id", q_emb_col: str = "q_emb") -> DataFrame:
    """Approximate top-k: score only within the query's LSH bucket.

    The bucket join replaces the cross join — at scale candidates shrink
    by ~2^n_planes while the signature computation stays a narrow map
    (broadcast-model pandas_udf; no driver-side action in the plan)."""
    e = embeddings.withColumn("sig", hyperplane_signature(emb_col, n_planes, dim))
    q = queries.withColumn("sig", hyperplane_signature(q_emb_col, n_planes, dim))
    return _cosine_topk(e.join(F.broadcast(q), "sig"), k,
                        id_col, emb_col, q_id_col, q_emb_col)


# -- IVF (inverted-file) index: the scale path past LSH -------------------
#
# Train k coarse centroids (Lloyd iterations, deterministic init = first k
# vectors by id), assign every vector to its nearest centroid ("inverted
# list"), then score queries only against the nprobe nearest lists. At
# 100 TB the assignment is a narrow map over a broadcast (k x dim) model,
# the index can be written partitioned BY list_id so a probe prunes
# partitions at the parquet scan, and nprobe/n_lists trades recall for a
# ~n_lists/nprobe reduction in scored candidates. nprobe == n_lists
# degenerates to exact brute force (used by the parity gate).

def _l2sq(emb: Column, centroid: list[float]) -> Column:
    carr = F.array(*[F.lit(float(c)) for c in centroid])
    return F.aggregate(
        F.zip_with(emb, carr,
                   lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)),
        F.lit(0.0), lambda acc, x: acc + x)


def _sq_dists(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, d) rows x (k, d) centroids -> (n, k) squared distances.

    Computed as sum((x-c)^2) directly — non-negative by construction and
    matching the expression form's arithmetic (the expanded
    ||x||^2-2x.c+||c||^2 form can go slightly negative under cancellation
    and round differently near ties). Chunked so the (chunk, k, d)
    broadcast temp stays ~64 MB; each row's sum is the same in any
    chunk."""
    chunk = max(1, (64 << 20) // (C.shape[0] * C.shape[1] * 8))
    out = np.empty((X.shape[0], C.shape[0]), dtype=np.float64)
    for i in range(0, X.shape[0], chunk):
        diff = X[i:i + chunk, None, :] - C[None, :, :]
        out[i:i + chunk] = (diff * diff).sum(axis=2)
    return out


def _centroid_dists(centroids: list[list[float]]):
    """(n, d) batch -> (n, k) squared distances to the broadcast model.

    The model ships inside the pandas_udf closure (the broadcast-model +
    vectorized-Arrow-kernel pattern): one small codegen'd plan regardless
    of k x d, where the pure-expression form compiles a fresh giant
    aggregate(zip_with(...)) tree per centroid per pass."""
    C = np.asarray(centroids, dtype=np.float64)          # (k, d)
    return lambda s: _sq_dists(
        np.stack(s.to_numpy()).astype(np.float64), C)


def _nearest_list(emb: Column, centroids: list[list[float]]) -> Column:
    """0-based id of the closest centroid; first-index tie-break."""
    dists = _centroid_dists(centroids)

    @F.pandas_udf("int")
    def f(s: pd.Series) -> pd.Series:
        if len(s) == 0:   # empty Arrow batch: np.stack would raise
            return pd.Series([], dtype="int32")
        return pd.Series(dists(s).argmin(axis=1)).astype("int32")
    return f(emb)


def _train_sample(embeddings: DataFrame, id_col: str, emb_col: str,
                  init_sample: int) -> list:
    """THE deterministic bounded training draw shared by every
    sample-trained model here (coarse k-means, PQ, IVF-PQ, persisted
    index): hash-spread over the corpus (xxhash64 order breaks the
    lowest-id-prefix bias on corpora larger than init_sample), then
    re-sorted by id so downstream farthest-first inits are
    order-stable. For corpora <= init_sample this is the whole corpus
    id-sorted under ANY draw — the invariant that keeps the
    single-process oracle twins (trained on all vectors) bit-exact at
    gate scale. One bounded distributed job; returns collected rows."""
    return (embeddings.select(id_col, emb_col)
            .orderBy(F.xxhash64(F.col(id_col).cast("string")), id_col)
            .limit(init_sample)
            .orderBy(id_col).collect())


def kmeans_centroids(embeddings: DataFrame, n_lists: int = 8,
                     n_iters: int = 3, id_col: str = "vec_id",
                     emb_col: str = "embedding",
                     init_sample: int = 8192) -> list[list[float]]:
    """Deterministic sample-trained Lloyd k-means (the standard IVF
    training shape: faiss trains its coarse quantizer on a bounded
    sample, then assigns the full corpus).

    ONE distributed job fetches a deterministic hash-ordered sample of
    `init_sample` vectors; init = farthest-first traversal (k-center:
    seed 0 is the lowest-id sampled vector, each next seed maximizes
    distance to the chosen set, ties -> lowest id) and all Lloyd
    iterations run driver-side in numpy over that sample. At 10^12 rows
    this costs ZERO full-corpus passes for training — only `ivf_assign`
    touches the corpus, as a narrow broadcast-model map. Empty clusters
    keep their previous centroid; assignment tie-break = first index,
    matching `_nearest_list`'s argmin."""
    sample = _train_sample(embeddings, id_col, emb_col, init_sample)
    X = np.array([[float(v) for v in r[1]] for r in sample])   # id-sorted
    return _kmeans_np(X, n_lists, n_iters).tolist()   # shared Lloyd core


def ivf_assign(embeddings: DataFrame, centroids: list[list[float]],
               emb_col: str = "embedding") -> DataFrame:
    """Build the inverted index: each vector tagged with its list_id.
    Persist with .write.partitionBy('list_id') so probes prune the scan."""
    return embeddings.withColumn(
        "list_id", _nearest_list(F.col(emb_col), centroids))


def _write_model(spark, model, path: str) -> None:
    """A model sidecar: one line of JSON written as a text dataset
    through Spark's DataFrameWriter (i.e. the Hadoop FileSystem for
    `path`'s scheme), so an index works on hdfs:// and s3:// paths, not
    just local disk."""
    spark.createDataFrame([(json.dumps(model),)], "value string") \
        .coalesce(1).write.mode("overwrite").text(path)


def _read_model(spark, path: str):
    rows = spark.read.text(path).collect()
    return json.loads("".join(r["value"] for r in rows))


def ivf_write_index(embeddings: DataFrame, path: str, n_lists: int = 8,
                    id_col: str = "vec_id", emb_col: str = "embedding",
                    centroids: list[list[float]] | None = None
                    ) -> list[list[float]]:
    """Persist the IVF index: vectors tagged with list_id, written
    partitionBy(list_id) so probes prune at the parquet scan, plus the
    centroid model as a JSON sidecar (`<path>/_centroids/`). Returns the
    centroids."""
    if centroids is None:
        centroids = kmeans_centroids(embeddings, n_lists=n_lists,
                                     id_col=id_col, emb_col=emb_col)
    ivf_assign(embeddings, centroids, emb_col) \
        .write.mode("overwrite").partitionBy("list_id").parquet(path)
    _write_model(embeddings.sparkSession, centroids, f"{path}/_centroids")
    return centroids


def _probes(queries: DataFrame, centroids: list[list[float]], nprobe: int,
            q_id_col: str, q_emb_col: str) -> DataFrame:
    """(q_id, q_emb, list_id) rows, one per probed list: each query's
    nprobe nearest centroids (distance, then list id), scored JVM-side.
    The set is small and broadcasts onto the index's list_id column."""
    ranked = F.array(*[F.struct(_l2sq(F.col(q_emb_col), c).alias("d"),
                                F.lit(i).cast("int").alias("i"))
                       for i, c in enumerate(centroids)])
    nearest = F.transform(F.slice(F.array_sort(ranked), 1, nprobe),
                          lambda s: s["i"])
    return queries.select(q_id_col, q_emb_col,
                          F.explode(nearest).alias("list_id"))


def ivf_topk_indexed(spark, path: str, queries: DataFrame, k: int = 5,
                     nprobe: int = 2,
                     id_col: str = "vec_id", emb_col: str = "embedding",
                     q_id_col: str = "q_id",
                     q_emb_col: str = "q_emb") -> DataFrame:
    """Top-k against a persisted IVF index: the probe-list filter lands
    on the index's list_id partition column, so only nprobe/n_lists of
    the stored corpus is ever READ (PartitionFilters in the scan plan,
    pinned by test_ivf_index_partition_pruning), then scored via the
    same broadcast probe join as ivf_topk."""
    probes = _probes(queries, _read_model(spark, f"{path}/_centroids"),
                     nprobe, q_id_col, q_emb_col)
    lists = sorted({r["list_id"] for r in
                    probes.select("list_id").distinct().collect()})
    index = spark.read.parquet(path).where(F.col("list_id").isin(lists))
    return _cosine_topk(index.join(F.broadcast(probes), "list_id"), k,
                        id_col, emb_col, q_id_col, q_emb_col)


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
             n_lists: int = 8, nprobe: int = 2,
             centroids: list[list[float]] | None = None,
             id_col: str = "vec_id", emb_col: str = "embedding",
             q_id_col: str = "q_id", q_emb_col: str = "q_emb") -> DataFrame:
    """Approximate cosine top-k via IVF probing: the (q_id, list_id)
    probe set broadcasts and the index side joins on its list_id, so
    only nprobe/n_lists of the corpus is scored."""
    if centroids is None:
        centroids = kmeans_centroids(embeddings, n_lists=n_lists,
                                     id_col=id_col, emb_col=emb_col)
    probes = _probes(queries, centroids, nprobe, q_id_col, q_emb_col)
    index = ivf_assign(embeddings, centroids, emb_col)
    return _cosine_topk(index.join(F.broadcast(probes), "list_id"), k,
                        id_col, emb_col, q_id_col, q_emb_col)


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's PQ half): the 100 TB memory story —
# a d-dim float32 vector becomes m uint8 codes (here 64 floats -> 8
# bytes), scored against queries via ADC lookup tables without ever
# reconstructing the vectors.
# ---------------------------------------------------------------------------

def _as_f64(vecs) -> np.ndarray:
    """float32-normalize then widen — both the Arrow path (executors)
    and the pyarrow path (oracle twin) land on identical float64."""
    return np.asarray(vecs, dtype=np.float32).astype(np.float64)


def _kmeans_np(X, k: int, n_iters: int = 3):
    """Farthest-first init + Lloyd (first-index tie-breaks) — the numpy
    core shared by the coarse quantizer and the oracle twin."""
    seeds = [0]
    d_min = ((X - X[0]) ** 2).sum(axis=1)
    while len(seeds) < min(k, len(X)):
        nxt = int(np.argmax(d_min))
        seeds.append(nxt)
        d_min = np.minimum(d_min, ((X - X[nxt]) ** 2).sum(axis=1))
    C = X[seeds].copy()
    for _ in range(n_iters):
        assign = _sq_dists(X, C).argmin(axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def _pq_train_np(X, m: int, ks: int, n_iters: int = 5):
    """Per-subspace Lloyd k-means with farthest-first init (k-center:
    seed 0 = row 0, ties -> first index) — the deterministic training
    twin of kmeans_centroids, one codebook per subspace."""
    n, d = X.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    sub = d // m
    return [_kmeans_np(X[:, j * sub:(j + 1) * sub], ks, n_iters)
            for j in range(m)]


def _pq_encode_np(X, books):
    m = len(books)
    sub = X.shape[1] // m
    codes = np.empty((X.shape[0], m), dtype=np.int32)
    for j, C in enumerate(books):
        codes[:, j] = _sq_dists(X[:, j * sub:(j + 1) * sub], C).argmin(axis=1)
    return codes


def _pq_adc_ip_np(q, books, codes):
    """Asymmetric-distance inner product: per-subspace lookup tables
    (books[j] @ q_sub), summed over subspaces in fixed j order — the
    accumulation order is part of the bit-identity contract."""
    m = len(books)
    sub = q.size // m
    score = np.zeros(codes.shape[0], dtype=np.float64)
    for j in range(m):
        table = books[j] @ q[j * sub:(j + 1) * sub]
        score += table[codes[:, j]]
    return score


def _vectors(pdf: pd.DataFrame, emb_col: str) -> np.ndarray:
    """An Arrow batch's embedding column as an (n, d) float64 matrix."""
    return _as_f64(np.stack(pdf[emb_col].to_numpy()))


def _collect_queries(queries: DataFrame, q_id_col: str, q_emb_col: str):
    """Queries collect to the driver (small by contract, like IVF probe
    sets): (q_ids, Q) in q_id order."""
    rows = queries.select(q_id_col, q_emb_col).orderBy(q_id_col).collect()
    return [r[0] for r in rows], _as_f64([list(r[1]) for r in rows])


def _adc_topk(corpus: DataFrame, k: int, id_col: str, q_id_col: str,
              score) -> DataFrame:
    """Code-space top-k in ONE mapInPandas over `corpus`, then the rank
    window's ONE exchange.

    `score(pdf)` yields (q_id, ids, scores) for each query and the batch
    rows it scores. Each batch emits only its local top k+1 per query
    (+1 absorbs the self-match, which is skipped), ranked by the GLOBAL
    tie-break (score desc, id asc) — any other local order could drop a
    globally-ranked candidate at a boundary tie."""
    schema = T.StructType([
        T.StructField(q_id_col, T.LongType(), False),
        T.StructField(id_col, T.LongType(), False),
        T.StructField("adc_ip", T.DoubleType(), False),
    ])

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_q, out_v, out_s = [], [], []
            for qid, ids, s in score(pdf):
                for b in np.lexsort((ids, -s))[:k + 1]:
                    if ids[b] != qid:
                        out_q.append(qid)
                        out_v.append(int(ids[b]))
                        out_s.append(float(s[b]))
            yield pd.DataFrame({q_id_col: out_q, id_col: out_v,
                                "adc_ip": out_s})

    return _topk(corpus.mapInPandas(run, schema), k, q_id_col, id_col,
                 "adc_ip")


def pq_train(embeddings: DataFrame, m: int = 8, ks: int = 16,
             id_col: str = "vec_id", emb_col: str = "embedding",
             init_sample: int = 8192) -> list:
    """Train PQ codebooks on a deterministic hash-spread sample (ONE
    bounded distributed job; at 10^12 rows training never scans the
    corpus — only encode does, as a narrow broadcast-model map).

    The sample is the same xxhash64-ordered draw kmeans_centroids uses
    (id-sorted afterwards so the k-center init is order-stable): a
    lowest-id PREFIX would bias codebooks toward early vectors on
    corpora larger than init_sample. For corpora <= init_sample the
    sample is the whole corpus under either ordering, which is what
    makes the single-process oracle twin (scripts/gen_expected.py,
    trained on ALL vectors and asserting that bound) bit-exact at gate
    scale. Returns nested lists (m x ks x d/m) for closure broadcast."""
    sample = _train_sample(embeddings, id_col, emb_col, init_sample)
    X = _as_f64([list(r[1]) for r in sample])
    return [C.tolist() for C in _pq_train_np(X, m, ks)]


def pq_topk_adc(embeddings: DataFrame, queries: DataFrame,
                codebooks: list | None = None, k: int = 5,
                m: int = 8, ks: int = 16,
                id_col: str = "vec_id", emb_col: str = "embedding",
                q_id_col: str = "q_id",
                q_emb_col: str = "q_emb") -> DataFrame:
    """Approximate inner-product top-k via PQ ADC: each Arrow batch
    encodes its vectors and scores the codes against per-query lookup
    tables — the corpus never shuffles and never leaves code space."""
    if codebooks is None:
        codebooks = pq_train(embeddings, m=m, ks=ks, id_col=id_col,
                             emb_col=emb_col)
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    q_ids, Q = _collect_queries(queries, q_id_col, q_emb_col)

    def score(pdf):
        codes = _pq_encode_np(_vectors(pdf, emb_col), books)
        ids = pdf[id_col].to_numpy()
        for qid, q in zip(q_ids, Q):
            yield qid, ids, _pq_adc_ip_np(q, books, codes)

    return _adc_topk(embeddings.select(id_col, emb_col), k, id_col,
                     q_id_col, score)


# -- IVF-PQ: coarse lists + residual PQ codes -----------------------------
#
# Coarse assignment prunes which vectors a query scores (nprobe of
# n_lists inverted lists), residual PQ codes replace the vectors (d
# float32 -> m bytes), and scoring is q.x ~ q.centroid[list] + ADC(q,
# residual codes) — constant per (query, list) plus table lookups.
# `ivfpq_topk` re-trains and re-ENCODES the corpus inside every call —
# fine for one-shot batches, a full decode+encode scan per batch at
# 100 TB. The write/read pair is the faiss-on-disk shape: encode ONCE
# into (id, list_id, pq_code) partitioned by list_id (a ~32x read-volume
# reduction), then every query batch reads ONLY its probed list_id
# partitions (PartitionFilters at the parquet scan) and scores STORED
# codes — no encode stage in the read plan. Both read paths share one
# scorer, so on the same model they return bit-identical doubles.

def _ivfpq_train_np(X, n_lists: int, m: int, ks: int):
    """Coarse centroids + RESIDUAL-space PQ codebooks (faiss IVF-PQ
    training shape): quantize x - centroid[assign(x)], not x."""
    C = _kmeans_np(X, n_lists)
    assign = _sq_dists(X, C).argmin(axis=1)
    return C, _pq_train_np(X - C[assign], m, ks)


def _ivfpq_encode_np(X, C, books):
    assign = _sq_dists(X, C).argmin(axis=1)
    return assign, _pq_encode_np(X - C[assign], books)


def _ivfpq_ip_np(q, C, books, assign, codes):
    """IVF-PQ inner product q.centroid[list] + ADC(q, residual codes).
    q.centroid is computed once per list and then gathered, so a row's
    score does not depend on which other rows share its batch (a per-row
    `C[assign] @ q` product rounds differently with the batch length)."""
    return (C @ q)[assign] + _pq_adc_ip_np(q, books, codes)


def _ivfpq_model(embeddings: DataFrame, n_lists: int, m: int, ks: int,
                 id_col: str, emb_col: str, init_sample: int):
    """IVF-PQ training on the same deterministic hash-spread, id-resorted
    sample as pq_train/kmeans_centroids (no lowest-id prefix bias; == the
    whole corpus when it fits in init_sample, which is what keeps the
    single-process oracle twin exact at gate scale)."""
    sample = _train_sample(embeddings, id_col, emb_col, init_sample)
    return _ivfpq_train_np(_as_f64([list(r[1]) for r in sample]),
                           n_lists, m, ks)


def _ivfpq_scorer(C, books, q_ids, Q, probes, id_col: str,
                  lists_and_codes):
    """The scorer of both IVF-PQ read paths: each query scores only the
    rows of its probed lists. `lists_and_codes(pdf)` gives a batch's
    (list ids, residual codes) — encoded on the fly or read from the
    stored index."""
    def score(pdf):
        assign, codes = lists_and_codes(pdf)
        ids = pdf[id_col].to_numpy()
        for qid, q, lists in zip(q_ids, Q, probes):
            mask = np.isin(assign, lists)
            if mask.any():
                yield qid, ids[mask], _ivfpq_ip_np(q, C, books,
                                                   assign[mask], codes[mask])
    return score


def _nearest_lists(Q, C, nprobe: int) -> np.ndarray:
    """Each query's nprobe nearest coarse lists (stable ties)."""
    return np.argsort(_sq_dists(Q, C), axis=1, kind="stable")[:, :nprobe]


def ivfpq_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
               n_lists: int = 8, nprobe: int = 8, m: int = 8,
               ks: int = 16, id_col: str = "vec_id",
               emb_col: str = "embedding", q_id_col: str = "q_id",
               q_emb_col: str = "q_emb",
               init_sample: int = 8192) -> DataFrame:
    """The composed IVF-PQ read path: ONE mapInPandas stage assigns,
    encodes, probe-filters and emits local top-k per query; ONE window
    exchange reduces globally."""
    C, books = _ivfpq_model(embeddings, n_lists, m, ks, id_col, emb_col,
                            init_sample)
    q_ids, Q = _collect_queries(queries, q_id_col, q_emb_col)
    score = _ivfpq_scorer(
        C, books, q_ids, Q, _nearest_lists(Q, C, nprobe), id_col,
        lambda pdf: _ivfpq_encode_np(_vectors(pdf, emb_col), C, books))
    return _adc_topk(embeddings.select(id_col, emb_col), k, id_col,
                     q_id_col, score)


def ivfpq_write_index(embeddings: DataFrame, path: str, n_lists: int = 8,
                      m: int = 8, ks: int = 16, id_col: str = "vec_id",
                      emb_col: str = "embedding",
                      init_sample: int = 8192) -> tuple[list, list]:
    """Persist an IVF-PQ index: coarse-assign + residual-PQ-encode the
    corpus in ONE narrow mapInPandas (models ride the closure), write
    partitionBy(list_id), and store the model (coarse centroids +
    residual codebooks) as a JSON sidecar at `<path>/_model`. Zero
    full-corpus passes beyond the one encode scan. Returns (centroids,
    codebooks) as nested lists."""
    C, books = _ivfpq_model(embeddings, n_lists, m, ks, id_col, emb_col,
                            init_sample)
    schema = T.StructType([
        T.StructField(id_col, T.LongType(), False),
        T.StructField("pq_code", T.ArrayType(T.IntegerType()), False),
        T.StructField("list_id", T.IntegerType(), False),
    ])

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            assign, codes = _ivfpq_encode_np(_vectors(pdf, emb_col), C, books)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "pq_code": list(codes),
                                "list_id": assign.astype("int32")})

    (embeddings.select(id_col, emb_col).mapInPandas(run, schema)
     .write.mode("overwrite").partitionBy("list_id").parquet(path))
    model = {"centroids": C.tolist(), "codebooks": [b.tolist() for b in books]}
    _write_model(embeddings.sparkSession, model, f"{path}/_model")
    return model["centroids"], model["codebooks"]


def ivfpq_topk_indexed(spark, path: str, queries: DataFrame, k: int = 5,
                       nprobe: int = 2, id_col: str = "vec_id",
                       q_id_col: str = "q_id",
                       q_emb_col: str = "q_emb") -> DataFrame:
    """Top-k against a persisted IVF-PQ index with NO re-encode: the
    probed list_id filter lands on the index's partition column (only
    nprobe/n_lists of the stored codes are ever READ — PartitionFilters
    in the scan, pinned by tests/test_pq.py), and scoring runs over the
    STORED pq_code column, bit-identical to ivfpq_topk on the same
    model."""
    model = _read_model(spark, f"{path}/_model")
    C = np.array(model["centroids"], dtype=np.float64)
    books = [np.array(b, dtype=np.float64) for b in model["codebooks"]]
    q_ids, Q = _collect_queries(queries, q_id_col, q_emb_col)
    probes = _nearest_lists(Q, C, nprobe)
    index = (spark.read.parquet(path)
             .where(F.col("list_id").isin(np.unique(probes).tolist()))
             .select(id_col, "pq_code", "list_id"))
    score = _ivfpq_scorer(
        C, books, q_ids, Q, probes, id_col,
        lambda pdf: (pdf["list_id"].to_numpy(),
                     np.stack(pdf["pq_code"].to_numpy()).astype(np.int64)))
    return _adc_topk(index, k, id_col, q_id_col, score)


# -- SemDeDup: cluster-then-prune semantic dedup ---------------------------
#
# The embedding leg of the dedup family at corpus scale (SemDeDup,
# Abbas et al. 2023, arXiv:2303.09540): coarse k-means clusters the
# corpus so that near-duplicates land in the same cluster, then each
# cluster is pruned LOCALLY — no corpus-wide pairwise pass ever runs.
# Training never scans the corpus (bounded hash-spread sample, same
# draw as every other sample-trained model here), assignment is a
# narrow broadcast-model map, and the only shuffle co-locates each
# cluster for its local prune. At 10^12 rows size n_lists so clusters
# average ~1-10k vectors; `max_cluster` is the skew guard.

#: Default cluster-size cap for semdedup's within-cluster prune. A
#: cluster of B members costs O(B x kept) dot products and must fit in
#: one applyInPandas group (one task's memory): 4096 x d=64 float64 is
#: ~2 MB and ~8M flops worst case — far above any cluster a properly
#: sized n_lists produces, far below the task-killing regime. Clusters
#: larger than the cap are passed through UNPRUNED (under-dedup, never
#: a blown task); pass None to explicitly disable the guard.
DEFAULT_MAX_CLUSTER = 4096

#: dict from the most recent capped semdedup call (per driver process):
#: {'passthrough_clusters', 'passthrough_rows', 'max_cluster_seen'} —
#: the logged evidence that the cluster-cap guard fired (or didn't).
#: Driver-side (the cluster-size pre-pass is a bounded collect), so
#: it's populated at call time, before any action on the result.
last_semdedup_observation = None


def _semdedup_prune_np(ids, X, threshold: float):
    """Greedy leader prune of ONE cluster; returns the kept ids.

    Shared verbatim by the Spark applyInPandas stage and the
    single-process oracle twin (scripts/gen_expected.py), so both sides
    run identical float64 arithmetic in identical order — bit-exact.

    Rule: scan ids ascending; a vector is DROPPED iff its cosine to
    some already-KEPT vector of the cluster is >= threshold, else it
    becomes a leader. One deterministic representative (the lowest id)
    survives per near-dup group — the deterministic analog of the
    SemDeDup paper's keep-one-per-group rule (the paper keeps a random
    or lowest-centroid-distance member; lowest id is reproducible
    across engines and runs). Zero-norm vectors have no direction
    (cosine() NULL semantics above): always kept, never leaders."""
    order = np.argsort(ids, kind="stable")
    ids_s, Xs = ids[order], X[order]
    norms = np.sqrt((Xs * Xs).sum(axis=1))
    leaders = np.empty_like(Xs)
    n_lead = 0
    kept = []
    for i in range(len(ids_s)):
        if norms[i] == 0.0:
            kept.append(ids_s[i])
            continue
        v = Xs[i] / norms[i]
        if n_lead and float((leaders[:n_lead] @ v).max()) >= threshold:
            continue
        leaders[n_lead] = v
        n_lead += 1
        kept.append(ids_s[i])
    return kept


def semdedup(embeddings: DataFrame, n_lists: int = 8,
             threshold: float = 0.9, id_col: str = "vec_id",
             emb_col: str = "embedding",
             centroids: list[list[float]] | None = None,
             max_cluster: int | None = DEFAULT_MAX_CLUSTER,
             init_sample: int = 8192) -> DataFrame:
    """Semantic dedup: keep one representative per group of vectors
    whose cosine is >= threshold within a k-means cluster.

    Plan shape (the canonical SemDeDup decomposition): bounded-sample
    k-means train (zero full-corpus passes) -> broadcast-model
    assignment (narrow) -> ONE hash exchange on list_id co-locating
    each cluster for its local numpy prune. The `max_cluster` skew
    guard is a bounded pre-pass — len(centroids) per-cluster counts,
    map-side combined, collected driver-side like the training sample —
    so when no cluster exceeds the cap (the sized-n_lists common case)
    the guard adds NO branch to the prune plan: one scan, one exchange,
    no window, no union. Oversized clusters (if any) bypass the prune
    through a narrow passthrough branch unpruned — a skewed
    mega-cluster degrades dedup recall, never a task or its memory —
    and are counted in `last_semdedup_observation` + a warning log.
    Like kmeans_centroids this runs bounded eager jobs at call time.
    Returns kept (id_col, list_id)."""
    if centroids is None:
        centroids = kmeans_centroids(embeddings, n_lists=n_lists,
                                     id_col=id_col, emb_col=emb_col,
                                     init_sample=init_sample)
    assigned = ivf_assign(embeddings, centroids, emb_col) \
        .select(id_col, emb_col, "list_id")
    return _semdedup_over_assigned(assigned, threshold, id_col,
                                   emb_col, max_cluster)


def semdedup_indexed(spark, path: str, threshold: float = 0.9,
                     id_col: str = "vec_id", emb_col: str = "embedding",
                     max_cluster: int | None = DEFAULT_MAX_CLUSTER
                     ) -> DataFrame:
    """SemDeDup over a persisted IVF index (`ivf_write_index` output):
    the cluster assignment is already on disk partitioned by list_id,
    so the whole train-and-assign front half of `semdedup` disappears —
    the plan is scan -> one list_id exchange -> per-cluster prune, and
    the guard's counts pre-pass reads ONLY the list_id partition column
    (column pruning makes it near-free). This is the write-once/
    dedup-many shape for 100 TB: the same stored index serves
    `ivf_topk_indexed` queries and dedup sweeps at any threshold
    without re-clustering. Same kept set as `semdedup` run with the
    index's centroids (pinned by tests/test_semdedup.py)."""
    assigned = spark.read.parquet(path) \
        .select(id_col, emb_col, F.col("list_id").cast("int")
                .alias("list_id"))
    return _semdedup_over_assigned(assigned, threshold, id_col,
                                   emb_col, max_cluster)


def _semdedup_over_assigned(assigned: DataFrame, threshold: float,
                            id_col: str, emb_col: str,
                            max_cluster: int | None) -> DataFrame:
    """Shared back half of semdedup/semdedup_indexed: the max_cluster
    guard pre-pass + the groupBy(list_id) greedy leader prune over an
    already-assigned (id, embedding, list_id) frame."""
    if max_cluster is not None and max_cluster < 1:
        raise ValueError(f"max_cluster must be >= 1 or None to disable "
                         f"the cap, got {max_cluster}")
    id_type = dict(assigned.dtypes)[id_col]
    big = None
    if max_cluster is not None:
        global last_semdedup_observation
        counts = {r["list_id"]: r["n"] for r in
                  assigned.groupBy("list_id")
                  .agg(F.count("*").alias("n")).collect()}
        over_ids = sorted(l for l, n in counts.items()
                          if n > max_cluster)
        last_semdedup_observation = {
            "passthrough_clusters": len(over_ids),
            "passthrough_rows": sum(counts[l] for l in over_ids),
            "max_cluster_seen": max(counts.values(), default=0),
        }
        if over_ids:
            log.warning(
                "semdedup: %d cluster(s) exceed max_cluster=%d "
                "(%d rows) — passed through unpruned",
                len(over_ids), max_cluster,
                last_semdedup_observation["passthrough_rows"])
            big = (assigned.where(F.col("list_id").isin(over_ids))
                   .select(id_col, "list_id"))
            assigned = assigned.where(
                ~F.col("list_id").isin(over_ids))
    thr = float(threshold)
    out_schema = f"{id_col} {id_type}, list_id int"

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        kept = _semdedup_prune_np(pdf[id_col].to_numpy(),
                                  _as_f64(list(pdf[emb_col])), thr)
        return pd.DataFrame({
            id_col: kept,
            "list_id": np.full(len(kept), int(pdf["list_id"].iloc[0]),
                               dtype="int32")})

    pruned = assigned.groupBy("list_id").applyInPandas(prune, out_schema)
    return pruned.unionByName(big) if big is not None else pruned
