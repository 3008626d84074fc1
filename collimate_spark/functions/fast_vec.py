"""Arrow-batched numpy kernels for the similarity-search operators: a
sample-trained spherical k-means coarse quantizer (the IVF pattern:
train on a bounded driver-side sample, broadcast the tiny centroid matrix
with the plan, assign/probe vectorized per Arrow batch — how FAISS-style
IVF indexes are built over data that never fits one machine) and
multi-table sign-random-projection (SRP) LSH buckets.

Determinism: training collects a deterministic vec_id-sampled subset,
sorts it driver-side, and runs single-threaded numpy with fixed-seed
PCG64 init — same data in, bit-identical centroids out, every run. The
trained quantizer is memoized per (cache_key, k) so repeated query runs
within a session reuse identical centroids (in production the quantizer
is a persisted artifact trained offline; the memo is the in-session
equivalent). Operators pass the table's file identity
(``catalog.table_identity``) as cache_key, so a table rewritten in place
retrains instead of serving stale centroids.
"""

from __future__ import annotations

import numpy as np

KMEANS_SEED = 4251
KMEANS_ITERS = 25
SAMPLE_CAP = 32768  # max vectors collected for quantizer training

_QUANTIZER_CACHE: dict[tuple[object, int], np.ndarray] = {}


def _normalize(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def train_spherical_kmeans(
    vectors: np.ndarray, k: int, seed: int = KMEANS_SEED, iters: int = KMEANS_ITERS
) -> np.ndarray:
    """k-means++ init + Lloyd iterations with cosine assignment on
    L2-normalized vectors (spherical k-means: euclidean on the unit sphere
    is monotone in cosine). Single-threaded numpy → deterministic for a
    fixed input order and seed. Returns (k, dim) normalized centroids."""
    X = _normalize(vectors.astype(np.float64, copy=False))
    n = len(X)
    rng = np.random.Generator(np.random.PCG64(seed))
    chosen = [int(rng.integers(n))]
    d2 = np.full(n, np.inf)
    for _ in range(k - 1):
        d2 = np.minimum(d2, ((X - X[chosen[-1]]) ** 2).sum(axis=1))
        total = d2.sum()
        if total <= 0:
            chosen.append(int(rng.integers(n)))
        else:
            chosen.append(int(rng.choice(n, p=d2 / total)))
    C = X[chosen].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        newC = np.vstack(
            [X[assign == j].mean(axis=0) if (assign == j).any() else C[j] for j in range(k)]
        )
        newC = _normalize(newC)
        if np.allclose(newC, C):
            break
        C = newC
    return C


def trained_quantizer(spark, df, k: int, cache_key: object) -> np.ndarray:
    """Train (or fetch memoized) centroids for a DataFrame with
    (vec_id, embedding) columns. Sampling is deterministic — a pmod filter
    on xxhash64(vec_id) picked so ≈SAMPLE_CAP rows survive — and the
    collected sample is sorted by vec_id before training, so the result
    does not depend on partition arrival order. ``cache_key`` must change
    whenever ``df``'s data can; None trains without memoizing."""
    import pyspark.sql.functions as F

    key = (cache_key, k)
    hit = _QUANTIZER_CACHE.get(key) if cache_key is not None else None
    if hit is not None:
        return hit
    n = df.count()
    modulus = max(1, n // SAMPLE_CAP)
    sample = df.select("vec_id", "embedding")
    if modulus > 1:
        sample = sample.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(modulus)) == 0)
    rows = sorted(sample.collect(), key=lambda r: r[0])
    X = np.array([r[1] for r in rows], dtype=np.float64)
    C = train_spherical_kmeans(X, k)
    if cache_key is not None:
        _QUANTIZER_CACHE[key] = C
    return C


def assign_clusters(mat: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """Nearest-centroid (max cosine) id per row — vectorized batch form
    used inside the pandas UDF."""
    return np.argmax(_normalize(mat.astype(np.float64, copy=False)) @ centroids.T, axis=1)


def probe_clusters(mat: np.ndarray, centroids: np.ndarray, nprobe: int) -> np.ndarray:
    """Top-``nprobe`` centroid ids per row, ordered by descending cosine
    with deterministic index tie-break. Returns (n, nprobe) int array."""
    sims = _normalize(mat.astype(np.float64, copy=False)) @ centroids.T
    k = centroids.shape[0]
    idx = np.arange(k)
    out = np.empty((len(mat), min(nprobe, k)), dtype=np.int64)
    for i, row in enumerate(sims):
        order = np.lexsort((idx, -row))
        out[i] = order[: out.shape[1]]
    return out


# --- multi-table SRP-LSH ---------------------------------------------------

SRP_SEED = 4251
SRP_TABLES = 16
SRP_BITS = 16
SRP_PROBE_RADIUS = 2  # probe all buckets within this Hamming distance


def srp_planes(dim: int, tables: int = SRP_TABLES, bits: int = SRP_BITS) -> np.ndarray:
    """Fixed-seed hyperplane stack, shape (tables*bits, dim). Data-
    independent → no training step; the same planes hash corpus and
    queries on every executor."""
    rng = np.random.Generator(np.random.PCG64(SRP_SEED))
    return rng.standard_normal((tables * bits, dim))


def srp_bucket_ids(
    mat: np.ndarray, planes: np.ndarray, tables: int = SRP_TABLES, bits: int = SRP_BITS
) -> np.ndarray:
    """(n, tables) int64 bucket ids: bit j of table t = sign(h_{t,j}·v)."""
    proj = mat.astype(np.float64, copy=False) @ planes.T > 0  # (n, tables*bits)
    weights = (1 << np.arange(bits, dtype=np.int64))
    out = np.empty((len(mat), tables), dtype=np.int64)
    for t in range(tables):
        out[:, t] = proj[:, t * bits : (t + 1) * bits] @ weights
    return out


def srp_probe_masks(bits: int = SRP_BITS, radius: int = SRP_PROBE_RADIUS) -> list[int]:
    """XOR masks for multiprobe: every bit pattern of Hamming weight ≤
    ``radius`` over ``bits`` positions (1 + bits + C(bits,2) masks at
    radius 2). A query probes bucket ^ mask for each mask, per table."""
    masks = [0] + [1 << i for i in range(bits)]
    if radius >= 2:
        masks += [
            (1 << i) | (1 << j) for i in range(bits) for j in range(i + 1, bits)
        ]
    return masks


# --- product quantization (PQ) ---------------------------------------------

PQ_M = 8  # subspaces (64-dim -> 8 chunks of 8 dims)
PQ_KS = 16  # centroids per subspace -> 4-bit codes, m bytes per vector

_PQ_CACHE: dict[tuple[object, int, int], np.ndarray] = {}


def _train_kmeans_l2(
    X: np.ndarray, k: int, seed: int = KMEANS_SEED, iters: int = KMEANS_ITERS
) -> np.ndarray:
    """Plain euclidean Lloyd's with k-means++ init (PQ codebooks live in
    subspace coordinates, NOT on the unit sphere — spherical assignment
    would be wrong here). Deterministic for fixed input order and seed."""
    X = X.astype(np.float64, copy=False)
    n = len(X)
    rng = np.random.Generator(np.random.PCG64(seed))
    chosen = [int(rng.integers(n))]
    d2 = np.full(n, np.inf)
    for _ in range(k - 1):
        d2 = np.minimum(d2, ((X - X[chosen[-1]]) ** 2).sum(axis=1))
        total = d2.sum()
        if total <= 0:
            chosen.append(int(rng.integers(n)))
        else:
            chosen.append(int(rng.choice(n, p=d2 / total)))
    C = X[chosen].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d, axis=1)
        newC = np.vstack(
            [X[assign == j].mean(axis=0) if (assign == j).any() else C[j] for j in range(k)]
        )
        if np.allclose(newC, C):
            break
        C = newC
    return C


def trained_pq_codebooks(
    spark, df, m: int = PQ_M, ks: int = PQ_KS, cache_key: object = None
) -> np.ndarray:
    """Train (or fetch memoized) PQ codebooks, shape (m, ks, dim/m), on the
    same deterministic bounded sample as ``trained_quantizer``. Vectors
    are L2-normalized BEFORE splitting, so squared ADC distance is
    monotone in cosine (on the unit sphere L2² = 2 − 2·cos). Memoized per
    (cache_key, m, ks) under the same rule as ``trained_quantizer``."""
    import pyspark.sql.functions as F

    key = (cache_key, m, ks)
    hit = _PQ_CACHE.get(key) if cache_key is not None else None
    if hit is not None:
        return hit
    n = df.count()
    modulus = max(1, n // SAMPLE_CAP)
    sample = df.select("vec_id", "embedding")
    if modulus > 1:
        sample = sample.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(modulus)) == 0)
    rows = sorted(sample.collect(), key=lambda r: r[0])
    X = _normalize(np.array([r[1] for r in rows], dtype=np.float64))
    sub = X.shape[1] // m
    books = np.stack(
        [
            _train_kmeans_l2(X[:, j * sub : (j + 1) * sub], ks, seed=KMEANS_SEED + j)
            for j in range(m)
        ]
    )
    if cache_key is not None:
        _PQ_CACHE[key] = books
    return books


def pq_encode(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, m) int32 codes: per subspace, the L2-nearest codebook entry of
    the NORMALIZED vector chunk. Vectorized per Arrow batch."""
    X = _normalize(mat.astype(np.float64, copy=False))
    m, ks, sub = books.shape
    out = np.empty((len(X), m), dtype=np.int32)
    for j in range(m):
        chunk = X[:, j * sub : (j + 1) * sub]
        # argmin ||x - c||² = argmin (−2 x·c + ||c||²)
        d = -2.0 * (chunk @ books[j].T) + (books[j] ** 2).sum(axis=1)
        out[:, j] = np.argmin(d, axis=1)
    return out


def pq_adc_lut(q: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(m, ks) asymmetric-distance lookup table for one NORMALIZED query:
    entry [j, c] = ||q_j − books[j, c]||². ADC distance of a coded vector
    is then m table lookups + a sum — the compressed-domain scan that
    reads m bytes per candidate instead of the full float vector."""
    qn = q / (np.linalg.norm(q) or 1.0)
    m, ks, sub = books.shape
    return np.stack(
        [((books[j] - qn[j * sub : (j + 1) * sub]) ** 2).sum(axis=1) for j in range(m)]
    )


# --- Johnson-Lindenstrauss random projection -------------------------------

JL_SEED = 4251
JL_OUT_DIM = 16


def jl_planes(in_dim: int, out_dim: int = JL_OUT_DIM) -> np.ndarray:
    """Fixed-seed Gaussian projection matrix scaled by 1/sqrt(out_dim) —
    the JL guarantee: pairwise distances distort by at most (1±ε) w.h.p.
    for out_dim = O(log n / ε²). Data-independent, so the same matrix
    projects every batch on every executor with no training step."""
    rng = np.random.Generator(np.random.PCG64(JL_SEED))
    return rng.standard_normal((out_dim, in_dim)) / np.sqrt(out_dim)


def jl_project(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(n, in_dim) → (n, out_dim) float64 batch projection."""
    return mat.astype(np.float64, copy=False) @ planes.T
