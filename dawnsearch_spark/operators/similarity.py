"""Similarity search over embedding columns: exact brute-force top-k and
two approximate scale paths (random-hyperplane LSH, IVF coarse quantizer).

Reference analogs: the reference's serving index is HNSW over 384-d unit
vectors (/root/reference/src/search/search_provider.rs:35-42, :214) with a
brute-force exact scan kept as the oracle
(/root/reference/examples_old/search.rs:44-72), an IVF-like bucket index
with multi-assignment (/root/reference/examples_old/search_bucket.rs:15-90)
and an NSW graph (/root/reference/examples_old/search_nsw.rs:31-189). Here:

* ``cosine_topk``        — exact oracle (native higher-order functions,
                           TakeOrderedAndProject; reference search.rs:44-72)
* ``lsh_bucket_topk``    — sign-of-hyperplane buckets; probes only matching
                           buckets (reference bucket index analog)
* ``ivf_topk``           — deterministic seeded centroids, NumPy matmul
                           assignment in a vectorized pandas UDF, nprobe
                           cells scanned (bucket multi-assign analog)
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dawnsearch_spark.operators.dedup import cosine_sim_col


def _query_lit(qvec: list[float]):
    return F.array(*[F.lit(float(x)) for x in qvec])


def cosine_topk(
    emb: DataFrame,
    qvec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k (score desc, id asc)."""
    return (
        emb.select(
            F.col(id_col),
            F.round(cosine_sim_col(F.col(vec_col), _query_lit(qvec)), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_assign(
    emb: DataFrame,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, bucket): sign-of-hyperplane bucket per vector — one NumPy
    matmul per Arrow batch (replaces ``n_planes`` separate JVM fold passes;
    same Arrow substrate as the index-build hot path). At cluster scale
    this runs once at WRITE time and ``bucket`` becomes a partition column,
    turning every query into a partition-pruned scan."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = None
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if planes is None:
                planes = _hyperplanes(mat.shape[1], n_planes, seed)
            bits = (mat @ planes.T) > 0
            yield pd.DataFrame(
                {id_col: pdf[id_col], "bucket": (bits * weights).sum(axis=1)}
            )

    return emb.select(id_col, vec_col).mapInPandas(gen, f"{id_col} long, bucket long")


def lsh_query_bucket(qvec: list[float], n_planes: int = 8, seed: int = 42) -> int:
    planes = _hyperplanes(len(qvec), n_planes, seed)
    q = np.asarray(qvec, np.float64)
    return int(sum(2**i for i, p in enumerate(planes) if float(p @ q) > 0))


def lsh_bucket_topk(
    emb: DataFrame,
    qvec: list[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: scan only the query's LSH bucket. At cluster
    scale the bucket id is a write-time partition column (see
    :func:`lsh_assign`), so this becomes a partition-pruned scan instead
    of a full pass."""
    qbucket = lsh_query_bucket(qvec, n_planes, seed)
    assigned = lsh_assign(emb, n_planes, seed, id_col, vec_col)
    sel = emb.join(
        F.broadcast(assigned.filter(F.col("bucket") == qbucket).select(id_col)),
        id_col,
        "left_semi",
    )
    return cosine_topk(sel, qvec, k, id_col, vec_col)


def _centroids(dim: int, n_cells: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed + 1)
    c = rng.standard_normal((n_cells, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def train_ivf_centroids(
    emb: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    sample_size: int = 4096,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Seeded spherical k-means over a deterministic sample -> (n_cells,
    dim) unit centroids.

    Random gaussian centroids (round 1-2) make recall at a given nprobe
    luck, not design: cells don't follow the data density, so a query's
    true neighbors scatter across arbitrary cells. A few k-means
    iterations put ~equal data mass per cell and co-locate neighbors,
    making nprobe/n_cells a real recall knob (reference analog: the
    bucket index this replaces, examples_old/search_bucket.rs:15-90).

    Driver-side on a bounded sample (``sample_size`` rows via
    deterministic orderBy-limit — one small collect); at 100-TB scale the
    sample is still a constant-size collect and the trained centroids
    ship to executors inside the assignment closure (a few KB).
    Determinism: seeded init from sample points, stable argmax/argsort,
    empty cells re-seeded to the worst-fit points."""
    rows = emb.orderBy(F.col(id_col)).limit(sample_size).select(vec_col).collect()
    if not rows:
        raise ValueError("cannot train IVF centroids on an empty relation")
    X = np.stack([np.asarray(r[0], np.float64) for r in rows])
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    Xn = X / norms
    rng = np.random.default_rng(seed + 2)
    if len(Xn) >= n_cells:
        C = Xn[rng.choice(len(Xn), n_cells, replace=False)].copy()
    else:
        C = _centroids(Xn.shape[1], n_cells, seed)
        C[: len(Xn)] = Xn
    for _ in range(iters):
        sims = Xn @ C.T
        a = sims.argmax(axis=1)
        M = np.zeros_like(C)
        np.add.at(M, a, Xn)
        counts = np.bincount(a, minlength=n_cells)
        fit = sims[np.arange(len(Xn)), a]  # for empty-cell reseeding
        worst = np.argsort(fit, kind="stable")
        wi = 0
        for c in range(n_cells):
            if counts[c] == 0:
                if wi < len(worst):
                    M[c] = Xn[worst[wi]]
                    wi += 1
                else:
                    # more empty cells than sample points (tiny relation):
                    # keep the cell at its current centroid instead of
                    # indexing past the sample
                    M[c] = C[c]
        nm = np.linalg.norm(M, axis=1, keepdims=True)
        nm[nm == 0] = 1.0
        C = M / nm
    return C


def ivf_assign(
    emb: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Assign each vector to its nearest (cosine) coarse centroid — one
    vectorized NumPy matmul per Arrow batch (no per-row Python). Pass the
    ``centroids`` from :func:`train_ivf_centroids` for data-aware cells
    (they ship once in the closure — a few KB); default falls back to the
    seeded random quantizer."""
    fixed = None if centroids is None else np.ascontiguousarray(centroids, np.float64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = fixed
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if cents is None:
                cents = _centroids(M.shape[1], n_cells, seed)
            norms = np.linalg.norm(M, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sims = (M / norms) @ cents.T
            yield pd.DataFrame({id_col: pdf[id_col], "cell": sims.argmax(axis=1)})

    return emb.mapInPandas(gen, f"{id_col} long, cell int")


def ivf_probe_cells(
    qvec: list[float],
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> list[int]:
    """The ``nprobe`` cells nearest (cosine) to the query vector."""
    q = np.asarray(qvec, np.float64)
    cents = (
        np.asarray(centroids, np.float64)
        if centroids is not None
        else _centroids(len(qvec), n_cells, seed)
    )
    qn = q / (np.linalg.norm(q) or 1.0)
    return [int(c) for c in np.argsort(-(cents @ qn), kind="stable")[:nprobe]]


def train_pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    sample_size: int = 4096,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Product-quantization codebooks: split the (unit-normalized) vector
    into ``m`` subspaces and k-means each to ``ksub`` centroids ->
    (m, ksub, dsub) float64. PQ is the memory-compression axis that makes
    100-TB ANN feasible: a 384-d float32 vector (1536 B) becomes m code
    bytes (~48 B at m=48), and search scans CODES with a per-query lookup
    table instead of touching raw vectors (reference analog: the i24/i16
    requantized wire vectors, src/search/vector.rs:30-87 — PQ is the
    trained, per-subspace version of the same idea). Same training
    discipline as the IVF coarse quantizer: seeded sample, stable argmin,
    empty-cell reseed to worst-fit points, a constant-size driver collect
    at any corpus scale."""
    rows = emb.orderBy(F.col(id_col)).limit(sample_size).select(vec_col).collect()
    if not rows:
        raise ValueError("cannot train PQ codebooks on an empty relation")
    X = np.stack([np.asarray(r[0], np.float64) for r in rows])
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"PQ needs m to divide dim (dim={dim}, m={m})")
    dsub = dim // m
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    Xn = (X / norms).reshape(len(X), m, dsub)
    rng = np.random.default_rng(seed + 3)
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        S = Xn[:, j]
        if len(S) >= ksub:
            C = S[rng.choice(len(S), ksub, replace=False)].copy()
        else:
            C = rng.standard_normal((ksub, dsub)) * 0.01
            C[: len(S)] = S
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            M = np.zeros_like(C)
            np.add.at(M, a, S)
            counts = np.bincount(a, minlength=ksub)
            worst = np.argsort(-d2[np.arange(len(S)), a], kind="stable")
            wi = 0
            for c in range(ksub):
                if counts[c] == 0:
                    M[c] = S[worst[wi]] if wi < len(worst) else C[c]
                    wi += 1
                else:
                    M[c] = M[c] / counts[c]
            C = M
        books[j] = C
    return books


def pq_encode(
    emb: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code binary): each (unit-normalized) vector quantized to its
    nearest codebook entry per subspace — ``m`` bytes per vector. One
    vectorized NumPy pass per Arrow batch (argmin over a (B, ksub)
    distance matrix per subspace); at cluster scale this runs once at
    write time and queries never touch the raw vectors again."""
    cb = np.ascontiguousarray(codebooks, np.float64)
    m, ksub, dsub = cb.shape

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(M, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            S = (M / norms).reshape(len(M), m, dsub)
            codes = np.empty((len(M), m), np.uint8)
            for j in range(m):
                d2 = ((S[:, j, None, :] - cb[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "code": [c.tobytes() for c in codes]}
            )

    return emb.select(id_col, vec_col).mapInPandas(gen, f"{id_col} long, code binary")


def pq_adc_topk(
    codes: DataFrame,
    qvec: list[float],
    codebooks: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: one (m, ksub) lookup
    table of squared subdistances from the normalized query, then every
    row's distance is ``sum_j LUT[j, code_j]`` — a pure table-gather per
    Arrow batch, no vector math per row. On unit vectors L2 ranks
    identically to cosine (||q - x||^2 = 2 - 2 cos), so this is the
    compressed twin of :func:`cosine_topk`. Ascending (adc, id) order."""
    cb = np.ascontiguousarray(codebooks, np.float64)
    m, ksub, dsub = cb.shape
    q = np.asarray(qvec, np.float64)
    qn = (q / (np.linalg.norm(q) or 1.0)).reshape(m, dsub)
    lut = ((cb - qn[:, None, :]) ** 2).sum(axis=2)  # (m, ksub)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = np.arange(m)
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(
                [np.frombuffer(b, np.uint8, count=m) for b in pdf["code"]]
            ).astype(np.int64)
            dist = lut[cols[None, :], C].sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "adc": dist})

    scored = codes.select(id_col, "code").mapInPandas(gen, f"{id_col} long, adc double")
    return (
        scored.orderBy(F.asc("adc"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("adc", 6).alias("adc"))
    )


def pq_rerank_topk(
    emb: DataFrame,
    codes: DataFrame,
    qvec: list[float],
    codebooks: np.ndarray,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The standard PQ deployment recipe: ADC over the compressed codes
    produces a ``shortlist`` of candidates (cheap, code-only), then ONLY
    those rows' raw vectors are fetched for an exact cosine re-rank —
    recall recovers to near-exact while the full-corpus scan still never
    touches a raw vector. At scale the shortlist join is a broadcast of
    ``shortlist`` ids into a pruned scan (same shape as the WAND
    hydration join J1)."""
    short = pq_adc_topk(codes, qvec, codebooks, k=shortlist, id_col=id_col)
    sel = emb.join(F.broadcast(short.select(id_col)), id_col, "left_semi")
    return cosine_topk(sel, qvec, k, id_col, vec_col)


def pq_code_rows(
    codes: DataFrame, m: int, id_col: str = "vec_id"
) -> DataFrame:
    """Long-form (id, j, code) rows of the compact binary codes — the
    oracle-export shape (a SQL engine joins these against the codebook
    rows to recompute every ADC distance from first principles)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack([np.frombuffer(b, np.uint8, count=m) for b in pdf["code"]])
            ids = pdf[id_col].to_numpy(np.int64)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, m),
                    "j": np.tile(np.arange(m, dtype=np.int32), len(ids)),
                    "code": C.reshape(-1).astype(np.int32),
                }
            )

    return codes.select(id_col, "code").mapInPandas(
        gen, f"{id_col} long, j int, code int"
    )


def pq_codebook_rows(spark, codebooks: np.ndarray) -> DataFrame:
    """(j, code, d, val) rows of the trained codebooks for the oracle
    export (tiny: m * ksub * dsub rows)."""
    cb = np.asarray(codebooks, np.float64)
    m, ksub, dsub = cb.shape
    rows = [
        (int(j), int(c), int(d), float(cb[j, c, d]))
        for j in range(m)
        for c in range(ksub)
        for d in range(dsub)
    ]
    return spark.createDataFrame(rows, "j int, code int, d int, val double")


def ivfpq_topk(
    codes: DataFrame,
    qvec: list[float],
    codebooks: np.ndarray,
    probe_cells: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    cell_col: str = "cell",
) -> DataFrame:
    """IVF×PQ composed search — the actual 100-TB ANN recipe: ``codes``
    carries (id, code, cell) where ``cell`` is the trained IVF coarse cell
    (a write-time partition column via :func:`build_ann_index`'s ivfpq
    kind), the query probes its ``probe_cells`` (from
    :func:`ivf_probe_cells`), and ADC scans ONLY those cells' codes.
    IVF alone (``ivf_topk``) prunes cells but stores raw vectors; PQ alone
    (``pq_adc_topk``) compresses 12-48x but scans every code — composed,
    a query touches nprobe/n_cells of the corpus at m bytes per vector.
    Reference analog: the bucketed index experiment
    (/root/reference/examples_old/search_bucket.rs:15-90) with the
    i16/i24 requantized vectors (src/search/vector.rs:30-87) as the
    in-bucket representation."""
    pruned = codes.filter(F.col(cell_col).isin([int(c) for c in probe_cells]))
    return pq_adc_topk(pruned, qvec, codebooks, k, id_col)


def ivfpq_rerank_topk(
    emb: DataFrame,
    codes: DataFrame,
    qvec: list[float],
    codebooks: np.ndarray,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF×PQ with the standard exact re-rank tail: probe nprobe cells,
    ADC-shortlist their codes, then fetch ONLY the shortlist's raw vectors
    (broadcast semi-join — J1 hydration shape) for an exact cosine re-rank.
    Recall recovers to near-exact while the scan path still never touches
    a raw vector outside the shortlist."""
    probe = ivf_probe_cells(
        qvec, n_cells=len(centroids), nprobe=nprobe, centroids=centroids
    )
    short = ivfpq_topk(codes, qvec, codebooks, probe, k=shortlist, id_col=id_col)
    sel = emb.join(F.broadcast(short.select(id_col)), id_col, "left_semi")
    return cosine_topk(sel, qvec, k, id_col, vec_col)


def ivf_topk(
    emb: DataFrame,
    qvec: list[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    train: bool = True,
) -> DataFrame:
    """IVF search: score only vectors in the nprobe nearest cells.
    (At scale the cell is a write-time partition column -> pruned scan;
    reference analog: bucket multi-assignment INSERT_COUNT=3,
    examples_old/search_bucket.rs:15-90.) Centroids are k-means-trained by
    default (``train=False`` restores the seeded random quantizer)."""
    if centroids is None and train:
        centroids = train_ivf_centroids(
            emb, n_cells, seed, id_col=id_col, vec_col=vec_col
        )
    probe = ivf_probe_cells(qvec, n_cells, nprobe, seed, centroids)
    assigned = ivf_assign(emb, n_cells, seed, id_col, vec_col, centroids)
    sel = emb.join(
        F.broadcast(assigned.filter(F.col("cell").isin(probe)).select(id_col)),
        id_col,
        "left_semi",
    )
    return cosine_topk(sel, qvec, k, id_col, vec_col)
