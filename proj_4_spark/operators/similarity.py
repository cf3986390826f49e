"""Embedding similarity search.

- cosine_topk: exact brute-force top-k for a broadcast query set —
  the correctness baseline.  Dot products run in a vectorized pandas
  UDF (one BLAS matmul per Arrow batch against the broadcast query
  matrix) — the scalable layout for 10^12 x small-k.
- hyperplane_bucket: SimHash-for-vectors LSH — sign bits against B
  fixed random hyperplanes (deterministic seed), as a pure Catalyst
  expression; near-dup pairs are found within equal buckets only
  (candidate generation), then exact-cosine-verified.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def hyperplanes(dim: int = 64, n: int = 8, seed: int = 42) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes (fixed literal values —
    shared verbatim by engine and oracle)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n, dim)).round(6)


def dot_expr(vec: Column, w: list[float]) -> Column:
    """<vec, w> as a Catalyst aggregate over the array column."""
    return F.aggregate(
        F.zip_with(vec, F.array(*[F.lit(float(x)) for x in w]),
                   lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x)


def dots_expr(vec: Column, planes: np.ndarray) -> Column:
    """All <vec, plane_k> dot products in ONE traversal of the array:
    the constant plane matrix is embedded TRANSPOSED, so each vector
    element multiplies into every plane's partial sum as it streams by
    (vs one aggregate pass per plane).  Per-plane summation order is
    element order, identical to dot_expr — results are bit-equal."""
    planes = np.asarray(planes, dtype=np.float64)
    n_planes, dim = planes.shape
    wt = F.array(*[F.array(*[F.lit(float(planes[k][j]))
                             for k in range(n_planes)])
                   for j in range(dim)])
    prods = F.zip_with(vec, wt,
                       lambda x, ws: F.transform(ws, lambda w: x * w))
    zero = F.array(*[F.lit(0.0) for _ in range(n_planes)])
    return F.aggregate(
        prods, zero, lambda a, pr: F.zip_with(a, pr, lambda s, p: s + p))


def _sign_bits(dots: Column, start: int, rows: int) -> Column:
    acc = F.lit(0)
    for k in range(rows):
        acc = acc + F.when(F.element_at(dots, start + k + 1) > 0,
                           F.lit(1 << k)).otherwise(F.lit(0))
    return acc


def banded_buckets_expr(vec: Column, planes: np.ndarray, bands: int,
                        rows: int) -> Column:
    """array<int> of per-band bucket ids from ONE dot-product pass over
    the embedding (bands*rows planes), binding the dots array once."""
    return F.element_at(
        F.transform(F.array(dots_expr(vec, planes)),
                    lambda d: F.array(*[_sign_bits(d, b * rows, rows)
                                        for b in range(bands)])),
        1)


def cosine_topk(vectors: DataFrame, query_ids: list[int], k: int,
                vec_col: str = "embedding", id_col: str = "vec_id",
                round_to: int = 9) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (excluding
    self).  Ranking key is the ROUNDED similarity (+ id tie-break) so
    the result is invariant to FP summation order."""
    spark = vectors.sparkSession
    qrows = (vectors.where(F.col(id_col).isin(query_ids))
                    .select(F.col(id_col).alias("query_id"), vec_col)
                    .collect())
    qmat = np.array([r[vec_col] for r in qrows], dtype=np.float64)
    qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))

    @pandas_udf("array<double>")
    def _sims(vec: pd.Series) -> pd.Series:
        m = np.array(vec.tolist(), dtype=np.float64)
        nrm = np.sqrt((m * m).sum(axis=1))
        sims = (m @ qmat.T) / np.outer(nrm, qnorm)
        return pd.Series(list(sims))

    qid_arr = F.array(*[F.lit(int(q)) for q in qids.tolist()])
    sims = (vectors.select(id_col, _sims(F.col(vec_col)).alias("s"))
                   .select(id_col,
                           F.explode(F.arrays_zip(qid_arr.alias("query_id"),
                                                  F.col("s").alias("sim")))
                           .alias("z"))
                   .select(F.col("z.query_id").cast("long").alias("query_id"),
                           F.col(id_col),
                           F.round(F.col("z.sim"), round_to).alias("sim"))
                   .where(F.col("query_id") != F.col(id_col)))
    from pyspark.sql import Window

    w = (Window.partitionBy("query_id")
         .orderBy(F.col("sim").desc(), F.col(id_col).asc()))
    return (sims.withColumn("rank", F.row_number().over(w).cast("long"))
                .where(F.col("rank") <= k)
                .select("query_id", "rank", id_col, "sim"))


def neardup_pairs(vectors: DataFrame, threshold: float = 0.9,
                  vec_col: str = "embedding", id_col: str = "vec_id",
                  planes: np.ndarray | None = None,
                  round_to: int = 9, bands: int = 2, rows: int = 8,
                  max_bucket: int = 2000) -> DataFrame:
    """Near-duplicate pairs via BANDED sign-hyperplane LSH with exact
    cosine verification.

    ``bands`` independent 2^rows-bucket partitions: a pair is a
    candidate if it collides in ANY band (union -> higher recall than
    a single partition), and every (band, bucket) with more than
    ``max_bucket`` members is dropped before the self-join — one hot
    bucket (near-constant embeddings, zero vectors) would otherwise
    contribute O(m^2) pairs at web scale.  The windowed count shuffles
    on the same (band, bucket) key the join needs."""
    from pyspark.sql import Window

    planes = hyperplanes(n=bands * rows) if planes is None else planes
    band_buckets = banded_buckets_expr(F.col(vec_col), planes, bands, rows)
    b = vectors.select(
        id_col, vec_col,
        F.posexplode(band_buckets).alias("band", "bucket"))
    bucket_n = F.count("*").over(Window.partitionBy("band", "bucket"))
    b = (b.withColumn("_bn", bucket_n)
          .where(F.col("_bn") <= max_bucket).drop("_bn"))
    b = b.persist()  # avoid recomputing the dot products per join side
    a, c = b.alias("a"), b.alias("b")
    pairs = (a.join(c, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bucket") == F.col("b.bucket"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
              .select(F.col(f"a.{id_col}").alias("vec_a"),
                      F.col(f"b.{id_col}").alias("vec_b"),
                      F.col(f"a.{vec_col}").alias("va"),
                      F.col(f"b.{vec_col}").alias("vb"))
              .dropDuplicates(["vec_a", "vec_b"]))

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        ma = np.array(va.tolist(), dtype=np.float64)
        mb = np.array(vb.tolist(), dtype=np.float64)
        num = (ma * mb).sum(axis=1)
        den = np.sqrt((ma * ma).sum(axis=1)) * np.sqrt((mb * mb).sum(axis=1))
        return pd.Series(num / den)

    return (pairs.withColumn("sim", F.round(_cos("va", "vb"), round_to))
                 .where(F.col("sim") >= threshold)
                 .select("vec_a", "vec_b", "sim"))


# ------------------------------------------------------------------- IVF

def kmeans_centroids(vectors: DataFrame, n_centroids: int = 16,
                     n_iter: int = 8, sample_n: int = 2048,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> np.ndarray:
    """Deterministic Lloyd k-means on an id-ordered sample, run
    driver-side — the coarse quantizer of an IVF index.  At 10^12 rows
    the sample is a tiny bounded collect; the expensive step
    (assignment) runs distributed in ivf_topk."""
    rows = (vectors.orderBy(id_col).limit(sample_n)
                   .select(vec_col).collect())
    X = np.array([r[0] for r in rows], dtype=np.float64)
    C = X[:n_centroids].copy()
    for _ in range(n_iter):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = d.argmin(1)
        for j in range(n_centroids):
            m = a == j
            if m.any():
                C[j] = X[m].mean(0)
    return C


def assign_centroid_udf(centroids: np.ndarray):
    """pandas UDF: nearest-centroid id (squared-euclidean argmin,
    first-min on ties — matches the SQL oracle's strict-less chain)."""
    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def _assign(vec: pd.Series) -> pd.Series:
        m = np.array(vec.tolist(), dtype=np.float64)
        d = np.stack([((m - C[j]) ** 2).sum(axis=1)
                      for j in range(len(C))], axis=1)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return _assign


def ivf_topk(vectors: DataFrame, query_ids: list[int], k: int,
             centroids: np.ndarray | None = None, nprobe: int = 4,
             n_centroids: int = 16, vec_col: str = "embedding",
             id_col: str = "vec_id", round_to: int = 9) -> DataFrame:
    """IVF-style ANN top-k: assign every vector to its nearest
    centroid (inverted lists), probe only the ``nprobe`` lists nearest
    each query, exact cosine + top-k inside the probed lists.

    The scan touches ~nprobe/n_centroids of the data per query — the
    sub-linear 100 TB path; cosine_topk remains the exact baseline.
    Returns (query_id, rank, vec_id, sim)."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    spark = vectors.sparkSession
    if centroids is None:
        centroids = kmeans_centroids(vectors, n_centroids=n_centroids,
                                     vec_col=vec_col, id_col=id_col)
    C = np.asarray(centroids, dtype=np.float64)
    qrows = (vectors.where(F.col(id_col).isin(list(query_ids)))
                    .select(F.col(id_col).alias("query_id"), vec_col)
                    .collect())
    qmat = {int(r["query_id"]): np.array(r[vec_col], dtype=np.float64)
            for r in qrows}
    probe_rows = []
    for qid, qv in qmat.items():
        d = ((C - qv) ** 2).sum(axis=1)
        for cid in np.argsort(d, kind="stable")[:nprobe]:
            probe_rows.append((qid, int(cid)))
    probes = spark.createDataFrame(probe_rows, "query_id long, cid int")

    assigned = vectors.withColumn(
        "cid", assign_centroid_udf(C)(F.col(vec_col)))
    cand = (assigned.join(broadcast(probes), "cid")
                    .where(F.col("query_id") != F.col(id_col)))

    qid_order = sorted(qmat)
    QM = np.stack([qmat[q] for q in qid_order])
    Qn = np.sqrt((QM * QM).sum(axis=1))
    qindex = {q: i for i, q in enumerate(qid_order)}

    @pandas_udf("double")
    def _cos_q(vec: pd.Series, qid: pd.Series) -> pd.Series:
        m = np.array(vec.tolist(), dtype=np.float64)
        idx = qid.map(qindex).to_numpy(np.int64)
        qm = QM[idx]
        num = (m * qm).sum(axis=1)
        den = np.sqrt((m * m).sum(axis=1)) * Qn[idx]
        return pd.Series(num / den)

    sims = cand.select(
        "query_id", id_col,
        F.round(_cos_q(F.col(vec_col), F.col("query_id")), round_to)
         .alias("sim"))
    w = (Window.partitionBy("query_id")
         .orderBy(F.col("sim").desc(), F.col(id_col).asc()))
    return (sims.withColumn("rank", F.row_number().over(w).cast("long"))
                .where(F.col("rank") <= k)
                .select("query_id", "rank", id_col, "sim"))
