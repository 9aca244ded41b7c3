"""IVF (inverted-file) approximate nearest neighbor over embeddings.

The coarse quantizer is a seeded Lloyd's k-means trained on a bounded
driver-side sample (like the validator's fit: the model is tiny, the
ASSIGNMENT scales out).  Centroids ship inside the UDF closure (a few KB);
cell assignment is one vectorized Arrow pass (NumPy matmul).  Candidate
generation is a cell-keyed self-join (near-dups) or a probe of the
query's top ``nprobe`` cells (top-k), with exact cosine re-ranking after
— the standard IVF-Flat layout (Jégou et al., "Product Quantization for
Nearest Neighbor Search", the IVF part).

Recall levers: ``n_assign`` (corpus rows indexed under their top-n
cells; near-identical vectors then share >= 1 cell with high
probability) and ``nprobe`` for queries.  All joins are bucket-capped
like the LSH family (similarity.bucket_pairs).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..engine import _fit_sample
from .similarity import bucket_pairs, dot_expr, norm_expr


def train_centroids(emb: DataFrame, vec_col: str = "embedding",
                    k_cells: int = 64, sample_rows: int = 20000,
                    n_iters: int = 10, seed: int = 42) -> np.ndarray:
    """Seeded Lloyd's k-means on a bounded sample; returns (k, dim)
    L2-normalized centroids.  Deterministic for fixed inputs/seed.

    The sample is the fit's (``engine._fit_sample`` of ``vec_col``): the
    whole input, in ``limit(sample_rows + 1).toPandas()`` order, when it
    has at most ``sample_rows`` rows, else the seeded Bernoulli sample of
    fraction ``sample_rows / count``.  A Parquet input whose footers
    count more than ``sample_rows`` rows is counted first and skips the
    ``limit`` probe, which shuffles every input row into one task."""
    pdf = _fit_sample(emb.select(vec_col), sample_rows, seed)
    x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    k = min(k_cells, len(x))
    rng = np.random.RandomState(seed)
    c = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(n_iters):
        sims = x @ c.T
        assign = sims.argmax(axis=1)
        for j in range(k):
            m = assign == j
            if m.any():
                v = x[m].mean(axis=0)
                c[j] = v / max(np.linalg.norm(v), 1e-12)
    return c


def assign_cells(vec_col: str, centroids: np.ndarray, n_assign: int = 1):
    """array<int> column: the vector's top-``n_assign`` centroid ids by
    cosine, in one vectorized Arrow pass."""
    c = centroids.astype(np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _assign(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype=object)
        x = np.stack(s.to_numpy()).astype(np.float64)
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = x @ c.T
        top = np.argsort(-sims, axis=1)[:, :n_assign].astype(np.int32)
        return pd.Series(list(top))

    return _assign(F.col(vec_col))


def ivf_near_dups(emb: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding", min_cosine: float = 0.95,
                  k_cells: int = 64, n_assign: int = 2,
                  sample_rows: int = 20000, seed: int = 42,
                  bucket_cap: int = 10000,
                  centroids: np.ndarray | None = None) -> DataFrame:
    """Near-duplicate pairs via IVF cells: multi-assign each vector to its
    top ``n_assign`` cells, self-join per cell (cap-guarded), exact cosine
    re-rank.  Near-identical vectors rank the same cells at the top, so
    they share >= 1 of their ``n_assign`` cells with high probability."""
    if centroids is None:
        centroids = train_centroids(emb, vec_col, k_cells, sample_rows,
                                    seed=seed)
    b = emb.select(F.col(id_col), F.col(vec_col),
                   assign_cells(vec_col, centroids, n_assign).alias("_cells"))
    e = b.select(id_col, F.explode("_cells").alias("_cell"))
    # one-exchange in-bucket expansion (see similarity.bucket_pairs): the
    # round-3 cap-count + aliased self-join referenced `e` three times,
    # re-running the Arrow cell-assignment UDF per reference
    p = bucket_pairs(e, ["_cell"], [id_col], id_col, bucket_cap)
    pairs = (p.select(F.col(f"a.{id_col}").alias("id_a"),
                      F.col(f"b.{id_col}").alias("id_b"))
              .distinct())
    # norms once per vector before the pair join (bit-identical: same
    # fold, same na * nb operand order)
    v = emb.select(F.col(id_col), F.col(vec_col),
                   norm_expr(F.col(vec_col)).alias("_n"))
    a = v.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"),
                 F.col("_n").alias("_na"))
    bb = v.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"),
                  F.col("_n").alias("_nb"))
    j = pairs.join(a, "id_a").join(bb, "id_b")
    return (j.withColumn("cosine",
                         dot_expr("v_a", "v_b")
                         / (F.col("_na") * F.col("_nb")))
             .filter(F.col("cosine") >= min_cosine)
             .select("id_a", "id_b", "cosine"))


def ivf_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id", k_cells: int = 64,
             nprobe: int = 4, sample_rows: int = 20000, seed: int = 42,
             centroids: np.ndarray | None = None) -> DataFrame:
    """Approximate top-k: corpus indexed under its single best cell;
    queries probe their top ``nprobe`` cells; exact cosine re-rank within
    the probed cells.  The probe side is broadcast (queries are small);
    the corpus shuffles once on the cell id."""
    if centroids is None:
        centroids = train_centroids(emb, vec_col, k_cells, sample_rows,
                                    seed=seed)
    c = (emb.select(F.col(id_col).alias("neighbor_id"),
                    F.col(vec_col).alias("_cv"),
                    norm_expr(F.col(vec_col)).alias("_cn"),
                    assign_cells(vec_col, centroids, 1).alias("_cells"))
            .select("neighbor_id", "_cv", "_cn",
                    F.explode("_cells").alias("_cell")))
    q = (queries.select(F.col(query_id_col), F.col(vec_col).alias("_qv"),
                        norm_expr(F.col(vec_col)).alias("_qn"),
                        assign_cells(vec_col, centroids, nprobe)
                        .alias("_cells"))
                .select(query_id_col, "_qv", "_qn",
                        F.explode("_cells").alias("_cell")))
    j = (c.join(F.broadcast(q), "_cell")
          .filter(F.col("neighbor_id") != F.col(query_id_col))
          .withColumn("cosine",
                      dot_expr("_qv", "_cv")
                      / (F.col("_qn") * F.col("_cn"))))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (j.withColumn("rank", F.row_number().over(w))
             .filter(F.col("rank") <= k)
             .select(query_id_col, "neighbor_id", "cosine", "rank"))
