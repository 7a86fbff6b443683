"""Distributed dense linear algebra over embedding columns: the Gram
matrix (X^T X) and PCA whitening built on it.

The Gram matrix is THE canonical mapPartitions reduction at corpus
scale: each partition computes a dim x dim partial in one vectorized
matmul, and only those partials — dim^2 numbers per partition, a few
KB — ever shuffle. Covariance, PCA, and whitening (what SemDeDup
normalizes embeddings with) all derive from it with a driver-side
eigendecomposition of a dim x dim matrix: no iterative distributed
solver, one pass over the data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def gram_matrix_micro(
    emb: DataFrame,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact integer Gram matrix: G[i][j] = sum over rows of q_i * q_j
    with q = trunc(x * 2^20) (the similarity module's exact
    quantization — power-of-two scaling never rounds, truncation is
    engine-agreed). Returns dim*dim rows (i, j, s), 0-based, s BIGINT.

    Plan shape (the 100-TB story): mapInPandas computes Q^T Q per
    ARROW BATCH in int64 (exact: |q| < 2^20, so a 10k-row batch
    partial is < 2^54), accumulates the partition total in Python
    bignum ints, and emits ONE dim x dim partial per partition as
    DECIMAL(38,0) — so per-partition totals cannot overflow no matter
    how many rows a partition holds. The only shuffle is dim^2 rows
    per partition (a few KB); the final SUM is a decimal aggregate,
    exact to 10^38, cast back to BIGINT for emission (valid while the
    true total fits int64 — at larger corpora keep the DECIMAL).

    This is the standard distributed X^T X used for covariance / PCA:
    cov = (G/n - mean outer mean) derives driver-side; see
    pca_whiten_micro."""
    out_schema = "i int, j int, s decimal(38,0)"
    idx_i, idx_j = np.indices((dim, dim))
    flat_i, flat_j = idx_i.ravel(), idx_j.ravel()

    def part(batches):
        total = None
        for pdf in batches:
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Q = (X[:, :dim] * 1048576.0).astype(np.int64)
            G = (Q.T @ Q).astype(object)  # exact int64 per batch -> bignum
            total = G if total is None else total + G
        if total is None:
            return
        yield pd.DataFrame(
            {
                "i": flat_i.astype("int32"),
                "j": flat_j.astype("int32"),
                "s": [int(v) for v in total.ravel()],
            }
        )

    partials = emb.select(vec_col).mapInPandas(part, schema=out_schema)
    return (
        partials.groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("j").cast("bigint").alias("j"),
            F.col("s").cast("bigint").alias("s"),
        )
    )


def pca_whiten_micro(
    emb: DataFrame,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    eps: float = 1e-6,
    out_scale: int = 1_000_000,
) -> DataFrame:
    """PCA whitening: project embeddings onto the covariance
    eigenbasis and rescale each direction to unit variance — the
    normalization SemDeDup-style semantic dedup applies before cosine.

    Two bounded passes: (1) gram_matrix_micro + a mean aggregation
    (dim values) -> covariance driver-side; (2) eigh of the dim x dim
    covariance (driver, microseconds) -> broadcast the whitening
    matrix into ONE Arrow-batched projection pass. Nothing iterative,
    nothing quadratic in rows; the only full-data work is two narrow
    map passes. Output: (id, whitened array<double>).

    The eigendecomposition is float (LAPACK) — this operator is
    deterministic per (platform, corpus) but not engine-replicable,
    so it is pytest-locked (whitened covariance == identity) rather
    than DuckDB-gated."""
    spark = emb.sparkSession
    n = emb.count()
    g_rows = gram_matrix_micro(emb, dim, vec_col, id_col).collect()
    G = np.zeros((dim, dim))
    for r in g_rows:
        G[r["i"], r["j"]] = float(r["s"])
    G /= float(1048576.0**2)  # back to raw-value scale
    mean_row = emb.select(
        *[
            F.avg(F.expr(f"CAST(element_at(`{vec_col}`, {i + 1}) AS DOUBLE)")).alias(
                f"m{i}"
            )
            for i in range(dim)
        ]
    ).collect()[0]
    mu = np.array([mean_row[f"m{i}"] for i in range(dim)])
    cov = G / n - np.outer(mu, mu)
    w, V = np.linalg.eigh(cov)
    W = V @ np.diag(1.0 / np.sqrt(np.maximum(w, eps))) @ V.T  # ZCA whitening
    mu_b = mu.copy()

    @F.pandas_udf("array<double>")
    def _project(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)[:, :dim]
        Y = (X - mu_b) @ W.T
        return pd.Series(list(Y))

    return emb.select(F.col(id_col), _project(F.col(vec_col)).alias("whitened"))


def projection_planes(out_dim: int, dim: int, seed: int = 7) -> list[list[int]]:
    """Deterministic +-1 Johnson-Lindenstrauss projection matrix
    (out_dim x dim), derived session-free from the Spark-exact
    xxhash64 replica — the same discipline as similarity._hyperplanes,
    with a distinct salt prefix ("rp:") so projection planes never
    collide with LSH planes at equal (seed, j, i).

    +-1 entries (Achlioptas 2003, "Database-friendly random
    projections") keep the projected coordinates EXACT INTEGERS when
    applied to micro-quantized inputs: y_j = sum_i q_i * s_ji with
    |q| < 2^27 and dim <= 2^10 stays far inside int64 — no float
    accumulation order to diverge between engines, so the operator is
    hash-gateable (the Gaussian-matrix variant is not)."""
    from .xxh import xxhash64

    return [
        [1 if xxhash64(f"rp:{seed}:{j}:{i}") % 2 == 0 else -1 for i in range(dim)]
        for j in range(out_dim)
    ]


def random_projection_micro(
    emb: DataFrame,
    out_dim: int = 8,
    dim: int = 64,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction to exact integer
    coordinates: q = round(x * 1e6) micro-units, y_j = sum_i q_i * s_ji
    over the +-1 planes of projection_planes(). Output is LONG format —
    (id, j, y) rows, 0-based j — so any engine can diff it row-by-row.

    Scale shape: map-only (zero shuffles, zero Python) — each output
    coordinate is one zip_with + aggregate over the vector column, all
    whole-stage-codegen'd; a 100 TB embedding table projects in a
    single narrow pass and the 8x-smaller sketch feeds k-means / ANN /
    SemDeDup tiers at an 8x lower shuffle cost. The plane matrix is a
    literal in the plan (a few hundred ints), never a join side.

    Expression hygiene: the quantized vector is computed ONCE and each
    y_j references it; CollapseProject inlines a 1-node transform per
    reference (bounded), unlike the per-element unrolled form whose
    dim x out_dim copies hit janino/optimizer cliffs (see xxh memory
    note in similarity._signature_udf's history)."""
    planes = projection_planes(out_dim, dim, seed)
    qvec = F.transform(
        F.slice(F.col(vec_col), 1, dim),
        lambda v: F.round(v.cast("double") * 1000000.0, 0).cast("long"),
    )
    zero = F.lit(0).cast("long")
    outs = []
    for j, plane in enumerate(planes):
        s = F.array(*[F.lit(v).cast("long") for v in plane])
        outs.append(
            F.aggregate(
                F.zip_with(qvec, s, lambda q, w: q * w), zero, lambda acc, x: acc + x
            )
        )
    return emb.select(
        F.col(id_col), F.posexplode(F.array(*outs)).alias("j", "y")
    )


def perceptron_train(
    emb: DataFrame,
    dim: int = 64,
    epochs: int = 3,
    scale: int = 1000,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Distributed batch-perceptron training over an embedding column —
    the "train a quality classifier on the corpus itself" primitive of
    a large-scale data pipeline, expressed so every epoch is ONE
    narrow aggregation pass.

    Semantics (all exact int64, hence engine-replicable and
    hash-gateable — no sigmoid, no float accumulation order):
      q_v = round(x_v * scale)            per-coordinate quantization
      y_v = +1 if label even else -1      binary target
      epoch: pred_v = <w, q_v>;  misclassified iff y_v * pred_v <= 0
             w += sum over misclassified of y_v * q_v
    starting from w = 0 (so epoch 1's update is sum(y*q) over ALL
    rows — the class-mean direction). Returns (i, w): the final
    weight vector as 0-based coordinate rows.

    Scale shape: each epoch is ONE map-only Arrow stage (mapInPandas,
    the kmeans_micro/pq_encode discipline) emitting dim partial update
    sums per batch — margin filter and per-coordinate sums as exact
    int64 numpy ops, weights shipped in the task closure — followed by
    a dim-row groupBy(i) shuffle. The driver holds only dim integers
    between epochs (same pattern as the k-means Lloyd loop in
    clustering.py). Why Arrow and not the literal Column form (r17,
    MEASURED on kmeans_micro — same class): the weight literals were
    part of the generated codegen source, so every epoch paid a fresh
    janino whole-stage compile; this stage's source is epoch-INVARIANT
    and compiles once. Overflow headroom: |q| <= scale * max|x|, so
    |pred| <= n_rows * dim * (scale * max|x|)^2 — at scale=1000 and
    unit-normal embeddings that is ~2^44 per 10^5 rows, far inside
    int64 (numpy wraps rather than raises past 2^63 — outside the
    documented headroom, raise to DECIMAL(38,0)/object partials
    exactly as gram_matrix_micro documents)."""
    q = F.transform(
        F.slice(F.col(vec_col), 1, dim),
        lambda v: F.round(v.cast("double") * float(scale), 0).cast("long"),
    )
    y = F.when(F.col(label_col) % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).cast(
        "long"
    )
    from ..checkpoints import CheckpointScope
    from .util import spread

    w = [0] * dim

    def epoch_partials(weights):
        """One epoch's per-batch partial update sums as a map-only
        Arrow stage: dim (i, v) rows per batch, summed by a dim-row
        groupBy. Weights cross in the closure, NOT as literals, so the
        epoch plan's codegen source never changes (see docstring)."""
        import numpy as np
        import pandas as pd

        wv = np.asarray(weights, dtype=np.int64)

        def gen(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                Q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
                yv = pdf["y"].to_numpy().astype(np.int64)
                mis = yv * (Q @ wv) <= 0
                if not mis.any():
                    continue
                upd = (Q[mis] * yv[mis, None]).sum(axis=0)
                yield pd.DataFrame(
                    {"i": np.arange(dim, dtype=np.int32), "v": upd}
                )

        return base.mapInPandas(gen, schema="i int, v long")

    # Scan + quantize ONCE: without the checkpoint every epoch's .agg()
    # re-reads the parquet and re-evaluates the transform (epochs+1
    # scans total). spread first so the checkpointed partitions (and
    # every epoch's map-side partial agg) use all cores, then
    # localCheckpoint truncates the lineage to the quantized (q, y)
    # rows — same pattern as clustering.kmeans_micro. The
    # scope frees it on exit: the returned weights no longer read it.
    with CheckpointScope(emb.sparkSession) as cp:
        base = cp.checkpoint(spread(emb).select(q.alias("q"), y.alias("y")))
        for _ in range(epochs):
            upd = (
                epoch_partials(w)
                .groupBy("i")
                .agg(F.sum("v").alias("u"))
                .collect()
            )
            um = {r["i"]: r["u"] for r in upd}
            w = [wi + int(um.get(i, 0) or 0) for i, wi in enumerate(w)]
    spark = emb.sparkSession
    return spark.createDataFrame(
        [(i, int(wi)) for i, wi in enumerate(w)], "i int, w long"
    )
