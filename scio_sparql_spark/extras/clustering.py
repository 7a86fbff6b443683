"""Deterministic integer k-means over embedding columns.

The clustering step of large-scale corpus curation (SemDeDup pruning,
topic balancing, MoE data routing all start from k-means over document
embeddings). Spark's canonical k-means shape at 100 TB:

- centroids are a k x dim table, collected to the driver and shipped
  into the assignment pass each iteration (k*dim*8 bytes — kilobytes,
  the same bounded-collect contract as the IVF quantizer,
  similarity.py);
- assignment is ONE map-only Arrow stage (mapInPandas): all k scores
  per batch as an exact int64 numpy matmul, the pq_encode discipline
  (the interpreted ``aggregate(zip_with(...))`` HOF form benchmarked
  ~4x slower on the cosine top-k operator, and the unrolled-literal
  Column form recompiled the fused assignment+update codegen stage
  every iteration because the centroid VALUES were part of the
  generated source — r17);
- the centroid update is ONE groupBy(cluster) shuffle per iteration
  with map-side partial aggregation of dim running sums + a count.

Determinism (COVERAGE.md hash discipline): all arithmetic is exact
BIGINT. Embeddings are quantized once to integer micro-units
(round(x * 1e6)); squared distances are exact integer sums (64 dims x
(~1.6e6)^2 < 2^63, no overflow); centroid updates are integer mean
(sum DIV count, truncation toward zero — identical in Spark ``div``
and DuckDB ``//`` for either sign, verified -7//2 = -3 in both); ties
in the argmin break to the LOWEST cluster id on both engines
(strict <). Seeds are the k lowest-id vectors. Every iteration is
therefore bit-identical across Spark, DuckDB, and a literal Python
recurrence — no RNG, no float accumulation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..checkpoints import CheckpointScope
from .util import spread


def quantize_micro(vec_col, dim: int):
    """array<float> -> array<bigint> micro-units: round(x * 1e6) per
    coordinate, the same float->double->round path the events oracles
    use (half away from zero in Spark F.round and DuckDB ROUND)."""
    return F.transform(
        F.slice(vec_col, 1, dim),
        lambda x: F.round(x.cast("double") * 1000000).cast("bigint"),
    )


def kmeans_micro(
    vecs: DataFrame,
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    with_vectors: bool = False,
) -> DataFrame:
    """Lloyd's k-means, exact integer arithmetic throughout. Returns
    (id, cluster, d2) after ``iters`` assignment/update rounds:
    ``cluster`` is the final 0-based centroid index, ``d2`` the exact
    squared distance in micro^2 units.

    Per iteration: one driver collect of k centroids (bounded: k x dim
    BIGINTs), one map-only Arrow assignment pass (int64 numpy matmul,
    centroids shipped in the task closure), one groupBy(cluster)
    shuffle for the update. The final assignment pass reuses the same
    map-only shape. Empty clusters keep their previous
    centroid (no re-seeding — keeps the recurrence closed-form for the
    DuckDB/Python oracles)."""
    # |v|^2 is centroid-independent, so the per-centroid score is the
    # factorized |c_j|^2 - 2*v.c_j (argmin-equivalent to the squared
    # distance, exact in integer arithmetic); the true d2 adds |v|^2
    # back once. The assignment pass is ONE map-only Arrow stage
    # (mapInPandas) computing all k scores per batch as an exact int64
    # numpy matmul — the pq_encode discipline (similarity.py):
    # np.argmin's first-minimum IS the lowest-cluster tie-break the
    # DuckDB oracle's ROW_NUMBER (d2, cluster) replays, and every
    # operand is int64 end to end (v is already micro-quantized BIGINT;
    # |score| < 2^50 at dim 64), so the output is bit-identical to the
    # previous unrolled-literal Column form.
    #
    # Why Arrow and not unrolled native Columns (r17, MEASURED): the
    # literal form inlines the k*dim centroid VALUES into the generated
    # source, so every Lloyd iteration produces new codegen source and
    # pays a fresh janino whole-stage compile (~1.2s/iteration at any
    # data size — it fused into the update aggregate's stage, forcing
    # the 64-sum aggregate to recompile too). This stage's source is
    # iteration-INVARIANT (centroids cross as a pickled closure, not as
    # literals), so the update aggregate above it compiles once and
    # every later iteration is pure execution. The interpreted HOF form
    # (~4x slower per row) and the column/join form (blows the janino
    # 64KB method limit -> interpreted fallback) were both measured
    # worse in earlier rounds; the batched C matmul is faster per row
    # than either AND per-iteration-constant in compile cost.
    id_type = vecs.schema[id_col].dataType.simpleString()
    out_schema = f"id {id_type}, v array<bigint>, cluster bigint, d2 bigint"

    def assign(df, cents):
        import numpy as np
        import pandas as pd

        C = np.asarray(cents, dtype=np.int64)  # (k, dim)
        c2 = (C * C).sum(axis=1)  # (k,)

        def gen(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                # rows are array<bigint> -> int64 matrix, no float path
                Q = np.stack(pdf["v"].to_numpy()).astype(np.int64)
                scores = c2[None, :] - 2 * (Q @ C.T)
                cl = np.argmin(scores, axis=1)
                d2 = scores[np.arange(len(cl)), cl] + (Q * Q).sum(axis=1)
                yield pd.DataFrame(
                    {
                        "id": pdf["id"],
                        "v": pdf["v"],
                        "cluster": cl.astype(np.int64),
                        "d2": d2.astype(np.int64),
                    }
                )

        return df.mapInPandas(gen, schema=out_schema)

    with CheckpointScope(vecs.sparkSession) as cp:
        # scanned iters+1 times; quantize once
        q = cp.checkpoint(
            spread(vecs).select(
                F.col(id_col).alias("id"),
                quantize_micro(F.col(vec_col), dim).alias("v"),
            )
        )
        # seeds: the k lowest-id vectors, in id order -> cluster j = j-th id
        seed_rows = q.orderBy("id").limit(k).collect()
        centroids = [list(r["v"]) for r in seed_rows]
        for _ in range(iters):
            assigned = assign(q, centroids)
            sums = assigned.groupBy("cluster").agg(
                F.count("*").alias("n"),
                *[F.expr(f"sum(v[{i}]) AS s{i}") for i in range(dim)],
            )
            new_c = {
                int(r["cluster"]): [int(r[f"s{i}"]) for i in range(dim)]
                # Spark `div` truncates toward zero like DuckDB `//`
                for r in sums.selectExpr(
                    "cluster", "n", *[f"s{i} DIV n AS s{i}" for i in range(dim)]
                ).collect()
            }
            centroids = [new_c.get(j, centroids[j]) for j in range(k)]
        final = cp.retain(assign(q, centroids))
    if with_vectors:
        return final.select("id", "cluster", "d2", "v")
    return final.select("id", "cluster", "d2")


def kmeans_micro_oracle_sql(
    table: str = "embeddings",
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """The DuckDB replica of kmeans_micro as chained CTEs (one
    assignment + one update pair per iteration, then the final
    assignment). Pure integer arithmetic — bit-identical to the Spark
    plan by construction; kept next to the operator so the unrolling
    stays in lockstep with the implementation."""
    quant = (
        f"SELECT {id_col} AS id, "
        f"list_transform({vec_col}[1:{dim}], "
        "x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v "
        f"FROM {table}"
    )
    # c0: seeds = k lowest ids, cluster = rank-1
    parts = [
        f"q AS ({quant})",
        f"c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS BIGINT)"
        f" AS cluster, v FROM q ORDER BY id LIMIT {k})",
    ]
    d2 = (
        "list_aggregate(list_transform(generate_series(1, {dim}), "
        "i -> (a.v[i] - c.v[i]) * (a.v[i] - c.v[i])), 'sum')"
    ).format(dim=dim)
    for it in range(iters):
        cin, aout, cout = f"c{it}", f"a{it + 1}", f"c{it + 1}"
        parts.append(
            f"{aout} AS (SELECT id, v, cluster, d2 FROM ("
            f"  SELECT a.id, a.v, c.cluster, {d2} AS d2,"
            f"         ROW_NUMBER() OVER (PARTITION BY a.id"
            f"           ORDER BY {d2}, c.cluster) AS rn"
            f"  FROM q a CROSS JOIN {cin} c)"
            f" WHERE rn = 1)"
        )
        parts.append(
            f"{cout} AS ("
            f"  SELECT p.cluster,"
            f"         COALESCE(u.v, p.v) AS v"
            f"  FROM {cin} p LEFT JOIN ("
            f"    SELECT cluster,"
            f"           list_transform(generate_series(1, {dim}),"
            f"             i -> list_aggregate(list_transform(list(v), x -> x[i]),"
            f"                  'sum') // COUNT(*)) AS v"
            f"    FROM {aout} GROUP BY cluster) u USING (cluster))"
        )
    final = (
        # CAST: DuckDB widens the integer list_aggregate sum to
        # HUGEINT, which the driver hash rejects (tests/test_oracle_types)
        f"SELECT id AS {id_col}, cluster, CAST(d2 AS BIGINT) AS d2 FROM ("
        f"  SELECT a.id, c.cluster, {d2} AS d2,"
        f"         ROW_NUMBER() OVER (PARTITION BY a.id"
        f"           ORDER BY {d2}, c.cluster) AS rn"
        f"  FROM q a CROSS JOIN c{iters} c)"
        f" WHERE rn = 1"
    )
    return "WITH " + ",\n".join(parts) + "\n" + final


def _split_oversized_clusters(
    assigned: DataFrame, bound: int, max_rounds: int = 3
) -> DataFrame:
    """Enforce SemDeDup's cluster-size contract (VERDICT r8 item 1b):
    any cluster whose DISTINCT-vector count exceeds ``bound`` is split
    deterministically into two children, repeatedly (``max_rounds``
    deep), so the per-cluster all-pairs matmul in semdedup_pairs stays
    O(bound^2) per task instead of OOMing on a skewed k-means blocking.

    Split recurrence (oracle-replicable — no RNG, no float):
    seed1 = the vector with the LOWEST min-id in the cluster; seed2 =
    the vector FARTHEST from seed1 (exact integer squared distance,
    ties to the lowest min-id); every row goes to the nearer seed (tie
    to seed1). Both children are nonempty by construction (each seed is
    at distance 0 from itself), so every round strictly shrinks
    oversized clusters. Child labels are (parent + B)*2 + child with
    B = 1 + the max label at entry: children of distinct parents land
    in disjoint ranges, every child exceeds every pre-existing label
    (the invariant max < 2*min + 2B holds at entry since max < B and
    propagates through the affine map), and labels only DOUBLE per
    round — no 64-bit overflow within any practical depth.

    Clusters with one distinct vector duplicated d times are NEVER
    split: their matmul is 1x1 after the unique-vector collapse in
    semdedup_pairs.pairs, so the distinct-count is what the bound must
    police. Splitting only changes output above the bound (pairs across
    children are no longer compared — the documented graceful-
    degradation policy, same spirit as the LSH bucket cap); below it
    the function is the identity."""
    from pyspark.sql import Window

    def d2(v, c):
        return F.aggregate(
            F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    out = assigned
    # Fast-path ordering (VERDICT r9 item 5b): probe sizes FIRST, off
    # the caller's already-materialized assignment — when no cluster
    # exceeds the bound (the common case) the guard costs exactly ONE
    # count_distinct scan and returns, paying neither the
    # localCheckpoint nor the max-label scan. label_base is computed
    # lazily on the first actual split, from the ENTRY labels (same
    # value every round, as the affine-map invariant requires).
    label_base = None
    with CheckpointScope(assigned.sparkSession) as cp:
        for _ in range(max_rounds):
            sizes = out.groupBy("cluster").agg(F.count_distinct("v").alias("__nu"))
            overs = [
                r["cluster"] for r in sizes.filter(F.col("__nu") > bound).collect()
            ]
            if not overs:
                return cp.retain(out)
            if label_base is None:
                label_base = (assigned.agg(F.max("cluster")).collect()[0][0] or 0) + 1
            # truncate lineage before re-deriving; the eager checkpoint has
            # consumed the previous round's, which is freed
            out = cp.retain(cp.checkpoint(out))
            rest = out.filter(~F.col("cluster").isin(overs))
            big = out.filter(F.col("cluster").isin(overs))
            vd = big.groupBy("cluster", "v").agg(F.min("id").alias("mid"))
            w1 = Window.partitionBy("cluster").orderBy("mid")
            c1 = (
                vd.withColumn("__rn", F.row_number().over(w1))
                .filter(F.col("__rn") == 1)
                .select("cluster", F.col("v").alias("c1"))
            )
            with_d1 = vd.join(c1, "cluster").withColumn(
                "__d1", d2(F.col("v"), F.col("c1"))
            )
            w2 = Window.partitionBy("cluster").orderBy(F.desc("__d1"), "mid")
            c2 = (
                with_d1.withColumn("__rn", F.row_number().over(w2))
                .filter(F.col("__rn") == 1)
                .select("cluster", F.col("v").alias("c2"))
            )
            seeds = c1.join(c2, "cluster")
            child = F.when(
                d2(F.col("v"), F.col("c1")) <= d2(F.col("v"), F.col("c2")),
                F.lit(0),
            ).otherwise(F.lit(1))
            split = big.join(F.broadcast(seeds), "cluster").select(
                "id",
                ((F.col("cluster") + F.lit(label_base)) * 2 + child)
                .cast("bigint")
                .alias("cluster"),
                "v",
            )
            out = rest.select("id", "cluster", "v").unionByName(split)
        cp.retain(out)
    import warnings

    warnings.warn(
        f"semdedup: clusters still above max_cluster_size={bound} after "
        f"{max_rounds} split rounds — accepting the oversize",
        RuntimeWarning,
        stacklevel=2,
    )
    return out


def semdedup_pairs(
    vecs: DataFrame,
    k: int = 8,
    iters: int = 3,
    threshold_pct: int = 70,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_size: int | None = None,
    pca_whiten: bool = False,
) -> DataFrame:
    """SemDeDup proper (Abbas et al. 2023): k-means-cluster the
    embeddings, then exact cosine >= threshold WITHIN each cluster
    (a < b). similarity.semantic_dup_pairs approximates the blocking
    with sign-pattern buckets because fitted k-means is normally
    non-reproducible; kmeans_micro is bit-deterministic, so the real
    composition becomes oracle-checkable.

    The cosine test is EXACT INTEGER arithmetic end to end — no float
    boundary anywhere: with micro-quantized vectors,
    ``cos >= t``  <=>  ``dot > 0  AND  10^4 * dot^2 >= t_pct^2 * |a|^2
    * |b|^2`` (t = t_pct/100). dots and squared norms are exact int64
    (|q| < 2^20, dim 64 -> |dot| < 2^46); the squared products exceed
    64 bits, so the final comparison runs on Python bignums — exact,
    and only O(within-cluster pairs) of them.

    Scale design (100 TB): ONE shuffle, on the cluster key, carrying
    each vector exactly once into applyInPandas — where the all-pairs
    dot matrix is a single vectorized Q @ Q.T per cluster. The r7 shape
    (self-join on cluster + per-pair interpreted zip_with/aggregate)
    materialized every candidate pair as a shuffled row and evaluated
    the dot per pair in the expression interpreter — measured 2.6x
    slower at sf0.1 and strictly worse at scale, where the join writes
    O(sum of cluster^2) rows to shuffle while this writes O(rows).
    Quadratic memory/compute stays bounded per cluster by SemDeDup's
    own contract (k grows with the corpus to cap cluster sizes) — and
    since r9 the contract is ENFORCED, not assumed: duplicate vectors
    are collapsed before the matmul (see pairs below), and
    ``max_cluster_size`` deterministically splits any cluster whose
    distinct-vector count exceeds it (_split_oversized_clusters)."""
    import numpy as np
    import pandas as pd

    if pca_whiten:
        # optional preprocessing (VERDICT r8 item 8): ZCA-whiten before
        # clustering + cosine, the normalization the SemDeDup paper
        # applies. Float eigendecomposition => deterministic per
        # (platform, corpus) but not engine-replicable, so the flag
        # defaults OFF (the hash-gated catalog entry) and the whitened
        # variant is pytest-locked instead (test_linalg).
        from . import linalg

        vecs = linalg.pca_whiten_micro(
            vecs, dim=dim, vec_col=vec_col, id_col=id_col
        ).select(F.col(id_col), F.col("whitened").alias(vec_col))

    assigned = kmeans_micro(vecs, k, iters, dim, vec_col, id_col, with_vectors=True)
    if max_cluster_size is not None:
        assigned = _split_oversized_clusters(
            assigned.select("id", "cluster", "v"), max_cluster_size
        )
    tt = threshold_pct * threshold_pct

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cluster": []})
        n = len(pdf)
        if n < 2:
            return empty
        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        Q = np.stack(pdf["v"].to_numpy()).astype(np.int64)
        # Skew hardening (VERDICT r8 item 1b): the matmul runs over the
        # cluster's DISTINCT vectors only. cos depends on the vectors
        # alone, so collapsing duplicate rows and expanding the
        # qualifying unique-pairs over their id groups afterwards is
        # bit-identical output — and the degenerate cluster (one
        # embedding duplicated d times) costs a 1x1 "matmul" plus the
        # unavoidable O(d^2) OUTPUT rows, instead of a d x d int64
        # matrix in one task. Duplicate vectors pair with each other
        # exactly when the formula passes for i == j: dot = |v|^2 must
        # be > 0 (zero vectors never pair) and 10^4 >= tt.
        U, inv = np.unique(Q, axis=0, return_inverse=True)
        # numpy 2.0.x returns the inverse shaped (n, 1) for axis=0;
        # flatten for version portability (ADVICE r9)
        inv = np.asarray(inv).reshape(-1)
        u = len(U)
        groups = [ids[inv == g] for g in range(u)]
        D = U @ U.T  # exact int64, distinct vectors only
        n2 = np.diag(D)
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []

        def expand(ga: np.ndarray, gb: np.ndarray) -> None:
            a = np.repeat(ga, len(gb))
            b = np.tile(gb, len(ga))
            lo = np.minimum(a, b)
            hi = np.maximum(a, b)
            out_a.append(lo)
            out_b.append(hi)

        ii, jj = np.triu_indices(u, k=1)
        if len(ii):
            d = D[ii, jj]
            pos = d > 0
            ii, jj, d = ii[pos], jj[pos], d[pos]
            do = d.astype(object)  # Python bignums: the squares are exact
            keep = np.asarray(
                (10000 * do * do)
                >= (tt * n2[ii].astype(object) * n2[jj].astype(object)),
                dtype=bool,
            )
            for i, j in zip(ii[keep], jj[keep]):
                expand(groups[i], groups[j])
        if 10000 >= tt:
            for g in range(u):
                if len(groups[g]) >= 2 and n2[g] > 0:
                    ga = groups[g]
                    a, b = np.triu_indices(len(ga), k=1)
                    out_a.append(ga[a])
                    out_b.append(ga[b])
        if not out_a:
            return empty
        id_a = np.concatenate(out_a)
        id_b = np.concatenate(out_b)
        return pd.DataFrame(
            {
                "id_a": id_a,
                "id_b": id_b,
                "cluster": np.full(len(id_a), pdf["cluster"].iloc[0]),
            }
        )

    return assigned.groupBy("cluster").applyInPandas(
        pairs, schema="id_a bigint, id_b bigint, cluster bigint"
    )


def semdedup_oracle_sql(
    table: str = "embeddings",
    k: int = 8,
    iters: int = 3,
    threshold_pct: int = 70,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB replica of semdedup_pairs: the kmeans CTE chain, then the
    within-cluster exact-integer cosine test (HUGEINT products)."""
    km = kmeans_micro_oracle_sql(table, k, iters, dim, vec_col, id_col)
    # reuse the kmeans oracle's CTEs; rebuild assignment WITH vectors
    head, _, _tail = km.rpartition("SELECT id AS")
    dot = (
        "list_aggregate(list_transform(generate_series(1, {dim}), "
        "i -> a.v[i] * b.v[i]), 'sum')"
    ).format(dim=dim)
    n2 = (
        "list_aggregate(list_transform(generate_series(1, {dim}), "
        "i -> {s}.v[i] * {s}.v[i]), 'sum')"
    )
    return (
        head.rstrip().rstrip(",")
        + f""",
        fin AS (
          SELECT id, v, cluster FROM (
            SELECT a.id, a.v, c.cluster,
                   ROW_NUMBER() OVER (PARTITION BY a.id ORDER BY
                     list_aggregate(list_transform(generate_series(1, {dim}),
                       i -> (a.v[i] - c.v[i]) * (a.v[i] - c.v[i])), 'sum'),
                     c.cluster) AS rn
            FROM q a CROSS JOIN c{iters} c) WHERE rn = 1)
        SELECT a.id AS id_a, b.id AS id_b, a.cluster
        FROM fin a JOIN fin b ON a.cluster = b.cluster AND a.id < b.id
        WHERE {dot} > 0
          AND 10000 * CAST({dot} AS HUGEINT) * CAST({dot} AS HUGEINT)
              >= CAST({n2.format(dim=dim, s='a')} AS HUGEINT)
                 * CAST({n2.format(dim=dim, s='b')} AS HUGEINT)
                 * {threshold_pct * threshold_pct}"""
    )
