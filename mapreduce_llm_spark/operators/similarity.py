"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k with JVM-side higher-order array
functions (sequential fold → bit-identical to the DuckDB oracle's
list_dot_product). Scale path: random-hyperplane LSH bucketing — probe
only the query's bucket (and neighbors), turning a full scan into a
~1/2^planes partition read; at 100 TB the bucket id becomes a
partition column so Catalyst prunes files.

North-star addition (BASELINE.json); no counterpart in the reference.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two float-array columns, in
    double (matches DuckDB list_dot_product's left-to-right sum)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _vec_lit(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k against a literal query vector.

    orderBy+limit executes as TakeOrdered: per-partition top-k then a
    k-sized merge — no global sort, so the full-scan baseline is
    already shuffle-free."""
    q = _vec_lit(query_vec)
    return (
        embeddings.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 4).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_topk_rerank(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    coarse_dims: int = 16,
    n_candidates: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage top-k: cheap coarse score (dot product of the first
    ``coarse_dims`` components) selects ``n_candidates``, then exact
    cosine reranks to the final k.

    At scale the coarse stage reads a ``coarse_dims``-wide projection
    (1/4 of the vector bytes here) and runs as TakeOrdered — no
    shuffle; the rerank touches only ``n_candidates`` full vectors.
    With n_candidates = corpus size this is exactly cosine_topk.
    Both stages are deterministic (rounded score + id tie-break), so
    unlike LSH/IVF probing the result is oracle-checkable.
    """
    q = _vec_lit(query_vec)
    q_coarse = _vec_lit(query_vec[:coarse_dims])
    coarse = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        F.round(dot(F.slice(F.col(vec_col), 1, coarse_dims), q_coarse), 4).alias("_c"),
    )
    cand = coarse.orderBy(F.col("_c").desc(), F.col(id_col).asc()).limit(n_candidates)
    return (
        cand.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), 4).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_self_pairs(
    embeddings: DataFrame,
    *,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
) -> DataFrame:
    """Embedding near-dup pairs (id_a < id_b, cosine ≥ threshold).

    With ``block_col`` the join is blocked (e.g. on an LSH bucket or a
    label); without it this is exact all-pairs — correct but only for
    modest cardinalities (the oracle-checkable baseline)."""
    a = embeddings.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        *( [F.col(block_col).alias("_ba")] if block_col else [] ),
    )
    b = embeddings.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        *( [F.col(block_col).alias("_bb")] if block_col else [] ),
    )
    cond = F.col("id_a") < F.col("id_b")
    if block_col:
        cond = cond & (F.col("_ba") == F.col("_bb"))
    return (
        a.join(b, cond)
        .withColumn("cosine_sim", cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", F.round("cosine_sim", 4).alias("cosine_sim"))
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: bit i = sign(vec · plane_i). JVM-side —
    the planes are literal arrays folded into the plan."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        bucket = bucket + F.when(dot(vec_col, _vec_lit(p)) > 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
    return bucket


def ann_topk_lsh(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    n_planes: int = 4,
    seed: int = 42,
    n_probe_bits: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's sign-LSH
    bucket. Recall < 1 by construction (declared rows-only).

    ``n_probe_bits`` enables multiprobe: also scan the buckets whose
    code differs from the query's in ≤ that many bits — the standard
    recall lever (each extra bit multiplies probed buckets, and near
    neighbors most often land across exactly one flipped hyperplane).
    The probed-bucket set stays an IN-list literal, so the scan is
    still one filter, no join."""
    dim = len(query_vec)
    planes = random_hyperplanes(dim, n_planes, seed)
    qvec = np.array(query_vec)
    q_bucket = sum(
        (1 << i) for i, p in enumerate(planes) if float(qvec @ np.array(p)) > 0
    )
    probe = {q_bucket}
    if n_probe_bits >= 1:
        probe |= {q_bucket ^ (1 << i) for i in range(n_planes)}
    if n_probe_bits >= 2:
        probe |= {
            q_bucket ^ (1 << i) ^ (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        }
    bucketed = embeddings.withColumn("_bucket", lsh_bucket(F.col(vec_col), planes))
    return (
        bucketed.filter(F.col("_bucket").isin(*sorted(probe)))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), _vec_lit(query_vec)), 4).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_assign(
    embeddings: DataFrame,
    n_cells: int = 16,
    *,
    seed: int = 42,
    fit_fraction: float = 1.0,
    vec_col: str = "embedding",
):
    """IVF coarse quantizer: k-means cells over the corpus.

    Returns ``(assigned, centroids)`` where ``assigned`` carries an
    ``_cell`` column and ``centroids`` is a driver-side list (n_cells ×
    dim — tiny by construction). At 100 TB: fit on a sample
    (``fit_fraction`` ≪ 1 — centroid quality needs thousands of points
    per cell, not billions), assign in one distributed pass, and persist
    with ``_cell`` as a partition column so a probe prunes files.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = embeddings.withColumn(
        "_v", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    fit_input = vecs if fit_fraction >= 1.0 else vecs.sample(fit_fraction, seed=seed)
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="_v", predictionCol="_cell"
    ).fit(fit_input)
    assigned = model.transform(vecs).drop("_v")
    centroids = [c.tolist() for c in model.clusterCenters()]
    return assigned, centroids


def ann_topk_ivf(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF approximate top-k: score only the ``n_probe`` cells whose
    centroids are nearest the query (driver-side distance over the tiny
    centroid list). ``n_probe == n_cells`` degrades gracefully to exact
    brute force — pinned by test — so recall is tunable at query time
    with zero re-indexing.
    """
    assigned, centroids = ivf_assign(embeddings, n_cells, seed=seed, vec_col=vec_col)
    q = np.asarray(query_vec, dtype=float)
    dists = [float(np.linalg.norm(q - np.asarray(c))) for c in centroids]
    probe = [c for c, _ in sorted(enumerate(dists), key=lambda t: t[1])[:n_probe]]
    return (
        assigned.filter(F.col("_cell").isin(probe))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), _vec_lit(list(map(float, query_vec)))), 4).alias(
                "cosine_sim"
            ),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    *,
    seed: int = 42,
    fit_fraction: float = 1.0,
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index: vectors as parquet partitioned by the
    coarse cell, centroids as a tiny sidecar table.

    This is the build-once/query-many lifecycle: the ``_cell=N/``
    directory layout makes every probe a Catalyst partition-pruned
    scan — a 4-of-1024-cell probe reads ~0.4% of the files, no index
    structure beyond the filesystem layout. Rebuild cadence is a
    corpus-drift question; queries never re-signature anything.
    """
    assigned, centroids = ivf_assign(
        embeddings, n_cells, seed=seed, fit_fraction=fit_fraction, vec_col=vec_col
    )
    assigned.write.mode("overwrite").partitionBy("_cell").parquet(f"{path}/vectors")
    spark = embeddings.sparkSession
    cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    spark.createDataFrame(cent_rows, "cell INT, centroid ARRAY<DOUBLE>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/centroids")


def query_ivf_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    *,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a persisted IVF index: nearest ``n_probe`` centroids
    (driver-side over the tiny sidecar), then score only those cells —
    the ``_cell IN (...)`` filter prunes partitions at planning time,
    so unprobed cells are never read. ``n_probe`` = number of cells
    recovers exact brute force over the index."""
    cents = {r["cell"]: r["centroid"] for r in spark.read.parquet(f"{path}/centroids").collect()}
    q = np.asarray(query_vec, dtype=float)
    probe = sorted(
        cents, key=lambda c: (float(np.linalg.norm(q - np.asarray(cents[c]))), c)
    )[:n_probe]
    vecs = spark.read.parquet(f"{path}/vectors").filter(F.col("_cell").isin(probe))
    return (
        vecs.select(
            F.col(id_col),
            F.round(
                cosine(F.col(vec_col), _vec_lit([float(x) for x in query_vec])), 4
            ).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_self_pairs_blocked(
    embeddings: DataFrame,
    *,
    threshold: float,
    n_blocks: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold, block-partitioned — the
    distributed form of ``cosine_self_pairs_np`` with NO driver-side
    collect.

    Each vector hashes to one of ``n_blocks`` blocks and is shipped to
    every block-pair group (p1 ≤ p2) containing its block, so every
    unordered pair of vectors meets in exactly one group; each group
    then runs one BLAS matmul over its two block matrices. Compute is
    inherently O(n²) (it's exact all-pairs), but it is spread evenly
    over C(C+1)/2 independent tasks and the only data movement is one
    shuffle of n·C vector rows — the driver never sees a vector. At
    100 TB you size ``n_blocks`` ≈ √(tasks) so each group's two block
    matrices fit executor memory; the sf-scale default of 8 gives 36
    groups. Results are bit-identical to the single-matrix variant
    (same float64 matmul, same rounding), so the DuckDB oracle still
    hash-matches.
    """
    import pandas as pd

    C = n_blocks
    e = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(C)).cast("int").alias("_blk"),
    )
    rep = e.withColumn(
        "_c", F.explode(F.array(*[F.lit(i) for i in range(C)]))
    ).select(
        "_id",
        "_v",
        "_blk",
        F.least("_blk", "_c").alias("_p1"),
        F.greatest("_blk", "_c").alias("_p2"),
    )

    id_type = embeddings.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cosine_sim double"
    empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []})

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        p1 = int(pdf["_p1"].iat[0])
        p2 = int(pdf["_p2"].iat[0])
        if p1 == p2:
            ids = pdf["_id"].to_numpy()
            M = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            nrm = np.sqrt((M * M).sum(axis=1))
            sims = (M @ M.T) / (nrm[:, None] * nrm[None, :])
            ia, ib = np.nonzero((sims >= threshold) & (ids[:, None] < ids[None, :]))
            return pd.DataFrame(
                {
                    "id_a": ids[ia],
                    "id_b": ids[ib],
                    "cosine_sim": np.round(sims[ia, ib], 4),
                }
            )
        a = pdf[pdf["_blk"] == p1]
        b = pdf[pdf["_blk"] == p2]
        if not len(a) or not len(b):
            return empty
        a_ids = a["_id"].to_numpy()
        b_ids = b["_id"].to_numpy()
        A = np.stack(a["_v"].to_numpy()).astype(np.float64)
        B = np.stack(b["_v"].to_numpy()).astype(np.float64)
        sims = (A @ B.T) / (
            np.sqrt((A * A).sum(axis=1))[:, None]
            * np.sqrt((B * B).sum(axis=1))[None, :]
        )
        ia, ib = np.nonzero(sims >= threshold)
        return pd.DataFrame(
            {
                "id_a": np.minimum(a_ids[ia], b_ids[ib]),
                "id_b": np.maximum(a_ids[ia], b_ids[ib]),
                "cosine_sim": np.round(sims[ia, ib], 4),
            }
        )

    return rep.groupBy("_p1", "_p2").applyInPandas(score, schema=out_schema)


def cosine_self_pairs_np(
    embeddings: DataFrame,
    *,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold, scored in numpy.

    Same contract as ``cosine_self_pairs`` (id_a < id_b, rounded sim),
    but the whole corpus matrix collects to the driver and broadcasts
    (it must be modest — this is the small-corpus BASELINE and test
    twin; the distributed exact path is ``cosine_self_pairs_blocked``)
    and each Arrow batch does one BLAS matmul against it instead of an
    interpreted per-pair fold — measured 105 s → ~2 s at sf0.1.

    ``max_rows`` is a hard guard: beyond it the collect would OOM the
    driver long before the O(n²) scoring — callers at corpus scale must
    use the blocked variant.
    """
    import pandas as pd

    max_rows = 1_000_000
    n = embeddings.count()
    if n > max_rows:
        raise ValueError(
            f"cosine_self_pairs_np collects the corpus to the driver; "
            f"{n} rows > cap {max_rows}. Use cosine_self_pairs_blocked."
        )
    rows = embeddings.select(id_col, vec_col).collect()
    ids = np.array([r[id_col] for r in rows])
    M = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    nrm = np.sqrt((M * M).sum(axis=1))
    bc = embeddings.sparkSession.sparkContext.broadcast((ids, M, nrm))

    def score(batches):
        all_ids, corpus, corpus_nrm = bc.value
        for pdf in batches:
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            x_ids = pdf[id_col].to_numpy()
            sims = (X @ corpus.T) / (
                np.sqrt((X * X).sum(axis=1))[:, None] * corpus_nrm[None, :]
            )
            ia, ib = np.nonzero(
                (sims >= threshold) & (x_ids[:, None] < all_ids[None, :])
            )
            yield pd.DataFrame(
                {
                    "id_a": x_ids[ia],
                    "id_b": all_ids[ib],
                    "cosine_sim": np.round(sims[ia, ib], 4),
                }
            )

    id_type = embeddings.schema[id_col].dataType.simpleString()
    return embeddings.select(id_col, vec_col).mapInPandas(
        score, schema=f"id_a {id_type}, id_b {id_type}, cosine_sim double"
    )
