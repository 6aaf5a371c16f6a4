"""Distributed Lloyd's k-means over embedding columns + SemDeDup-style
semantic dedup built on the fitted clusters.

The reference ranks chunks by embedding cosine (rag_evaluation/
RAG-eval-test_model.py:83,130,247-248) but has no clustering pass; a
training-data pipeline at 100 TB needs one — SemDeDup (Abbas et al. 2023,
arXiv:2303.09540) partitions the corpus with k-means so near-duplicate
search is within-cluster pairwise instead of all-pairs O(n²).

Spark shape (the 100 TB plan):
 - **fit** is the classic iterate-collect loop: assignment is a pure map
   stage against the broadcast centroid matrix (no join, no shuffle —
   since r9 the Arrow kernel, bit-identical to the unrolled reference
   expression), and
   the centroid update is ONE hash aggregate producing k×(dim+1) cells —
   map-side combined, so each iteration shuffles k rows of partials, not
   data. Centroids (k×dim floats) live driver-side between iterations,
   exactly like MLlib's KMeans driver loop.
 - **assignment/dedup** stay lazy: the returned frames are declarative
   plans; only the fit's per-iteration centroid aggregates execute
   eagerly (documented: constructing a query that embeds a fit runs
   2+iters small jobs).

Determinism / oracle parity (every step is unrolled ANSI SQL):
 - seeds = the k rows with the smallest ``(md5(cast(id as string)), id)``
   — same bytes in Spark and DuckDB;
 - squared L2 distance is the same in-order float64 fold as
   functions.vector.dot (zip_with + aggregate ≡ DuckDB
   list_sum(list_transform(...))), so distances are bit-identical and
   argmin ties break identically (lowest cluster index);
 - centroid update uses the repo determinism rule round(sum(x), 6)/count
   — never round(avg(x)) — so both engines divide identical rounded sums
   by identical integer counts and the next iteration's distances stay
   bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biodata_pipeline_spark.operators import vector_kernels as vk

KMEANS_K = 8
MAX_CLUSTER_PAIRWISE = 8192  # per-group dense-score bound (8192² f64 = 0.5 GB)
KMEANS_ITERS = 2
SUM_GRAIN = 6  # centroid sums rounded before the count division


def _sqdist(emb, cent) -> F.Column:
    """||emb - cent||² as the in-order float64 left fold (bit-identical to
    DuckDB's list_sum(list_transform(range(...), i -> (a[i]-c[i])²)))."""
    diffs = F.zip_with(
        emb,
        cent,
        lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def _sqdist_sql(emb_col: str, cent: list[float]) -> str:
    """The same fold as ``_sqdist`` spelled as an explicit left-assoc
    ``+`` chain against centroid literals. SQL ``a + b + c`` parses
    left-associative, so the IEEE-754 operation sequence — hence every
    bit of the result — is identical to the aggregate fold and to the
    oracle's list_sum; but the expression is plain arithmetic Catalyst
    can codegen, where the lambda fold stays interpreted (measured ~4×
    on the assignment stage), and ONE sql parse replaces ~1s of py4j
    Column construction per call (the matrix_literal lesson)."""
    return " + ".join(
        f"(CAST(element_at({emb_col}, {i + 1}) AS DOUBLE) - {float(v)!r}D)"
        f" * (CAST(element_at({emb_col}, {i + 1}) AS DOUBLE) - {float(v)!r}D)"
        for i, v in enumerate(cent)
    )


def seed_centroids(
    df: DataFrame, k: int, id_col: str, emb_col: str
) -> list[list[float]]:
    """The k rows with the smallest (md5(id), id) — order-stable in any
    engine, no RNG, no wall clock. Cluster j is the j-th seed."""
    rows = (
        df.filter(F.col(emb_col).isNotNull())  # null-embedding contract
        .select(id_col, emb_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"kmeans: need >= {k} rows, got {len(rows)}")
    return [[float(v) for v in r[emb_col]] for r in rows]


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Adds ``cluster`` (int, argmin of squared L2; ties → lowest index)
    and ``dist2`` (min squared distance, 6 dp). Pure map stage, zero
    shuffle: the k distance chains ride in ONE parsed expression (see
    ``_sqdist_sql``), let-bound through a 1-element transform so the k
    chains evaluate once per row, argmin/round reading the bound array.

    This is the unrolled REFERENCE implementation — its expression tree
    is the textual mirror of the DuckDB oracle's CTE chain. The engine
    itself assigns through ``assign_clusters_matrix`` (bit-identical
    distances and decisions, parity-pinned) because the unrolled k×dim
    chains pay codegen compile per construction and fall out of
    whole-stage codegen as k×dim grows."""
    # Null-embedding contract (null probe, round 6): a NULL vector has
    # NULL distance to every centroid — argmin NULL would then crash the
    # centroid update's nxt[cluster] indexing. Geometry-less rows are
    # excluded, mirroring the oracle's `WHERE embedding IS NOT NULL`.
    df = df.filter(F.col(emb_col).isNotNull())
    dist_arr = "array(" + ",".join(
        f"({_sqdist_sql(emb_col, c)})" for c in centroids
    ) + ")"
    picked = F.expr(
        f"transform(array({dist_arr}), d -> struct("
        f"CAST(array_position(d, array_min(d)) - 1 AS INT) AS cluster, "
        f"round(array_min(d), {SUM_GRAIN}) AS dist2))[0]"
    )
    return df.select(
        "*", picked["cluster"].alias("cluster"), picked["dist2"].alias("dist2")
    )


def assign_clusters_matrix(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    with_dist2: bool = False,
) -> DataFrame:
    """``assign_clusters`` with the centroid matrix riding as ONE parsed
    literal and the k distance folds as a single ``transform`` —
    decision-IDENTICAL (same unrounded in-order float64 fold, hence
    bit-identical distances; same argmin lowest-index tie-break; same
    6dp ``dist2`` when requested — parity pytest-pinned and covered by
    the q_kmeans_clusters / q_ivf_cell_assign oracle hashes), but the
    expression stays COMPACT: the unrolled per-centroid chains grow as
    k×dim arithmetic nodes, whose codegen compile dominates small
    inputs (~50 s at k=64×64d, the r8 ann-store probe) and whose size
    falls out of whole-stage codegen entirely as k×dim grows (measured
    r9: at 200k vectors, k=8×64d, the matrix fold assigns ~5× faster).
    The JVM-expression option of the family; the engine's bulk default
    is ``assign_clusters_kernel`` (another 3-10× at scale), and
    ``assign_clusters`` remains the unrolled reference implementation
    whose SQL the DuckDB oracle mirrors textually.

    Defective-element contract (ADVICE r10): rows whose embedding holds
    a null OR non-finite element get a NULL cluster/dist2, exactly like
    the kernel. Null elements already NULL-propagate through the fold
    (null distance → null argmin), but NaN/Inf would not: Spark orders
    NaN as the largest double and NaN = NaN is true in Spark SQL, so a
    NaN-element row would get all-NaN distances and argmin position 1 —
    a silently wrong cluster 0 where the kernel reports NULL. The
    explicit ``exists`` guard makes the two bulk paths decision-identical
    on EVERY row, which is the premise the q_ivf_cell_assign /
    q_kmeans_clusters hash checks rest on. (``assign_clusters``, the
    unrolled oracle mirror, keeps the raw fold semantics — declared
    corpora are finite, and its job is textual parity with the SQL.)"""
    from biodata_pipeline_spark.operators.similarity import matrix_literal

    cmat = matrix_literal(centroids)
    emb = F.col(emb_col).cast("array<double>")
    defective = vk.defective(emb)
    d2 = F.transform(
        cmat,
        lambda c: F.aggregate(
            F.zip_with(emb, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    # let-bind the k-fold array through a 1-element transform (the
    # CollapseProject trap — see assign_clusters) so it evaluates once
    picked = F.get(
        F.transform(
            F.array(d2),
            lambda d: F.struct(
                (F.array_position(d, F.array_min(d)) - 1)
                .cast("int")
                .alias("cluster"),
                F.round(F.array_min(d), SUM_GRAIN).alias("dist2"),
            ),
        ),
        0,
    )
    base = df.filter(F.col(emb_col).isNotNull())
    cluster = F.when(~defective, picked["cluster"])
    if with_dist2:
        return base.select(
            "*",
            cluster.alias("cluster"),
            F.when(~defective, picked["dist2"]).alias("dist2"),
        )
    return base.select("*", cluster.alias("cluster"))


def assign_clusters_kernel(
    df: DataFrame,
    centroids: list[list[float]],
    emb_col: str = "embedding",
    with_dist2: bool = False,
) -> DataFrame:
    """Arrow-vectorized twin of ``assign_clusters_matrix`` for BULK
    assignment maps — the interpreted array fold costs ~35 µs/row/core
    at k=8×64d, and at warehouse scale the one full-corpus assignment
    pass is the kmeans family's dominant stage. Bit-parity contract
    (the ``similarity_join_vectorized`` discipline): distances
    accumulate per dimension in ASCENDING order (``acc += d*d`` — the
    same left-assoc float64 sequence as the JVM fold, so d² is
    bit-identical), ``np.argmin``'s first-occurrence rule IS the
    lowest-index tie-break, and the 6dp ``dist2`` rounding stays
    JVM-side (numpy rounds half-to-even, Java half-up). Parity with
    the matrix path is pytest-pinned on real embeddings. Measured
    (SCALING r9): 3-10× over the matrix fold at 200k vectors,
    depending on how many columns ride through Arrow. All input
    columns are carried; adds ``cluster`` (+ ``dist2``).

    Defective-element contract (r9 ADVICE): rows whose embedding
    contains a null or non-finite ELEMENT get a NULL cluster/dist2 —
    matching the JVM fold, where a NULL element propagates to NULL
    distances and a NULL argmin (numpy would instead NaN-propagate and
    np.argmin would silently pick an arbitrary index). Whole-null
    vectors stay excluded up front, same as the other two paths;
    element defects mirror embedding_defect's null_element/non_finite
    classes as visible NULLs instead of silent misassignment."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, IntegerType, StructField
    from pyspark.sql.types import StructType

    C = np.array(centroids, dtype=np.float64)
    base = df.filter(F.col(emb_col).isNotNull())
    out_fields = list(base.schema.fields) + [
        StructField("cluster", IntegerType())
    ]
    if with_dist2:
        out_fields.append(StructField("__d2_raw", DoubleType()))
    emb_name, want_d2 = emb_col, with_dist2

    def kern(pdf):
        mat = vk.matrix(pdf[emb_name])
        # None->NaN on convert; a defective row's distances are dropped,
        # and every other row's fold is untouched by it
        bad = ~np.isfinite(mat).all(axis=1)
        with np.errstate(invalid="ignore"):
            acc = vk.sqdist_cross(mat, C)
        cl = np.argmin(acc, axis=1)  # first occurrence = lowest index
        res = pdf.copy()
        res["cluster"] = pd.arrays.IntegerArray(cl.astype(np.int32), bad)
        if want_d2:
            res["__d2_raw"] = pd.arrays.FloatingArray(
                acc[np.arange(len(cl)), cl], bad
            )
        return res

    out = vk.arrow_map(base, kern, StructType(out_fields))
    if with_dist2:
        out = out.withColumn(
            "dist2", F.round(F.col("__d2_raw"), SUM_GRAIN)
        ).drop("__d2_raw")
    return out


def _update_centroids(
    assigned: DataFrame,
    prev: list[list[float]],
    emb_col: str,
    grain: int = SUM_GRAIN,
) -> list[list[float]]:
    """One Lloyd update: per-cluster, per-dimension round(sum, grain)/count.
    A single hash aggregate — k×(dim+1) output cells, map-side combined —
    then a driver-side k×dim collect. Clusters that lost every point keep
    their previous centroid (carry-forward), same as the oracle's
    LEFT JOIN + COALESCE."""
    dim = len(prev[0])
    sums = [
        F.expr(
            f"round(sum(CAST(element_at({emb_col}, {i + 1}) AS DOUBLE)), {grain})"
        ).alias(f"s{i}")
        for i in range(dim)
    ]
    rows = assigned.groupBy("cluster").agg(F.count("*").alias("n"), *sums).collect()
    nxt = [list(c) for c in prev]
    for r in rows:
        nxt[r["cluster"]] = [r[f"s{i}"] / r["n"] for i in range(dim)]
    return nxt


def kmeans_fit(
    df: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> list[list[float]]:
    """Fit centroids with ``iters`` Lloyd updates from the deterministic
    seeds. Eager: runs 1 seed job + ``iters`` aggregate jobs (each a
    k-row shuffle of partials)."""
    cents = seed_centroids(df, k, id_col, emb_col)
    for _ in range(iters):
        # the Arrow assignment kernel: decision-identical to
        # assign_clusters / assign_clusters_matrix (parity-pinned,
        # centroid trajectories list-identical) and the fastest bulk
        # path at every measured scale (SCALING r9)
        assigned = assign_clusters_kernel(df, cents, emb_col)
        cents = _update_centroids(assigned, cents, emb_col)
    return cents


def semantic_dedup_survivors(
    df: DataFrame,
    threshold: float,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """SemDeDup: cluster the corpus, then drop every vector whose cosine
    to a smaller-id member of the SAME cluster rounds to >= threshold.

    Per-cluster dense scoring replaces dedup.embedding_dup_pairs'
    all-pairs comparison: candidate volume drops from n²/2 to ~n²/(2k)
    and the only shuffle is on ``cluster``, so scaling k with n
    (k ≈ n/target_cluster) keeps per-task pair counts bounded — the
    100 TB shape. Each cluster's members are scored in one Arrow batch
    by the same ascending-dimension numpy fold the JVM/oracle use
    (``S += A[:,i] * B[:,i]`` — see similarity_join_vectorized), so
    sims are bit-identical to the HOF cosine path (parity-tested); the
    round + threshold decision stays JVM-side behind a margin. Groups
    above MAX_CLUSTER_PAIRWISE raise (fix: raise k), never silently
    densify. Exact duplicates share bit-identical distances, hence a
    cluster, so planted copies are always caught. Returns
    (survivor id, cluster)."""
    import pandas as pd

    cents = kmeans_fit(df, k, iters, id_col, emb_col)
    a = assign_clusters_kernel(df, cents, emb_col)
    margin = threshold - 1e-6
    max_pair = MAX_CLUSTER_PAIRWISE  # closure-bound: ships to workers
    empty = pd.DataFrame(
        {
            "id_b": pd.Series([], dtype="int64"),
            "sim_raw": pd.Series([], dtype="float64"),
        }
    )

    def dups_in_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n = len(pdf)
        if n < 2:
            return empty
        if n > max_pair:
            raise ValueError(
                f"semantic_dedup: cluster of {n} members exceeds the "
                f"{max_pair} dense-pairwise bound; raise k so "
                f"clusters shrink (k ≈ n / target_cluster_size)."
            )
        mat = vk.matrix(pdf["__emb"])
        ids = pdf["__id"].to_numpy()
        nrm = vk.norms(mat)
        s = vk.cosine(vk.fold_cross(mat, mat), nrm, nrm, cross=True)
        keep = (ids[:, None] < ids[None, :]) & (s >= margin)
        ai, bj = np.nonzero(keep)
        return pd.DataFrame(
            {"id_b": ids[bj], "sim_raw": s[ai, bj]}
        )

    cand = (
        a.select(
            F.col(id_col).alias("__id"), F.col(emb_col).alias("__emb"), "cluster"
        )
        .groupBy("cluster")
        .applyInPandas(dups_in_cluster, "id_b long, sim_raw double")
    )
    dup_ids = (
        cand.filter(F.round("sim_raw", 9) >= F.lit(threshold))
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return a.join(dup_ids, id_col, "left_anti").select(id_col, "cluster")
