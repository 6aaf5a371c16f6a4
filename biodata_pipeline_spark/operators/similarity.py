"""Pairwise similarity joins over embedding columns.

Exact path: self cross-join (id < id) + cosine threshold — correct but
O(n²); declared for oracle checking on bounded inputs.

Scale path: LSH-bucketed join via random hyperplane signatures (SimHash
for cosine). Vectors only meet if they share a band bucket, so the join is
an equi-join on (band, bucket) — shuffle-partitioned, no cross product.
Recall < 1 by construction (rows-only / pytest-checked, like the
reference's Chroma index which is also approximate in spirit:
rag_evaluation/RAG-eval-test_model.py:233-248).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biodata_pipeline_spark.functions.vector import dot, l2_norm
from biodata_pipeline_spark.operators import vector_kernels as vk
from biodata_pipeline_spark.sources.local import local_frame

SIM_ROUND = 9


def similarity_join(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    other: DataFrame | None = None,
) -> DataFrame:
    """Exact pairwise cosine-similarity join.

    Self-join when ``other`` is None (emitting each unordered pair once,
    a.id < b.id). Output: ``id_a, id_b, sim`` with sim rounded so the
    threshold comparison is reproducible across engines.
    """
    # Two O(n²)-scoring optimizations, neither changing the arithmetic:
    #  - each vector's norm is computed once on its own side of the join
    #    (n norms, not n² — the per-pair work is a single dot-product pass);
    #  - the streamed side is round-robin repartitioned, since a small input
    #    often arrives as one scan partition, which would score all O(n²)
    #    pairs serially.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(emb_col).alias("__ea"),
        l2_norm(F.col(emb_col)).alias("__na"),
    ).repartition(parallelism)
    if other is None:
        b = df.select(
            F.col(id_col).alias("id_b"),
            F.col(emb_col).alias("__eb"),
            l2_norm(F.col(emb_col)).alias("__nb"),
        )
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        b = other.select(
            F.col(id_col).alias("id_b"),
            F.col(emb_col).alias("__eb"),
            l2_norm(F.col(emb_col)).alias("__nb"),
        )
        pairs = a.crossJoin(b)
    sim = dot(F.col("__ea"), F.col("__eb")) / (F.col("__na") * F.col("__nb"))
    return (
        pairs.withColumn("sim", F.round(sim, SIM_ROUND))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane (pure function of
    (seed, index) so every executor materializes the same planes without a
    broadcast of driver RNG state)."""
    import math

    return [
        math.sin(seed * 7919 + i * 104729) for i in range(dim)
    ]


def matrix_literal(mat) -> F.Column:
    """Nested double-array literal built by ONE SQL parse. Element-wise
    ``F.lit`` construction costs ~1.2s of driver time per 16×64 build
    (1024 py4j round-trips) and even a single nested ``F.lit`` ~0.7s
    (row-by-row conversion); the SQL parser does it in ~4ms. ``repr``
    round-trips float64 exactly and the ``D`` suffix forces DOUBLE, so
    the resulting literal is bit-identical to the F.lit form (asserted
    in tests)."""
    body = ",".join(
        "array(" + ",".join(repr(float(x)) + "D" for x in row) + ")"
        for row in mat
    )
    return F.expr(f"array({body})")


def lsh_signature(emb, planes: list[list[float]]):
    """Bit per hyperplane: sign of <emb, plane> (random-projection LSH).
    The plane matrix is one parsed literal, scored with one ``transform``
    pass."""
    return F.transform(
        matrix_literal(planes), lambda p: (dot(emb, p) >= 0).cast("int")
    )


def lsh_similarity_join(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """Approximate similarity self-join: random-hyperplane signatures split
    into bands; candidate pairs share ≥1 band bucket; candidates are then
    verified with the exact cosine (so precision = 1, recall < 1).

    The candidate join is an equi-join on (band, bucket) — Catalyst
    shuffle-hash/sort-merge partitions it by bucket, never a cross product.

    Candidate verification runs in an Arrow-batched numpy kernel
    (``mapInPandas`` over the attached pairs — partition-parallel, nothing
    touches the driver): the kernel accumulates dot products and norms
    dimension-by-dimension in ascending order, the identical IEEE-754
    float64 fold the ``aggregate``-HOF path uses, so sims are bit-equal to
    the exact join's (the same contract ``similarity_join_vectorized``
    carries). Rounding and the threshold decision stay JVM-side; the
    kernel pre-cuts at ``threshold - 1e-6`` so the boundary is decided
    once, by Spark's half-up rounding. Replaces per-row expression
    scoring, which interpreted ~150k pairs/s — the numpy kernel sustains
    tens of millions (16.3 s → 2.8 s on the sf0.1 headline).
    """
    import pandas as pd

    if n_planes % n_bands:
        raise ValueError("n_planes must divide evenly into n_bands")
    rows_per_band = n_planes // n_bands
    planes = [_hyperplane(dim, s) for s in range(n_planes)]
    # Collapse bit-identical vectors to a representative before banding —
    # m copies of one vector would put m identical signatures in every
    # band bucket (O(m²) candidates per duplicate cluster; measured OOM on
    # a 10×-replicated corpus). Duplicates come back as rep→member edges
    # with sim 1.0. collapse_identical windows a narrow (id, hash)
    # projection, so the embedding payload never shuffles on the hash.
    from biodata_pipeline_spark.operators.dedup import collapse_identical

    # Null-embedding contract (null probe, round 6): xxhash64 maps every
    # NULL to the same key, so unfiltered null vectors would collapse
    # into one giant fake duplicate cluster (sim-1.0 edges between
    # vectors that have no geometry at all)
    df = df.filter(F.col(emb_col).isNotNull())
    distinct, dup_edges = collapse_identical(
        df, id_col, F.xxhash64(F.col(emb_col))
    )
    exact_edges = dup_edges.withColumn("sim", F.lit(1.0))
    # (id, emb, sig) computed once and persisted: the banding pass and both
    # sides of candidate verification consume it. The HOF signature beats
    # the inlined n_planes×dim SQL chain here: the chain's one-time JIT +
    # per-task serialization (~1.2 MB task binaries) dominated the whole
    # query at bench scale (measured 5.4 s vs 0.8 s for this stage).
    from biodata_pipeline_spark.operators.caching import register_cached

    base = register_cached(
        distinct.select(
            F.col(id_col).alias("id"),
            F.col(emb_col).alias("emb"),
            lsh_signature(F.col(emb_col), planes).alias("sig"),
        ).persist()
    )
    # Only (id, band, bucket) enters the self-join shuffle — embeddings
    # rejoin after candidate-pair dedup, so they move once, not n_bands×.
    from biodata_pipeline_spark.operators.dedup import band_buckets_expr

    bands = base.select(
        "id",
        F.posexplode(band_buckets_expr("sig", n_bands, rows_per_band)).alias(
            "band", "bucket"
        ),
    )
    candidates = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    attached = candidates.join(
        base.select(F.col("id").alias("id_a"), F.col("emb").alias("__ea")),
        "id_a",
    ).join(
        base.select(F.col("id").alias("id_b"), F.col("emb").alias("__eb")),
        "id_b",
    )
    margin = threshold - 1e-6  # final decision on the JVM-rounded value

    def score(pdf):
        a, b = vk.matrix(pdf["__ea"]), vk.matrix(pdf["__eb"])
        s = vk.exact(a, vk.norms(a), b)
        keep = s >= margin
        return pd.DataFrame(
            {
                "id_a": pdf["id_a"].to_numpy()[keep],
                "id_b": pdf["id_b"].to_numpy()[keep],
                "sim_raw": s[keep],
            }
        )

    scored = vk.arrow_map(
        attached.select("id_a", "id_b", "__ea", "__eb"),
        score,
        "id_a long, id_b long, sim_raw double",
    )
    near = (
        scored.withColumn("sim", F.round("sim_raw", SIM_ROUND))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )
    return near.unionByName(exact_edges)


def brute_force_ann(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_emb: str = "query_emb",
    corpus_emb: str = "embedding",
) -> DataFrame:
    """Baseline ANN: exact cosine top-k (delegates to the two-phase ranker)."""
    from biodata_pipeline_spark.operators.retrieval import cosine_top_k

    return cosine_top_k(
        queries, corpus, k,
        query_id=query_id, corpus_id=corpus_id,
        query_emb=query_emb, corpus_emb=corpus_emb,
    )


def ivf_ann(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_emb: str = "query_emb",
    corpus_emb: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """IVF-style ANN: assign corpus vectors to their nearest of ``n_cells``
    deterministic centroids (hyperplane-derived, so no training pass is
    needed for reproducibility); each query probes its ``n_probe`` nearest
    cells and ranks only those vectors. The probe join is an equi-join on
    cell id → shuffle-partitioned by cell, scanning ~n_probe/n_cells of the
    corpus per query instead of all of it."""
    import math

    from pyspark.sql import Window

    # Unit-normalized centroids, precomputed driver-side: ranking cells by
    # cosine(emb, c) equals ranking by dot(emb, ĉ) since ||emb|| is a common
    # positive factor — so cell assignment needs one dot product per
    # centroid, no norms.
    centroids = []
    for c in range(n_cells):
        raw = _hyperplane(dim, 1000 + c)
        nrm = math.sqrt(sum(x * x for x in raw)) or 1.0
        centroids.append([x / nrm for x in raw])

    def best_cells(emb, n: int):
        # One parsed literal for the centroid matrix (see matrix_literal:
        # ~4ms vs ~1s driver time), so scoring is one `transform` over it
        # per row (vs. n_cells separate inlined literal-array expressions
        # that bloat codegen).
        cmat = matrix_literal(centroids)
        idx = F.lit(list(range(n_cells)))
        sims = F.transform(cmat, lambda c: F.round(dot(emb, c), SIM_ROUND))
        zipped = F.zip_with(
            sims, idx, lambda s, i: F.struct(s.alias("s"), i.alias("cell"))
        )
        top = F.slice(F.reverse(F.array_sort(zipped)), 1, n)
        return F.transform(top, lambda st: st["cell"])

    corpus_cells = corpus.select(
        F.col(corpus_id), F.col(corpus_emb).alias("__ce"),
        l2_norm(F.col(corpus_emb)).alias("__nc"),
        F.element_at(best_cells(F.col(corpus_emb), 1), 1).alias("cell"),
    ).repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    query_cells = queries.select(
        F.col(query_id), F.col(query_emb).alias("__qe"),
        l2_norm(F.col(query_emb)).alias("__nq"),
        F.explode(best_cells(F.col(query_emb), n_probe)).alias("cell"),
    )
    scored = corpus_cells.join(F.broadcast(query_cells), "cell").select(
        query_id,
        corpus_id,
        F.round(
            dot(F.col("__qe"), F.col("__ce")) / (F.col("__nq") * F.col("__nc")),
            SIM_ROUND,
        ).alias("sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("sim").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "rank", "sim")
    )


# Ceiling for the vectorized kernel's driver-side matrix: 1M × 64 float64
# ≈ 0.5 GB broadcast, the documented bound below which collect-and-
# broadcast beats a shuffled pair join. Above it the caller is directed to
# the LSH path instead of silently OOMing the driver.
VECTORIZED_MAX_VECTORS = 1_000_000


def similarity_join_vectorized(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    max_vectors: int = VECTORIZED_MAX_VECTORS,
    on_overflow: str = "raise",
) -> DataFrame:
    """Exact pairwise cosine join, Arrow/numpy-scored.

    Same semantics and BIT-identical results as ``similarity_join``: the
    numpy kernel accumulates dimension-by-dimension in ascending order
    (``S += A[:,i] * B[:,i]``), which is the same left-to-right float64
    fold the HOF path and the DuckDB oracle use — each partial sum is the
    identical IEEE-754 operation sequence, just vectorized across pairs
    instead of looped within one. Rounding and the threshold cut stay
    JVM-side (numpy rounds half-to-even, Spark half-up; the kernel emits
    raw sims with a safety margin instead of deciding the boundary).

    The right side is materialized to a broadcast matrix — a bounded-exact
    path, and the bound is ENFORCED here, not just documented: a cheap
    ``count()`` gates the collect, and an over-bound input either raises
    (default) or falls back to ``lsh_similarity_join`` when
    ``on_overflow='lsh'`` — mirroring ``retrieve_top_k_auto``'s
    size-driven strategy switch. Within the bound (~1M×64 = 0.5 GB
    broadcast) this is measured ~9x over the HOF pair join at 2000×64
    (8.9 s → <1 s at sf0.1 headline); the unbounded scale path stays
    ``lsh_similarity_join`` (recall < 1).
    """
    import numpy as np
    import pandas as pd

    # Null-embedding contract (null probe, round 6): vectors that failed
    # to encode carry no geometry — exclude them here rather than crash
    # in the ragged np.array build (and keep the oracle's
    # `WHERE embedding IS NOT NULL` in lockstep).
    df = df.filter(F.col(emb_col).isNotNull())
    n_vec = df.count()
    if n_vec > max_vectors:
        if on_overflow == "lsh":
            return lsh_similarity_join(
                df, threshold, id_col=id_col, emb_col=emb_col
            )
        raise ValueError(
            f"similarity_join_vectorized collects the embedding table to "
            f"the driver and is bounded to {max_vectors} vectors; got "
            f"{n_vec}. Use lsh_similarity_join for unbounded inputs (or "
            f"pass on_overflow='lsh' to switch automatically)."
        )
    rows = df.select(id_col, emb_col).collect()
    if not rows:
        # empty corpus slice (a real partition/day at scale): empty
        # result with the contract schema, not an unpack crash
        return local_frame(df.sparkSession, [], "id_a long, id_b long, sim double")
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    bc = df.sparkSession.sparkContext.broadcast((ids, mat, vk.norms(mat)))
    margin = threshold - 1e-6  # final decision on the JVM-rounded value

    def score(pdf):
        ids_b, mat_b, norms_b = bc.value
        a = vk.matrix(pdf["__emb"])
        a_ids = pdf["__id"].to_numpy()
        s = vk.cosine(vk.fold_cross(a, mat_b), vk.norms(a), norms_b, cross=True)
        keep = (a_ids[:, None] < ids_b[None, :]) & (s >= margin)
        ai, bj = np.nonzero(keep)
        return pd.DataFrame(
            {"id_a": a_ids[ai], "id_b": ids_b[bj], "sim_raw": s[ai, bj]}
        )

    out = vk.arrow_map(
        df.select(F.col(id_col).alias("__id"), F.col(emb_col).alias("__emb")),
        score,
        "id_a long, id_b long, sim_raw double",
    )
    return (
        out.withColumn("sim", F.round("sim_raw", SIM_ROUND))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )
