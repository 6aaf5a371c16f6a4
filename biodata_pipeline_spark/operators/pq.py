"""Product quantization (PQ) — the code-compressed scale path for
similarity search.

At 100 TB of float32 embeddings (64d = 256 B/vector) every candidate
scan — IVF probe or brute re-rank — pays full-vector I/O. PQ (Jégou et
al. 2011, "Product quantization for nearest neighbor search") splits
each vector into ``m`` subvectors, k-means-quantizes each subspace
independently, and stores only the per-subspace code (m small ints:
4-16 B/vector, a 16-64× scan-size reduction). Queries score candidates
asymmetrically (ADC): exact query subvector against the candidate's
reconstructed codeword — one lookup table of ``m × k_sub`` partial dots
per query, then m adds per candidate instead of ``dim`` multiplies.

Spark shape (the 100 TB plan):
 - **fit** = ``m`` independent runs of the engine's deterministic
   ``kmeans_fit`` over sliced subvectors (md5-ordered seeds, in-order
   float64 distance folds, round(sum, 6)/count updates) — at scale over
   a bounded ``train_sample``, exactly like the IVF coarse quantizer;
 - **encode** is a pure map stage: one Arrow kernel computes all ``m``
   argmins per vector in a single pass (no join, no shuffle);
 - **ADC scoring** has two bit-identical forms: the declarative JVM
   path folds each query slice against the looked-up codeword row (one
   parsed matrix literal per subspace) and adds the ``m`` partials
   left-associatively — the form the DuckDB oracle mirrors textually —
   and the Arrow kernel path builds the per-query LUT and accumulates
   the ``m`` partial dots in subspace order: the SAME subspace-grouped
   IEEE-754 sequence (float addition is not associative, so the
   grouping is pinned engine-wide rather than left to chance — see
   ``pq_adc_scores``), hence bit-equal sims across paths
   (pytest-pinned).

Determinism: no RNG anywhere — seeds are md5-ordered rows, ties break
to the lowest code, sims round at ``SIM_ROUND`` with id tie-breaks.

Reference anchor: the reference brute-force ranks full float vectors
per query (rag_evaluation/RAG-eval-test_model.py:119-153); PQ is the
representation that keeps that ranking affordable when the corpus is
too large to scan uncompressed.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biodata_pipeline_spark.functions.vector import dot, l2_norm
from biodata_pipeline_spark.operators import vector_kernels as vk
from biodata_pipeline_spark.operators.bq import approx_topk
from biodata_pipeline_spark.operators.kmeans import kmeans_fit
from biodata_pipeline_spark.operators.similarity import (
    SIM_ROUND,
    matrix_literal,
)

# Default m=16 (64d -> sixteen 4d slices) is the measured operating
# point, not a guess: the r12 (m, refine) recall grid (SCALING.md) put
# m=4 at recall@10 0.226 adc / 0.633 refined on the real corpus while
# m=16 reads 0.483 adc and 0.958 at refine·8 — with the ADC scan wall
# unmoved (the LUT kernel's cost is lookup-bound, not m-bound) and the
# code footprint still ~6.5× smaller than the float rows. m=4 remains
# an explicit override for when footprint dominates recall.
PQ_M = 16       # subspaces (64d -> sixteen 4d slices)
PQ_KSUB = 16    # codewords per subspace (codes fit 4 bits here; prod: 256)
PQ_ITERS = 2    # Lloyd updates per subspace, same default as kmeans_fit

# Above this many corpus rows the byte-code arm (k_sub=256, FAISS's
# 8-bit standard) is the measured operating point: at the 1M uniform
# rung k_sub=16 reads refined recall 0.615 vs 0.975 for k_sub=256 at
# equal probe cost, with query walls unmoved (the LUT stays in L1/L2)
# and only a ~3× one-time fit premium (SCALING.md r13/r14). Below it
# the 4-bit default keeps the fit cheap and the recall gap small — and
# a tiny corpus cannot train 256 codewords per subspace anyway (Lloyd
# needs comfortably more training rows than centroids).
KSUB_BYTE_CODE_ROWS = 100_000


def recommended_k_sub(n_rows: int) -> int:
    """Size-aware ``k_sub`` default for STORES (VERDICT r13 #2): the
    byte-code arm (256) once the corpus clears the measured rung where
    the 4-bit codes stop holding target recall, ``PQ_KSUB`` below it.
    The DECLARED registry queries pin k_sub=16 explicitly — their
    DuckDB oracle replays every per-subspace Lloyd chain textually, and
    256-codeword chains would blow the oracle's replay budget — so this
    function is the production default, not the declared-family one."""
    return 256 if n_rows >= KSUB_BYTE_CODE_ROWS else PQ_KSUB


def pq_fit(
    df: DataFrame,
    m: int = PQ_M,
    k_sub: int = PQ_KSUB,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
    train_sample: int | None = None,
) -> list[list[list[float]]]:
    """Train ``m`` per-subspace codebooks (each ``k_sub × dim/m``) with
    the engine's deterministic k-means. Returns
    ``codebooks[sub][code] -> centroid``.

    ``train_sample`` bounds the Lloyd scans exactly like
    ``VectorIndexStore.build``: the full corpus is scanned once for the
    n rows with the smallest ``(md5(id), id)`` — PQ codebook quality
    saturates at a bounded training set (FAISS trains PQ on ~100k
    points regardless of corpus size), so at 100 TB the fit never
    iterates over the corpus. The selection rides ``md5_top_n``'s
    bounded-merge path (r14): identical rows, but the TakeOrdered
    driver merge no longer grows with corpus size × partition count.
    Vectors must be ``dim``-long; rows with
    null or wrong-length embeddings are excluded (the geometry
    contract — ``q_embedding_validate`` is the gate that counts them).
    """
    from biodata_pipeline_spark.operators.sampling import md5_top_n

    if dim % m:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m {m}")
    sd = dim // m
    base = df.filter(
        F.col(emb_col).isNotNull() & (F.size(emb_col) == dim)
    ).select(id_col, emb_col)
    if train_sample is not None:
        base = md5_top_n(base, train_sample, id_col)
    base = base.persist()  # m × (1 seed + iters) passes, bounded rows
    try:
        books = []
        for j in range(m):
            sub = base.select(
                id_col, F.slice(F.col(emb_col), j * sd + 1, sd).alias("__sub")
            )
            books.append(kmeans_fit(sub, k_sub, iters, id_col, "__sub"))
    finally:
        base.unpersist()
    return books


def _codebook_literals(codebooks) -> list[F.Column]:
    """One parsed ``k_sub × subdim`` matrix literal per subspace."""
    return [matrix_literal(cb) for cb in codebooks]


def pq_encode_ref(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    emb_col: str = "embedding",
    codes_col: str = "codes",
) -> DataFrame:
    """Reference (declarative JVM) encoder: per subspace, argmin of the
    in-order squared-L2 fold against the codebook matrix literal, ties
    to the lowest code — the expression tree the DuckDB oracle mirrors.
    Adds ``codes_col`` (array<int>, length m). Engine bulk path is
    ``pq_encode_kernel`` (decision-identical, parity-pinned — including
    on DEFECTIVE rows: a null / NaN / Inf element yields a NULL codes
    entry here too, instead of the arbitrary argmin an all-NaN distance
    array would produce under Spark's NaN-equals-NaN ordering)."""
    m = len(codebooks)
    sd = len(codebooks[0][0])
    dim = m * sd
    base = df.filter(
        F.col(emb_col).isNotNull() & (F.size(emb_col) == dim)
    )
    emb = F.col(emb_col).cast("array<double>")

    # closure helper, NOT a default arg: F.transform dispatches on lambda
    # arity, so a two-arg lambda would receive the element INDEX as its
    # second argument and silently shadow the bound subvector
    def _d2(cmat, sub):
        return F.transform(
            cmat,
            lambda c: F.aggregate(
                F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )

    parts = []
    for j, cmat in enumerate(_codebook_literals(codebooks)):
        d2 = _d2(cmat, F.slice(emb, j * sd + 1, sd))
        # let-bind the k_sub-fold array through a 1-element transform so
        # it evaluates once (the CollapseProject trap — see
        # kmeans.assign_clusters_matrix)
        parts.append(
            F.get(
                F.transform(
                    F.array(d2),
                    lambda d: (F.array_position(d, F.array_min(d)) - 1).cast(
                        "int"
                    ),
                ),
                0,
            )
        )
    return base.withColumn(
        codes_col,
        F.when(vk.defective(emb), F.lit(None)).otherwise(F.array(*parts)),
    )


def pq_encode_kernel(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    emb_col: str = "embedding",
    codes_col: str = "codes",
    centroids: list[list[float]] | None = None,
    cell_col: str = "cell",
) -> DataFrame:
    """Arrow-vectorized encoder — the engine's bulk path: ONE pass
    computes all ``m`` argmins per vector. Bit-parity contract with
    ``pq_encode_ref`` (the ``assign_clusters_kernel`` discipline):
    per-subspace distances accumulate dimension-by-dimension in
    ascending order (identical float64 sequence to the JVM fold),
    ``np.argmin``'s first-occurrence rule IS the lowest-code tie-break.
    Rows with a null / non-finite ELEMENT get a NULL codes entry
    (matching the JVM fold's null propagation; numpy would silently
    misassign). Carries all input columns; adds ``codes_col``.

    ``centroids`` (with ``cell_col``) fuses the RESIDUAL subtraction
    into the same numpy pass: encode x − centroids[cell] without ever
    materializing the residual column. The parity argument is
    determinism, not exactness: IEEE-754 subtraction is correctly
    rounded, and both paths perform the identical float64 op on the
    identical operands, so the results are bit-equal — a different op
    order or a float32 fast path would NOT preserve this. The fused
    path is bit-identical to
    ``_minus_centroid`` + encode (pytest-pinned) — it exists because
    the JVM ``zip_with`` subtract is an interpreted HOF that cost a
    residual ``enable_pq`` 5× the raw attach at the 1M rung before the
    fusion (SCALING r13)."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField

    pq = vk.PQ(codebooks)
    shift = None
    if centroids is not None:
        cc = np.array(centroids, dtype=np.float64)

        def shift(pdf):
            return cc[pdf[cell_col].to_numpy(dtype=np.int64)]

    return vk.encode_map(
        df, emb_col, pq.C.shape[0] * pq.C.shape[2],
        StructField(codes_col, ArrayType(IntegerType())), pq.encode, shift,
    )


def pq_decode(
    codes_col: str | F.Column, codebooks: list[list[list[float]]]
) -> F.Column:
    """Reconstructed vector (array<double>, full dim) from a codes
    column: ``concat`` of the per-subspace codebook rows, looked up in
    parsed matrix literals — a pure expression, no join."""
    codes = F.col(codes_col) if isinstance(codes_col, str) else codes_col
    return F.concat(
        *[
            F.element_at(cmat, F.element_at(codes, j + 1) + 1)
            for j, cmat in enumerate(_codebook_literals(codebooks))
        ]
    )


def pq_adc_scores(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """Approximate cosine of every (query, candidate) pair from codes
    alone — the declarative ADC form: per subspace, the engine's
    in-order fold of the query slice against the looked-up codeword
    row, the ``m`` partials then added left-associatively (and the
    codeword norm² likewise). The candidate side never touches stored
    float vectors — at 100 TB the scan reads m ints per row instead of
    dim floats, which is the whole point. Returns
    (query_id, id, sim_adc). The query side stays exact.

    The SUBSPACE-GROUPED fold is the ADC determinism discipline: the
    LUT kernel (``pq_adc_scores_kernel``) necessarily accumulates
    within each subspace first and across subspaces second, and float
    addition is not associative — a flat fold over the reconstruction
    would differ from the LUT sum in the last ulp. Grouping the
    declarative form (and the DuckDB oracle, textually) the same way
    makes all three bit-equal by construction, not probabilistically
    (``0 + x == x`` exactly in IEEE-754, so the running accumulator
    adds nothing)."""
    m = len(codebooks)
    sd = len(codebooks[0][0])
    q = queries.select(
        F.col(query_id),
        F.col(query_emb).cast("array<double>").alias("__qe"),
        l2_norm(F.col(query_emb)).alias("__nq"),
    ).dropDuplicates([query_id])
    mats = _codebook_literals(codebooks)
    rows = [
        F.element_at(mats[j], F.element_at(F.col(codes_col), j + 1) + 1)
        for j in range(m)
    ]
    qsub = [F.slice(F.col("__qe"), j * sd + 1, sd) for j in range(m)]
    adc_dot = sum(
        (dot(qsub[j], rows[j]) for j in range(1, m)),
        start=dot(qsub[0], rows[0]),
    )
    nrm2 = sum(
        (dot(rows[j], rows[j]) for j in range(1, m)),
        start=dot(rows[0], rows[0]),
    )
    c = codes.filter(F.col(codes_col).isNotNull()).select(
        F.col(id_col), F.col(codes_col)
    )
    return (
        q.crossJoin(c)
        .select(
            query_id,
            id_col,
            F.round(
                adc_dot / (F.col("__nq") * F.sqrt(nrm2)),
                SIM_ROUND,
            ).alias("sim_adc"),
        )
    )


def pq_adc_scores_kernel(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """Arrow LUT-ADC twin of ``pq_adc_scores`` for bulk scoring: per
    query, precompute ``lut[j][c] = dot(q_j, codebook[j][c])`` and
    ``nrm2[j][c] = ||codebook[j][c]||²`` (each by the ascending-dim
    fold), then score each candidate with ``m`` table lookups. The
    cross-subspace accumulation runs j = 0..m-1 in order — exactly the
    subspace-grouped fold ``pq_adc_scores`` (and the DuckDB oracle)
    spell declaratively — so sims are bit-equal to the declarative
    path by construction (pytest-pinned); the SIM_ROUND rounding stays
    JVM-side (numpy rounds half-even, Spark half-up). Query rows are
    collected driver-side (``vector_kernels.collect_queries``: one row
    per id, bounded) and ship with the closure."""
    return _adc_kernel(
        queries, codes, vk.PQ(codebooks), query_id, query_emb, id_col,
        codes_col,
    )


def _adc_kernel(queries, codes, pq, query_id, query_emb, id_col, codes_col,
                cell_col=None):
    """The cross-shaped ADC stream shared by the plain and residual
    kernels: queries collected once (one row per id), their LUTs built
    on the driver, every stored code row scored in one Arrow pass."""
    qs = vk.collect_queries(queries, query_id, query_emb, distinct=True)
    luts = pq.luts(qs.mat)
    cols = [id_col, codes_col] + ([cell_col] if cell_col else [])

    def score(pdf):
        cells = pdf[cell_col].to_numpy(dtype=np.int64) if cell_col else None
        cd = vk.ints(pdf[codes_col])
        return {"__raw": pq.cross(luts, qs.norms, cd, cells)}

    stream = vk.score_cross(
        codes.filter(F.col(codes_col).isNotNull()).select(*cols),
        id_col, queries.schema[query_id], [r[query_id] for r in qs.rows],
        score,
    )
    return vk.rounded(stream, query_id, id_col, "sim_adc", SIM_ROUND)


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int,
    refine: int = 0,
    vectors: DataFrame | None = None,
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    codes_col: str = "codes",
    use_kernel: bool = False,
) -> DataFrame:
    """Top-``k`` per query by ADC score, optionally exact-refined.

    ``refine=0``: rank by ``sim_adc`` (desc, id asc) — codes-only, the
    cheapest path. ``refine=r`` with ``vectors`` (id, emb): keep the
    top ``r·k`` ADC candidates, re-score EXACTLY against their stored
    float vectors, and re-rank — the standard PQ recall repair: the
    expensive full-vector read touches r·k rows per query instead of
    the corpus. Returns (query_id, id, rank, sim) where ``sim`` is the
    ADC score when unrefined, the exact cosine when refined."""
    scorer = pq_adc_scores_kernel if use_kernel else pq_adc_scores
    scored = scorer(
        queries, codes, codebooks,
        query_id=query_id, query_emb=query_emb,
        id_col=id_col, codes_col=codes_col,
    )
    return approx_topk(
        scored, "sim_adc", k, refine, queries, vectors, "pq_adc_topk",
        query_id=query_id, query_emb=query_emb, id_col=id_col,
        emb_col=emb_col,
    )


# --- residual IVF-PQ (round 13) ---------------------------------------------
# Encoding the RESIDUAL x - centroid[cell] instead of x is the textbook
# IVF-PQ form (FAISS IndexIVFPQ's encode_residual default): within one
# coarse cell the residual spread is a fraction of the corpus spread, so
# the same m × k_sub code budget buys proportionally finer resolution.
# The ADC estimate then reconstructs x̂ = centroid[cell] + Σ_j row_j and
# scores cos(q, x̂) from driver-sized lookup tables alone:
#
#   numerator   N  = dot(q, c)   +  Σ_j dot(q_j, row_j)
#   denominator D² = dot(c, c)   +  Σ_j 2·dot(c_j, row_j)  +  Σ_j dot(row_j, row_j)
#
# with every fold in-order (ascending dimension), the Σ_j groups summed
# left-associatively in that exact sequence — the subspace-grouped
# determinism discipline of pq_adc_scores extended by the two centroid
# terms, so the declarative form, the LUT kernel and the DuckDB oracle
# are bit-equal by construction.


def _minus_centroid(
    df: DataFrame,
    centroids: list[list[float]],
    emb_col: str,
    cell_col: str = "cell",
    out_col: str = "__rvec",
) -> DataFrame:
    """Adds ``out_col`` = emb - centroid[cell] (exact float64
    subtraction, so both engines produce identical residual bits)."""
    crow = F.element_at(matrix_literal(centroids), F.col(cell_col) + 1)
    return df.withColumn(
        out_col,
        F.zip_with(
            F.col(emb_col).cast("array<double>"),
            crow,
            lambda x, c: x - c,
        ),
    )


def pq_residual_decode(
    codes_col: str | F.Column,
    cell_col: str | F.Column,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
) -> F.Column:
    """Reconstructed vector for RESIDUAL codes: centroid[cell] +
    concat of the per-subspace codeword rows — ``pq_decode``'s residual
    sibling (the x̂ the ADC estimate scores against), a pure expression,
    no join."""
    cell = F.col(cell_col) if isinstance(cell_col, str) else cell_col
    crow = F.element_at(matrix_literal(centroids), cell + 1)
    return F.zip_with(crow, pq_decode(codes_col, codebooks), lambda c, r: c + r)


def pq_residual_scores(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    id_col: str = "vec_id",
    codes_col: str = "codes",
    cell_col: str = "cell",
) -> DataFrame:
    """Declarative residual-ADC scorer (the oracle's expression tree):
    codes rows must carry ``cell_col``; codebooks were trained on
    residuals. Returns (query_id, id, sim_adc)."""
    m = len(codebooks)
    sd = len(codebooks[0][0])
    q = queries.select(
        F.col(query_id),
        F.col(query_emb).cast("array<double>").alias("__qe"),
        l2_norm(F.col(query_emb)).alias("__nq"),
    ).dropDuplicates([query_id])
    mats = _codebook_literals(codebooks)
    crow = F.element_at(matrix_literal(centroids), F.col(cell_col) + 1)
    rows = [
        F.element_at(mats[j], F.element_at(F.col(codes_col), j + 1) + 1)
        for j in range(m)
    ]
    qsub = [F.slice(F.col("__qe"), j * sd + 1, sd) for j in range(m)]
    csub = [F.slice(crow, j * sd + 1, sd) for j in range(m)]
    num = sum(
        (dot(qsub[j], rows[j]) for j in range(m)),
        start=dot(F.col("__qe"), crow),
    )
    den2 = sum(
        (dot(rows[j], rows[j]) for j in range(m)),
        start=sum(
            (F.lit(2.0) * dot(csub[j], rows[j]) for j in range(m)),
            start=dot(crow, crow),
        ),
    )
    c = codes.filter(F.col(codes_col).isNotNull()).select(
        F.col(id_col), F.col(cell_col), F.col(codes_col)
    )
    return q.crossJoin(c).select(
        query_id,
        id_col,
        F.round(num / (F.col("__nq") * F.sqrt(den2)), SIM_ROUND).alias(
            "sim_adc"
        ),
    )


def pq_residual_scores_kernel(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    id_col: str = "vec_id",
    codes_col: str = "codes",
    cell_col: str = "cell",
) -> DataFrame:
    """Arrow LUT twin of ``pq_residual_scores`` — the engine's bulk
    path. Per query: lut[j][c] as in ``pq_adc_scores_kernel`` plus
    qc[cell] = in-order dot(q, centroid); per cell: cn = in-order
    ||centroid||², cross[j][c] = in-order dot(centroid_j, row_j) — all
    driver-sized ((k_cells·m·k_sub) doubles), shipped in the closure.
    Accumulation order matches the declarative form exactly (numerator:
    qc then j ascending; denominator: cn, the 2·cross terms j
    ascending, then the row norms j ascending), so sims are bit-equal
    by construction; SIM_ROUND rounding stays JVM-side."""
    return _adc_kernel(
        queries, codes, vk.PQ(codebooks, centroids), query_id, query_emb,
        id_col, codes_col, cell_col,
    )


def pq_residual_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    k: int,
    refine: int = 0,
    vectors: DataFrame | None = None,
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    codes_col: str = "codes",
    cell_col: str = "cell",
    use_kernel: bool = False,
) -> DataFrame:
    """Top-``k`` per query by residual-ADC score, optionally
    exact-refined against the ORIGINAL vectors (``vectors``: (id, emb))
    — ``pq_adc_topk``'s residual sibling, same rank/tie-break
    contract."""
    scorer = (
        pq_residual_scores_kernel if use_kernel else pq_residual_scores
    )
    scored = scorer(
        queries, codes, codebooks, centroids,
        query_id=query_id, query_emb=query_emb,
        id_col=id_col, codes_col=codes_col, cell_col=cell_col,
    )
    return approx_topk(
        scored, "sim_adc", k, refine, queries, vectors, "pq_residual_topk",
        query_id=query_id, query_emb=query_emb, id_col=id_col,
        emb_col=emb_col,
    )
