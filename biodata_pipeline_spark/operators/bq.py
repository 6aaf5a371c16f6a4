"""Binary quantization (BQ1) — the 1-bit-per-dimension end of the
compressed-representation curve for similarity search.

The ladder this engine now covers: raw float64 (64 bits/dim, exact) →
SQ8 (operators/sq.py, 8 bits/dim, near-exact) → PQ (operators/pq.py,
~1-2 bits/dim via trained subspace codebooks) → BQ1 (THIS module,
1 bit/dim, FAISS ``IndexBinaryFlat`` / sign-quantization form): each
dimension collapses to one bit against a per-dimension threshold, the
64-dim vector packs into two 32-bit words, and candidate ranking is
HAMMING distance — pure integer ops (xor + popcount), the cheapest
possible scan: 8 bytes per candidate, no float math at all.

Spark shape (the 100 TB plan):
 - **fit** learns one threshold per dimension — the LOWER MEDIAN,
   selected explicitly as the value at ascending position
   ``(n + 1) div 2`` (a selection, not an accumulation: no float-sum
   ordering hazard, and no interpolation formula for two engines to
   disagree on). One shuffle of corpus × dim rows into ``dim``
   sort-groups; production stores fit on the bounded md5_top_n sample;
 - **encode** is a pure map stage: bit_d = x_d > thr_d, packed into
   ``ceil(dim/32)`` 32-bit words carried as longs (32, not 64, so the
   positional weights stay clear of the sign bit) — declarative JVM
   form for the oracle, Arrow kernel for bulk (bit-parity: identical
   float64 comparisons, integer packing is exact);
 - **scoring** is symmetric Hamming — ``bit_count(xor(q_w, v_w))``
   summed over words, ranked ascending with id tie-break. Integer
   in, integer out: hash-checkable end-to-end with no rounding
   contract at all (the only family in the engine with that
   property). The optional refine arm rescores the top refine·k
   exactly, repairing what 1 bit/dim costs — the audit query measures
   exactly how much that is.

Reference anchor: the reference brute-force ranks full float vectors
per query (rag_evaluation/RAG-eval-test_model.py:119-153); BQ1 is the
coarse-first pass that keeps that ranking's candidates at 1/64th of
the scan I/O before an exact rescore.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biodata_pipeline_spark.functions.vector import dot, l2_norm
from biodata_pipeline_spark.operators import vector_kernels as vk
from biodata_pipeline_spark.operators.vector_kernels import BQ_WORD_BITS


def bq_valid(df: DataFrame, emb_col: str = "embedding", dim: int = 64):
    """Rows passing the full BQ geometry contract: non-null, ``dim``
    elements, every element finite. Fit, encode, and the declared
    queries' exact ground truth all draw from THIS set, so recall
    numerators and denominators share one candidate universe."""
    emb = F.col(emb_col).cast("array<double>")
    return df.filter(
        F.col(emb_col).isNotNull()
        & (F.size(emb_col) == dim)
        & ~vk.defective(emb)
    )


def bq_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
) -> dict:
    """Per-dimension LOWER-MEDIAN thresholds — the entire BQ1
    "training": explode to (dim, value) rows, rank each dimension's
    values ascending, keep position ``(n + 1) div 2``. A ``dim``-row
    collect (driver-sized by design, the centroid-collect discipline).

    The lower median is a SELECTION: ties in the sort leave the
    selected VALUE unchanged, no interpolation arithmetic exists to
    round differently across engines, and the result is independent of
    partitioning — the same reason sq_fit's min/max needs no
    fold-order pinning. Rows failing the geometry contract are
    excluded. Returns ``{"thr": [t_0, ..., t_{dim-1}]}``. Fit itself is
    dim-agnostic (one threshold per dimension, any dim — the median
    unit tests pin dim=1); the ``dim % 32`` packing contract belongs to
    the encoders, which BOTH enforce it (ADVICE r14)."""
    from pyspark.sql import Window

    emb = F.col(emb_col).cast("array<double>")
    ex = bq_valid(df, emb_col, dim).select(
        F.posexplode(emb).alias("i", "x")
    )
    w_rn = Window.partitionBy("i").orderBy("x")
    w_all = Window.partitionBy("i")
    rows = (
        ex.select(
            "i",
            "x",
            F.row_number().over(w_rn).alias("rn"),
            F.count("*").over(w_all).alias("n"),
        )
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .orderBy("i")
        .collect()
    )
    if len(rows) != dim:
        raise ValueError(
            f"bq_fit: empty input — no valid {dim}-dim vectors to fit "
            "thresholds on"
            if not rows
            else f"bq_fit: expected {dim} dimensions, got {len(rows)}"
        )
    return {"thr": [float(r["x"]) for r in rows]}


def _weights_lit(n: int = BQ_WORD_BITS) -> F.Column:
    """Positional weights [2^0 ... 2^(n-1)] as a long-array literal."""
    return F.array(*[F.lit(1 << j).cast("long") for j in range(n)])


def bq_encode(
    df: DataFrame,
    thresholds: dict,
    emb_col: str = "embedding",
    words_col: str = "bq_words",
) -> DataFrame:
    """Declarative (JVM) encoder — the expression tree the DuckDB
    oracle mirrors: bit_d = ``x_d > thr_d`` (strict: a value AT the
    threshold codes 0, so a constant dimension contributes nothing),
    bits packed little-endian into ``ceil(dim/32)`` longs of 32 bits
    each via exact integer sums of distinct powers of two. Rows with a
    null / non-finite element get NULL words (the sq_encode defect
    contract). Adds ``words_col`` (array<bigint>). A pure map stage —
    no join, no shuffle; bulk path: ``bq_encode_kernel`` (bit-parity
    pinned)."""
    thr = thresholds["thr"]
    dim = len(thr)
    if dim % BQ_WORD_BITS:
        raise ValueError(
            f"bq_encode: dim {dim} not a multiple of {BQ_WORD_BITS}"
        )
    n_words = dim // BQ_WORD_BITS
    emb = F.col(emb_col).cast("array<double>")
    thrlit = F.array(*[F.lit(float(t)) for t in thr])
    base = df.filter(
        F.col(emb_col).isNotNull() & (F.size(emb_col) == dim)
    )
    bits = F.zip_with(emb, thrlit, lambda x, t: (x > t).cast("long"))
    words = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.slice(bits, w * BQ_WORD_BITS + 1, BQ_WORD_BITS),
                    _weights_lit(),
                    lambda b, p: b * p,
                ),
                F.lit(0).cast("long"),
                lambda acc, y: acc + y,
            )
            for w in range(n_words)
        ]
    )
    return base.withColumn(
        words_col,
        F.when(vk.defective(emb), F.lit(None)).otherwise(words),
    )


def bq_encode_kernel(
    df: DataFrame,
    thresholds: dict,
    emb_col: str = "embedding",
    words_col: str = "bq_words",
) -> DataFrame:
    """Arrow-vectorized encoder — the bulk path (the JVM ``zip_with`` /
    ``aggregate`` forms are interpreted HOFs; the engine-wide kernel
    discipline). Bit-parity contract with ``bq_encode``: numpy
    evaluates the identical float64 ``x > thr`` comparisons, and the
    packing is an exact int64 dot with distinct powers of two — no
    accumulation hazard of any kind, so unlike the cosine kernels
    there is not even a rounding boundary. Defective rows get NULL
    words. Carries all input columns; adds ``words_col``."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType, StructField

    thr = np.array(thresholds["thr"], dtype=np.float64)
    if len(thr) % BQ_WORD_BITS:
        raise ValueError(
            f"bq_encode_kernel: dim {len(thr)} not a multiple of {BQ_WORD_BITS}"
        )
    return vk.encode_map(
        df, emb_col, len(thr), StructField(words_col, ArrayType(LongType())),
        lambda mat: vk.bq1_pack(mat, thr),
    )


def hamming(a, b) -> F.Column:
    """Hamming distance between two packed-word arrays (int):
    ``sum_w bit_count(xor(a_w, b_w))`` — pure integer ops, exact."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, h: acc + h,
    ).cast("int")


def bq_hamming_kernel(
    cand: DataFrame,
    query_id: str,
    id_col: str,
    qwords_col: str = "__qw",
    words_col: str = "bq_words",
) -> DataFrame:
    """Arrow Hamming scorer of (query, candidate-words) ROWS — the
    store probe's row shape (``vector_kernels.score_rows``). xor +
    byte-table popcount on int64 views: exact integer math, trivially
    bit-equal to the declarative ``hamming`` fold. Input rows carry
    (query_id, id, qwords, words); output (query_id, id, hamming)."""
    from pyspark.sql.types import IntegerType, StructField

    def score(pdf):
        qw = vk.ints(pdf[qwords_col])
        vw = vk.ints(pdf[words_col])
        return vk.bq1_hamming(qw, vw).astype("int32")

    return vk.score_rows(
        cand, query_id, id_col, [qwords_col, words_col], score,
        StructField("hamming", IntegerType()),
    )


def bq_hamming_ranked(
    queries: DataFrame,
    codes: DataFrame,
    thresholds: dict,
    n: int,
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    id_col: str = "vec_id",
    words_col: str = "bq_words",
) -> DataFrame:
    """Top-``n`` Hamming candidates per query with their rank —
    ``(query_id, id_col, rank, hamming)``, rank 1..n by (hamming asc,
    id asc). The shared front half of ``bq_hamming_topk`` (r16): the
    audit derives BOTH its variants from one ranked stream (top-k =
    ``rank <= k`` of the top-``r·k``), so the |Q|×|C| crossJoin +
    Hamming fold + window run once per audit instead of once per
    variant."""
    from pyspark.sql import Window

    q = (
        bq_encode(
            queries.select(
                F.col(query_id),
                F.col(query_emb).alias("__qe"),
            ),
            thresholds,
            emb_col="__qe",
            words_col="__qw",
        )
        .filter(F.col("__qw").isNotNull())
        .dropDuplicates([query_id])
    )
    scored = (
        q.crossJoin(codes.filter(F.col(words_col).isNotNull()))
        .select(
            query_id,
            id_col,
            hamming("__qw", words_col).alias("hamming"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("hamming").asc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .select(query_id, id_col, "rank", "hamming")
    )


def exact_rerank(
    cand: DataFrame,
    queries: DataFrame,
    vectors: DataFrame,
    k: int,
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine re-rank of a bounded candidate set — the refine arm
    shared by ``bq_hamming_topk`` and the audit: join the candidates'
    true vectors, score round(dot/(nq·nc), 9), take top-``k`` per query
    (sim desc, id tie-break)."""
    from pyspark.sql import Window

    from biodata_pipeline_spark.operators.similarity import SIM_ROUND

    qe = queries.select(
        F.col(query_id),
        F.col(query_emb).cast("array<double>").alias("__qe"),
        l2_norm(F.col(query_emb)).alias("__nq"),
    ).dropDuplicates([query_id])
    exact = (
        cand.select(query_id, id_col)
        .join(vectors.select(id_col, emb_col), id_col)
        .join(qe, query_id)
        .select(
            query_id,
            id_col,
            F.round(
                dot(F.col("__qe"), F.col(emb_col))
                / (F.col("__nq") * l2_norm(F.col(emb_col))),
                SIM_ROUND,
            ).alias("sim"),
        )
    )
    w2 = Window.partitionBy(query_id).orderBy(
        F.col("sim").desc(), F.col(id_col)
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "rank", "sim")
    )


def approx_topk(
    scored: DataFrame,
    score_col: str,
    k: int,
    refine: int,
    queries: DataFrame,
    vectors: DataFrame | None,
    who: str,
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Top-``k`` per query of an approximate score stream (``score_col``
    desc, id tie-break), or with ``refine=r`` its top ``r·k`` re-ranked
    by ``exact_rerank`` — the rank tail the PQ and SQ8 top-k share.
    Returns (query_id, id, rank, sim)."""
    from pyspark.sql import Window

    w = Window.partitionBy(query_id).orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    ranked = scored.withColumn("__ark", F.row_number().over(w))
    if not refine:
        return ranked.filter(F.col("__ark") <= k).select(
            query_id, id_col, F.col("__ark").alias("rank"),
            F.col(score_col).alias("sim"),
        )
    if vectors is None:
        raise ValueError(f"{who}: refine>0 requires vectors")
    cand = ranked.filter(F.col("__ark") <= refine * k).select(query_id, id_col)
    return exact_rerank(
        cand, queries, vectors, k, query_id=query_id, query_emb=query_emb,
        id_col=id_col, emb_col=emb_col,
    )


def bq_hamming_topk(
    queries: DataFrame,
    codes: DataFrame,
    thresholds: dict,
    k: int,
    refine: int = 0,
    vectors: DataFrame | None = None,
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    words_col: str = "bq_words",
) -> DataFrame:
    """Top-``k`` per query by Hamming distance over packed binary codes
    (ascending, id tie-break) — symmetric: the query encodes under the
    same thresholds, and the candidate scan is 8 bytes + integer ops
    per row. ``refine=r`` with ``vectors`` re-scores the top ``r·k``
    exactly (rank/tie-break contract, sim at 9dp); without refine the
    output carries the raw integer ``hamming`` — the one ranking in
    the engine with no rounding contract at all. (r16: composed from
    ``bq_hamming_ranked`` + ``exact_rerank``; plans and results are
    unchanged — the composition exists so the audit can share the
    ranked stream across its variants.)"""
    cols = dict(
        query_id=query_id, query_emb=query_emb, id_col=id_col,
        words_col=words_col,
    )
    if not refine:
        return bq_hamming_ranked(queries, codes, thresholds, k, **cols)
    if vectors is None:
        raise ValueError("bq_hamming_topk: refine>0 requires vectors")
    cand = bq_hamming_ranked(
        queries, codes, thresholds, refine * k, **cols
    )
    return exact_rerank(
        cand, queries, vectors, k,
        query_id=query_id, query_emb=query_emb, id_col=id_col,
        emb_col=emb_col,
    )
