"""Scalar quantization (SQ8) — the byte-per-dimension compressed
representation for similarity search.

PQ (operators/pq.py) buys 16-64× compression by quantizing SUBSPACES
against trained codebooks; SQ8 is the simpler, stronger-recall point on
the same curve (FAISS ``IndexScalarQuantizer(QT_8bit)``): each
dimension is affinely mapped to one byte against per-dimension
``[min, max]`` bounds learned in a single corpus scan. 4× smaller than
float32 (8× vs float64) with near-exact recall — the operating point
for corpora where PQ's code resolution costs too much recall and raw
floats cost too much I/O.

Spark shape (the 100 TB plan):
 - **fit** is ONE column-pruned scan: per-dimension min/max with
   map-side partial aggregation down to ``dim`` rows — no iteration,
   no training sample needed (contrast: PQ runs m Lloyd chains);
 - **encode** is a pure map stage (no join, no shuffle): the
   declarative JVM form is the expression tree the DuckDB oracle
   mirrors; the Arrow kernel is the bulk path (bit-parity pinned —
   both compute the identical float64 ``(x − mn) · 256 / (mx − mn)``
   then ``floor`` + clamp, and floor/comparison of identical doubles
   is deterministic);
 - **scoring** reconstructs candidates at the bucket MIDPOINT
   ``mn + (code + ½) · (mx − mn) / 256`` and runs the engine's exact
   in-order cosine fold against the reconstruction — asymmetric, like
   ADC: the query side stays exact, the candidate side reads 1 byte
   per dimension.

Determinism: the fit is min/max (selection, not accumulation — no
float-sum ordering hazard), codes are floors of identical doubles,
sims round at ``SIM_ROUND`` with id tie-breaks. Every step is plain
ANSI SQL, so the whole family is hash-checkable against DuckDB —
unlike PQ there is no Lloyd chain to replay, which is why SQ8 can
afford full 8-bit resolution in the declared family.

Reference anchor: the reference brute-force ranks full float vectors
per query (rag_evaluation/RAG-eval-test_model.py:119-153); SQ8 keeps
that ranking near-exact at a quarter of the scan I/O.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biodata_pipeline_spark.functions.vector import dot, l2_norm
from biodata_pipeline_spark.operators import vector_kernels as vk
from biodata_pipeline_spark.operators.bq import approx_topk
from biodata_pipeline_spark.operators.similarity import SIM_ROUND

SQ_LEVELS = 256  # 8-bit codes


def sq_valid(df: DataFrame, emb_col: str = "embedding", dim: int = 64):
    """Rows passing the full SQ geometry contract: non-null, ``dim``
    elements, every element finite — the exact exclusion ``sq_fit``
    applies internally (ADVICE r14: the declared queries and their
    oracle must draw fit, codes, queries, AND exact ground truth from
    THIS one universe, mirroring ``bq_valid``, so a corpus with planted
    NaN/Inf rows cannot silently diverge the fit bounds between
    engines)."""
    return df.filter(
        F.col(emb_col).isNotNull()
        & (F.size(emb_col) == dim)
        & ~vk.defective(F.col(emb_col).cast("array<double>"))
    )


def sq_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
) -> dict:
    """Per-dimension ``[min, max]`` bounds over the valid corpus — the
    entire SQ8 "training": one scan, map-side combine to ``dim``
    groups, a ``dim``-row collect (driver-sized by design, the
    centroid-collect discipline). Rows failing the geometry contract
    (null / wrong-dim / non-finite element) are excluded exactly as the
    PQ fit excludes them. Returns ``{"vmin": [...], "vmax": [...]}``.

    min/max are selections, not accumulations — no float-ordering
    hazard, so the bounds are bit-identical on any engine regardless
    of partitioning (the reason SQ8 needs no fold-order pinning)."""
    emb = F.col(emb_col).cast("array<double>")
    rows = (
        sq_valid(df, emb_col, dim)
        .select(F.posexplode(emb).alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("i")
        .collect()
    )
    if len(rows) != dim:
        raise ValueError(
            # "empty input" is the registry _empty_fallback contract
            f"sq_fit: empty input — no valid {dim}-dim vectors to fit "
            "bounds on"
            if not rows
            else f"sq_fit: expected {dim} dimensions, got {len(rows)}"
        )
    return {
        "vmin": [float(r["mn"]) for r in rows],
        "vmax": [float(r["mx"]) for r in rows],
    }


def _bounds_arrays(bounds: dict) -> tuple[F.Column, F.Column]:
    """(vmin, range) literal arrays. The range ``mx − mn`` is computed
    in float64 here; the oracle computes the same subtraction in SQL —
    identical operands, identical correctly-rounded result."""
    vmin = bounds["vmin"]
    rg = [hi - lo for lo, hi in zip(vmin, bounds["vmax"])]
    return (
        F.array(*[F.lit(float(v)) for v in vmin]),
        F.array(*[F.lit(float(v)) for v in rg]),
    )


def sq_encode(
    df: DataFrame,
    bounds: dict,
    emb_col: str = "embedding",
    codes_col: str = "sq_codes",
) -> DataFrame:
    """Declarative (JVM) encoder — the expression tree the DuckDB
    oracle mirrors: ``code_i = clamp(floor((x_i − mn_i) · 256 / rg_i),
    0, 255)``, degenerate dimensions (``rg = 0``) code 0, rows with a
    null / non-finite element get NULL codes (the ``pq_encode_ref``
    defect contract). Adds ``codes_col`` (array<int>, length dim). A
    pure map stage — no join, no shuffle; bulk path:
    ``sq_encode_kernel`` (bit-parity pinned)."""
    dim = len(bounds["vmin"])
    emb = F.col(emb_col).cast("array<double>")
    mnlit, rglit = _bounds_arrays(bounds)
    base = df.filter(
        F.col(emb_col).isNotNull() & (F.size(emb_col) == dim)
    )
    shifted = F.zip_with(emb, mnlit, lambda x, mn: x - mn)
    codes = F.zip_with(
        shifted,
        rglit,
        # clamp BEFORE the int cast: an out-of-range input (new data
        # beyond the fitted bounds) floors to a long far outside int32,
        # and casting first would wrap before least/greatest sees it
        lambda d, rg: F.when(rg == 0.0, F.lit(0))
        .otherwise(
            F.least(
                F.lit(255).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.floor(d * F.lit(256.0) / rg),
                ),
            )
        )
        .cast("int"),
    )
    return base.withColumn(
        codes_col, F.when(vk.defective(emb), F.lit(None)).otherwise(codes)
    )


def sq_encode_kernel(
    df: DataFrame,
    bounds: dict,
    emb_col: str = "embedding",
    codes_col: str = "sq_codes",
) -> DataFrame:
    """Arrow-vectorized encoder — the bulk path (the JVM ``zip_with``
    form is an interpreted HOF, the engine-wide reason full-corpus
    passes go through kernels). Bit-parity contract with ``sq_encode``:
    numpy computes the identical float64 ``(x − mn) · 256 / rg`` per
    element, and ``floor`` + clamp of identical doubles is
    deterministic — no accumulation anywhere, so unlike the PQ/cosine
    kernels there is not even a fold order to pin. Defective rows
    (null / NaN / Inf element) get NULL codes; degenerate dims code 0.
    Carries all input columns; adds ``codes_col``."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField

    mn, rg = vk.sq8_bounds(bounds)
    return vk.encode_map(
        df, emb_col, len(mn), StructField(codes_col, ArrayType(IntegerType())),
        lambda mat: vk.sq8_encode(mat, mn, rg),
    )


def sq_decode(
    codes_col: str | F.Column, bounds: dict
) -> F.Column:
    """Midpoint reconstruction ``x̂_i = mn_i + (code_i + ½) · rg_i /
    256`` (array<double>, full dim) — a pure expression, no join. The
    ½ centers each code on its bucket, halving the worst-case error vs
    a floor reconstruction."""
    codes = F.col(codes_col) if isinstance(codes_col, str) else codes_col
    mnlit, rglit = _bounds_arrays(bounds)
    stepped = F.zip_with(
        codes, rglit, lambda c, rg: (c + F.lit(0.5)) * rg / F.lit(256.0)
    )
    return F.zip_with(stepped, mnlit, lambda t, mn: mn + t)


def sq_scores_kernel(
    queries: DataFrame,
    codes: DataFrame,
    bounds: dict,
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    id_col: str = "vec_id",
    codes_col: str = "sq_codes",
) -> DataFrame:
    """Arrow twin of the declarative reconstruction-cosine scorer — the
    bulk path (the JVM ``aggregate`` fold is interpreted per row; the
    ``pq_adc_scores_kernel`` discipline). Per batch: decode the byte
    codes with the identical float64 affine map ``mn + (c + ½)·rg/256``
    (same ops, same operands — deterministic), then accumulate dot and
    reconstruction norm dimension-by-dimension in ASCENDING order, the
    exact IEEE-754 sequence the JVM fold evaluates — sims bit-equal by
    construction; SIM_ROUND rounding stays JVM-side (numpy rounds
    half-even, Spark half-up). Query rows are collected driver-side
    (``vector_kernels.collect_queries``: one row per id, bounded) and
    ship with the closure.
    Returns (query_id, id, sim_sq)."""
    mn, rg = vk.sq8_bounds(bounds)
    qs = vk.collect_queries(queries, query_id, query_emb, distinct=True)

    def score(pdf):
        cd = vk.ints(pdf[codes_col])
        return {"__raw": vk.sq8(qs.mat, qs.norms, cd, mn, rg, cross=True)}

    stream = vk.score_cross(
        codes.filter(F.col(codes_col).isNotNull()).select(id_col, codes_col),
        id_col, queries.schema[query_id], [r[query_id] for r in qs.rows],
        score,
    )
    return vk.rounded(stream, query_id, id_col, "sim_sq", SIM_ROUND)


def sq_topk(
    queries: DataFrame,
    codes: DataFrame,
    bounds: dict,
    k: int,
    refine: int = 0,
    vectors: DataFrame | None = None,
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    codes_col: str = "sq_codes",
    use_kernel: bool = False,
) -> DataFrame:
    """Top-``k`` per query over byte-coded candidates: cosine of the
    exact query against the midpoint reconstruction (asymmetric, like
    ADC — the candidate scan reads dim bytes, not dim doubles), the
    engine's rank/tie-break contract. ``refine=r`` with ``vectors``
    re-scores the top ``r·k`` exactly — same recall repair as
    ``pq_adc_topk``, rarely needed at 8 bits/dim (the audit query
    measures exactly how rarely). sim is the reconstruction cosine
    when unrefined, the exact cosine when refined."""
    if use_kernel:
        scored = sq_scores_kernel(
            queries, codes, bounds,
            query_id=query_id, query_emb=query_emb,
            id_col=id_col, codes_col=codes_col,
        )
    else:
        q = queries.select(
            F.col(query_id),
            F.col(query_emb).cast("array<double>").alias("__qe"),
            l2_norm(F.col(query_emb)).alias("__nq"),
        ).dropDuplicates([query_id])
        c = codes.filter(F.col(codes_col).isNotNull()).select(
            F.col(id_col), sq_decode(codes_col, bounds).alias("__recon")
        )
        scored = q.crossJoin(c).select(
            query_id,
            id_col,
            F.round(
                dot(F.col("__qe"), F.col("__recon"))
                / (F.col("__nq") * l2_norm(F.col("__recon"))),
                SIM_ROUND,
            ).alias("sim_sq"),
        )
    return approx_topk(
        scored, "sim_sq", k, refine, queries, vectors, "sq_topk",
        query_id=query_id, query_emb=query_emb, id_col=id_col,
        emb_col=emb_col,
    )
