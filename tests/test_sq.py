"""Scalar quantization SQ8 (operators/sq.py): fit determinism, encode
path parity (declarative vs Arrow kernel), clamp/degenerate/defect
contracts, reconstruction error bound, top-k recall."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from biodata_pipeline_spark.operators.sq import (
    sq_decode,
    sq_encode,
    sq_encode_kernel,
    sq_fit,
    sq_topk,
)
from biodata_pipeline_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .localCheckpoint()
    )


@pytest.fixture(scope="module")
def bounds(emb):
    return sq_fit(emb)


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_emb"),
    )


def test_fit_bounds_shape_and_determinism(emb, bounds):
    assert len(bounds["vmin"]) == 64 and len(bounds["vmax"]) == 64
    assert all(
        lo <= hi for lo, hi in zip(bounds["vmin"], bounds["vmax"])
    )
    assert sq_fit(emb) == bounds  # min/max: no fold-order hazard at all

    # the bounds really are the per-dim extrema
    first = emb.select(
        F.min(F.get(F.col("embedding").cast("array<double>"), 0)).alias("mn"),
        F.max(F.get(F.col("embedding").cast("array<double>"), 0)).alias("mx"),
    ).collect()[0]
    assert bounds["vmin"][0] == first["mn"]
    assert bounds["vmax"][0] == first["mx"]


def test_encode_kernel_parity_with_declarative(emb, bounds):
    """The Arrow kernel and the JVM zip_with form must agree code-for-
    code — identical float64 affine map, floor, clamp (no accumulation
    anywhere, so parity is exact by construction; this pins it)."""
    ref = {
        r["vec_id"]: r["sq_codes"]
        for r in sq_encode(emb, bounds).select("vec_id", "sq_codes").collect()
    }
    kern = {
        r["vec_id"]: r["sq_codes"]
        for r in sq_encode_kernel(emb, bounds)
        .select("vec_id", "sq_codes")
        .collect()
    }
    assert ref == kern
    assert all(
        c is not None and all(0 <= v <= 255 for v in c)
        for c in kern.values()
    )


def test_encode_boundary_and_degenerate_dims(spark):
    """x = min codes 0, x = max codes 255 (the floor lands exactly on
    256 and clamps), a degenerate dimension (mx == mn) codes 0, and a
    far-out-of-range value clamps instead of wrapping through int32."""
    df = spark.createDataFrame(
        [
            (0, [0.0, 5.0, 1.0]),
            (1, [10.0, 5.0, 3.0]),
            (2, [2.5, 5.0, 2.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    bounds = sq_fit(df, dim=3)
    assert bounds == {"vmin": [0.0, 5.0, 1.0], "vmax": [10.0, 5.0, 3.0]}
    got = {
        r["vec_id"]: r["sq_codes"]
        for r in sq_encode(df, bounds).collect()
    }
    assert got[0] == [0, 0, 0]        # mins -> 0; degenerate dim -> 0
    assert got[1] == [255, 0, 255]    # maxes -> clamp 256 -> 255
    assert got[2] == [64, 0, 128]     # interior: floor((x-mn)*256/rg)

    # out-of-range NEW data (encode after fit) clamps on BOTH paths
    new = spark.createDataFrame(
        [(3, [1.0e12, 5.0, -1.0e12])],
        "vec_id long, embedding array<double>",
    )
    for enc in (sq_encode, sq_encode_kernel):
        row = enc(new, bounds).collect()[0]
        assert row["sq_codes"] == [255, 0, 0]


def test_encode_defect_contract(spark, bounds):
    """Null / NaN / Inf elements -> NULL codes; null / wrong-dim rows
    are excluded — the pq_encode geometry contract."""
    bad = spark.createDataFrame(
        [
            (1, [float("nan")] + [0.0] * 63),
            (2, [float("inf")] + [0.0] * 63),
            (3, None),
            (4, [0.0] * 32),
            (5, [0.0] * 64),
        ],
        "vec_id long, embedding array<double>",
    )
    for enc in (sq_encode, sq_encode_kernel):
        rows = {r["vec_id"]: r["sq_codes"] for r in enc(bad, bounds).collect()}
        assert set(rows) == {1, 2, 5}  # null/wrong-dim rows dropped
        assert rows[1] is None and rows[2] is None
        assert rows[5] is not None


def test_fit_and_sq_valid_exclude_planted_defects(spark, emb, bounds):
    """ADVICE r14 universe contract: a planted NaN/Inf row must change
    NEITHER the fitted bounds (sq_fit's internal exclusion) NOR the
    sq_valid universe the declared queries and their oracle draw from —
    the property that keeps the Spark fit and the oracle's
    finite-filtered _SQ_VECS CTE on the same corpus when the input is
    NOT defect-free."""
    from biodata_pipeline_spark.operators.sq import sq_valid

    planted = spark.createDataFrame(
        [
            (900001, [float("nan")] + [99.0] * 63),   # would blow max
            (900002, [float("-inf")] + [99.0] * 63),  # would blow min
            (900003, None),
            (900004, [99.0] * 32),
        ],
        "vec_id long, embedding array<double>",
    )
    poisoned = emb.unionByName(planted)
    assert sq_fit(poisoned) == bounds  # defect rows fit-invisible
    valid_ids = {
        r["vec_id"]
        for r in sq_valid(poisoned)
        .filter(F.col("vec_id") >= 900001)
        .collect()
    }
    assert valid_ids == set()  # none enters the shared universe
    n_clean = emb.count()
    assert sq_valid(poisoned).count() == n_clean


def test_decode_error_bounded_by_half_step(spark, emb, bounds):
    """Midpoint reconstruction: per-dimension error <= rg/512 + ulp —
    the representation's whole value proposition, checked corpus-wide."""
    recon = sq_encode(emb, bounds).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("x"),
        sq_decode("sq_codes", bounds).alias("xhat"),
    )
    worst = recon.select(
        F.aggregate(
            F.zip_with(
                F.col("x"), F.col("xhat"), lambda a, b: F.abs(a - b)
            ),
            F.lit(0.0),
            lambda acc, v: F.greatest(acc, v),
        ).alias("err")
    ).agg(F.max("err").alias("m")).collect()[0]["m"]
    max_half_step = max(
        (hi - lo) / 512.0
        for lo, hi in zip(bounds["vmin"], bounds["vmax"])
    ) or 1.0
    assert worst <= max_half_step * (1 + 1e-9)


def test_topk_recall_near_exact_and_refine_exact(emb, bounds, queries):
    """8 bits/dim is the near-exact end of the curve: codes-only top-10
    recall >= 0.9 vs exact on this corpus; the refined variant re-scores
    exactly, so its sims equal the exact ranker's on shared pairs."""
    from biodata_pipeline_spark.operators.similarity import brute_force_ann

    codes = sq_encode_kernel(emb, bounds)
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_ann(queries, emb, 10).collect()
    }
    got = sq_topk(queries, codes, bounds, 10).collect()
    hits = {(r.query_id, r.vec_id) for r in got} & exact
    assert len(hits) / len(exact) >= 0.9

    refined = sq_topk(
        queries, codes, bounds, 10, refine=2, vectors=emb
    ).collect()
    exact_sims = {
        (r.query_id, r.vec_id): r.sim
        for r in brute_force_ann(queries, emb, 10).collect()
    }
    for r in refined:
        if (r.query_id, r.vec_id) in exact_sims:
            assert r.sim == exact_sims[(r.query_id, r.vec_id)]

    # refine without vectors is a contract error
    with pytest.raises(ValueError, match="requires vectors"):
        sq_topk(queries, codes, bounds, 10, refine=2)


def test_scores_kernel_bit_parity_with_declarative(emb, bounds, queries):
    """The Arrow scorer (decode + ascending-dim float64 dot/norm folds)
    must produce BIT-equal sims to the declarative zip_with/aggregate
    form on every (query, candidate) pair — the engine-wide kernel
    contract — so ``sq_topk`` ranks the reference stream's top-k."""
    from biodata_pipeline_spark.operators.bq import approx_ranked
    from biodata_pipeline_spark.operators.sq import (
        sq_scores,
        sq_scores_kernel,
    )

    codes = sq_encode_kernel(emb, bounds)
    ref = sorted(map(tuple, sq_scores(queries, codes, bounds).collect()))
    kern = sorted(
        map(tuple, sq_scores_kernel(queries, codes, bounds).collect())
    )
    assert len(ref) == queries.count() * emb.count()
    assert all(r[2] is not None for r in ref)
    assert ref == kern  # exact float equality on every pair

    want = approx_ranked(
        sq_scores(queries, codes, bounds), "sim_sq", 10
    ).withColumnRenamed("sim_sq", "sim")
    got = sq_topk(queries, codes, bounds, 10)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_fit_empty_input_raises(spark):
    with pytest.raises(ValueError, match="empty input"):
        sq_fit(
            spark.createDataFrame(
                [], "vec_id long, embedding array<double>"
            ),
            dim=4,
        )
