"""Binary quantization BQ1 (operators/bq.py): median-threshold fit
determinism, encode path parity (declarative vs Arrow kernel), packing
exactness, defect contracts, Hamming scoring parity, top-k + refine."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from biodata_pipeline_spark.operators import vector_kernels as vk
from biodata_pipeline_spark.operators.bq import (
    bq_encode,
    bq_encode_kernel,
    bq_fit,
    bq_hamming_topk,
    bq_valid,
    hamming,
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
def thresholds(emb):
    return bq_fit(emb)


@pytest.fixture(scope="module")
def queries(emb):
    return bq_valid(emb).filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_emb"),
    )


def test_fit_median_selection_and_determinism(spark, emb, thresholds):
    assert len(thresholds["thr"]) == 64
    assert bq_fit(emb) == thresholds  # selection: no fold-order hazard

    # the threshold really is the lower median: a known small corpus
    df = spark.createDataFrame(
        [(i, [float(v)]) for i, v in enumerate([5.0, 1.0, 9.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    # sorted [1,3,5,9], n=4 -> position (4+1) div 2 = 2 -> 3.0
    assert bq_fit(df, dim=1) == {"thr": [3.0]}
    odd = spark.createDataFrame(
        [(i, [float(v)]) for i, v in enumerate([5.0, 1.0, 9.0])],
        "vec_id long, embedding array<double>",
    )
    # sorted [1,5,9], n=3 -> position 2 -> 5.0
    assert bq_fit(odd, dim=1) == {"thr": [5.0]}


def test_encode_packing_exact_and_strict_threshold(spark):
    """bit = x > thr STRICTLY (a value at the threshold codes 0), and
    the packing is little-endian powers of two in 32-bit words."""
    dim = 64
    thr = {"thr": [0.0] * dim}
    rows = [
        # bit 0 only -> word0 = 1, word1 = 0
        (0, [1.0] + [0.0] * 63),
        # bit 31 only -> word0 = 2^31, word1 = 0
        (1, [0.0] * 31 + [1.0] + [0.0] * 32),
        # bit 32 only -> word0 = 0, word1 = 1
        (2, [0.0] * 32 + [1.0] + [0.0] * 31),
        # all bits -> both words 2^32 - 1
        (3, [1.0] * 64),
        # exactly AT the threshold -> codes 0 (strict >)
        (4, [0.0] * 64),
        # negative values -> 0
        (5, [-1.0] * 64),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want = {
        0: [1, 0],
        1: [2147483648, 0],
        2: [0, 1],
        3: [4294967295, 4294967295],
        4: [0, 0],
        5: [0, 0],
    }
    for enc in (bq_encode, bq_encode_kernel):
        got = {r["vec_id"]: r["bq_words"] for r in enc(df, thr).collect()}
        assert got == want


def test_encode_kernel_parity_with_declarative(emb, thresholds):
    """Identical float64 comparisons + exact integer packing: the Arrow
    kernel and the JVM fold must agree word-for-word corpus-wide."""
    ref = {
        r["vec_id"]: r["bq_words"]
        for r in bq_encode(emb, thresholds)
        .select("vec_id", "bq_words")
        .collect()
    }
    kern = {
        r["vec_id"]: r["bq_words"]
        for r in bq_encode_kernel(emb, thresholds)
        .select("vec_id", "bq_words")
        .collect()
    }
    assert ref == kern
    assert all(
        w is None or (len(w) == 2 and all(0 <= v < 2**32 for v in w))
        for w in kern.values()
    )


def test_encode_defect_contract(spark, thresholds):
    """Null / NaN / Inf elements -> NULL words; null / wrong-dim rows
    are excluded — the sq_encode geometry contract."""
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
    for enc in (bq_encode, bq_encode_kernel):
        rows = {
            r["vec_id"]: r["bq_words"] for r in enc(bad, thresholds).collect()
        }
        assert set(rows) == {1, 2, 5}
        assert rows[1] is None and rows[2] is None
        assert rows[5] is not None


def test_hamming_kernel_parity_with_declarative(spark, emb, thresholds,
                                                queries):
    """xor + popcount in numpy must equal the JVM bit_count fold on
    every (query, candidate) pair — exact integers, full equality."""
    codes = bq_encode_kernel(emb, thresholds).filter(
        F.col("bq_words").isNotNull() & (F.col("vec_id") < 100)
    )
    q = bq_encode(
        queries.select("query_id", F.col("query_emb").alias("__qe")),
        thresholds,
        emb_col="__qe",
        words_col="__qw",
    ).select("query_id", "__qw")
    cand = q.crossJoin(codes.select("vec_id", "bq_words"))
    ref = {
        (r.query_id, r.vec_id): r.h
        for r in cand.select(
            "query_id", "vec_id", hamming("__qw", "bq_words").alias("h")
        ).collect()
    }
    pairs = cand.collect()
    kern = dict(
        zip(
            [(r.query_id, r.vec_id) for r in pairs],
            vk.bq1_hamming(
                np.array([r["__qw"] for r in pairs], dtype=np.int64),
                np.array([r.bq_words for r in pairs], dtype=np.int64),
            ).tolist(),
        )
    )
    assert ref == kern
    assert all(0 <= h <= 64 for h in ref.values())
    # a vector is at distance 0 from itself
    assert ref[(0, 0)] == 0


def test_topk_contract_and_refine(emb, thresholds, queries):
    """Codes-only top-k ranks by (hamming asc, id); each query's own
    vector (hamming 0) must rank first. The refined variant re-scores
    exactly, so its sims equal the exact ranker's on shared pairs, and
    refine without vectors is a contract error."""
    from biodata_pipeline_spark.operators.similarity import brute_force_ann

    codes = bq_encode_kernel(emb, thresholds)
    got = bq_hamming_topk(queries, codes, thresholds, 10).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert len(rows) == 10
        # the query's own vector is at hamming 0, so rank 1 must be too
        # (it IS the own vector unless another h=0 vector has a lower id)
        assert rows[0].hamming == 0
        assert qid in {r.vec_id for r in rows if r.hamming == 0}
        hams = [r.hamming for r in rows]
        assert hams == sorted(hams)

    exact_sims = {
        (r.query_id, r.vec_id): r.sim
        for r in brute_force_ann(queries, bq_valid(emb), 10).collect()
    }
    refined = bq_hamming_topk(
        queries, codes, thresholds, 10, refine=8, vectors=emb
    ).collect()
    for r in refined:
        if (r.query_id, r.vec_id) in exact_sims:
            assert r.sim == exact_sims[(r.query_id, r.vec_id)]

    with pytest.raises(ValueError, match="requires vectors"):
        bq_hamming_topk(queries, codes, thresholds, 10, refine=8)


def test_refine_repairs_recall(emb, thresholds, queries):
    """1 bit/dim is the coarse end of the curve: the exact rescore of
    the top refine*k must recover at least as many exact top-10 pairs
    as the codes-only ranking (and strictly more on this corpus)."""
    from biodata_pipeline_spark.operators.similarity import brute_force_ann

    codes = bq_encode_kernel(emb, thresholds)
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_ann(queries, bq_valid(emb), 10).collect()
    }
    raw = {
        (r.query_id, r.vec_id)
        for r in bq_hamming_topk(queries, codes, thresholds, 10).collect()
    }
    refined = {
        (r.query_id, r.vec_id)
        for r in bq_hamming_topk(
            queries, codes, thresholds, 10, refine=8, vectors=emb
        ).collect()
    }
    assert len(refined & exact) >= len(raw & exact)
    assert len(refined & exact) / len(exact) >= 0.5


def test_fit_empty_input_raises(spark):
    with pytest.raises(ValueError, match="empty input"):
        bq_fit(
            spark.createDataFrame(
                [], "vec_id long, embedding array<double>"
            ),
            dim=4,
        )
    with pytest.raises(ValueError, match="not a multiple"):
        bq_encode(
            None, {"thr": [0.0] * 33}
        )
    # ADVICE r14: the Arrow kernel must fail identically — before the
    # guard it silently truncated the trailing dims (n_words = dim//32)
    with pytest.raises(ValueError, match="not a multiple"):
        bq_encode_kernel(
            None, {"thr": [0.0] * 33}
        )
