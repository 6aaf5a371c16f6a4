"""Product quantization (operators/pq.py): fit determinism, encode /
ADC path parity, refine semantics, defect contracts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biodata_pipeline_spark.operators.pq import (
    PQ_KSUB,
    PQ_M,
    pq_adc_scores,
    pq_adc_scores_kernel,
    pq_adc_topk,
    pq_decode,
    pq_encode_kernel,
    pq_encode_ref,
    pq_fit,
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
def books(emb):
    return pq_fit(emb)


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_emb"),
    )


def test_fit_shape_and_determinism(emb, books):
    assert len(books) == PQ_M
    assert all(len(cb) == PQ_KSUB for cb in books)
    sd = 64 // PQ_M
    assert all(len(row) == sd for cb in books for row in cb)
    assert pq_fit(emb) == books  # exact float equality: no RNG


def test_fit_train_sample_bounds_the_scan(emb, books):
    """A full-corpus sample is the identity; a smaller one still yields
    well-formed codebooks (quality, not shape, is what shrinks)."""
    full = pq_fit(emb, train_sample=10**9)
    assert full == books
    small = pq_fit(emb, train_sample=100)
    assert len(small) == PQ_M and all(len(cb) == PQ_KSUB for cb in small)
    assert small != books  # different training set -> different books


def test_encode_paths_decision_identical(emb, books):
    ref = pq_encode_ref(emb, books).select("vec_id", "codes")
    ker = pq_encode_kernel(emb, books).select("vec_id", "codes")
    joined = ref.withColumnRenamed("codes", "c_ref").join(
        ker.withColumnRenamed("codes", "c_ker"), "vec_id"
    )
    n = emb.count()
    assert joined.count() == n
    assert joined.filter(F.col("c_ref") != F.col("c_ker")).count() == 0
    rng = joined.select(
        F.min(F.array_min("c_ker")).alias("lo"),
        F.max(F.array_max("c_ker")).alias("hi"),
    ).first()
    assert rng["lo"] >= 0 and rng["hi"] < PQ_KSUB


def test_encode_paths_decision_identical_on_defective_rows(spark, books):
    """Parity holds on DIRTY input too (r12 advice): a NaN / Inf / null
    element must yield NULL codes on BOTH paths — without the explicit
    defective-row gate, the declarative argmin over an all-NaN distance
    array would pick an arbitrary code under Spark's NaN=NaN ordering
    while the kernel emits NULL."""
    ok = [float(i % 7 - 3) for i in range(64)]
    rows = [
        (1, ok),
        (2, ok[:1] + [float("nan")] + ok[2:]),
        (3, ok[:5] + [None] + ok[6:]),
        (4, ok[:63] + [float("inf")]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ref = {
        r["vec_id"]: r["codes"]
        for r in pq_encode_ref(df, books).collect()
    }
    ker = {
        r["vec_id"]: r["codes"]
        for r in pq_encode_kernel(df, books).collect()
    }
    assert set(ref) == set(ker) == {1, 2, 3, 4}
    assert ref == ker
    assert ref[1] is not None
    assert ref[2] is None and ref[3] is None and ref[4] is None


def test_encode_defective_elements_null_codes(spark, books):
    """Null / non-finite ELEMENTS -> NULL codes entry; null or
    wrong-length vectors are excluded (the geometry contract)."""
    ok = [float(i % 7 - 3) for i in range(64)]
    bad_nan = ok[:1] + [float("nan")] + ok[2:]
    bad_null = ok[:5] + [None] + ok[6:]
    df = spark.createDataFrame(
        [
            (1, ok),
            (2, bad_nan),
            (3, bad_null),
            (4, None),
            (5, ok[:32]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r["codes"]
        for r in pq_encode_kernel(df, books).collect()
    }
    assert set(out) == {1, 2, 3}  # null / wrong-dim rows excluded
    assert out[1] is not None and len(out[1]) == PQ_M
    assert out[2] is None and out[3] is None


def test_adc_score_paths_bit_equal(emb, books, queries):
    codes = pq_encode_kernel(emb, books)
    a = pq_adc_scores(queries, codes, books).withColumnRenamed(
        "sim_adc", "a"
    )
    b = pq_adc_scores_kernel(queries, codes, books).withColumnRenamed(
        "sim_adc", "b"
    )
    j = a.join(b, ["query_id", "vec_id"])
    assert j.count() == queries.count() * emb.count()
    # bit-equal by construction: both sides run the identical
    # subspace-grouped IEEE-754 fold (see operators/pq.py)
    assert j.filter(F.col("a") != F.col("b")).count() == 0


def test_decode_reconstructs_codebook_rows(spark, emb, books):
    codes = pq_encode_kernel(emb.limit(20), books)
    dec = codes.select(
        "vec_id", "codes", pq_decode("codes", books).alias("dec")
    ).collect()
    sd = 64 // PQ_M
    for r in dec:
        assert len(r["dec"]) == 64
        for j, code in enumerate(r["codes"]):
            assert r["dec"][j * sd:(j + 1) * sd] == pytest.approx(
                books[j][code], abs=0.0
            )


def test_topk_contract_and_refine_recall(emb, books, queries):
    """Both variants return dense ranks 1..k per query; exact-refined
    recall@k against brute-force ground truth is >= the codes-only
    ADC recall (the refine contract)."""
    from biodata_pipeline_spark.operators.retrieval import cosine_top_k

    codes = pq_encode_kernel(emb, books)
    k = 10
    exact = cosine_top_k(queries, emb, k).select("query_id", "vec_id")
    n_truth = exact.count()
    recalls = {}
    for name, kwargs in (
        ("adc", {}),
        ("refined", {"refine": 4, "vectors": emb}),
    ):
        got = pq_adc_topk(queries, codes, books, k, **kwargs)
        ranks = (
            got.groupBy("query_id")
            .agg(
                F.count("*").alias("n"),
                F.min("rank").alias("lo"),
                F.max("rank").alias("hi"),
            )
            .collect()
        )
        assert all(r["n"] == k and r["lo"] == 1 and r["hi"] == k for r in ranks)
        hits = exact.join(
            got.select("query_id", "vec_id"), ["query_id", "vec_id"]
        ).count()
        recalls[name] = hits / n_truth
    assert recalls["refined"] >= recalls["adc"]
    # every query's own vector has sim 1.0 -> always retrieved at rank 1
    self_hits = pq_adc_topk(
        queries, codes, books, k, refine=4, vectors=emb
    ).filter((F.col("query_id") == F.col("vec_id")) & (F.col("rank") == 1))
    assert self_hits.count() == queries.count()


def test_topk_kernel_vs_declarative_identical(emb, books, queries):
    """The LUT kernel stream equals the declarative reference pair by
    pair (same pairs, same sims), so ``pq_adc_topk`` — which ranks the
    kernel stream — returns the reference stream's top-k."""
    from biodata_pipeline_spark.operators.bq import approx_ranked

    codes = pq_encode_kernel(emb, books)
    ref = pq_adc_scores(queries, codes, books)
    kern = pq_adc_scores_kernel(queries, codes, books)
    assert sorted(map(tuple, ref.collect())) == sorted(
        map(tuple, kern.collect())
    )
    want = approx_ranked(ref, "sim_adc", 10).withColumnRenamed(
        "sim_adc", "sim"
    )
    got = pq_adc_topk(queries, codes, books, 10)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_refine_requires_vectors(emb, books, queries):
    codes = pq_encode_kernel(emb, books)
    with pytest.raises(ValueError, match="requires vectors"):
        pq_adc_topk(queries, codes, books, 10, refine=2)


def test_fit_rejects_indivisible_dim(emb):
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit(emb, m=5, dim=64)


def test_registry_empty_fallback(spark, tmp_path):
    """An empty corpus slice yields the production schema, not a crash
    (the _empty_fallback contract all fit-bearing queries share)."""
    import pyarrow as pa
    import pyarrow.parquet as pw

    from biodata_pipeline_spark.registry.vector import q_pq_codes

    sf = tmp_path / "sf_empty"
    sf.mkdir()
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    pw.write_table(schema.empty_table(), sf / "embeddings.parquet")
    out = q_pq_codes(spark, str(sf))
    assert out.count() == 0
    assert out.columns == ["vec_id"] + [f"code{j}" for j in range(PQ_M)]


# --- residual IVF-PQ (round 13) ------------------------------------------


@pytest.fixture(scope="module")
def residual_state(spark, emb):
    """(centroids, codes-with-cell, residual-trained books) over the
    test corpus — the residual pipeline every residual test shares."""
    from biodata_pipeline_spark.operators.kmeans import (
        assign_clusters_kernel,
        kmeans_fit,
    )
    from biodata_pipeline_spark.operators.pq import _minus_centroid

    cents = kmeans_fit(emb, 4, 1, "vec_id", "embedding")
    assigned = assign_clusters_kernel(emb, cents).select(
        "vec_id", "embedding", F.col("cluster").alias("cell")
    )
    resid = _minus_centroid(assigned, cents, "embedding")
    books = pq_fit(resid, emb_col="__rvec")
    codes = (
        pq_encode_kernel(resid, books, emb_col="__rvec")
        .select("vec_id", "cell", "codes")
        .localCheckpoint()
    )
    return cents, codes, books


def test_residual_scores_paths_bit_equal(emb, queries, residual_state):
    from biodata_pipeline_spark.operators.pq import (
        pq_residual_scores,
        pq_residual_scores_kernel,
    )

    cents, codes, books = residual_state
    a = pq_residual_scores(queries, codes, books, cents).withColumnRenamed(
        "sim_adc", "a"
    )
    b = pq_residual_scores_kernel(
        queries, codes, books, cents
    ).withColumnRenamed("sim_adc", "b")
    j = a.join(b, ["query_id", "vec_id"])
    assert j.count() == queries.count() * emb.count()
    # bit-equal by construction: both sides run the identical grouped
    # IEEE-754 sequence (qc + subspace dots; cn + 2·cross + row norms)
    assert j.filter(F.col("a") != F.col("b")).count() == 0


def test_residual_topk_contract_and_refine(emb, queries, residual_state):
    """Dense ranks 1..k; exact-refined recall >= codes-only recall; and
    the residual representation beats raw-corpus PQ at equal budget on
    this clustered-by-cells corpus slice (the reason residual encoding
    exists)."""
    from biodata_pipeline_spark.operators.retrieval import cosine_top_k
    from biodata_pipeline_spark.operators.pq import (
        pq_adc_topk,
        pq_residual_topk,
    )

    cents, codes, books = residual_state
    k = 10
    truth = {
        (r["query_id"], r["vec_id"])
        for r in cosine_top_k(queries, emb, k).collect()
    }

    def recall(df):
        got = {(r["query_id"], r["vec_id"]) for r in df.collect()}
        return len(got & truth) / len(truth)

    adc = pq_residual_topk(queries, codes, books, cents, k)
    ranks = adc.groupBy("query_id").agg(
        F.count("*").alias("n"), F.max("rank").alias("mx")
    )
    assert ranks.filter((F.col("n") != k) | (F.col("mx") != k)).count() == 0
    r_adc = recall(adc)
    r_ref = recall(
        pq_residual_topk(
            queries, codes, books, cents, k,
            refine=4, vectors=emb,
        )
    )
    assert r_ref >= r_adc

    raw_books = pq_fit(emb)
    raw_codes = pq_encode_kernel(emb, raw_books)
    r_raw = recall(
        pq_adc_topk(queries, raw_codes, raw_books, k)
    )
    assert r_adc >= r_raw


def test_fused_residual_encode_bit_identical(emb, residual_state):
    """pq_encode_kernel(centroids=...) fuses the residual subtraction
    into the numpy pass — codes must equal the materialized
    _minus_centroid + encode route exactly (both paths perform the
    identical correctly-rounded float64 subtraction on the identical
    operands, so 'decision-identical' here is full equality)."""
    from biodata_pipeline_spark.operators.kmeans import (
        assign_clusters_kernel,
    )

    cents, codes_want, books = residual_state
    assigned = assign_clusters_kernel(emb, cents).select(
        "vec_id", "embedding", F.col("cluster").alias("cell")
    )
    fused = pq_encode_kernel(
        assigned, books, centroids=cents
    ).select("vec_id", F.col("codes").alias("c_fused"))
    j = codes_want.withColumnRenamed("codes", "c_ref").join(
        fused, "vec_id"
    )
    assert j.count() == emb.count()
    assert j.filter(F.col("c_ref") != F.col("c_fused")).count() == 0


def test_residual_decode_reconstructs(spark, residual_state):
    """x̂ = centroid[cell] + codeword rows, elementwise exact."""
    from biodata_pipeline_spark.operators.pq import pq_residual_decode

    cents, codes, books = residual_state
    sd = 64 // len(books)
    rows = codes.limit(10).select(
        "vec_id", "cell", "codes",
        pq_residual_decode("codes", "cell", books, cents).alias("dec"),
    ).collect()
    for r in rows:
        assert len(r["dec"]) == 64
        for j, code in enumerate(r["codes"]):
            for i in range(sd):
                want = cents[r["cell"]][j * sd + i] + books[j][code][i]
                assert r["dec"][j * sd + i] == want  # exact IEEE add
