"""Kernel vs HOF parity on DEFECTIVE vectors: the Arrow kernel and the
JVM higher-order-function fold must return the same rows when the
corpus (or the query set) holds null vectors, wrong-dimension vectors,
null / NaN / infinite elements, all-tie scores, or fewer than k
scorable rows (the ``vector_kernels`` parity policy). Zero-norm
vectors are outside the contract (no cosine: the HOF fold raises ANSI
DIVIDE_BY_ZERO), so every generated element is non-zero."""

from __future__ import annotations

import math

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from biodata_pipeline_spark.functions.textfn import boundary_pattern
from biodata_pipeline_spark.operators.ann_store import VectorIndexStore
from biodata_pipeline_spark.operators.retrieval import (
    cosine_top_k,
    retrieval_rank_metrics,
)

DIM = 4
NAN, INF = float("nan"), float("inf")
# few distinct non-zero values: ties (equal cosines) are common
ELEMS = st.sampled_from([-2.0, -0.5, 0.25, 1.0, 3.0])


def vectors(dim=DIM):
    return st.lists(ELEMS, min_size=dim, max_size=dim)


def _with_first(v, x):
    return [x] + v[1:]


DEFECTIVE = st.one_of(
    st.none(),
    vectors(DIM - 1),
    vectors(DIM + 1),
    vectors().map(lambda v: _with_first(v, None)),
    st.tuples(vectors(), st.sampled_from([NAN, INF, -INF])).map(
        lambda t: _with_first(*t)
    ),
)
ROWS = st.lists(st.one_of(vectors(), vectors(), DEFECTIVE), min_size=1, max_size=8)
# all-tie corpora: one vector repeated, so every score ties on id
TIES = st.tuples(vectors(), st.integers(1, 6)).map(lambda t: [t[0]] * t[1])
CORPUS = st.one_of(ROWS, TIES)
QUERY = st.one_of(
    vectors(),
    vectors(),
    st.none(),
    vectors().map(lambda v: _with_first(v, None)),
    st.tuples(vectors(), st.sampled_from([NAN, INF])).map(lambda t: _with_first(*t)),
)

PARITY = settings(max_examples=8, deadline=None, derandomize=True)


def _norm(rows):
    """Rows as comparable tuples: NaN never equals itself."""
    return sorted(
        (
            tuple(
                "nan" if isinstance(v, float) and math.isnan(v) else v
                for v in r
            )
            for r in rows
        ),
        key=repr,
    )


@PARITY
@given(
    corpus=CORPUS,
    queries=st.lists(QUERY, min_size=1, max_size=3),
    k=st.integers(1, 5),
)
@example(  # one query, 4 chunks: one null, one of the wrong dimension
    corpus=[[1.0, 0.25, -0.5, 3.0], None, [1.0, 1.0, 1.0], [3.0, 1.0, 1.0, 0.25]],
    queries=[[1.0, 1.0, 1.0, 1.0]],
    k=4,
)
def test_cosine_top_k_kernel_equals_hof_on_defects(spark, corpus, queries, k):
    cdf = spark.createDataFrame(
        list(enumerate(corpus)), "vec_id long, embedding array<double>"
    )
    qdf = spark.createDataFrame(
        list(enumerate(queries)), "query_id long, query_emb array<double>"
    )
    hof = cosine_top_k(qdf, cdf, k=k, salt_buckets=4).collect()
    kern = cosine_top_k(qdf, cdf, k=k, salt_buckets=4, use_kernel=True).collect()
    assert _norm(hof) == _norm(kern)


WORDS = ["alpha", "beta", "gamma"]
TEXTS = st.sampled_from(["alpha beta", "beta", "gamma alpha", "betas", ""])


@PARITY
@given(
    corpus=CORPUS,
    texts=st.lists(TEXTS, min_size=8, max_size=8),
    terms=st.lists(st.sampled_from(WORDS), min_size=1, max_size=3, unique=True),
    qvecs=st.lists(QUERY, min_size=3, max_size=3),
)
@example(
    corpus=[[1.0, 0.25, -0.5, 3.0], None, [1.0, 1.0, 1.0], [3.0, 1.0, 1.0, 0.25]],
    texts=["alpha beta", "alpha", "beta", "gamma alpha"] + [""] * 4,
    terms=["alpha"],
    qvecs=[[1.0, 1.0, 1.0, 1.0]] * 3,
)
def test_rank_metrics_kernel_equals_hof_on_defects(
    spark, corpus, texts, terms, qvecs
):
    chunks = spark.createDataFrame(
        [(i, texts[i], v) for i, v in enumerate(corpus)],
        "chunk_uid long, chunk_text string, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(t, boundary_pattern(t), qvecs[i]) for i, t in enumerate(terms)],
        "term string, pattern string, query_emb array<double>",
    )
    hof = retrieval_rank_metrics(queries, chunks).collect()
    kern = retrieval_rank_metrics(queries, chunks, kernel_threshold=0).collect()
    assert _norm(hof) == _norm(kern)


@pytest.fixture(scope="module")
def defect_store(spark, tmp_path_factory):
    """An 8-dim index whose stored rows include a wrong-dimension add and
    a batch of null / non-finite-element vectors."""
    import random

    rng = random.Random(3)
    store = VectorIndexStore(str(tmp_path_factory.mktemp("defects") / "ivf"))
    base = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    schema = "vec_id long, embedding array<double>"
    store.build(spark.createDataFrame(base, schema), k=4, iters=1)
    store.add(
        spark.createDataFrame([(100 + i, v[:6]) for i, v in base[:5]], schema),
        batch_id="short",
    )
    store.add(
        spark.createDataFrame(
            [(200, [1.0] * 7 + [None]), (201, [NAN] * 8), (202, None)], schema
        ),
        batch_id="broken",
    )
    return store


STORE_QUERY = st.one_of(
    vectors(8),
    vectors(8),
    vectors(6),
    st.none(),
    vectors(8).map(lambda v: _with_first(v, None)),
    st.tuples(vectors(8), st.sampled_from([NAN, INF])).map(
        lambda t: _with_first(*t)
    ),
)


@PARITY
@given(queries=st.lists(STORE_QUERY, min_size=1, max_size=3), k=st.integers(1, 60))
def test_store_exact_query_kernel_equals_hof_on_defects(
    spark, defect_store, queries, k
):
    qdf = spark.createDataFrame(
        list(enumerate(queries)), "query_id long, query_emb array<double>"
    )
    hof = defect_store.query(qdf, k, n_probe=4).collect()
    kern = defect_store.query(qdf, k, n_probe=4, kernel_threshold=0).collect()
    assert _norm(hof) == _norm(kern)
