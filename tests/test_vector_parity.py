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


# --- one exact cosine across every exact entry point ----------------------
# X sits on a 9-dp rounding boundary: [X, Y, 0, 0] has norm exactly 1, so
# its cosine against [1, 0, 0, 0] is X itself, which the JVM rounds up
# (half-up on Double.toString) while half-even and Python's round (on the
# binary value) round down. Rows 1 and 2 scale row 0: by 2 the sim ties
# bit-exactly, by 3 only after rounding.
X = 0.1234567865
Y = math.sqrt(1.0 - X * X)
ONE_SIM_CORPUS = [
    [X, Y, 0.0, 0.0],
    [2 * X, 2 * Y, 0.0, 0.0],
    [3 * X, 3 * Y, 0.0, 0.0],
    [1.0, None, 0.5, 2.0],  # defective: no sim on any path
    [0.3, -1.7, 2.2, 0.9],
    [-0.6, 0.4, 1.3, -2.1],
    [1.9, 0.05, -0.8, 0.7],
]
ONE_SIM_QUERIES = [  # array<float>: every pair mixes float and double
    [1.0, 0.0, 0.0, 0.0],
    [0.1, -0.7, 0.3, 2.5],
    [3.0, 1.0, -2.0, 0.5],
]


def _sims(rows, key=("query_id", "vec_id")):
    """{(query, vector): sim bits} of the scored pairs."""
    return {
        tuple(r[c] for c in key): r["sim"].hex()
        for r in rows
        if r["sim"] is not None
    }


def test_one_sim_across_exact_entry_points(spark, tmp_path):
    """Every exact ranking returns the same sim bits for a pair: the
    cross scorer on both paths, the store's exact query on both paths,
    the refine re-rank, IVF with every cell probed, the similarity join,
    and an independent numpy ascending fold rounded in the JVM."""
    import numpy as np
    from pyspark.sql import functions as F

    from biodata_pipeline_spark.functions.vector import SIM_ROUND
    from biodata_pipeline_spark.operators.bq import exact_rerank
    from biodata_pipeline_spark.operators.similarity import (
        ivf_ann,
        similarity_join,
    )
    from biodata_pipeline_spark.sources.local import local_frame

    assert X * X + Y * Y == 1.0
    n, n_cells = len(ONE_SIM_CORPUS), 2
    cdf = local_frame(
        spark,
        list(enumerate(ONE_SIM_CORPUS)),
        "vec_id long, embedding array<double>",
    )
    qdf = local_frame(
        spark,
        list(enumerate(ONE_SIM_QUERIES)),
        "query_id long, query_emb array<float>",
    )
    clean = [i for i, v in enumerate(ONE_SIM_CORPUS) if None not in v]

    q = np.array(ONE_SIM_QUERIES, dtype=np.float32).astype(np.float64)
    c = np.array([ONE_SIM_CORPUS[i] for i in clean], dtype=np.float64)
    dots = np.zeros((len(q), len(c)))
    nq2, nc2 = np.zeros(len(q)), np.zeros(len(c))
    for i in range(DIM):
        dots += q[:, i][:, None] * c[:, i][None, :]
        nq2 += q[:, i] * q[:, i]
        nc2 += c[:, i] * c[:, i]
    raw = dots / (np.sqrt(nq2)[:, None] * np.sqrt(nc2)[None, :])
    want = _sims(
        local_frame(
            spark,
            [
                (qi, cid, float(raw[qi, j]))
                for qi in range(len(q))
                for j, cid in enumerate(clean)
            ],
            "query_id long, vec_id long, raw double",
        )
        .select("query_id", "vec_id", F.round("raw", SIM_ROUND).alias("sim"))
        .collect()
    )
    # the boundary is exercised: JVM half-up, not Python's binary round
    assert want[(0, 0)] == want[(0, 1)] == (0.123456787).hex()
    assert round(X, 9) != 0.123456787

    store = VectorIndexStore(str(tmp_path / "ivf"))
    store.build(cdf.filter(F.col("vec_id").isin(clean)), k=n_cells, iters=1)
    store.add(cdf.filter(~F.col("vec_id").isin(clean)), batch_id="defective")
    pairs = qdf.select("query_id").crossJoin(cdf.select("vec_id"))
    got = {
        "hof": cosine_top_k(qdf, cdf, k=n, salt_buckets=4),
        "kernel": cosine_top_k(qdf, cdf, k=n, salt_buckets=4, use_kernel=True),
        "store kernel": store.query(
            qdf, n, n_probe=n_cells, kernel_threshold=0, scoring="exact"
        ),
        "store hof": store.query(
            qdf, n, n_probe=n_cells, kernel_threshold=10**9, scoring="exact"
        ),
        "rerank": exact_rerank(pairs, qdf, cdf, n),
        "ivf": ivf_ann(
            qdf, cdf, n, n_cells=n_cells, n_probe=n_cells, dim=DIM
        ),
    }
    for name, df in got.items():
        assert _sims(df.collect()) == want, name
    joined = similarity_join(
        qdf.select(
            F.col("query_id").alias("vec_id"),
            F.col("query_emb").alias("embedding"),
        ),
        -2.0,
        other=cdf,
    )
    assert _sims(joined.collect(), ("id_a", "id_b")) == want


# --- PQ / SQ8 / BQ1 scorers: Arrow kernel stream == declarative stream -----
# The corpus reaches a scorer through its encoder (defective vectors code
# NULL or are excluded), and the queries ride as they come: a null query
# or a null element scores NULL on the declarative path and is dropped by
# the kernel's query collect; NaN / inf elements score on both paths.
BOOKS = [  # m=2 subspaces, k_sub=3: no codeword reconstructs to zero
    [[1.0, 0.25], [-0.5, 3.0], [0.25, 0.25]],
    [[3.0, -2.0], [0.25, 1.0], [-0.5, -0.5]],
]
CENTS = [[1.0, 1.0, 1.0, 1.0], [-2.0, 0.25, 3.0, -0.5]]  # residual cells
BOUNDS = {"vmin": [-2.0, -2.0, 0.25, -2.0], "vmax": [3.0, 3.0, 0.25, 3.0]}
THR = {"thr": [0.25] * 32}  # BQ1 packs 32-bit words: vectors tile 8×
CODES = settings(max_examples=6, deadline=None, derandomize=True)


def _bits(rows):
    """Rows as comparable tuples, floats by their exact bits."""
    return _norm(
        tuple(v.hex() if isinstance(v, float) and not math.isnan(v) else v
              for v in r)
        for r in rows
    )


def _score_streams(spark, rep, corpus, queries, k):
    """(declarative stream, kernel stream, declarative top-k, kernel
    top-k) of one representation; streams are (query_id, vec_id,
    score)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, StructField

    from biodata_pipeline_spark.operators import vector_kernels as vk
    from biodata_pipeline_spark.operators.bq import (
        approx_ranked,
        bq_encode_kernel,
        bq_hamming_topk,
        hamming,
    )
    from biodata_pipeline_spark.operators.pq import (
        pq_adc_scores,
        pq_adc_scores_kernel,
        pq_adc_topk,
        pq_encode_kernel,
        pq_residual_scores,
        pq_residual_scores_kernel,
        pq_residual_topk,
    )
    from biodata_pipeline_spark.operators.sq import (
        sq_encode_kernel,
        sq_scores,
        sq_scores_kernel,
        sq_topk,
    )
    from biodata_pipeline_spark.sources.local import local_frame

    tile = 8 if rep == "bq1" else 1
    cdf = local_frame(
        spark,
        [(i, None if v is None else v * tile, i % 2) for i, v in enumerate(corpus)],
        "vec_id long, embedding array<double>, cell int",
    )
    qdf = local_frame(
        spark,
        [(i, None if v is None else v * tile) for i, v in enumerate(queries)],
        "query_id long, query_emb array<double>",
    )
    if rep == "bq1":
        words = bq_encode_kernel(cdf, THR)
        pairs = (
            bq_encode_kernel(qdf, THR, emb_col="query_emb", words_col="__qw")
            .filter(F.col("__qw").isNotNull())
            .select("query_id", "__qw")
            .crossJoin(
                words.filter(F.col("bq_words").isNotNull())
                .select("vec_id", "bq_words")
            )
        )
        ref = pairs.select(
            "query_id", "vec_id", hamming("__qw", "bq_words").alias("hamming")
        )
        kern = vk.score_rows(
            pairs, "query_id", "vec_id", ["__qw", "bq_words"],
            lambda pdf: vk.bq1_hamming(
                vk.ints(pdf["__qw"]), vk.ints(pdf["bq_words"])
            ).astype("int32"),
            StructField("hamming", IntegerType()),
        )
        near = kern.select("query_id", "vec_id", (-F.col("hamming")).alias("h"))
        got = approx_ranked(near, "h", k).select(
            "query_id", "vec_id", "rank", (-F.col("h")).alias("hamming")
        )
        return ref, kern, bq_hamming_topk(qdf, words, THR, k), got
    if rep == "sq8":
        codes = sq_encode_kernel(cdf, BOUNDS)
        ref = sq_scores(qdf, codes, BOUNDS)
        kern = sq_scores_kernel(qdf, codes, BOUNDS)
        got = sq_topk(qdf, codes, BOUNDS, k)
    elif rep == "adc":
        codes = pq_encode_kernel(cdf, BOOKS)
        ref = pq_adc_scores(qdf, codes, BOOKS)
        kern = pq_adc_scores_kernel(qdf, codes, BOOKS)
        got = pq_adc_topk(qdf, codes, BOOKS, k)
    else:
        codes = pq_encode_kernel(cdf, BOOKS, centroids=CENTS)
        ref = pq_residual_scores(qdf, codes, BOOKS, CENTS)
        kern = pq_residual_scores_kernel(qdf, codes, BOOKS, CENTS)
        got = pq_residual_topk(qdf, codes, BOOKS, CENTS, k)
    score = ref.columns[2]
    want = approx_ranked(
        ref.filter(F.col(score).isNotNull()), score, k
    ).withColumnRenamed(score, "sim")
    return ref, kern, want, got


@pytest.mark.parametrize("rep", ["adc", "residual", "sq8", "bq1"])
@CODES
@given(
    corpus=CORPUS,
    queries=st.lists(QUERY, min_size=1, max_size=3),
    k=st.integers(1, 5),
)
@example(  # fewer valid rows than k, one query of each defect class
    corpus=[[1.0, 0.25, -0.5, 3.0], None, [1.0, 1.0, 1.0], [3.0, NAN, 1.0, 1.0]],
    queries=[[1.0, 1.0, 1.0, 1.0], [None, 1.0, 1.0, 1.0], [INF, 1.0, 1.0, 1.0]],
    k=4,
)
def test_code_scorer_kernel_equals_declarative_on_defects(
    spark, rep, corpus, queries, k
):
    ref, kern, want, got = _score_streams(spark, rep, corpus, queries, k)
    ref_rows = ref.collect()
    unscorable = {
        i for i, q in enumerate(queries) if q is None or None in q
    }
    # a NULL declarative score marks exactly the kernel's dropped queries
    assert all((r[2] is None) == (r[0] in unscorable) for r in ref_rows)
    assert _bits(r for r in ref_rows if r[2] is not None) == _bits(
        kern.collect()
    )
    assert _bits(want.collect()) == _bits(got.collect())


def test_kernel_closure_runs_without_the_package_on_the_path(tmp_path):
    """A kernel closure over ``vector_kernels`` carries the module by
    value, so a Python worker whose ``sys.path`` lacks the repo root
    (any worker started outside it) unpickles and runs it. A
    package import left in the module's dict pickles by reference and
    fails there with ``ModuleNotFoundError``."""
    import os
    import subprocess
    import sys

    import numpy as np
    from pyspark import cloudpickle

    from biodata_pipeline_spark.operators import vector_kernels as vk

    def closure():
        return vk.fold_rows(np.ones((2, 3)), np.full((2, 3), 2.0)).tolist()

    blob = tmp_path / "closure.pkl"
    blob.write_bytes(cloudpickle.dumps(closure))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    probe = (
        "import importlib.util, pickle, sys\n"
        "assert importlib.util.find_spec('biodata_pipeline_spark') is None\n"
        "fn = pickle.loads(open(sys.argv[1], 'rb').read())\n"
        "print(fn())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe, str(blob)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == str(closure())
