"""Retrieval: cosine top-k + retrieval-rank metrics (the flagship).

The reference scores every query against the *entire* chunk corpus
(k = corpus size), walks the ranked list collecting 1-based positions of
regex matches, takes the first hit, assigns a sentinel rank (= corpus
size) to queries with no match, and averages
(rag_evaluation/RAG-eval-test_model.py:123-153,247-248).

Spark-first design:
 - queries are tiny → ``broadcast`` them; the corpus side never shuffles
   during scoring (BroadcastNestedLoopJoin over a map-side cross product).
 - ranking uses a **two-phase top-k**: a salted local window prunes each
   scored partition to its local top-k, then a single global window ranks
   the survivors. At 1000 executors the full |Q|×|C| score stream is never
   shuffled into |Q| partitions — only |salts|×k rows per query are.
 - ties broken on rounded similarity then ids, so ranks are deterministic
   and oracle-checkable.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from biodata_pipeline_spark.functions.vector import SIM_ROUND, cosine_sim, l2_norm
from biodata_pipeline_spark.operators import vector_kernels as vk
from biodata_pipeline_spark.operators.bq import approx_ranked
from biodata_pipeline_spark.sources.local import local_frame

# Driver-collect bound for the kernel path's query set (the reference's
# test-pair TSVs are tens of rows; RAG-eval-test_model.py:123-128).
MAX_QUERY_ROWS = vk.MAX_QUERY_ROWS


def _scored(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_emb: str,
    corpus_emb: str,
    kernel: bool,
    max_query_rows: int,
    who: str,
    pattern_col: str | None = None,
    corpus_text: str | None = None,
) -> DataFrame:
    """``(query_id, corpus_id, sim[, __is_match])`` for every (query,
    corpus row) pair — the one cross scorer of the exact rankings.

    ``kernel=False`` is the all-JVM path: a broadcast cross join with
    each side's norm computed once (n norms, not n×q) and
    ``cosine_sim`` per pair — inside codegen, no driver collect, no
    Python worker. A pair the fold cannot score gets a NULL sim.

    ``kernel=True`` scores with the Arrow exact-cosine kernel —
    bit-identical to the JVM path (the ``vector_kernels`` parity policy;
    sims rounded JVM-side). The queries are collected driver-side under
    ``max_query_rows``; only ``scorable`` corpus rows are scored, the
    rows the JVM fold scores NULL. The kernel emits one flat ``(cid,
    qidx, raw)`` row per pair — every column scalar, on Arrow's
    vectorized path (an array<double> of sims per corpus row,
    posexploded JVM-side, fell off it and measured the whole audit
    1.5-2× slower at 8 cores).

    With ``pattern_col``/``corpus_text`` each pair also carries
    ``__is_match``: the query's word-boundary regex against the corpus
    text, in the JVM on both paths (Java regex semantics). On the kernel
    path each corpus row carries the indices of the query patterns its
    text matches, and the kernel expands them into the pair's flag."""
    extra = (pattern_col,) if pattern_col else ()
    if not kernel:
        q = queries.select(
            query_id, *extra, query_emb, l2_norm(query_emb).alias("__nq")
        )
        c = corpus.withColumn("__nc", l2_norm(corpus_emb))
        return c.crossJoin(F.broadcast(q)).select(
            F.col(query_id),
            F.col(corpus_id),
            cosine_sim(query_emb, corpus_emb, "__nq", "__nc").alias("sim"),
            *(
                [F.regexp_like(corpus_text, pattern_col).alias("__is_match")]
                if pattern_col
                else []
            ),
        )
    qs = vk.collect_queries(
        queries, query_id, query_emb, extra, max_rows=max_query_rows, who=who
    )
    nq = len(qs.rows)
    cols = [F.col(corpus_id).alias("__cid"), F.col(corpus_emb).alias("__emb")]
    out = [StructField("__raw", DoubleType())]
    if pattern_col:
        text = F.col(corpus_text)
        pats = F.array(*[F.lit(r[pattern_col]) for r in qs.rows] or [F.lit("")])
        cols.append(
            F.filter(
                F.transform(pats, lambda p, i: F.when(F.regexp_like(text, p), i)),
                lambda i: i.isNotNull(),
            ).alias("__mq")
        )
        out.append(StructField("__is_match", BooleanType()))

    def score(pdf):
        emb = vk.matrix(pdf["__emb"])
        res = {"__raw": vk.exact(qs.mat, qs.norms, emb, cross=True)}
        if pattern_col:
            hits = pdf["__mq"]
            lens = hits.map(len).to_numpy()
            res["__is_match"] = np.zeros((nq, len(pdf)), dtype=bool)
            if lens.any():
                res["__is_match"][
                    np.concatenate(hits.tolist()).astype(np.int64),
                    np.repeat(np.arange(len(pdf)), lens),
                ] = True
        return res

    stored = vk.scorable(corpus, corpus_emb, qs.mat.shape[1]).select(*cols)
    stream = vk.score_cross(
        stored, "__cid", StructField("__qidx", LongType()), np.arange(nq),
        score, out,
    )
    qmeta = local_frame(
        queries.sparkSession,
        [(i, r[query_id], *(r[c] for c in extra)) for i, r in enumerate(qs.rows)],
        StructType(
            [StructField("__qidx", LongType())]
            + [queries.schema[c] for c in (query_id, *extra)]
        ),
    )
    return stream.join(F.broadcast(qmeta), "__qidx").select(
        F.col(query_id),
        F.col("__cid").alias(corpus_id),
        F.round("__raw", SIM_ROUND).alias("sim"),
        *(["__is_match"] if pattern_col else []),
    )


def cosine_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_emb: str = "query_emb",
    corpus_emb: str = "embedding",
    salt_buckets: int = 64,
    use_kernel: bool = False,
) -> DataFrame:
    """Exact top-k by cosine similarity, scalable two-phase ranking.

    Output: ``query_id, corpus_id, rank, sim`` with rank 1..k per query.
    Ordering: round(sim, 9) DESC, corpus_id ASC (deterministic).

    ``use_kernel`` (OPTIMIZATION r15, guide §4.2): score the |Q|×|C|
    stream with the Arrow numpy kernel instead of the interpreted HOF
    fold — bit-identical sims (``_scored``), rank phases unchanged.
    Callers that know the corpus size (the audits' memoized universe
    count) switch it on above ``KERNEL_CORPUS_THRESHOLD``; ``False``
    (default) keeps the zero-overhead HOF path for small callers
    (q24's 5-query set)."""
    # Spread the corpus before the broadcast cross join: a compact scan can
    # arrive as one partition, which would serialize |Q|×|C| scoring work.
    scored = _scored(
        queries,
        corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism),
        query_id, corpus_id, query_emb, corpus_emb,
        use_kernel, MAX_QUERY_ROWS, "cosine_top_k kernel path",
    )
    # Phase 1: local top-k within salt buckets (map-side pruning of the
    # scored stream; the global shuffle only carries salt_buckets*k rows/query).
    salted = scored.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(corpus_id)), F.lit(salt_buckets))
    )
    local_w = Window.partitionBy(query_id, "__salt").orderBy(
        F.col("sim").desc(), F.col(corpus_id).asc()
    )
    survivors = (
        salted.withColumn("__lr", F.row_number().over(local_w))
        .filter(F.col("__lr") <= k)
        .drop("__lr", "__salt")
    )
    # Phase 2: exact global rank over the pruned candidates. A NULL sim
    # is a pair the fold cannot score (the module policy of
    # vector_kernels): it ranks after every scored pair, so dropping it
    # here equals dropping the ``scorable`` rows before ranking.
    return approx_ranked(survivors, "sim", k, query_id, corpus_id).filter(
        F.col("sim").isNotNull()
    )


SIM_BUCKETS = 1024  # coarse sim partitioning for the distributed rank
# Corpus size at which scoring switches from the JVM HOF expression to
# the Arrow numpy kernel: the kernel's fixed cost (driver query-collect +
# Arrow worker spin-up, ~0.7 s) only pays for itself once the per-pair
# interpreted fold dominates (measured crossover well under this bound;
# at the 100× probe the kernel is 5× faster, at sf0.1 the HOF path is
# ~0.7 s faster). The same observed-size strategy switch as
# retrieve_top_k_auto / AQE join selection.
KERNEL_CORPUS_THRESHOLD = 100_000


def retrieval_rank_metrics(
    queries: DataFrame,
    chunks: DataFrame,
    query_id: str = "term",
    pattern_col: str = "pattern",
    query_emb: str = "query_emb",
    chunk_id: str = "chunk_uid",
    chunk_text: str = "chunk_text",
    chunk_emb: str = "embedding",
    kernel_threshold: int = KERNEL_CORPUS_THRESHOLD,
    max_query_rows: int = MAX_QUERY_ROWS,
) -> DataFrame:
    """Per-query retrieval-rank detail (the reference's VectorTest).

    For each query: rank all chunks by cosine sim, find word-boundary regex
    matches of the query pattern in chunk text, and report::

        term, n_matches, first_hit_rank, sum_match_rank, avg_match_rank

    No-match queries get the sentinel rank = corpus size
    (RAG-eval-test_model.py:145-147 — never silently dropped). All metrics
    derive from integer rank sums (exact in float64), so values are
    bit-identical across engines with no rounding needed.

    Scale design — **no per-query global window, and the scored stream is
    never shuffled whole**. A matched chunk's rank in the (sim DESC,
    chunk_id ASC) total order is ``1 + #chunks ordered above it``; split
    that count at the boundary of ``SIM_BUCKETS`` coarse sim buckets:

    1. score map-side (broadcast queries; the corpus never shuffles here);
    2. ``#chunks in strictly-higher buckets``: a per-(query, bucket)
       count with map-side partial aggregation — only |Q|×1024 total
       rows enter the shuffle, then a running sum per query;
    3. ``position within its own bucket``: ``row_number`` over
       (query, bucket) — but only for buckets that CONTAIN a match. The
       distinct (query, bucket) match set is ≤ |Q|×SIM_BUCKETS rows *by
       construction*, so it is always broadcastable, and the windowed
       subset is only those buckets' rows (worst case — every bucket
       matched — degrades to one full-stream shuffle, i.e. never worse
       than ranking everything);
    4. ``rank = above_buckets + row_number`` for matched rows, then a
       plain groupBy.

    The scored stream is persisted once (three consumers: bucket totals,
    matched-bucket set, within-bucket ranking). Degenerate sim
    distributions where one bucket holds most of a query's corpus would
    re-concentrate that bucket's window partition; with 9-dp-rounded real
    embeddings the 1024 buckets stay balanced.

    Scoring switches on observed corpus size (``kernel_threshold``).
    Large corpora use the Arrow exact-cosine kernel (``_scored``):
    the query embeddings — bounded by the enforced ``max_query_rows``
    gate — are collected driver-side, and the kernel emits one flat
    (query, chunk) row per pair; rounding and the regex match stay
    JVM-side. Small corpora keep the
    all-JVM HOF expression — no driver collect, no Arrow spin-up (~0.7 s
    fixed cost the kernel can't amortize at bench scale). The kernel
    accumulates dimension-by-dimension in ascending order — the
    identical IEEE-754 fold the HOF path uses, so sims are bit-equal
    on both paths (IEEE multiplication is commutative, so nq·nc is too;
    parity-pinned in tests) and the oracle hash is path-independent.
    """
    from biodata_pipeline_spark.operators.caching import register_cached

    # Strategy pick on the observed corpus size — one cheap count that
    # also warms ``chunks``'s cache when the caller persisted it (the
    # flagship does; its downstream consumer reuses the result). The
    # same number IS the no-match sentinel (reference: rank = corpus
    # size), so it enters the plan as a literal instead of a second
    # count(*) aggregate subtree.
    n_corpus = chunks.count()
    corpus = chunks.repartition(
        chunks.sparkSession.sparkContext.defaultParallelism
    )
    scored_base = _scored(
        queries, corpus, query_id, chunk_id, query_emb, chunk_emb,
        n_corpus > kernel_threshold, max_query_rows, "retrieval_rank_metrics",
        pattern_col, chunk_text,
    )
    # A NULL sim (a pair the HOF fold cannot score; the kernel never
    # emits one) gets a NULL bucket, which no rank count or match join
    # reaches: the HOF path then ranks exactly the kernel's rows.
    bucket = F.when(
        F.col("sim").isNotNull(),
        F.least(
            F.greatest(
                F.floor((F.col("sim") + 1) * (SIM_BUCKETS / 2)), F.lit(0)
            ),
            F.lit(SIM_BUCKETS - 1),
        ).cast("int"),
    )
    scored = register_cached(
        scored_base.withColumn("__bucket", bucket).persist()
    )
    btot = scored.groupBy(query_id, "__bucket").agg(F.count("*").alias("__bcnt"))
    w_above = (
        Window.partitionBy(query_id)
        .orderBy(F.col("__bucket").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    btot = btot.withColumn(
        "__above", F.coalesce(F.sum("__bcnt").over(w_above), F.lit(0))
    ).drop("__bcnt")
    match_buckets = (
        scored.filter(F.col("__is_match")).select(query_id, "__bucket").distinct()
    )
    in_matched = scored.join(F.broadcast(match_buckets), [query_id, "__bucket"])
    w_in = Window.partitionBy(query_id, "__bucket").orderBy(
        F.col("sim").desc(), F.col(chunk_id).asc()
    )
    matched = (
        in_matched.withColumn("__rn", F.row_number().over(w_in))
        .filter(F.col("__is_match"))
        .join(F.broadcast(btot), [query_id, "__bucket"])
        .withColumn("rank", (F.col("__above") + F.col("__rn")).cast("long"))
    )
    per_query = matched.groupBy(query_id).agg(
        F.count("*").alias("n_matches"),
        F.min("rank").alias("first_hit_rank"),
        F.sum("rank").alias("sum_match_rank"),
    )
    return (
        queries.select(query_id)
        .join(per_query, query_id, "left")
        .withColumn("__n_chunks", F.lit(n_corpus).cast("long"))
        .select(
            query_id,
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            F.coalesce("first_hit_rank", F.col("__n_chunks"))
            .cast("long")
            .alias("first_hit_rank"),
            # no-match sentinel: one rank equal to the corpus size
            F.coalesce("sum_match_rank", F.col("__n_chunks"))
            .cast("long")
            .alias("sum_match_rank"),
        )
        .withColumn(
            "avg_match_rank",
            F.col("sum_match_rank") / F.greatest(F.col("n_matches"), F.lit(1)),
        )
    )


def retrieval_summary(detail: DataFrame) -> DataFrame:
    """Corpus-level aggregates (RAG-eval-test_model.py:149-150):
    Average Search Rank = mean over every collected rank (each no-match
    query contributes one sentinel rank), Average First Hit Rank = mean of
    per-query first hits. Pure integer sums → exact doubles."""
    return detail.agg(
        (
            F.sum("sum_match_rank")
            / F.sum(F.greatest(F.col("n_matches"), F.lit(1)))
        ).alias("avg_search_rank"),
        (F.sum("first_hit_rank") / F.count("*")).alias("avg_first_hit_rank"),
    )


def retrieve_top_k_auto(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    exact_limit: int = 100_000,
    n_cells: int = 16,
    n_probe: int = 4,
    **cols,
) -> DataFrame:
    """Strategy selection for top-k retrieval (SURVEY §4: the
    crossJoin+cosine+rank≤k → pruned-plan rewrite, driven by data size
    instead of a Catalyst rule).

    Small corpora (≤ ``exact_limit`` rows) take the exact two-phase
    ``cosine_top_k`` — one pass over every (query, vector) pair. Larger
    corpora take the IVF route: each query scores only its ``n_probe``
    nearest cells, ~n_probe/n_cells of the corpus. The count that picks the
    strategy is a metadata-cheap action (parquet row-count), mirroring how
    AQE swaps join strategies on observed sizes.
    """
    from biodata_pipeline_spark.operators.similarity import ivf_ann

    if corpus.count() <= exact_limit:
        return cosine_top_k(queries, corpus, k, **cols)
    return ivf_ann(queries, corpus, k, n_cells=n_cells, n_probe=n_probe, **cols)
