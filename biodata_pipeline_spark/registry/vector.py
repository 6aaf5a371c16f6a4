"""Vector / similarity / retrieval queries (SURVEY §2.6: Q24-Q26 + the
flagship) and their approximate scale-path variants (rows-only).

The precomputed ``embeddings`` table is the determinism boundary
(SURVEY §7 risk 4): cosine math runs in float64 on both engines and
similarities are rounded to 9 dp before ranking so ulp noise collapses
into ties broken by id.

Chunk→embedding attachment for the flagship uses a deterministic modular
key ((doc_id*31 + chunk_id) mod |embeddings|) — a stand-in for the
reference's model-generated chunk embeddings
(RAG-eval-test_model.py:65-87) that keeps the whole pipeline
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from biodata_pipeline_spark.functions.textfn import boundary_pattern
from biodata_pipeline_spark.operators.chunking import chunk_documents
from biodata_pipeline_spark.operators.retrieval import (
    cosine_top_k,
    retrieval_rank_metrics,
    retrieval_summary,
)
from biodata_pipeline_spark.operators.similarity import (
    ivf_ann,
    lsh_similarity_join,
    similarity_join,
    similarity_join_vectorized,
)
from biodata_pipeline_spark.functions.vector import l2_norm
from biodata_pipeline_spark.sources.local import local_frame
from biodata_pipeline_spark.sources.tables import load_table


def _empty_fallback(spark, build, schema: str):
    """Iterative fits (k-means seeding, the PCA mean) are eager and
    cannot run on an empty corpus slice — but the QUERY contract is
    row-per-vector, so an empty slice (a real partition/day at 100 TB)
    must yield an empty frame with the production schema, not a crash.
    Only the operators' own empty-input ValueErrors are translated;
    anything else (over-bound collects, bad args) still raises."""
    try:
        return build()
    except ValueError as e:
        if "empty input" in str(e) or "need >=" in str(e):
            return local_frame(spark, [], schema)
        raise

FLAGSHIP_TERMS = ["spark", "join", "window", "merge", "zzznomatch"]
SIM_THRESHOLD = 0.25
# The exact pairwise join is O(n²) by design — declared on a bounded vector
# set (covers all of sf0.01); the LSH/IVF variants are the scale path.
SIM_MAX_VEC = 2000


def q24_cosine_topk(spark, sf_dir):
    """Exact cosine top-10 for the first 5 vectors against the whole corpus
    (k = corpus retrieval, RAG-eval-test_model.py:247-248)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_emb")
    )
    # sim is emitted at its 9dp ranking precision — re-rounding a rounded
    # value manufactures exact halfway cases where engine rounding modes
    # diverge (observed at sf0.1)
    out = cosine_top_k(queries, emb, k=10, salt_buckets=8)
    return out.select("query_id", "vec_id", "rank", "sim")


def q25_similarity_join(spark, sf_dir):
    """Pairwise cosine-threshold self-join (dedup/near-dup surface),
    bounded to SIM_MAX_VEC vectors (exact quadratic path; see
    q_lsh_similarity_join for the unbounded approximate path).

    Scored by the Arrow/numpy kernel — bit-identical to the HOF pair
    join (same in-order float64 fold, asserted in tests) and ~8x faster
    at the bench scale."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < SIM_MAX_VEC
    )
    out = similarity_join_vectorized(emb, SIM_THRESHOLD)
    return out.select("id_a", "id_b", "sim")  # 9dp, single rounding


def _flagship_inputs(spark, sf_dir):
    from biodata_pipeline_spark.operators.caching import register_cached

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    n_vec = emb.agg(F.count("*").alias("__n_vec"))
    chunks = (
        chunk_documents(docs)
        .withColumn("chunk_uid", F.col("doc_id") * 1000 + F.col("chunk_id"))
        .crossJoin(F.broadcast(n_vec))
        .withColumn(
            "cvec", F.pmod(F.col("doc_id") * 31 + F.col("chunk_id"), F.col("__n_vec"))
        )
        .join(
            F.broadcast(emb.select(F.col("vec_id").alias("cvec"), "embedding")),
            "cvec",
        )
        .select("chunk_uid", "chunk_text", "embedding")
        # Two consumers (the score stream and the sentinel count) — persist
        # so the chunk+attach pipeline scans documents once, not twice.
        .persist()
    )
    chunks = register_cached(chunks)
    terms = local_frame(
        spark,
        [(t, i) for i, t in enumerate(FLAGSHIP_TERMS)],
        "term string, qvec long",
    ).withColumn("pattern", F.concat(F.lit(r"(^|\W)"), F.col("term"), F.lit(r"($|\W)")))
    queries = terms.join(
        F.broadcast(
            load_table(spark, sf_dir, "embeddings").select(
                F.col("vec_id").alias("qvec"), F.col("embedding").alias("query_emb")
            )
        ),
        "qvec",
    ).select("term", "pattern", "query_emb")
    return queries, chunks


def q26_retrieval_rank_detail(spark, sf_dir):
    """The flagship: chunk → embed → rank all chunks per query → regex
    match → per-query rank metrics with no-match sentinel
    (RAG-eval-test_model.py:119-153 end-to-end)."""
    queries, chunks = _flagship_inputs(spark, sf_dir)
    return retrieval_rank_metrics(queries, chunks)


def q26b_retrieval_rank_summary(spark, sf_dir):
    """Corpus aggregates: Average Search Rank / Average First Hit Rank."""
    return retrieval_summary(q26_retrieval_rank_detail(spark, sf_dir))


def q_embedding_stats(spark, sf_dir):
    """Per-label vector stats (array math exercised as aggregation input)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg(l2_norm(F.col("embedding"))), 4).alias("avg_norm"),
    )


def q_embed_quantize(spark, sf_dir):
    """Symmetric int8 embedding quantization audit: per vector, the scale
    (127/amax) and the quantized-array invariants (sum, L1 mass, max) a
    pipeline checks before shipping compact embeddings to a feature store.

    Quantization is ``floor(x*scale + 0.5)`` clamped to [-127, 127] —
    floor instead of round because engines disagree on ties-away vs
    ties-even at exact .5 products, while floor of identical doubles is
    identical everywhere. Pure per-row array math: zero shuffle, scales
    with bytes."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.transform("embedding", lambda v: v.cast("double"))
    amax = F.array_max(F.transform(x, lambda v: F.abs(v)))
    scale = F.lit(127.0) / F.greatest(amax, F.lit(1e-12))

    def quant(xs, s):
        q = F.transform(
            xs, lambda v: F.floor(v * s + F.lit(0.5)).cast("int")
        )
        return F.transform(
            q, lambda v: F.greatest(F.lit(-127), F.least(F.lit(127), v))
        )

    # let-bind scale (inlining recomputes the array_max per element) and
    # the quantized array (it feeds three aggregates)
    from biodata_pipeline_spark.functions.textfn import _let

    def body(s):
        return _let(
            quant(x, s),
            lambda q: F.struct(
                F.round(s, 6).alias("scale"),
                F.aggregate(q, F.lit(0), lambda a, v: a + v).alias("q_sum"),
                F.aggregate(q, F.lit(0), lambda a, v: a + F.abs(v)).alias(
                    "q_l1"
                ),
                F.array_max(q).alias("q_max"),
            ),
        )

    out = _let(scale, body)
    return emb.select(
        "vec_id",
        out["scale"].alias("scale"),
        out["q_sum"].alias("q_sum"),
        out["q_l1"].alias("q_l1"),
        out["q_max"].alias("q_max"),
    )


EMB_DEDUP_THRESHOLD = 0.98
EMB_COPY_BASE = 100_000
EMB_COPY_N = 50


def q_embed_cosine_dedup(spark, sf_dir):
    """Embedding-cosine near-dup dedup: survivors after removing every
    vector whose cosine to a smaller-id vector is >= threshold.

    The synthetic embeddings have no natural pairs above 0.6, so the
    query first plants exact copies of the first EMB_COPY_N vectors at
    id+EMB_COPY_BASE — dedup must remove precisely those copies (their
    self-similarity rounds to 1.0 at the shared 9 dp boundary) and keep
    the whole original corpus. Exact bounded path here;
    embedding_dedup_survivors(approximate=True) is the LSH scale path
    (rows-only via q_lsh_similarity_join's candidate machinery)."""
    from biodata_pipeline_spark.operators.dedup import embedding_dedup_survivors

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < SIM_MAX_VEC)  # exact path bounded, like q25
        .select("vec_id", "embedding")
    )
    copies = emb.filter(F.col("vec_id") < EMB_COPY_N).withColumn(
        "vec_id", F.col("vec_id") + F.lit(EMB_COPY_BASE)
    )
    corpus = emb.unionByName(copies)
    return embedding_dedup_survivors(corpus, EMB_DEDUP_THRESHOLD).select("vec_id")


def q_kmeans_clusters(spark, sf_dir):
    """Distributed Lloyd's k-means assignment (SemDeDup building block,
    Abbas et al. 2023): deterministic md5-ordered seeds, 2 unrolled
    centroid updates, then the final per-vector (cluster, dist²).

    Oracle-checkable despite being iterative: every step (seed order,
    the in-order distance fold, round(sum,6)/count centroid math) is
    bit-identical ANSI SQL, unrolled as CTEs. Fit runs 3 small eager
    jobs at construction (a k-row TakeOrdered + 2 k×65-cell aggregates);
    assignment itself is a zero-shuffle Arrow map stage
    (``assign_clusters_kernel`` — bit-identical distances/decisions to
    the unrolled chains the oracle SQL mirrors; parity pytest-pinned,
    and THIS query's value hash is the cross-engine proof;
    ``assign_clusters_matrix`` is only the JVM test reference for
    defective elements)."""
    from biodata_pipeline_spark.operators.kmeans import (
        assign_clusters_kernel,
        kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def build():
        cents = kmeans_fit(emb)
        return assign_clusters_kernel(emb, cents, with_dist2=True).select(
            "vec_id", "cluster", "dist2"
        )

    return _empty_fallback(spark, build, "vec_id long, cluster int, dist2 double")


def q_ivf_cell_assign(spark, sf_dir):
    """The IVF store's cell assignment (``kmeans.assign_clusters_kernel``,
    the Arrow kernel ``VectorIndexStore.add`` runs): the k distance
    folds run per batch in numpy, the shape that keeps a k=64..1024
    coarse quantizer off the codegen path (the unrolled per-centroid
    SQL chains of ``assign_clusters`` cost ~50 s of codegen at k=64).
    Hash-checked against the SAME unrolled Lloyd oracle as
    q_kmeans_clusters: after the r9 parity fix (argmin of the
    UNROUNDED in-order fold) the assignment implementations are
    decision-identical, so the kmeans SQL covers this path too. Fit
    runs the standard eager seed+update jobs; the assignment itself is
    a zero-shuffle map."""
    from biodata_pipeline_spark.operators.kmeans import (
        assign_clusters_kernel,
        kmeans_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def build():
        cents = kmeans_fit(emb)
        return assign_clusters_kernel(emb, cents).select(
            "vec_id", F.col("cluster").alias("cell")
        )

    return _empty_fallback(spark, build, "vec_id long, cell int")


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup semantic dedup: k-means-cluster the corpus, then drop
    vectors whose within-cluster cosine to a smaller id rounds to >=
    threshold. Same planted-copy contract as q_embed_cosine_dedup —
    the copies land in their original's cluster (bit-identical
    distances) and must be exactly the removed set — but the pairwise
    join is a ``cluster`` equi-join (n²/2k candidates, shuffled on
    cluster) instead of the bounded all-pairs path, the 100 TB shape
    when k scales with n."""
    from biodata_pipeline_spark.operators.kmeans import semantic_dedup_survivors

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < SIM_MAX_VEC)
        .select("vec_id", "embedding")
    )
    copies = emb.filter(F.col("vec_id") < EMB_COPY_N).withColumn(
        "vec_id", F.col("vec_id") + F.lit(EMB_COPY_BASE)
    )
    corpus = emb.unionByName(copies)
    return _empty_fallback(
        spark,
        lambda: semantic_dedup_survivors(corpus, EMB_DEDUP_THRESHOLD),
        "vec_id long, cluster int",
    )


def q_pca_projection(spark, sf_dir):
    """First-principal-component scores by distributed power iteration
    (operators/pca.py): μ and two power steps fit eagerly (each step ONE
    hash aggregate of 64 rounded partial sums — partials shuffle, data
    never does), then a zero-shuffle projection against embedded
    literals. Oracle-checkable like q_kmeans_clusters: deterministic
    seed vector, in-order folds, round(sum, 6)/count at every
    data-dependent step, so the iterate stays bit-identical across
    engines."""
    from biodata_pipeline_spark.operators.pca import (
        power_iteration_fit,
        project_pc1,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def build():
        mu, v = power_iteration_fit(emb)
        return project_pc1(emb, mu, v)

    return _empty_fallback(spark, build, "vec_id long, pc1 double")


# --- approximate scale paths: no SQL oracle (rows-only + pytest) -------------


def q_lsh_similarity_join(spark, sf_dir):
    """Random-hyperplane LSH near-dup candidates (recall<1; verified pairs)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_similarity_join(emb, SIM_THRESHOLD)


def q_ivf_ann(spark, sf_dir):
    """IVF-bucketed approximate nearest neighbours, top-10, 5 queries."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_emb")
    )
    return ivf_ann(queries, emb, k=10)


def q_cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch frequency estimates for the heaviest suppliers in
    lineitem — deterministic (hash-built) but xxhash64 has no DuckDB
    equivalent → rows-only. Estimates upper-bound the true counts
    (property-tested in tests/test_rollup_sketches.py)."""
    from biodata_pipeline_spark.operators.sketches import cms_build, cms_lookup

    li = load_table(spark, sf_dir, "lineitem")
    sketch = cms_build(li, "l_suppkey", depth=4, width=2048)
    top = (
        li.groupBy("l_suppkey")
        .count()
        .orderBy(F.desc("count"), "l_suppkey")
        .limit(20)
        .select("l_suppkey")
    )
    return cms_lookup(sketch, top, "l_suppkey", depth=4, width=2048)


def q_approx_count_distinct(spark, sf_dir):
    """HLL distinct estimate (north-star scale requirement; estimator
    differs from DuckDB's → rows-only)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.count("*").alias("n_rows"),
    )


EMB_DIM = 64

# --- product quantization (operators/pq.py) ---------------------------------
# The declared family runs at the operators' measured defaults: m is
# operators/pq.py's PQ_M (16 since r13 — the (m, refine) grid's
# operating point), and refine·8 is the grid's recall-0.958 partner
# setting (SCALING.md r12; VERDICT r12 #2). Both the Spark queries and
# the generated DuckDB oracle derive every m-dependent shape from the
# same constant, so a future default change stays one-line.
from biodata_pipeline_spark.operators.pq import PQ_M as _PQ_M_DEFAULT

PQ_QUERIES_N = 5       # declared top-k queries (q24's slice)
PQ_AUDIT_QUERIES = 100  # recall-audit query sample (the ANN-audit size)
PQ_REFINE = 8           # refined variant rescores top refine*k exactly
PQ_TOPK = 10
PQ_SD = EMB_DIM // _PQ_M_DEFAULT  # subspace width at the default m


def _pq_corpus(spark, sf_dir):
    """The PQ geometry contract: non-null, full-dim vectors only."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & (F.size("embedding") == EMB_DIM))
        .select("vec_id", "embedding")
    )


def _pq_queries(corpus, n):
    return corpus.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_emb"),
    )


_FIT_MEMO: dict = {}


def _fit_memo(spark, sf_dir, name: str, build):
    """``build()`` once per (applicationId, sf_dir, name) — the
    load_table discipline: keyed on the session AND the corpus. Every
    memoized artifact is deterministic (pinned by the fit tests) and
    driver-sized, so reuse is result-identical."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _FIT_MEMO:
        _FIT_MEMO[key] = build()
    return _FIT_MEMO[key]


# Valid-vector universe size, memoized like the fits: it drives the
# kernel-vs-HOF strategy switch in the four audits' exact ground truth.
# A count per audit run would buy nothing below the threshold (VERDICT
# r15 #4). The count is a fit-style constant of (session, corpus):
# computed once per JVM, first audit key pays it, the rest reuse it. The SQ8/BQ1 universes
# additionally drop non-finite rows, but a strategy switch only needs
# the magnitude — the shared count is exact for PQ and an upper bound
# within the defect count for SQ8/BQ1 (zero on the bench corpus), and
# both scoring paths are bit-identical either way.
def _corpus_n_for(spark, sf_dir) -> int:
    return _fit_memo(
        spark, sf_dir, "corpus_n", lambda: _pq_corpus(spark, sf_dir).count()
    )


def _audit_use_kernel(spark, sf_dir) -> bool:
    from biodata_pipeline_spark.operators.retrieval import (
        KERNEL_CORPUS_THRESHOLD,
    )

    return _corpus_n_for(spark, sf_dir) > KERNEL_CORPUS_THRESHOLD


def _recall_audit(spark, sf_dir, emb, name, refine, ranked_of):
    """Measured recall@10 of a compressed representation vs exact cosine
    ground truth over the 100-query audit sample, per variant: ``name``
    (codes-only) and ``refined`` (the top ``refine``·k exact-rescored).

    Both variants derive from ONE ranked stream, ``ranked_of(queries,
    refine·k)`` → (query_id, vec_id, rank, …), localCheckpointed at
    |Q|·refine·k rows: the codes-only top-k is its ``rank <= k`` prefix
    (same window, same order — identical rows by construction) and the
    refined arm is ``exact_rerank`` over it, so the |Q|×|C| scoring
    runs once per audit instead of once per variant. ``n_truth`` is
    observed on the ground truth's checkpoint job, not counted by a
    job of its own. Fits belong inside ``ranked_of``, so an empty
    corpus slice takes the ``_empty_fallback`` path."""
    from pyspark.sql import Observation

    from biodata_pipeline_spark.operators.bq import exact_rerank

    def build():
        queries = _pq_queries(emb, PQ_AUDIT_QUERIES)
        truth = Observation(f"{name}_truth")
        exact = (
            cosine_top_k(
                queries, emb, PQ_TOPK,
                use_kernel=_audit_use_kernel(spark, sf_dir),
            )
            .select("query_id", "vec_id")
            .observe(truth, F.count("*").alias("n"))
            .localCheckpoint()  # both variants + the denominator
        )
        n_truth = truth.get["n"]
        ranked = ranked_of(queries, refine * PQ_TOPK).localCheckpoint()

        def recall(variant, got):
            # both sides are <= n_queries * k rows; without the hint the
            # static plan sort-merge-joins them (AQE fixes it at runtime,
            # but the audited plan should say what runs)
            return (
                exact.join(
                    F.broadcast(got.select("query_id", "vec_id")),
                    ["query_id", "vec_id"],
                )
                .agg(F.count("*").alias("n_hits"))
                .select(
                    F.lit(variant).alias("variant"),
                    "n_hits",
                    F.round(F.col("n_hits") / F.lit(n_truth), 4).alias(
                        "recall"
                    ),
                )
            )

        return recall(
            name, ranked.filter(F.col("rank") <= PQ_TOPK)
        ).unionByName(
            recall("refined", exact_rerank(ranked, queries, emb, PQ_TOPK))
        )

    return _empty_fallback(
        spark, build, "variant string, n_hits long, recall double"
    )


# The codebook fit is deterministic (md5 seeds, rounded updates — pytest
# test_fit_shape_and_determinism), so refitting it in each of the five
# declared PQ queries is pure waste: ~3 s × 4 redundant fits per bench
# run in one JVM.
def _pq_books_for(spark, sf_dir):
    from biodata_pipeline_spark.operators.pq import pq_fit

    return _fit_memo(
        spark, sf_dir, "pq_books", lambda: pq_fit(_pq_corpus(spark, sf_dir))
    )


def q_pq_codes(spark, sf_dir):
    """Product-quantization codes for every vector: PQ_M subspace
    codebooks (16 codewords × 64/PQ_M dims each, m=16 at the measured
    default) trained by the engine's deterministic per-subspace
    k-means, encoded in ONE Arrow-kernel pass — 4·m bits of code
    replacing 256 bytes of float, the compressed representation the
    ADC queries score against. The hash check replays the whole fit +
    encode in DuckDB (one prefixed Lloyd chain per subspace), so it
    pins the kernel's argmin/tie-break parity cross-engine."""
    from biodata_pipeline_spark.operators.pq import (
        PQ_M,
        pq_encode_kernel,
    )

    emb = _pq_corpus(spark, sf_dir)

    def build():
        books = _pq_books_for(spark, sf_dir)
        codes = pq_encode_kernel(emb, books)
        return codes.select(
            "vec_id",
            *[
                F.element_at("codes", j + 1).alias(f"code{j}")
                for j in range(PQ_M)
            ],
        )

    return _empty_fallback(
        spark, build,
        "vec_id long, "
        + ", ".join(f"code{j} int" for j in range(_PQ_M_DEFAULT)),
    )


def q_pq_adc_topk(spark, sf_dir):
    """Asymmetric-distance top-10 for the first 5 queries: candidates
    scored from their m-code representation alone (LUT kernel — m table
    lookups per candidate, never the stored floats). The approximate
    twin of q24_cosine_topk; sim is the ADC estimate."""
    from biodata_pipeline_spark.operators.pq import (
        pq_adc_topk,
        pq_encode_kernel,
    )

    emb = _pq_corpus(spark, sf_dir)

    def build():
        books = _pq_books_for(spark, sf_dir)
        codes = pq_encode_kernel(emb, books)
        return pq_adc_topk(
            _pq_queries(emb, PQ_QUERIES_N), codes, books, PQ_TOPK
        )

    return _empty_fallback(
        spark, build, "query_id long, vec_id long, rank int, sim double"
    )


def q_pq_ann_refined(spark, sf_dir):
    """ADC candidates exact-refined: the top refine·k=80 code-scored
    candidates per query are re-scored against their true vectors and
    re-ranked — the standard PQ recall repair (refine·8 is the measured
    grid's recall-0.958 partner to m=16), touching 80 full vectors per
    query instead of the corpus. sim is the exact cosine."""
    from biodata_pipeline_spark.operators.pq import (
        pq_adc_topk,
        pq_encode_kernel,
    )

    emb = _pq_corpus(spark, sf_dir)

    def build():
        books = _pq_books_for(spark, sf_dir)
        codes = pq_encode_kernel(emb, books)
        return pq_adc_topk(
            _pq_queries(emb, PQ_QUERIES_N), codes, books, PQ_TOPK,
            refine=PQ_REFINE, vectors=emb,
        )

    return _empty_fallback(
        spark, build, "query_id long, vec_id long, rank int, sim double"
    )


def q_pq_recall_audit(spark, sf_dir):
    """Measured recall@10 of the PQ paths (codes-only ADC vs
    exact-refined) — the honesty row for the compressed representation
    (the LSH/SimHash audit discipline): 4·m-bit codes on a
    structure-free uniform corpus are the documented worst case, and
    this query records exactly what that costs (``_recall_audit``)."""
    from biodata_pipeline_spark.operators.bq import approx_ranked
    from biodata_pipeline_spark.operators.pq import (
        pq_adc_scores_kernel,
        pq_encode_kernel,
    )

    emb = _pq_corpus(spark, sf_dir)

    def ranked_of(queries, n):
        books = _pq_books_for(spark, sf_dir)
        codes = pq_encode_kernel(emb, books)
        return approx_ranked(
            pq_adc_scores_kernel(queries, codes, books), "sim_adc", n
        )

    return _recall_audit(spark, sf_dir, emb, "adc", PQ_REFINE, ranked_of)

def q_pq_train_error(spark, sf_dir):
    """Per-subspace quantization error of the trained PQ codebooks —
    the PQ layer's drift/quality signal (``cell_stats``'s sibling for
    the code side): each vector's distance to its chosen codeword,
    aggregated per subspace as round(sum, 6)/count (the engine's
    sum-then-divide rule). Rising error on fresh data means the frozen
    codebooks no longer fit the distribution and ``enable_pq`` should
    retrain; a subspace whose error dwarfs the others is where raising
    ``m`` pays first. Per-row distances are the same in-order float64
    folds the DuckDB Lloyd chains carry as ``dist``, so the row is
    hash-checked like the rest of the family."""
    from biodata_pipeline_spark.operators.pq import (
        PQ_M,
        pq_encode_kernel,
    )
    from biodata_pipeline_spark.operators.similarity import matrix_literal

    emb = _pq_corpus(spark, sf_dir)
    sd = EMB_DIM // PQ_M

    def build():
        books = _pq_books_for(spark, sf_dir)
        codes = pq_encode_kernel(emb, books)
        e = F.col("embedding").cast("array<double>")

        def _dist(j):
            row = F.element_at(
                matrix_literal(books[j]),
                F.element_at(F.col("codes"), j + 1) + 1,
            )
            return F.aggregate(
                F.zip_with(
                    F.slice(e, j * sd + 1, sd),
                    row,
                    lambda x, c: (x - c) * (x - c),
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            )

        pairs = F.array(
            *[
                F.struct(
                    F.lit(j).alias("sub"), _dist(j).alias("dist")
                )
                for j in range(PQ_M)
            ]
        )
        return (
            codes.select(F.inline(pairs))
            .groupBy("sub")
            .agg(
                F.count("*").alias("n_vecs"),
                (F.round(F.sum("dist"), 6) / F.count("*")).alias("avg_err"),
            )
        )

    return _empty_fallback(
        spark, build, "sub int, n_vecs long, avg_err double"
    )


# --- residual IVF-PQ (round 13): codes quantize x - centroid[cell] ---------
RPQ_CELLS = 8  # the engine-default kmeans chain the oracle already replays


def _rpq_state(spark, sf_dir):
    """(centroids, codes-with-cell, residual codebooks) for the declared
    residual family — fit-memoized (3 eager fits otherwise re-run per
    query; all three artifacts are deterministic, codes checkpointed
    driver-side)."""

    def build():
        from biodata_pipeline_spark.operators.kmeans import (
            assign_clusters_kernel,
            kmeans_fit,
        )
        from biodata_pipeline_spark.operators.pq import (
            _minus_centroid,
            pq_encode_kernel,
            pq_fit,
        )

        emb = _pq_corpus(spark, sf_dir)
        cents = kmeans_fit(emb, RPQ_CELLS, 2, "vec_id", "embedding")
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

    return _fit_memo(spark, sf_dir, "rpq_state", build)


def q_pq_residual_adc(spark, sf_dir):
    """Residual IVF-PQ codes-only top-10 (round 13): vectors quantize
    their RESIDUAL against the coarse-quantizer centroid (the FAISS
    IndexIVFPQ encode_residual form — within one cell the residual
    spread is a fraction of the corpus spread, so the same m × k_sub
    budget buys finer resolution; measured on this corpus: residual
    ADC recall beats raw-PQ ADC at equal budget, pytest-pinned).
    sim is the ADC estimate cos(q, centroid[cell] + Σ_j row_j),
    reconstructed from driver-sized lookup tables alone — the hash
    check replays the coarse Lloyd chain, the residual subtraction
    (exact float64), the per-subspace Lloyd chains AND the
    centroid-extended grouped ADC fold in DuckDB."""
    from biodata_pipeline_spark.operators.pq import pq_residual_topk

    emb = _pq_corpus(spark, sf_dir)

    def build():
        cents, codes, books = _rpq_state(spark, sf_dir)
        return pq_residual_topk(
            _pq_queries(emb, PQ_QUERIES_N), codes, books, cents, PQ_TOPK
        )

    return _empty_fallback(
        spark, build, "query_id long, vec_id long, rank int, sim double"
    )


def q_pq_residual_audit(spark, sf_dir):
    """Recall@10 of the residual-PQ paths (codes-only ADC and
    exact-refined) — q_pq_recall_audit's residual sibling: the honesty
    row that records what residual encoding buys over raw-vector PQ at
    the same (m, k_sub, refine) budget (``_recall_audit``)."""
    from biodata_pipeline_spark.operators.bq import approx_ranked
    from biodata_pipeline_spark.operators.pq import pq_residual_scores_kernel

    emb = _pq_corpus(spark, sf_dir)

    def ranked_of(queries, n):
        cents, codes, books = _rpq_state(spark, sf_dir)
        return approx_ranked(
            pq_residual_scores_kernel(queries, codes, books, cents),
            "sim_adc", n,
        )

    return _recall_audit(spark, sf_dir, emb, "adc", PQ_REFINE, ranked_of)


# --- scalar quantization, SQ8 (operators/sq.py, round 14) -------------------
# The byte-per-dimension point on the compression curve: 4× smaller than
# float32 with near-exact recall, no Lloyd chains to train — so unlike
# the PQ family the oracle replays the FULL 8-bit production resolution
# (min/max fit + affine codes + midpoint reconstruction are plain ANSI
# SQL), and the declared family IS the production operating point.

SQ_CODES_MAX_VEC = 200  # bounded exploded-code output (200 × 64 rows)
SQ_REFINE = 2           # audit's refined arm rescores top 2·k exactly


def _sq_corpus(spark, sf_dir):
    """The SQ geometry contract: non-null, full-dim, every element
    finite — fit, codes, queries, AND the audit's exact ground truth
    all draw from this one universe (ADVICE r14: mirrors ``_bq_corpus``
    so a corpus with planted NaN/Inf rows cannot diverge the fit bounds
    or the recall denominators between engines; the oracle's
    ``_SQ_VECS`` CTE applies the identical filter)."""
    from biodata_pipeline_spark.operators.sq import sq_valid

    return sq_valid(_pq_corpus(spark, sf_dir), dim=EMB_DIM)


def _sq_bounds_for(spark, sf_dir):
    """Per-dim [min,max] bounds, fit-memoized — one corpus scan,
    deterministic (min/max are selections: no fold-order hazard), 2×dim
    floats on the driver."""
    from biodata_pipeline_spark.operators.sq import sq_fit

    return _fit_memo(
        spark, sf_dir, "sq_bounds",
        lambda: sq_fit(_sq_corpus(spark, sf_dir), dim=EMB_DIM),
    )


def q_sq8_codes(spark, sf_dir):
    """SQ8 byte codes for the first 200 vectors, one row per (vector,
    dimension): each coordinate affinely mapped to [0,255] against
    per-dimension corpus min/max — FAISS IndexScalarQuantizer(QT_8bit)'s
    representation, fit in ONE scan (vs PQ's m Lloyd chains). The hash
    check replays fit + encode in DuckDB at full 8-bit resolution —
    including the floor/clamp boundary behavior (x = max codes 255, a
    degenerate dimension codes 0)."""
    from biodata_pipeline_spark.operators.sq import sq_encode_kernel

    emb = _sq_corpus(spark, sf_dir)

    def build():
        bounds = _sq_bounds_for(spark, sf_dir)
        codes = sq_encode_kernel(
            emb.filter(F.col("vec_id") < SQ_CODES_MAX_VEC), bounds
        )
        return codes.select(
            "vec_id", F.posexplode("sq_codes").alias("dim_i", "code")
        )

    return _empty_fallback(
        spark, build, "vec_id long, dim_i int, code int"
    )


def q_sq8_topk(spark, sf_dir):
    """Asymmetric top-10 for the first 5 queries over byte-coded
    candidates: exact query against the midpoint reconstruction
    ``mn + (code + ½)·(mx − mn)/256`` — q24_cosine_topk at a quarter of
    the candidate I/O; sim is the reconstruction cosine (9dp, id
    tie-break)."""
    from biodata_pipeline_spark.operators.sq import (
        sq_encode_kernel,
        sq_topk,
    )

    emb = _sq_corpus(spark, sf_dir)

    def build():
        bounds = _sq_bounds_for(spark, sf_dir)
        codes = sq_encode_kernel(emb, bounds)
        return sq_topk(
            _pq_queries(emb, PQ_QUERIES_N), codes, bounds, PQ_TOPK
        )

    return _empty_fallback(
        spark, build, "query_id long, vec_id long, rank int, sim double"
    )


def q_sq8_recall_audit(spark, sf_dir):
    """Measured recall@10 of the SQ8 paths (codes-only reconstruction
    vs exact-refined top 2·k) — the honesty row for the byte
    representation. 8 bits/dim is the near-exact end of the compression
    curve; this query records how near, on THIS corpus, hash-checked
    (every path is deterministic — no rows-only quarantine needed,
    unlike MinHash/SimHash; ``_recall_audit``)."""
    from biodata_pipeline_spark.operators.bq import approx_ranked
    from biodata_pipeline_spark.operators.sq import (
        sq_encode_kernel,
        sq_scores_kernel,
    )

    emb = _sq_corpus(spark, sf_dir)

    def ranked_of(queries, n):
        bounds = _sq_bounds_for(spark, sf_dir)
        codes = sq_encode_kernel(emb, bounds)
        return approx_ranked(
            sq_scores_kernel(queries, codes, bounds), "sim_sq", n
        )

    return _recall_audit(spark, sf_dir, emb, "sq8", SQ_REFINE, ranked_of)


# --- binary quantization, BQ1 (operators/bq.py, round 14) -------------------
# The 1-bit-per-dimension end of the compression curve: 64-dim vectors
# pack into two 32-bit words and candidates rank by HAMMING distance —
# pure integer ops (xor + popcount), the only family in the engine with
# NO rounding contract at all. The median-threshold fit is a selection
# (value at position (n+1) div 2 per dimension), so like SQ8 the oracle
# replays the FULL production resolution — fit, packing, and scoring
# are all plain ANSI SQL.

BQ_CODES_MAX_VEC = 200  # bounded packed-word output (200 × 2 rows)
BQ_REFINE = 8           # audit's refined arm rescores top 8·k exactly


def _bq_corpus(spark, sf_dir):
    """The BQ geometry contract: non-null, full-dim, every element
    finite — fit, candidates, queries, AND the audit's exact ground
    truth all draw from this one universe (recall numerators and
    denominators must share it)."""
    from biodata_pipeline_spark.operators.bq import bq_valid

    return bq_valid(_pq_corpus(spark, sf_dir), dim=EMB_DIM)


def _bq_thr_for(spark, sf_dir):
    """Per-dim lower-median thresholds, fit-memoized — one ranked scan,
    deterministic (the median is a selection: no fold-order or
    interpolation hazard), dim floats on the driver."""
    from biodata_pipeline_spark.operators.bq import bq_fit

    return _fit_memo(
        spark, sf_dir, "bq_thr",
        lambda: bq_fit(_bq_corpus(spark, sf_dir), dim=EMB_DIM),
    )


def q_bq_codes(spark, sf_dir):
    """Packed binary codes for the first 200 vectors, one row per
    (vector, 32-bit word): bit_d = x_d > median_d (strict — a value AT
    the threshold codes 0), packed little-endian into two words — the
    FAISS IndexBinaryFlat representation at 1/64th of the float64
    footprint. The hash check replays fit + packing in DuckDB,
    including the strict-comparison boundary and the exact integer
    sums of distinct powers of two."""
    from biodata_pipeline_spark.operators.bq import bq_encode_kernel

    emb = _bq_corpus(spark, sf_dir)

    def build():
        thr = _bq_thr_for(spark, sf_dir)
        words = bq_encode_kernel(
            emb.filter(F.col("vec_id") < BQ_CODES_MAX_VEC), thr
        )
        return words.select(
            "vec_id", F.posexplode("bq_words").alias("word_i", "word")
        )

    return _empty_fallback(
        spark, build, "vec_id long, word_i int, word long"
    )


def q_bq_hamming_topk(spark, sf_dir):
    """Symmetric Hamming top-10 for the first 5 queries over packed
    binary codes (ascending distance, id tie-break): the candidate
    scan reads 8 bytes + integer xor/popcount per row — q24's ranking
    problem at the coarsest, cheapest point on the curve. Output
    carries the raw integer distance: hash-exact with no rounding
    contract anywhere in the pipeline."""
    from biodata_pipeline_spark.operators.bq import (
        bq_encode_kernel,
        bq_hamming_topk,
    )

    emb = _bq_corpus(spark, sf_dir)

    def build():
        thr = _bq_thr_for(spark, sf_dir)
        codes = bq_encode_kernel(emb, thr)
        return bq_hamming_topk(
            _pq_queries(emb, PQ_QUERIES_N), codes, thr, PQ_TOPK
        )

    return _empty_fallback(
        spark, build,
        "query_id long, vec_id long, rank int, hamming int",
    )


def q_bq_recall_audit(spark, sf_dir):
    """Measured recall@10 of the BQ1 paths (codes-only Hamming ranking
    vs exact-refined top 8·k) — the honesty row for the 1-bit
    representation: 1 bit/dim is the coarse end of the curve; this
    query records exactly what that costs on THIS corpus and how much
    the refine funnel repairs, hash-checked end-to-end (every path is
    deterministic; ``_recall_audit``)."""
    from biodata_pipeline_spark.operators.bq import (
        bq_encode_kernel,
        bq_hamming_ranked,
    )

    emb = _bq_corpus(spark, sf_dir)

    def ranked_of(queries, n):
        thr = _bq_thr_for(spark, sf_dir)
        return bq_hamming_ranked(queries, bq_encode_kernel(emb, thr), thr, n)

    return _recall_audit(spark, sf_dir, emb, "bq1", BQ_REFINE, ranked_of)

def q_embedding_validate(spark, sf_dir):
    """Embedding ingest gate census: classify every vector into its
    defect class — null / wrong_dim / null_element / non_finite /
    zero_norm / ok — and
    count per class with the first offending id. This is the check the
    null-probe round proved necessary: similarity/clustering operators
    EXCLUDE geometry-less vectors, and this query is where a pipeline
    measures how many it is losing (and which model/shard drifted). The
    pristine corpus has no defects, so the query plants one slice of
    each class first (the q_pii_scrub planted-input pattern), with CASE
    order deciding overlaps identically in both engines."""
    from biodata_pipeline_spark.functions.vector import embedding_defect

    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    vid = F.col("vec_id")
    nan = F.lit(float("nan")).cast("float")
    corrupted = (
        F.when(vid % 97 == 7, F.lit(None).cast("array<float>"))
        .when(vid % 89 == 5, F.slice(e, 1, 32))
        .when(vid % 83 == 3, F.concat(F.array(nan), F.slice(e, 2, EMB_DIM - 1)))
        .when(
            vid % 79 == 2,
            F.transform(e, lambda x: F.lit(0.0).cast("float")),
        )
        .when(
            vid % 73 == 1,
            F.concat(
                F.slice(e, 1, 4),
                F.array(F.lit(None).cast("float")),
                F.slice(e, 6, EMB_DIM - 5),
            ),
        )
        .otherwise(e)
    )
    return (
        emb.select("vec_id", corrupted.alias("emb"))
        .select("vec_id", embedding_defect("emb", EMB_DIM).alias("defect"))
        .groupBy("defect")
        .agg(
            F.count("*").alias("n_vecs"),
            F.min("vec_id").alias("first_vec_id"),
        )
    )


SPARK = {
    "q_embedding_validate": q_embedding_validate,
    "q24_cosine_topk": q24_cosine_topk,
    "q25_similarity_join": q25_similarity_join,
    "q26_retrieval_rank_detail": q26_retrieval_rank_detail,
    "q26b_retrieval_rank_summary": q26b_retrieval_rank_summary,
    "q_embedding_stats": q_embedding_stats,
    "q_embed_quantize": q_embed_quantize,
    "q_embed_cosine_dedup": q_embed_cosine_dedup,
    "q_kmeans_clusters": q_kmeans_clusters,
    "q_ivf_cell_assign": q_ivf_cell_assign,
    "q_semantic_dedup": q_semantic_dedup,
    "q_pca_projection": q_pca_projection,
    "q_lsh_similarity_join": q_lsh_similarity_join,
    "q_ivf_ann": q_ivf_ann,
    "q_approx_count_distinct": q_approx_count_distinct,
    "q_cms_heavy_hitters": q_cms_heavy_hitters,
    "q_pq_codes": q_pq_codes,
    "q_pq_adc_topk": q_pq_adc_topk,
    "q_pq_ann_refined": q_pq_ann_refined,
    "q_pq_recall_audit": q_pq_recall_audit,
    "q_pq_train_error": q_pq_train_error,
    "q_pq_residual_adc": q_pq_residual_adc,
    "q_pq_residual_audit": q_pq_residual_audit,
    "q_sq8_codes": q_sq8_codes,
    "q_sq8_topk": q_sq8_topk,
    "q_sq8_recall_audit": q_sq8_recall_audit,
    "q_bq_codes": q_bq_codes,
    "q_bq_hamming_topk": q_bq_hamming_topk,
    "q_bq_recall_audit": q_bq_recall_audit,
}

# Dot products and norms are computed with list_sum over an in-order
# list_transform — DuckDB evaluates it as the same left-to-right float64
# fold Spark's aggregate HOF uses, so similarities are BIT-identical
# between engines at any scale (verified: unordered GROUP BY sums diverge
# in ulps at sf0.1; `sum(... ORDER BY i)` also matches but is ~10x slower).
_DOT = (
    "list_sum(list_transform(range(1, len({a})+1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _dot_sql(a: str, b: str) -> str:
    return _DOT.format(a=a, b=b)


_NORMS = f"""
    norms AS (
        SELECT vec_id, sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
        FROM embeddings
    )
"""


def _plane_values() -> str:
    """lsh_similarity_join's 16 hyperplanes as ``VALUES (p_idx, pv)``
    rows — pure sin() functions of (seed, index), exported exactly like
    the IVF centroids."""
    from biodata_pipeline_spark.operators.similarity import _hyperplane

    rows = []
    for s in range(16):
        vals = []
        for x in _hyperplane(64, s):
            r = repr(float(x))
            vals.append(r if ("e" in r or "E" in r) else r + "e0")
        rows.append(f"({s}, [{','.join(vals)}])")
    return ", ".join(rows)


def _centroid_values() -> str:
    """The IVF centroids as DuckDB ``VALUES`` rows ``(cell, cv)``.

    ivf_ann's centroids are pure functions of (seed, index) — normalized
    here exactly as ``operators/similarity.py::ivf_ann`` normalizes them,
    then exported via repr (exact float64 round-trip; exponent suffix
    forces DOUBLE). This is what promotes q_ivf_ann from rows-only to
    hash-checked: nothing in the operator depends on JVM-only hashing,
    so the full probe/rank pipeline is reproducible in ANSI SQL.
    """
    import math

    from biodata_pipeline_spark.operators.similarity import _hyperplane

    rows = []
    for c in range(16):
        raw = _hyperplane(64, 1000 + c)
        nrm = math.sqrt(sum(x * x for x in raw)) or 1.0
        vals = []
        for x in raw:
            s = repr(float(x / nrm))
            vals.append(s if ("e" in s or "E" in s) else s + "e0")
        rows.append(f"({c}, [{','.join(vals)}])")
    return ", ".join(rows)


def _seed_vector_literal() -> str:
    """The PCA seed vector as a DuckDB DOUBLE list literal. An exponent
    suffix forces DOUBLE parsing (a bare decimal literal is DECIMAL in
    DuckDB); repr round-trips float64 exactly under correctly-rounded
    strtod, so the embedded values match Spark's bit-for-bit."""
    from biodata_pipeline_spark.operators.pca import seed_vector

    parts = []
    for x in seed_vector():
        s = repr(float(x))
        parts.append(s if ("e" in s or "E" in s) else s + "e0")
    return "[" + ",".join(parts) + "]"


def _pca_sql(source: str, iters: int = 2, grain: int = 6, dim: int = 64) -> str:
    """Unrolled power iteration over ``source`` (vec_id, embedding) as a
    CTE chain ending in ``v{iters}_l`` = the fitted component. Mirrors
    operators/pca.py step for step: round(sum, grain)/count mean, the
    same in-order centered-dot fold, per-dimension round(sum, grain)
    power steps, ascending-fold normalization."""
    cdot = (
        "list_sum(list_transform(range(1, {d} + 1), j -> "
        "(CAST(e.embedding[j] AS DOUBLE) - m.mu[j]) * v.v[j]))"
    ).format(d=dim)
    parts = [
        f"""
        mu0 AS (
            SELECT g.i, round(sum(CAST(e.embedding[g.i] AS DOUBLE)), {grain})
                        / count(*) AS m
            FROM {source} e CROSS JOIN generate_series(1, {dim}) AS g(i)
            GROUP BY g.i
        ),
        mu_l AS (SELECT list(m ORDER BY i) AS mu FROM mu0),
        v0_l AS (SELECT {_seed_vector_literal()} AS v)"""
    ]
    prev = "v0_l"
    for it in range(1, iters + 1):
        parts.append(
            f"""
        p{it} AS (
            SELECT {cdot} AS p, e.embedding
            FROM {source} e, mu_l m, {prev} v
        ),
        w{it} AS (
            SELECT g.i,
                   round(sum(e.p * (CAST(e.embedding[g.i] AS DOUBLE) - m.mu[g.i])),
                         {grain}) AS w
            FROM p{it} e, mu_l m, generate_series(1, {dim}) AS g(i)
            GROUP BY g.i
        ),
        v{it}_l AS (
            SELECT list_transform(wl, x ->
                x / sqrt(list_sum(list_transform(wl, y -> y * y)))) AS v
            FROM (SELECT list(w ORDER BY i) AS wl FROM w{it})
        )"""
        )
        prev = f"v{it}_l"
    return ",".join(parts)


def _kmeans_sql_p(
    source: str,
    prefix: str = "",
    k: int = 8,
    iters: int = 2,
    grain: int = 6,
    dim: int = 64,
) -> str:
    """Unrolled Lloyd's k-means over ``source`` (vec_id, embedding) as a
    CTE chain ending in ``{prefix}a{iters}`` = (vec_id, cl, dist), with
    the fitted codebook in ``{prefix}c{iters}`` = (cl, centroid).
    Mirrors operators/kmeans.py step for step: md5-ordered seeds, the
    same in-order squared-distance fold (bit-identical to the zip_with +
    aggregate fold), round(sum, grain)/count centroid updates with
    COALESCE carry-forward for emptied clusters. ``prefix`` namespaces
    the CTEs so several chains (the PQ subspace fits) coexist in one
    statement; ``dim`` parameterizes the update's dimension sweep."""
    p = prefix
    sq = (
        "list_sum(list_transform(range(1, len(e.embedding)+1), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])"
        " * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])))"
    )
    parts = [
        f"""
        {p}seeds AS (
            SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER) AS cl,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
            FROM {source}
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {k}
        )"""
    ]
    cent = f"{p}seeds"
    for it in range(iters + 1):
        parts.append(
            f"""
        {p}a{it} AS (
            SELECT e.vec_id, c.cl, {sq} AS dist
            FROM {source} e CROSS JOIN {cent} c
            QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY dist, c.cl) = 1
        )"""
        )
        if it == iters:
            break
        parts.append(
            f"""
        {p}u{it + 1} AS (
            SELECT a.cl, g.i,
                   round(sum(CAST(e.embedding[g.i] AS DOUBLE)), {grain}) / count(*) AS v
            FROM {p}a{it} a JOIN {source} e USING (vec_id)
            CROSS JOIN generate_series(1, {dim}) AS g(i)
            GROUP BY a.cl, g.i
        ),
        {p}c{it + 1} AS (
            SELECT s.cl, COALESCE(u.centroid, s.centroid) AS centroid
            FROM {p}seeds s LEFT JOIN (
                SELECT cl, list(v ORDER BY i) AS centroid FROM {p}u{it + 1} GROUP BY cl
            ) u USING (cl)
        )"""
        )
        cent = f"{p}c{it + 1}"
    return ",".join(parts)


def _kmeans_sql(source: str, k: int = 8, iters: int = 2, grain: int = 6) -> str:
    """The engine-default k-means chain (unprefixed CTE names ``a{it}``
    / ``c{it}`` — the q_kmeans_clusters / q_ivf_cell_assign /
    q_semantic_dedup oracles reference them directly)."""
    return _kmeans_sql_p(source, "", k, iters, grain, 64)


def _pq_sql(
    source: str,
    m: int = _PQ_M_DEFAULT,
    k_sub: int = 16,
    iters: int = 2,
    dim: int = 64,
) -> str:
    """Product-quantization fit + encode over ``source``
    (vec_id, embedding) as CTEs: one prefixed Lloyd chain per subspace
    slice, ending in ``pq_codes`` (vec_id, code0..code{m-1}) and
    ``pq_rows`` (vec_id plus the looked-up codeword row r0..r{m-1}).
    Textual mirror of operators/pq.py: codes are the final-iteration
    assignments, rows come from the final codebooks ``pq{j}c{iters}``."""
    sd = dim // m
    parts = []
    for j in range(m):
        parts.append(
            f"""
        pqs{j} AS (
            SELECT vec_id, embedding[{j * sd + 1}:{(j + 1) * sd}] AS embedding
            FROM {source}
        )"""
        )
        parts.append(_kmeans_sql_p(f"pqs{j}", f"pq{j}", k_sub, iters, 6, sd))
    code_cols = ", ".join(f"t{j}.cl AS code{j}" for j in range(m))
    code_joins = " ".join(
        f"JOIN pq{j}a{iters} t{j} USING (vec_id)" for j in range(1, m)
    )
    parts.append(
        f"""
        pq_codes AS (
            SELECT t0.vec_id, {code_cols}
            FROM pq0a{iters} t0 {code_joins}
        )"""
    )
    row_cols = ", ".join(f"b{j}.centroid AS r{j}" for j in range(m))
    row_joins = " ".join(
        f"JOIN pq{j}c{iters} b{j} ON b{j}.cl = pc.code{j}" for j in range(m)
    )
    parts.append(
        f"""
        pq_rows AS (
            SELECT pc.vec_id, {row_cols}
            FROM pq_codes pc {row_joins}
        )"""
    )
    return ",".join(parts)


def _pq_adc_sim_sql(
    q: str = "q", d: str = "d", m: int = _PQ_M_DEFAULT, sd: int = PQ_SD
) -> str:
    """The ADC cosine estimate: per-subspace in-order partial dots /
    norms added LEFT-ASSOCIATIVELY (SQL ``+`` parses left-assoc) — the
    exact subspace-grouped IEEE-754 sequence of pq_adc_scores and the
    LUT kernel, hence bit-identical sims (see operators/pq.py)."""
    dots = " + ".join(
        f"list_sum(list_transform(range(1, {sd + 1}), "
        f"i -> CAST({q}.embedding[{j * sd}+i] AS DOUBLE) * {d}.r{j}[i]))"
        for j in range(m)
    )
    nrm = " + ".join(
        f"list_sum(list_transform(range(1, {sd + 1}), "
        f"i -> {d}.r{j}[i] * {d}.r{j}[i]))"
        for j in range(m)
    )
    return f"round(({dots}) / ({q}.nq * sqrt({nrm})), 9)"


_PQ_VECS = """
        vecs AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) = 64
        )"""


# Shared CTE fragments for the PQ oracle family (r12 review: the qn /
# adc / cand / rex blocks were pasted verbatim into three entries — a
# future fold/tie-break fix applied to one would silently diverge the
# others). Each is used by 2-3 of the q_pq_* oracles below.
def _pq_qn_sql(n: int) -> str:
    """Query slice with its exact norm: (query_id, embedding, nq)."""
    return f"""
        qn AS (
            SELECT vec_id AS query_id, embedding,
                   sqrt({_dot_sql('embedding', 'embedding')}) AS nq
            FROM vecs WHERE vec_id < {n}
        )"""


_PQ_ADC = f"""
        adc AS (
            SELECT q.query_id, d.vec_id, {_pq_adc_sim_sql('q', 'd')} AS sim
            FROM qn q CROSS JOIN pq_rows d
        )"""


def _pq_top_sql(name: str, source: str, limit: int) -> str:
    """Id-only per-query top-``limit`` of ``source`` (sim DESC, vec_id)."""
    return f"""
        {name} AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY sim DESC, vec_id) AS rk
                FROM {source}
            ) WHERE rk <= {limit}
        )"""


_PQ_EXACT_SIM = (
    f"""round({_dot_sql('q.embedding', 'v.embedding')}
                         / (q.nq * sqrt({_dot_sql('v.embedding', 'v.embedding')})),
                         9)"""
)

# exact rescore of the ADC shortlist (the refine stage)
_PQ_REX = f"""
        rex AS (
            SELECT c.query_id, c.vec_id, {_PQ_EXACT_SIM} AS sim
            FROM cand c
            JOIN qn q ON q.query_id = c.query_id
            JOIN vecs v ON v.vec_id = c.vec_id
        )"""

# exact brute-force ground truth over the full corpus
_PQ_EX = f"""
        ex AS (
            SELECT q.query_id, v.vec_id, {_PQ_EXACT_SIM} AS sim
            FROM qn q CROSS JOIN vecs v
        )"""


def _pq_ranked_sql(source: str) -> str:
    """(query_id, vec_id, sim, rank) over ``source`` — the final-answer
    window shared by the top-k oracle entries."""
    return f"""
        ranked AS (
            SELECT query_id, vec_id, sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, vec_id) AS rank
            FROM {source}
        )"""

# DuckDB's generate_series can't take lateral column bounds, so use a
# constant upper bound and filter (documents are well under 16384 chars).
_CHUNKS = """
    chunks AS (
        SELECT doc_id,
               CAST(s / 156 AS INTEGER) AS chunk_id,
               s AS chunk_start,
               substr(text, CAST(s + 1 AS INTEGER), 256) AS chunk_text
        FROM documents, generate_series(0, 16384, 156) AS g(s)
        WHERE length(text) > 0 AND s <= length(text) - 1
    )
"""

_FLAGSHIP_DETAIL = (
    """
    WITH """
    + _NORMS
    + ","
    + _CHUNKS
    + """,
    nvec AS (SELECT count(*) AS n FROM embeddings),
    keyed AS (
        SELECT doc_id * 1000 + chunk_id AS chunk_uid, chunk_text,
               (doc_id * 31 + chunk_id) % (SELECT n FROM nvec) AS cvec
        FROM chunks
    ),
    queries(term, qvec) AS (VALUES ('spark', 0), ('join', 1), ('window', 2),
                                   ('merge', 3), ('zzznomatch', 4)),
    sims AS (
        SELECT a.vec_id AS qvec, b.vec_id AS cvec,
               round(list_sum(list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (nq.nrm * nc.nrm), 9) AS sim
        FROM embeddings a
        CROSS JOIN embeddings b
        JOIN norms nq ON nq.vec_id = a.vec_id
        JOIN norms nc ON nc.vec_id = b.vec_id
        WHERE a.vec_id < 5
    ),
    ranked AS (
        SELECT q.term, k.chunk_uid, k.chunk_text,
               row_number() OVER (PARTITION BY q.term
                                  ORDER BY s.sim DESC, k.chunk_uid) AS rank
        FROM keyed k
        CROSS JOIN queries q
        JOIN sims s ON s.qvec = q.qvec AND s.cvec = k.cvec
    ),
    matched AS (
        SELECT term, count(*) AS n_matches, min(rank) AS first_hit,
               sum(rank) AS sum_rank
        FROM ranked
        WHERE regexp_matches(chunk_text, '(^|\\W)' || term || '($|\\W)')
        GROUP BY term
    ),
    nchunks AS (SELECT count(*) AS nc FROM chunks)
    SELECT q.term,
           CAST(coalesce(m.n_matches, 0) AS BIGINT) AS n_matches,
           CAST(coalesce(m.first_hit, (SELECT nc FROM nchunks)) AS BIGINT) AS first_hit_rank,
           CAST(coalesce(m.sum_rank, (SELECT nc FROM nchunks)) AS BIGINT) AS sum_match_rank,
           CAST(coalesce(m.sum_rank, (SELECT nc FROM nchunks)) AS BIGINT)
             / greatest(CAST(coalesce(m.n_matches, 0) AS BIGINT), 1) AS avg_match_rank
    FROM queries q LEFT JOIN matched m USING (term)
"""
)

def _rpq_adc_sim_sql(
    q: str = "q", d: str = "d", m: int = _PQ_M_DEFAULT, sd: int = PQ_SD
) -> str:
    """Residual-ADC cosine estimate: the subspace-grouped fold of
    ``_pq_adc_sim_sql`` extended by the centroid terms —
    num = dot(q, cent) + Σ_j dot(q_j, r_j);
    den² = ||cent||² + Σ_j 2·dot(cent_j, r_j) + Σ_j ||r_j||² —
    each inner fold in-order, the groups added LEFT-ASSOCIATIVELY in
    exactly the sequence the declarative Spark form and the Arrow LUT
    kernel accumulate (operators/pq.py::pq_residual_scores*), hence
    bit-identical sims."""
    dim = m * sd
    qc = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST({q}.embedding[i] AS DOUBLE) * {d}.cent[i]))"
    )
    dots = " + ".join(
        f"list_sum(list_transform(range(1, {sd + 1}), "
        f"i -> CAST({q}.embedding[{j * sd}+i] AS DOUBLE) * {d}.r{j}[i]))"
        for j in range(m)
    )
    cn = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> {d}.cent[i] * {d}.cent[i]))"
    )
    crosses = " + ".join(
        f"2e0 * list_sum(list_transform(range(1, {sd + 1}), "
        f"i -> {d}.cent[{j * sd}+i] * {d}.r{j}[i]))"
        for j in range(m)
    )
    rns = " + ".join(
        f"list_sum(list_transform(range(1, {sd + 1}), "
        f"i -> {d}.r{j}[i] * {d}.r{j}[i]))"
        for j in range(m)
    )
    return (
        f"round(({qc} + {dots}) / "
        f"({q}.nq * sqrt({cn} + {crosses} + {rns})), 9)"
    )


def _rpq_chain_sql(dim: int = 64) -> str:
    """The residual family's shared CTE prefix: coarse Lloyd chain
    (prefix ``rc`` — the same engine-default k=8/iters=2 chain
    q_kmeans_clusters pins), exact-float64 residual subtraction, the
    per-subspace Lloyd chains over residuals (``_pq_sql``), and
    ``rrows`` = each vector's looked-up codeword rows + its cell
    centroid."""
    # ``resid``/``rrows`` are MATERIALIZED: DuckDB inlines plain CTEs
    # per reference, and resid feeds all m subspace Lloyd chains — the
    # first (inlined) run of the residual audit re-derived the coarse
    # chain ~35× and cost 12+ minutes; materializing collapses it to
    # one evaluation each (measured back under the raw family's wall)
    return f"""
        {_kmeans_sql_p('vecs', 'rc', RPQ_CELLS, 2, 6, dim)},
        resid AS MATERIALIZED (
            SELECT e.vec_id,
                   list_transform(range(1, {dim + 1}),
                       i -> CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])
                       AS embedding
            FROM vecs e
            JOIN rca2 a USING (vec_id)
            JOIN rcc2 c ON c.cl = a.cl
        ),
        {_pq_sql('resid')},
        rrows AS MATERIALIZED (
            SELECT pr.*, c.centroid AS cent
            FROM pq_rows pr
            JOIN rca2 a ON a.vec_id = pr.vec_id
            JOIN rcc2 c ON c.cl = a.cl
        )"""


_RPQ_ADC = f"""
        radc AS MATERIALIZED (
            SELECT q.query_id, d.vec_id, {_rpq_adc_sim_sql('q', 'd')} AS sim
            FROM qn q CROSS JOIN rrows d
        )"""


# --- SQ8 oracle fragments (round 14) ----------------------------------------
# Unlike the PQ chains there is nothing iterative to replay: fit is a
# per-dimension min/max GROUP BY, codes are a floor of the identical
# float64 affine map, reconstruction a plain expression — the oracle
# runs the FULL 8-bit production resolution.

# vecs with the finite filter — sq_fit's exact defect exclusion
# (ADVICE r14: _SQ_MM previously fit over the null/len-only _PQ_VECS;
# hash parity held only because the bench corpus is defect-free). The
# SQ8 and BQ1 families share this universe; _BQ_VECS aliases it below.
_SQ_VECS = """
        vecs AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) = 64
              AND len(list_filter(embedding,
                    x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
        )"""

_SQ_MM = """
        sqmm AS (
            SELECT d.i AS i,
                   min(CAST(v.embedding[d.i] AS DOUBLE)) AS mn,
                   max(CAST(v.embedding[d.i] AS DOUBLE)) AS mx
            FROM vecs v, generate_series(1, 64) AS d(i)
            GROUP BY d.i
        )"""


def _sq_codes_sql(max_vec: int | None = None) -> str:
    """Byte codes per (vector, dimension): clamp BEFORE the int cast —
    textually the Spark expression tree (sq_encode's comment)."""
    where = f"WHERE v.vec_id < {max_vec}" if max_vec is not None else ""
    return f"""
        sqcodes AS (
            SELECT v.vec_id, m.i,
                   CASE WHEN m.mx = m.mn THEN 0
                        ELSE CAST(least(255, greatest(0,
                             floor((CAST(v.embedding[m.i] AS DOUBLE) - m.mn)
                                   * 256.0 / (m.mx - m.mn)))) AS INTEGER)
                   END AS code,
                   m.mn AS mn, (m.mx - m.mn) AS rg
            FROM vecs v JOIN sqmm m ON TRUE
            {where}
        )"""


# midpoint reconstruction, reassembled in dimension order; the column
# is named `embedding` so _PQ_EXACT_SIM / _PQ_REX score it unchanged
_SQ_RECON = """
        sqrecon AS (
            SELECT vec_id,
                   list(mn + (code + 0.5) * rg / 256.0 ORDER BY i)
                       AS embedding
            FROM sqcodes GROUP BY vec_id
        )"""

_SQ_SIMS = f"""
        sqs AS (
            SELECT q.query_id, v.vec_id, {_PQ_EXACT_SIM} AS sim
            FROM qn q CROSS JOIN sqrecon v
        )"""


# --- BQ1 oracle fragments (round 14) ----------------------------------------
# Pure integer pipeline past the median fit: the fit is an explicit
# row_number selection (value at ascending position (n+1) div 2 per
# dimension — no interpolation formula for two engines to disagree on),
# packing is exact BIGINT sums of distinct powers of two, scoring is
# bit_count(xor(...)). vecs here carries the finite filter — BQ's fit,
# candidates, queries, AND exact ground truth share one universe.

_BQ_VECS = _SQ_VECS  # one finite-universe definition for both families

_BQ_MED = """
        bmedr AS (
            SELECT d.i AS i, CAST(v.embedding[d.i] AS DOUBLE) AS x,
                   row_number() OVER (
                       PARTITION BY d.i
                       ORDER BY CAST(v.embedding[d.i] AS DOUBLE)) AS rn,
                   count(*) OVER (PARTITION BY d.i) AS n
            FROM vecs v, generate_series(1, 64) AS d(i)
        ),
        bmed AS (SELECT i, x AS thr FROM bmedr WHERE rn = (n + 1) // 2)"""

# packed words, wide: bit (strict >) shifted to its little-endian lane;
# sum(BIGINT) is HUGEINT in DuckDB, cast back after
_BQ_WIDE = """
        bwide AS (
            SELECT v.vec_id,
                   CAST(sum(CASE WHEN m.i <= 32
                                  AND CAST(v.embedding[m.i] AS DOUBLE)
                                      > m.thr
                             THEN CAST(1 AS BIGINT) << (m.i - 1)
                             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS w0,
                   CAST(sum(CASE WHEN m.i > 32
                                  AND CAST(v.embedding[m.i] AS DOUBLE)
                                      > m.thr
                             THEN CAST(1 AS BIGINT) << (m.i - 33)
                             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS w1
            FROM vecs v CROSS JOIN bmed m
            GROUP BY v.vec_id
        )"""


def _bq_ham_sql(n_queries: int) -> str:
    """Query-side packed words (the same bwide rows — symmetric
    encoding) crossed with every candidate: integer Hamming."""
    return f"""
        bq AS (
            SELECT vec_id AS query_id, w0, w1 FROM bwide
            WHERE vec_id < {n_queries}
        ),
        bham AS (
            SELECT q.query_id, v.vec_id,
                   CAST(bit_count(xor(q.w0, v.w0))
                        + bit_count(xor(q.w1, v.w1)) AS INTEGER)
                       AS hamming
            FROM bq q CROSS JOIN bwide v
        )"""


def _bq_top_sql(name: str, limit: int) -> str:
    """Id-only per-query top-``limit`` of bham (hamming ASC, vec_id)."""
    return f"""
        {name} AS (
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY hamming ASC, vec_id)
                           AS rk
                FROM bham
            ) WHERE rk <= {limit}
        )"""


ORACLE = {
    "q_embedding_validate": f"""
        WITH planted AS (
            SELECT vec_id,
                   CASE WHEN vec_id % 97 = 7 THEN NULL
                        WHEN vec_id % 89 = 5 THEN embedding[1:32]
                        WHEN vec_id % 83 = 3 THEN
                            list_concat(['NaN'::FLOAT], embedding[2:{EMB_DIM}])
                        WHEN vec_id % 79 = 2 THEN
                            list_transform(embedding, x -> 0.0::FLOAT)
                        WHEN vec_id % 73 = 1 THEN
                            embedding[1:4] || [NULL::FLOAT]
                                || embedding[6:{EMB_DIM}]
                        ELSE embedding END AS emb
            FROM embeddings
        ),
        classed AS (
            SELECT vec_id,
                   CASE WHEN emb IS NULL THEN 'null'
                        WHEN len(emb) != {EMB_DIM} THEN 'wrong_dim'
                        WHEN len(list_filter(emb,
                             x -> x IS NULL)) > 0 THEN 'null_element'
                        WHEN len(list_filter(emb,
                             x -> isnan(x) OR isinf(x))) > 0 THEN 'non_finite'
                        WHEN list_sum(list_transform(emb,
                             x -> CAST(x AS DOUBLE) * x)) = 0.0 THEN 'zero_norm'
                        ELSE 'ok' END AS defect
            FROM planted
        )
        SELECT defect, count(*) AS n_vecs,
               CAST(min(vec_id) AS BIGINT) AS first_vec_id
        FROM classed GROUP BY defect
    """,
    "q24_cosine_topk": (
        "WITH "
        + _NORMS
        + """,
        sims AS (
            SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
                   round(list_sum(list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (nq.nrm * nc.nrm), 9) AS sim
            FROM embeddings a
            CROSS JOIN embeddings b
            JOIN norms nq ON nq.vec_id = a.vec_id
            JOIN norms nc ON nc.vec_id = b.vec_id
            WHERE a.vec_id < 5
        ),
        ranked AS (
            SELECT query_id, vec_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY sim DESC, vec_id) AS INTEGER) AS rank,
                   sim
            FROM sims
        )
        SELECT query_id, vec_id, rank, sim
        FROM ranked WHERE rank <= 10
    """
    ),
    "q25_similarity_join": (
        "WITH "
        + _NORMS
        + f""",
        sims AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_sum(list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (na.nrm * nb.nrm), 9) AS sim
            FROM embeddings a
            JOIN embeddings b ON a.vec_id < b.vec_id
            JOIN norms na ON na.vec_id = a.vec_id
            JOIN norms nb ON nb.vec_id = b.vec_id
            WHERE a.vec_id < {SIM_MAX_VEC} AND b.vec_id < {SIM_MAX_VEC}
        )
        SELECT id_a, id_b, sim
        FROM sims WHERE sim >= {SIM_THRESHOLD}
    """
    ),
    "q26_retrieval_rank_detail": _FLAGSHIP_DETAIL,
    "q26b_retrieval_rank_summary": (
        "WITH detail AS ("
        + _FLAGSHIP_DETAIL
        + """)
        SELECT CAST(sum(sum_match_rank) AS BIGINT)
                 / CAST(sum(greatest(n_matches, 1)) AS BIGINT) AS avg_search_rank,
               CAST(sum(first_hit_rank) AS BIGINT) / count(*) AS avg_first_hit_rank
        FROM detail
    """
    ),
    "q_embed_cosine_dedup": f"""
        WITH corpus AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id < {SIM_MAX_VEC} AND embedding IS NOT NULL
            UNION ALL
            SELECT vec_id + {EMB_COPY_BASE}, embedding FROM embeddings
            WHERE vec_id < {EMB_COPY_N} AND embedding IS NOT NULL
        ),
        cnorms AS (
            SELECT vec_id, sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
            FROM corpus
        ),
        dups AS (
            SELECT DISTINCT b.vec_id AS vec_id
            FROM corpus a
            JOIN corpus b ON a.vec_id < b.vec_id
            JOIN cnorms na ON na.vec_id = a.vec_id
            JOIN cnorms nb ON nb.vec_id = b.vec_id
            WHERE round({_dot_sql('a.embedding', 'b.embedding')}
                        / (na.nrm * nb.nrm), 9) >= {EMB_DEDUP_THRESHOLD}
        )
        SELECT vec_id FROM corpus
        WHERE vec_id NOT IN (SELECT vec_id FROM dups)
    """,
    "q_kmeans_clusters": f"""
        WITH vecs AS (
            SELECT * FROM embeddings WHERE embedding IS NOT NULL
        ),
        {_kmeans_sql('vecs')}
        SELECT vec_id, cl AS cluster, round(dist, 6) AS dist2 FROM a2
    """,
    "q_ivf_cell_assign": f"""
        WITH vecs AS (
            SELECT * FROM embeddings WHERE embedding IS NOT NULL
        ),
        {_kmeans_sql('vecs')}
        SELECT vec_id, cl AS cell FROM a2
    """,
    "q_pca_projection": f"""
        WITH {_pca_sql('embeddings')}
        SELECT e.vec_id,
               round(list_sum(list_transform(range(1, 65), j ->
                   (CAST(e.embedding[j] AS DOUBLE) - m.mu[j]) * v.v[j])), 6)
                 AS pc1
        FROM embeddings e, mu_l m, v2_l v
    """,
    "q_semantic_dedup": f"""
        WITH corpus AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id < {SIM_MAX_VEC} AND embedding IS NOT NULL
            UNION ALL
            SELECT vec_id + {EMB_COPY_BASE}, embedding FROM embeddings
            WHERE vec_id < {EMB_COPY_N} AND embedding IS NOT NULL
        ),
        {_kmeans_sql('corpus')},
        cnorms AS (
            SELECT vec_id, sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
            FROM corpus
        ),
        dups AS (
            SELECT DISTINCT b.vec_id AS vec_id
            FROM a2 a
            JOIN a2 b ON a.cl = b.cl AND a.vec_id < b.vec_id
            JOIN corpus ca ON ca.vec_id = a.vec_id
            JOIN corpus cb ON cb.vec_id = b.vec_id
            JOIN cnorms na ON na.vec_id = a.vec_id
            JOIN cnorms nb ON nb.vec_id = b.vec_id
            WHERE round({_dot_sql('ca.embedding', 'cb.embedding')}
                        / (na.nrm * nb.nrm), 9) >= {EMB_DEDUP_THRESHOLD}
        )
        SELECT a.vec_id, a.cl AS cluster FROM a2 a
        WHERE a.vec_id NOT IN (SELECT vec_id FROM dups)
    """,
    "q_embedding_stats": (
        "WITH "
        + _NORMS
        + """
        SELECT label, count(*) AS n_vecs, round(avg(nrm), 4) AS avg_norm
        FROM embeddings JOIN norms USING (vec_id)
        GROUP BY label
    """
    ),
    "q_embed_quantize": """
        WITH s AS (
            SELECT vec_id, embedding,
                   127.0 / greatest(list_max(list_transform(embedding,
                       v -> abs(CAST(v AS DOUBLE)))), 1e-12) AS scale
            FROM embeddings
        ),
        q AS (
            SELECT vec_id, scale,
                   list_transform(embedding,
                       v -> greatest(-127, least(127,
                            CAST(floor(CAST(v AS DOUBLE) * scale + 0.5)
                                 AS INTEGER)))) AS qv
            FROM s
        )
        SELECT vec_id, round(scale, 6) AS scale,
               CAST(list_sum(qv) AS INTEGER) AS q_sum,
               CAST(list_sum(list_transform(qv, v -> abs(v))) AS INTEGER)
                   AS q_l1,
               CAST(list_max(qv) AS INTEGER) AS q_max
        FROM q
    """,
    # Promoted from rows-only in round 5: the centroids are pure
    # functions (see _centroid_values), so the whole IVF probe/rank
    # pipeline is SQL-reproducible. Tiebreaks mirror the Spark side
    # exactly: cell assignment = reverse(array_sort(struct(s, cell)))
    # == ORDER BY s DESC, cell DESC; final rank = sim DESC, vec_id ASC.
    "q_ivf_ann": f"""
        WITH cents(cell, cv) AS (VALUES {_centroid_values()}),
        corpus AS (
            SELECT vec_id, embedding,
                   sqrt({_dot_sql('embedding', 'embedding')}) AS nrm
            FROM embeddings
        ),
        cassign AS (
            SELECT c.vec_id, ct.cell,
                   round(list_sum(list_transform(range(1, 65),
                         i -> CAST(c.embedding[i] AS DOUBLE) * ct.cv[i])), 9)
                       AS s
            FROM corpus c CROSS JOIN cents ct
        ),
        ccell AS (
            SELECT vec_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, cell DESC) AS rn
                FROM cassign
            ) WHERE rn = 1
        ),
        qcell AS (
            SELECT vec_id AS query_id, cell FROM (
                SELECT vec_id, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, cell DESC) AS rn
                FROM cassign WHERE vec_id < 5
            ) WHERE rn <= 4
        ),
        scored AS (
            SELECT q.query_id, cc.vec_id,
                   round(list_sum(list_transform(range(1, 65),
                             i -> CAST(qv.embedding[i] AS DOUBLE)
                                  * CAST(cv2.embedding[i] AS DOUBLE)))
                         / (qv.nrm * cv2.nrm), 9) AS sim
            FROM qcell q
            JOIN ccell cc ON cc.cell = q.cell
            JOIN corpus qv ON qv.vec_id = q.query_id
            JOIN corpus cv2 ON cv2.vec_id = cc.vec_id
        ),
        ranked AS (
            SELECT query_id, vec_id, sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, vec_id) AS rank
            FROM scored
        )
        SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank, sim
        FROM ranked WHERE rank <= 10
    """,
    # Promoted from rows-only in round 5. The hyperplanes are pure
    # functions (VALUES literals below); band-bucket equality in the
    # Spark path is xxhash64 over a band's 4-bit slice — only 16
    # possible inputs per band, so bucket equality IS bit-tuple
    # equality, reproduced here by packing the bits directly. The
    # exact-duplicate collapse groups by embedding value (Spark groups
    # by xxhash64(embedding); identical sets absent 64-bit collisions,
    # impossible to hit at audit scale). Verification parity: the Arrow
    # kernel folds dimensions in ascending order == list_sum order, and
    # the final predicate is round(sim, 9) >= threshold in both.
    "q_lsh_similarity_join": f"""
        WITH planes(p_idx, pv) AS (VALUES {_plane_values()}),
        grp AS (
            SELECT embedding, min(vec_id) AS rep, count(*) AS cnt
            FROM embeddings WHERE embedding IS NOT NULL GROUP BY embedding
        ),
        dup_edges AS (
            SELECT g.rep AS id_a, e.vec_id AS id_b, CAST(1.0 AS DOUBLE) AS sim
            FROM embeddings e JOIN grp g USING (embedding)
            WHERE e.vec_id <> g.rep
        ),
        base AS (
            SELECT g.rep AS id, g.embedding,
                   sqrt({_dot_sql('g.embedding', 'g.embedding')}) AS nrm
            FROM grp g
        ),
        bits AS (
            SELECT b.id, p.p_idx,
                   CASE WHEN list_sum(list_transform(range(1, 65),
                             i -> CAST(b.embedding[i] AS DOUBLE) * p.pv[i]))
                             >= 0 THEN 1 ELSE 0 END AS bit
            FROM base b CROSS JOIN planes p
        ),
        bands AS (
            SELECT id, p_idx // 4 AS band,
                   CAST(sum(bit * (1 << CAST(p_idx % 4 AS INTEGER)))
                        AS BIGINT) AS key
            FROM bits GROUP BY 1, 2
        ),
        cand AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key AND a.id < b.id
        ),
        near AS (
            SELECT c.id_a, c.id_b,
                   round(list_sum(list_transform(range(1, 65),
                             i -> CAST(ea.embedding[i] AS DOUBLE)
                                  * CAST(eb.embedding[i] AS DOUBLE)))
                         / (ea.nrm * eb.nrm), 9) AS sim
            FROM cand c
            JOIN base ea ON ea.id = c.id_a
            JOIN base eb ON eb.id = c.id_b
        )
        SELECT id_a, id_b, sim FROM near WHERE sim >= 0.25
        UNION ALL
        SELECT id_a, id_b, sim FROM dup_edges
    """,
    # --- product quantization: the full fit + encode + ADC pipeline is
    # SQL-replayable (one prefixed Lloyd chain per subspace — the
    # q_kmeans_clusters promotion technique applied m times), so even the
    # Arrow LUT kernel's sims get a cross-engine value hash. -------------
    "q_pq_codes": f"""
        WITH {_PQ_VECS},
        {_pq_sql('vecs')}
        SELECT vec_id,
               {", ".join(f"code{j}" for j in range(_PQ_M_DEFAULT))}
        FROM pq_codes
    """,
    "q_pq_adc_topk": f"""
        WITH {_PQ_VECS},
        {_pq_sql('vecs')},
        {_pq_qn_sql(5)},
        {_PQ_ADC},
        {_pq_ranked_sql('adc')}
        SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank, sim
        FROM ranked WHERE rank <= 10
    """,
    "q_pq_ann_refined": f"""
        WITH {_PQ_VECS},
        {_pq_sql('vecs')},
        {_pq_qn_sql(5)},
        {_PQ_ADC},
        {_pq_top_sql('cand', 'adc', PQ_REFINE * PQ_TOPK)},
        {_PQ_REX},
        {_pq_ranked_sql('rex')}
        SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank, sim
        FROM ranked WHERE rank <= 10
    """,
    "q_pq_train_error": f"""
        WITH {_PQ_VECS},
        {_pq_sql('vecs')},
        errs AS (
            SELECT 0 AS sub, dist FROM pq0a2
            {" ".join(f"UNION ALL SELECT {j}, dist FROM pq{j}a2"
                      for j in range(1, _PQ_M_DEFAULT))}
        )
        SELECT sub, count(*) AS n_vecs,
               round(sum(dist), 6) / count(*) AS avg_err
        FROM errs GROUP BY sub
    """,
    "q_pq_recall_audit": f"""
        WITH {_PQ_VECS},
        {_pq_sql('vecs')},
        {_pq_qn_sql(100)},
        {_PQ_ADC},
        {_pq_top_sql('adc10', 'adc', 10)},
        {_pq_top_sql('cand', 'adc', PQ_REFINE * PQ_TOPK)},
        {_PQ_REX},
        {_pq_top_sql('ref10', 'rex', 10)},
        {_PQ_EX},
        {_pq_top_sql('ex10', 'ex', 10)},
        truth AS (SELECT count(*) AS n FROM ex10)
        SELECT 'adc' AS variant, count(*) AS n_hits,
               round(CAST(count(*) AS DOUBLE) / (SELECT n FROM truth), 4)
                   AS recall
        FROM ex10 JOIN adc10 USING (query_id, vec_id)
        UNION ALL
        SELECT 'refined' AS variant, count(*) AS n_hits,
               round(CAST(count(*) AS DOUBLE) / (SELECT n FROM truth), 4)
                   AS recall
        FROM ex10 JOIN ref10 USING (query_id, vec_id)
    """,
    "q_pq_residual_adc": f"""
        WITH {_PQ_VECS},
        {_rpq_chain_sql()},
        {_pq_qn_sql(5)},
        {_RPQ_ADC},
        {_pq_ranked_sql('radc')}
        SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank, sim
        FROM ranked WHERE rank <= 10
    """,
    "q_pq_residual_audit": f"""
        WITH {_PQ_VECS},
        {_rpq_chain_sql()},
        {_pq_qn_sql(100)},
        {_RPQ_ADC},
        {_pq_top_sql('adc10', 'radc', 10)},
        {_pq_top_sql('cand', 'radc', PQ_REFINE * PQ_TOPK)},
        {_PQ_REX},
        {_pq_top_sql('ref10', 'rex', 10)},
        {_PQ_EX},
        {_pq_top_sql('ex10', 'ex', 10)},
        truth AS (SELECT count(*) AS n FROM ex10)
        SELECT 'adc' AS variant, count(*) AS n_hits,
               round(CAST(count(*) AS DOUBLE) / (SELECT n FROM truth), 4)
                   AS recall
        FROM ex10 JOIN adc10 USING (query_id, vec_id)
        UNION ALL
        SELECT 'refined' AS variant, count(*) AS n_hits,
               round(CAST(count(*) AS DOUBLE) / (SELECT n FROM truth), 4)
                   AS recall
        FROM ex10 JOIN ref10 USING (query_id, vec_id)
    """,
    "q_sq8_codes": f"""
        WITH {_SQ_VECS},
        {_SQ_MM},
        {_sq_codes_sql(SQ_CODES_MAX_VEC)}
        SELECT vec_id, CAST(i - 1 AS INTEGER) AS dim_i, code
        FROM sqcodes
    """,
    "q_sq8_topk": f"""
        WITH {_SQ_VECS},
        {_SQ_MM},
        {_sq_codes_sql()},
        {_SQ_RECON},
        {_pq_qn_sql(5)},
        {_SQ_SIMS},
        {_pq_ranked_sql('sqs')}
        SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank, sim
        FROM ranked WHERE rank <= 10
    """,
    "q_sq8_recall_audit": f"""
        WITH {_SQ_VECS},
        {_SQ_MM},
        {_sq_codes_sql()},
        {_SQ_RECON},
        {_pq_qn_sql(100)},
        {_SQ_SIMS},
        {_pq_top_sql('sq10', 'sqs', 10)},
        {_pq_top_sql('cand', 'sqs', SQ_REFINE * PQ_TOPK)},
        {_PQ_REX},
        {_pq_top_sql('ref10', 'rex', 10)},
        {_PQ_EX},
        {_pq_top_sql('ex10', 'ex', 10)},
        truth AS (SELECT count(*) AS n FROM ex10)
        SELECT 'sq8' AS variant, count(*) AS n_hits,
               round(CAST(count(*) AS DOUBLE) / (SELECT n FROM truth), 4)
                   AS recall
        FROM ex10 JOIN sq10 USING (query_id, vec_id)
        UNION ALL
        SELECT 'refined' AS variant, count(*) AS n_hits,
               round(CAST(count(*) AS DOUBLE) / (SELECT n FROM truth), 4)
                   AS recall
        FROM ex10 JOIN ref10 USING (query_id, vec_id)
    """,
    "q_bq_codes": f"""
        WITH {_BQ_VECS},
        {_BQ_MED},
        {_BQ_WIDE}
        SELECT vec_id, CAST(0 AS INTEGER) AS word_i, w0 AS word
        FROM bwide WHERE vec_id < {BQ_CODES_MAX_VEC}
        UNION ALL
        SELECT vec_id, CAST(1 AS INTEGER) AS word_i, w1 AS word
        FROM bwide WHERE vec_id < {BQ_CODES_MAX_VEC}
    """,
    "q_bq_hamming_topk": f"""
        WITH {_BQ_VECS},
        {_BQ_MED},
        {_BQ_WIDE},
        {_bq_ham_sql(PQ_QUERIES_N)},
        branked AS (
            SELECT query_id, vec_id, hamming,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY hamming ASC, vec_id)
                       AS rank
            FROM bham
        )
        SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank, hamming
        FROM branked WHERE rank <= {PQ_TOPK}
    """,
    "q_bq_recall_audit": f"""
        WITH {_BQ_VECS},
        {_BQ_MED},
        {_BQ_WIDE},
        {_bq_ham_sql(PQ_AUDIT_QUERIES)},
        {_bq_top_sql('bq10', PQ_TOPK)},
        {_bq_top_sql('cand', BQ_REFINE * PQ_TOPK)},
        {_pq_qn_sql(PQ_AUDIT_QUERIES)},
        {_PQ_REX},
        {_pq_top_sql('ref10', 'rex', PQ_TOPK)},
        {_PQ_EX},
        {_pq_top_sql('ex10', 'ex', PQ_TOPK)},
        truth AS (SELECT count(*) AS n FROM ex10)
        SELECT 'bq1' AS variant, count(*) AS n_hits,
               round(CAST(count(*) AS DOUBLE) / (SELECT n FROM truth), 4)
                   AS recall
        FROM ex10 JOIN bq10 USING (query_id, vec_id)
        UNION ALL
        SELECT 'refined' AS variant, count(*) AS n_hits,
               round(CAST(count(*) AS DOUBLE) / (SELECT n FROM truth), 4)
                   AS recall
        FROM ex10 JOIN ref10 USING (query_id, vec_id)
    """,
}
