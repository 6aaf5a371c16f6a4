"""The benchmark workloads and their output checks.

Each workload has ``setup(ctx)`` (inputs, fits, expected outputs; the
runner adds the warm-up ops) and ``op(ctx, i)``, which runs op ``i`` and
returns ``(wall_s, problem)``: ``wall_s`` the timed part, ``problem``
None when the output check passed. Checks run after the timed part.
Expected values come from numpy or pyarrow over the generated inputs,
never from the engine; computing them is excluded from ``setup_s``
(``Ctx.untimed``).
"""

from __future__ import annotations

import contextlib
import re
import shutil
import time
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from perfbench import inputs


@dataclass
class Ctx:
    spark: object
    rng: np.random.Generator
    work: str  # scratch directory inside the checkout
    tracer: object
    state: dict = field(default_factory=dict)
    untimed_s: float = 0.0  # set-up time spent on the harness, not the engine

    @contextlib.contextmanager
    def untimed(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0


def spark_round9(x: float) -> float:
    """Spark's ``round(double, 9)``: HALF_UP on the shortest decimal."""
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-9"),
                                                  ROUND_HALF_UP))


def fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot product accumulated dimension by dimension in
    float64, the same IEEE fold as the engine's scorers."""
    acc = np.zeros(np.broadcast_shapes(a.shape, b.shape)[:-1])
    for i in range(a.shape[-1]):
        acc = acc + a[..., i] * b[..., i]
    return acc


# -- rag_ann_serve: the rag_evaluation pass -----------------------------------

RAG_DOCS = 2500
RAG_VECS = 2000
RAG_TERMS = 16
CHUNK_SIZE, CHUNK_OVERLAP = 256, 100


def _chunks(docs) -> list[tuple[int, int, str]]:
    """(doc_id, chunk_id, chunk_text): ``chunk_documents`` geometry."""
    stride = CHUNK_SIZE - CHUNK_OVERLAP
    out = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        if not text:
            continue
        for cid, start in enumerate(range(0, (len(text) - 1) // stride * stride + 1,
                                          stride)):
            out.append((int(doc_id), cid, text[start:start + CHUNK_SIZE]))
    return out


def rag_expected(docs, emb: np.ndarray, terms: list[str]):
    """Per-term (n_matches, first_hit_rank, sum_match_rank) and the
    summary (avg_search_rank, avg_first_hit_rank), computed directly."""
    chunks = _chunks(docs)
    n = len(chunks)
    uid = np.array([d * 1000 + c for d, c, _ in chunks], dtype=np.int64)
    cvec = np.array([(d * 31 + c) % len(emb) for d, c, _ in chunks])
    e = emb.astype(np.float64)
    norms = np.sqrt(fold_dot(e, e))
    detail = {}
    for qi, term in enumerate(terms):
        q = e[qi]
        raw = fold_dot(e, q[None, :]) / (np.sqrt(fold_dot(q, q)) * norms)
        sims_by_vec = np.array([spark_round9(x) for x in raw])
        sims = sims_by_vec[cvec]
        order = np.lexsort((uid, -sims))  # sim DESC, chunk_uid ASC
        rank = np.empty(n, dtype=np.int64)
        rank[order] = np.arange(1, n + 1)
        pat = re.compile(r"(^|\W)" + term + r"($|\W)")
        hits = [rank[i] for i, (_, _, t) in enumerate(chunks) if pat.search(t)]
        if hits:
            detail[term] = (len(hits), int(min(hits)), int(sum(hits)))
        else:
            detail[term] = (0, n, n)
    sum_rank = sum(v[2] for v in detail.values())
    n_ranks = sum(max(v[0], 1) for v in detail.values())
    summary = (sum_rank / n_ranks,
               sum(v[1] for v in detail.values()) / len(detail))
    return detail, summary, n


def rag_setup(ctx: Ctx) -> np.ndarray:
    """Write the documents, the embeddings table and the query terms;
    returns the embedding matrix."""
    import pandas as pd
    from pyspark.sql import functions as F

    docs = inputs.documents(ctx.rng, RAG_DOCS)
    emb = inputs.embeddings(ctx.rng, RAG_VECS)
    terms = inputs.rag_terms(ctx.rng, RAG_TERMS)
    inputs.write_parquet(docs, f"{ctx.work}/documents.parquet")
    inputs.write_parquet(emb, f"{ctx.work}/embeddings.parquet")
    # the flagship's query shape: term i takes embedding row i
    inputs.write_parquet(pd.DataFrame({
        "term": terms, "qvec": np.arange(len(terms), dtype=np.int64)}),
        f"{ctx.work}/terms.parquet")
    spark = ctx.spark
    ctx.state["docs"] = spark.read.parquet(f"{ctx.work}/documents.parquet")
    ctx.state["emb"] = spark.read.parquet(f"{ctx.work}/embeddings.parquet")
    ctx.state["queries"] = (
        spark.read.parquet(f"{ctx.work}/terms.parquet")
        .withColumn("pattern", F.concat(F.lit(r"(^|\W)"), F.col("term"),
                                        F.lit(r"($|\W)")))
        .join(F.broadcast(ctx.state["emb"].select(
            F.col("vec_id").alias("qvec"),
            F.col("embedding").alias("query_emb"))), "qvec")
        .select("term", "pattern", "query_emb")
    )
    mat = np.stack(emb["embedding"].to_numpy())
    with ctx.untimed():
        ctx.state["rag_expected"] = rag_expected(docs, mat, terms)
    return mat


def rag_pass(ctx: Ctx):
    """One ``pipelines.rag_evaluation`` pass: chunk, attach embeddings,
    rank, collect detail and summary. Runs inside the op's
    ``cache_scope``."""
    from pyspark.sql import functions as F

    from biodata_pipeline_spark import pipelines
    from biodata_pipeline_spark.operators.chunking import chunk_documents

    tr, st = ctx.tracer, ctx.state
    with tr.span("chunking.chunk_documents"):
        n_vec = st["emb"].agg(F.count("*").alias("__n_vec"))
        chunks = (
            chunk_documents(st["docs"])
            .withColumn("chunk_uid",
                        F.col("doc_id") * 1000 + F.col("chunk_id"))
            .crossJoin(F.broadcast(n_vec))
            .withColumn("cvec", F.pmod(
                F.col("doc_id") * 31 + F.col("chunk_id"),
                F.col("__n_vec")))
            .join(F.broadcast(st["emb"].select(
                F.col("vec_id").alias("cvec"), "embedding")), "cvec")
            .select("chunk_uid", "chunk_text", "embedding")
            .persist()
        )
        n_chunks = chunks.count()
    with tr.span("retrieval.retrieval_rank_metrics"):
        detail, summary = pipelines.rag_evaluation(st["queries"], chunks)
        detail_rows = detail.collect()
    with tr.span("retrieval.retrieval_summary"):
        summary_rows = summary.collect()
    chunks.unpersist()
    return n_chunks, detail_rows, summary_rows


def rag_check(ctx: Ctx, n_chunks, detail_rows, summary_rows):
    exp_detail, exp_summary, exp_n = ctx.state["rag_expected"]
    if n_chunks != exp_n:
        return f"chunks {n_chunks} != {exp_n}"
    got = {r["term"]: (r["n_matches"], r["first_hit_rank"],
                       r["sum_match_rank"]) for r in detail_rows}
    if got != exp_detail:
        bad = sorted(t for t in exp_detail if got.get(t) != exp_detail[t])
        return f"detail differs for {bad}"
    for r in detail_rows:
        if r["avg_match_rank"] != r["sum_match_rank"] / max(r["n_matches"], 1):
            return f"avg_match_rank wrong for {r['term']}"
    s = summary_rows[0]
    if (s["avg_search_rank"], s["avg_first_hit_rank"]) != exp_summary:
        return f"summary {tuple(s)} != {exp_summary}"
    return None


# -- rag_ann_serve: the vector index over the same embeddings -----------------

ANN_DIM = 64
ANN_CELLS = 8
ANN_ITERS = 1  # Lloyd passes of the coarse and the PQ fits
ANN_PQ_M = 2
ANN_KSUB = 16
ANN_K = 10
ANN_Q = 16
ANN_ADD = 256
ANN_ADD_BATCHES = 4
ANN_QUERY_BATCHES = 4
# below the index's row count, so queries take the Arrow-kernel side of
# the gate that KERNEL_INDEX_THRESHOLD sets at production size
ANN_KERNEL_THRESHOLD = RAG_VECS // 2
SCORINGS = ("exact", "adc_refine", "sq8_refine", "bq1_refine")


def ann_setup(ctx: Ctx, base: np.ndarray) -> None:
    """Write the query and add batches, then build the index over
    ``embeddings.parquet`` and attach the PQ, SQ8 and BQ1 layers."""
    import pandas as pd

    from biodata_pipeline_spark.operators.ann_store import VectorIndexStore

    st, spark, tr = ctx.state, ctx.spark, ctx.tracer
    n = len(base)
    adds = inputs.mixture_vectors(ctx.rng, ANN_ADD * ANN_ADD_BATCHES,
                                  ANN_DIM, 10)
    queries = inputs.mixture_vectors(ctx.rng, ANN_Q * ANN_QUERY_BATCHES,
                                     ANN_DIM, 10)
    st["vectors"] = np.concatenate([base, adds]).astype(np.float64)
    st["query_vecs"] = queries.astype(np.float64)
    st["n_base"] = n
    for b in range(ANN_QUERY_BATCHES):
        inputs.write_parquet(pd.DataFrame({
            "query_id": np.arange(ANN_Q, dtype=np.int64),
            "query_emb": list(queries[b * ANN_Q:(b + 1) * ANN_Q])}),
            f"{ctx.work}/queries{b}.parquet")
    for b in range(ANN_ADD_BATCHES):
        inputs.write_parquet(pd.DataFrame({
            "vec_id": n + b * ANN_ADD + np.arange(ANN_ADD, dtype=np.int64),
            "embedding": list(adds[b * ANN_ADD:(b + 1) * ANN_ADD])}),
            f"{ctx.work}/adds{b}.parquet")
    st["query_frames"] = [spark.read.parquet(f"{ctx.work}/queries{b}.parquet")
                          for b in range(ANN_QUERY_BATCHES)]
    st["add_frames"] = [spark.read.parquet(f"{ctx.work}/adds{b}.parquet")
                        for b in range(ANN_ADD_BATCHES)]
    store = VectorIndexStore(f"{ctx.work}/index")
    with tr.span("ann_store.build"):
        store.build(st["emb"], k=ANN_CELLS, iters=ANN_ITERS)
    with tr.span("ann_store.enable_pq"):
        store.enable_pq(spark, m=ANN_PQ_M, k_sub=ANN_KSUB, iters=ANN_ITERS)
    with tr.span("ann_store.enable_sq8"):
        store.enable_sq8(spark)
    with tr.span("ann_store.enable_bq"):
        store.enable_bq(spark)
    st["store"] = store
    st["added"] = set()


def ann_round(ctx: Ctx, i: int):
    """One query batch per scoring, then one ``add``; the adds cycle
    over ``ANN_ADD_BATCHES`` batch ids, so the idempotent overwrite
    keeps the index size bounded. Returns the outputs to check."""
    st, tr = ctx.state, ctx.tracer
    store = st["store"]
    b = i % ANN_QUERY_BATCHES
    results = []
    for scoring in SCORINGS:
        with tr.span(f"ann_store.query.{scoring}"):
            rows = store.query(st["query_frames"][b], ANN_K, scoring=scoring,
                               kernel_threshold=ANN_KERNEL_THRESHOLD).collect()
        results.append((scoring, rows))
    a = i % ANN_ADD_BATCHES
    with tr.span("ann_store.add"):
        n_added = store.add(st["add_frames"][a], batch_id=f"bench{a}")
    return b, results, a, n_added


def ann_check(ctx: Ctx, b: int, results, a: int, n_added: int):
    st = ctx.state
    n_live = st["n_base"] + ANN_ADD * len(st["added"])  # before this add
    for scoring, rows in results:
        problem = ann_check_query(st, b, scoring, rows, n_live)
        if problem:
            return problem
    if n_added != ANN_ADD:
        return f"add enrolled {n_added} != {ANN_ADD}"
    st["added"].add(a)
    live = st["store"].vectors(ctx.spark).count()
    want = st["n_base"] + ANN_ADD * len(st["added"])
    if live != want:
        return f"live count {live} != {want}"
    return None


def ann_check_query(st: dict, b: int, scoring: str, rows, n_live: int):
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    if sorted(by_q) != list(range(ANN_Q)):
        return f"{scoring}: queries answered {sorted(by_q)}"
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        if [r["rank"] for r in rs] != list(range(1, ANN_K + 1)):
            return f"{scoring}: query {qid} ranks {[r['rank'] for r in rs]}"
        ids = np.array([r["vec_id"] for r in rs])
        if ids.min() < 0 or ids.max() >= n_live:
            return f"{scoring}: query {qid} returned an unknown id"
        if scoring != "exact":
            continue
        q = st["query_vecs"][b * ANN_Q + qid]
        v = st["vectors"][ids]
        want = fold_dot(v, q[None, :]) / (
            np.sqrt(fold_dot(q, q)) * np.sqrt(fold_dot(v, v)))
        got = np.array([r["sim"] for r in rs])
        if np.max(np.abs(got - np.round(want, 9))) > 1.5e-9:
            return f"exact: query {qid} sims differ from numpy cosine"
    return None


class RagAnnServe:
    """Stage C serving on one session: each op is one
    ``rag_evaluation`` pass over the chunked corpus, then one ANN round
    (a query batch per scoring and one ``add``) over an index of the
    same embeddings, built in set-up."""

    name = "rag_ann_serve"
    # the timed op is the first after the index fits, whose ~40 s of
    # Spark jobs have warmed the JVM; a warm-up op would cost another
    # ~30 s a run, more than the run budget leaves
    warmup_ops = 0

    def setup(self, ctx: Ctx) -> None:
        mat = rag_setup(ctx)
        ann_setup(ctx, mat)

    def op(self, ctx: Ctx, i: int):
        from biodata_pipeline_spark.operators.caching import cache_scope

        t0 = time.perf_counter()
        with cache_scope():
            rag_out = rag_pass(ctx)
            ann_out = ann_round(ctx, i)
        wall = time.perf_counter() - t0
        return wall, rag_check(ctx, *rag_out) or ann_check(ctx, *ann_out)


# -- corpus_build -------------------------------------------------------------

CORPUS_DOCS = 500
CORPUS_DUP_SHARE = 0.1
SCRUB_LINE_MIN_COUNT = 3


class CorpusBuild:
    name = "corpus_build"
    # the timed op is the process's first: a pretraining-data build runs
    # once per job, so its cold cost is the one its users pay
    warmup_ops = 0

    def setup(self, ctx: Ctx) -> None:
        from biodata_pipeline_spark import pipelines
        from biodata_pipeline_spark.streaming import export

        docs = inputs.documents(ctx.rng, CORPUS_DOCS, CORPUS_DUP_SHARE)
        inputs.write_parquet(docs, f"{ctx.work}/documents.parquet")
        ctx.state["n_docs"] = len(docs)
        ctx.state["docs"] = ctx.spark.read.parquet(f"{ctx.work}/documents.parquet")
        # the chain's stages, each run inside a span (function-local
        # imports and module globals resolve through the wrappers)
        tr = ctx.tracer
        tr.wrap(pipelines, "build_training_corpus", "pipelines.build_training_corpus")
        tr.wrap(pipelines, "tokenize_and_pack", "pipelines.tokenize_and_pack")
        tr.wrap(export, "export_packed_sequences", "export.export_packed_sequences")

    def op(self, ctx: Ctx, i: int):
        from biodata_pipeline_spark import pipelines
        from biodata_pipeline_spark.operators.caching import cache_scope

        wd = f"{ctx.work}/corpus_op{i}"
        t0 = time.perf_counter()
        with cache_scope():
            _, report = pipelines.run_pretraining_pipeline(
                ctx.state["docs"], wd, scrub_line_min_count=SCRUB_LINE_MIN_COUNT)
            census = {r["metric"]: r["value"] for r in report.collect()}
        wall = time.perf_counter() - t0
        try:
            problem = self.check(ctx, census, wd)
        finally:
            shutil.rmtree(wd, ignore_errors=True)
        return wall, problem

    @staticmethod
    def check(ctx: Ctx, census: dict, wd: str):
        """The census against the generated input: every doc counted,
        each stage keeps at most what the one before it kept, some
        near-duplicate cluster collapsed, something was packed, and the
        packed, manifest and on-disk token counts agree."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        n = ctx.state["n_docs"]
        if census.get("input_docs") != n:
            return f"input_docs {census.get('input_docs')} != {n}"
        chain = [census[k] for k in ("scrub_docs_kept", "quality_lang_kept",
                                     "dedup_survivors", "final_docs")]
        if not n >= chain[0] >= chain[1] > chain[2] >= chain[3] > 0:
            return f"stage counts {chain} of {n} docs"
        if not census["packed_tokens"] > 0:
            return "nothing packed"
        if census["packed_tokens"] != census["shard_tokens"]:
            return f"packed_tokens {census['packed_tokens']} != shard_tokens"
        ids = pq.read_table(f"{wd}/shards", columns=["ids"])["ids"]
        written = pc.sum(pc.list_value_length(ids)).as_py() or 0
        if written != census["shard_tokens"]:
            return f"shard files hold {written} tokens != {census['shard_tokens']}"
        return None


WORKLOADS = {w.name: w for w in (RagAnnServe, CorpusBuild)}

