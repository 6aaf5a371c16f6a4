"""The reference's four stages, re-expressed as composed engine
pipelines. A user of `cucinellclark/biodata-pipeline` drives the same
workloads through these functions:

 - ``narrative_generation``   ≙ python generate_narratives_from_data.py
   (data_generation/generate_narratives_from_data.py:87-104)
 - ``adapter_sweep_plan``     ≙ the orchestration layer of
   create_all_models*.py (train_adapters/create_all_models_json_data.py:29-74)
 - ``rag_evaluation``         ≙ python RAG-eval-test_model.py
   (rag_evaluation/RAG-eval-test_model.py:119-153,226-248)
 - ``harness_evaluation``     ≙ python test_all_models_llm_eval_sophia.py
   (llm_harness_evaluation/test_all_models_llm_eval_sophia.py:38-66)

Each is one declarative DataFrame computation; the PBS/qstat machinery of
the reference dissolves into Spark's scheduler, and filesystem-existence
bookkeeping becomes manifest anti-joins.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biodata_pipeline_spark.functions.textfn import (
    has_suffix_marker,
    narrative_prompt,
    strip_suffix_marker,
)
from biodata_pipeline_spark.operators.enrichment import (
    enrich_with_external_calls,
    mock_llm,
)
from biodata_pipeline_spark.operators.grid import sweep_grid, work_remaining
from biodata_pipeline_spark.operators.retrieval import (
    retrieval_rank_metrics,
    retrieval_summary,
)
from biodata_pipeline_spark.sources.local import local_frame
from biodata_pipeline_spark.sources.manifest import Manifest
from biodata_pipeline_spark.sources.text import read_text_lines


def narrative_generation(
    spark: SparkSession,
    input_path: str,
    manifest: Manifest,
    sink_dir: str,
    call: Callable[[str], str] = mock_llm,
) -> int:
    """Stage A: JSON-lines records → prompts → external LLM calls →
    validity-gated narratives, incrementally (skip-if-exists ≙ manifest
    anti-join; re-run ⇒ zero new work). Returns narratives written.

    Gated-out rows (response missing the '###' terminator) are NOT marked
    done, so the next run retries them — the reference's re-drive loop.
    """
    lines = read_text_lines(spark, input_path, col="record")
    work = lines.withColumn("key", F.md5("record")).withColumn(
        "prompt", narrative_prompt(F.col("record"))
    )
    todo = manifest.pending(work)
    if todo.isEmpty():
        return 0
    enriched = enrich_with_external_calls(todo, "prompt", call=call)
    valid = (
        enriched.filter(has_suffix_marker("response"))
        .withColumn("narrative", strip_suffix_marker("response"))
        .select("key", "record", "narrative")
        # Materialize ONCE before the three consumers (write, mark_done,
        # count). Without this, each action re-runs the external-call stage
        # — 3× the cost — and a non-deterministic call could pass the '###'
        # gate during mark_done but fail it during the write, marking a
        # record done whose narrative was never written (then never
        # retried, since the anti-join skips it forever).
        .localCheckpoint()
    )
    valid.write.mode("append").parquet(sink_dir)
    manifest.mark_done(valid)
    return valid.count()


def adapter_sweep_plan(
    spark: SparkSession,
    domains: list[str],
    epochs: list[float],
    done: DataFrame | None = None,
) -> DataFrame:
    """Stage B planning: the (domain × epoch) sweep grid minus completed
    cells, each cell annotated with the previous epoch it resumes from
    (the reference locates the prior checkpoint by globbing,
    create_all_models.py:52-58 — here it is a window ``lag``).

    Training itself stays out-of-engine (hook: operators.grid.grid_apply);
    the epoch chain within a domain is inherently sequential — parallelism
    is across domains, exactly like the reference.
    """
    from pyspark.sql import Window

    grid = sweep_grid(spark, {"domain": domains, "epoch": epochs})
    w = Window.partitionBy("domain").orderBy(F.col("epoch").asc())
    grid = grid.withColumn("resume_from_epoch", F.lag("epoch").over(w))
    if done is not None:
        grid = work_remaining(grid, done, ["domain", "epoch"])
    return grid


def rag_evaluation(
    queries: DataFrame,
    chunks: DataFrame,
    **kwargs,
) -> tuple[DataFrame, DataFrame]:
    """Stage C: full-corpus retrieval ranking + rank metrics.

    ``queries``: (term, pattern, query_emb); ``chunks``: (chunk_uid,
    chunk_text, embedding) — e.g. ``chunk_documents`` output with embeddings
    attached. Returns (per-query detail, corpus summary) — the reference's
    per-query report lines and trailing aggregate lines as two frames.
    """
    detail = retrieval_rank_metrics(queries, chunks, **kwargs)
    return detail, retrieval_summary(detail)


def harness_evaluation(
    spark: SparkSession,
    adapter_types: list[str],
    epochs: list[float],
    tasks: list[str],
    done: DataFrame | None = None,
    run_cell: Callable[[str], str] | None = None,
) -> DataFrame:
    """Stage D: the lm-eval sweep (llm_harness_evaluation/
    test_all_models_llm_eval_sophia.py:38-66) — (adapter_type × epoch ×
    task) grid, minus completed cells, each remaining cell evaluated by an
    injected external runner, results as a metrics frame.

    ``run_cell(cell_key) -> str`` stands in for one lm_eval process (the
    reference fans 8 of these across GPUs; here partitions × bounded
    per-executor concurrency do the fanning). The returned frame carries
    the grid keys + the runner's raw response + error column — never
    silently dropped, so a re-drive manifest can be built
    (test_all_models_llm_eval_sophia.py:41-66 semantics).
    """
    from biodata_pipeline_spark.operators.grid import grid_output_key

    grid = sweep_grid(
        spark, {"adapter_type": adapter_types, "epoch": epochs, "task": tasks}
    ).withColumn("cell_key", grid_output_key(["adapter_type", "epoch", "task"]))
    if done is not None:
        grid = work_remaining(grid, done, ["adapter_type", "epoch", "task"])
    if run_cell is None:
        run_cell = mock_llm
    return enrich_with_external_calls(
        grid, "cell_key", call=run_cell, output_col="metrics_json"
    )


def embedding_ingest_report(
    emb: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The embedding ingest-gate census as a pipeline entry (VERDICT r6
    #8): classify every vector into its defect class (null / wrong_dim /
    null_element / non_finite / zero_norm / ok — the q_embedding_validate
    machinery) and count per class with the first offending id. Run this
    BEFORE attaching embeddings to a corpus; similarity/clustering
    operators silently EXCLUDE geometry-less vectors, and this report is
    where a pipeline measures what it is losing. Reference analog: the
    before/after record counts the reference's driver script echoes
    between stages (run_data_generation_sophia.sh:61,65)."""
    from biodata_pipeline_spark.functions.vector import embedding_defect

    return (
        emb.select(
            F.col(id_col).alias("id"),
            embedding_defect(vec_col, dim).alias("defect"),
        )
        .groupBy("defect")
        .agg(F.count("*").alias("n_vecs"), F.min("id").alias("first_id"))
    )


def build_training_corpus(
    docs: DataFrame,
    sink_dir: str | None = None,
    min_quality: float = 0.5,
    langs: tuple[str, ...] | None = None,
    near_dup_threshold: float = 0.7,
    scrub_line_min_count: int | None = None,
    scrub_passage_min_count: int | None = None,
    scrub_passage_window: int = 6,
    holdout_fraction: float | None = None,
    leakage_threshold: float = 0.2,
    with_report: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """The end-to-end training-data pipeline the engine exists for:

        [line scrub] → quality filter → language filter → exact dedup →
        MinHash near-dup clustering → keep one survivor per cluster →
        [holdout + leakage guard] → Alpaca formatting → length-batched
        partitioned write

    Every stage is one of the engine's operators; the whole thing is a
    single lazy plan except the iterative component step. Returns the
    formatted corpus frame (written to ``sink_dir`` when given).

    ``scrub_line_min_count``: when set, corpus-frequent lines
    (``scrub_frequent_lines``) are removed FIRST — boilerplate would
    otherwise distort quality scores and shingle signatures downstream;
    docs scrubbed to nothing are dropped. ``scrub_passage_min_count``:
    the sliding-window variant (``scrub_repeated_passages``) — catches
    repeats at any offset, including ones that straddle the line
    scrub's fixed windows; when both are set the passage scrub runs
    second, over the line-scrubbed text. ``holdout_fraction``: when
    set, the deterministic md5 holdout split is carved out and the
    returned TRAINING corpus excludes both the held-out docs and any
    train doc whose shingle Jaccard against a held-out doc reaches
    ``leakage_threshold`` (``cross_split_leakage``) — the
    decontamination step that keeps eval scores honest.

    ``with_report``: returns ``(corpus, report)`` where ``report`` is a
    per-stage census frame ``(metric, value)`` — the before/after counts
    the reference's driver script echoes between stages
    (run_data_generation_sophia.sh:61,65), upgraded with the graded
    censuses the engine declares as queries: the scrub stage is graded
    by ``edit_severity`` (how MUCH each scrubbed doc changed — the
    q_edit_severity machinery) and the leak exclusion is counted
    explicitly. Report mode materializes each stage (counts are
    actions), so the single-lazy-plan property is traded for
    observability — opt-in by design.
    """
    from biodata_pipeline_spark.functions.textfn import alpaca_format, quality_score
    from biodata_pipeline_spark.operators.clusters import dedup_survivors
    from biodata_pipeline_spark.operators.dedup import (
        cross_split_leakage,
        exact_dedup,
        minhash_lsh_dup_pairs,
        scrub_frequent_lines,
    )
    from biodata_pipeline_spark.operators.layout import length_batched

    from biodata_pipeline_spark.operators.caching import register_cached

    spark = docs.sparkSession
    counts: list[tuple[str, int]] = []
    # report-mode persists are released before returning (and registered
    # with any active cache_scope): the counts are collected inside this
    # function, so holding the blocks for the session lifetime would
    # leak executor storage on every repeated pipeline call
    persisted: list[DataFrame] = []

    def _persist(df: DataFrame) -> DataFrame:
        df = register_cached(df.persist())
        persisted.append(df)
        return df

    if with_report:
        counts.append(("input_docs", docs.count()))
    if scrub_line_min_count is not None:
        scrubbed = scrub_frequent_lines(docs, min_count=scrub_line_min_count)
        cleaned = (
            docs.drop("text")
            .join(
                scrubbed.filter(F.length("clean_text") > 0).select(
                    "doc_id", F.col("clean_text").alias("text")
                ),
                "doc_id",
            )
        )
        if with_report:
            from biodata_pipeline_spark.operators.snapshot import edit_severity

            cleaned = _persist(cleaned)
            counts.append(("scrub_docs_kept", cleaned.count()))
            sev = {
                r.severity: r.n
                for r in edit_severity(docs, cleaned)
                .groupBy("severity")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            for grade in ("trivial", "moderate", "rewrite"):
                counts.append((f"scrub_edit_{grade}", sev.get(grade, 0)))
        docs = cleaned
    if scrub_passage_min_count is not None:
        from biodata_pipeline_spark.operators.dedup import (
            scrub_repeated_passages,
        )

        scrubbed_p = scrub_repeated_passages(
            docs,
            min_count=scrub_passage_min_count,
            window=scrub_passage_window,
        )
        docs = docs.drop("text").join(
            scrubbed_p.filter(F.length("clean_text") > 0).select(
                "doc_id", F.col("clean_text").alias("text")
            ),
            "doc_id",
        )
        if with_report:
            docs = _persist(docs)
            counts.append(("passage_scrub_kept", docs.count()))
    filtered = docs.filter(quality_score("text") >= min_quality)
    if langs:
        filtered = filtered.filter(F.col("lang").isin(*langs))
    if with_report:
        filtered = _persist(filtered)
        counts.append(("quality_lang_kept", filtered.count()))
    distinct = exact_dedup(filtered)
    pairs = minhash_lsh_dup_pairs(distinct, threshold=near_dup_threshold)
    survivors = dedup_survivors(distinct, pairs)
    if with_report:
        survivors = _persist(survivors)
        counts.append(("dedup_survivors", survivors.count()))
    if holdout_fraction is not None:
        from biodata_pipeline_spark.operators.sampling import sample_predicate

        leaked = cross_split_leakage(
            survivors, leakage_threshold, test_fraction=holdout_fraction
        ).select(F.col("train_id").alias("doc_id"))
        if with_report:
            leaked = _persist(leaked)
            counts.append(("leaked_train_docs_excluded", leaked.count()))
        survivors = survivors.filter(
            ~sample_predicate("doc_id", holdout_fraction, "split")
        ).join(leaked, "doc_id", "left_anti")
    corpus = survivors.select(
        "doc_id", "lang", alpaca_format(F.col("text")).alias("training_text")
    )
    corpus = length_batched(corpus, "training_text")
    if sink_dir:
        # static: a re-run replaces every lang/ partition, so none left
        # over from an earlier run is read back as corpus
        (
            corpus.write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("lang")
            .parquet(sink_dir)
        )
    if with_report:
        # count the written files, not the plan (which would re-run the
        # whole chain a second time)
        final = _read_written(corpus, sink_dir) if sink_dir else corpus
        counts.append(("final_docs", final.count()))
        report = local_frame(spark, counts, "metric string, value long")
        # every count above is collected; releasing now is lazy-safe
        # (downstream actions on `corpus` simply recompute)
        for f in persisted:
            f.unpersist()
        return corpus, report
    return corpus


def _read_written(df: DataFrame, path: str) -> DataFrame:
    """The parquet a stage wrote from ``df``, read back with ``df``'s
    schema — a later stage scans the files instead of re-running the
    plan that made them (and an empty write still reads as empty)."""
    return df.sparkSession.read.schema(df.schema).parquet(path)


def tokenize_and_pack(
    docs: DataFrame,
    seq_len: int,
    merges: list[tuple[str, str]] | None = None,
    n_merges: int = 32,
    sink_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The tokenizer-to-training-batches path: induce (or take) a BPE
    merge list, encode the corpus to token-id arrays, and pack them
    into fixed-``seq_len`` sequences — documents concatenated in id
    order, split across sequence boundaries, trailing partial sequence
    unpadded (the standard LLM pretraining layout; Megatron-style
    preprocessing as Spark operators). Returns ``(vocab, sequences)``;
    ``sink_dir`` writes the sequences as parquet.

    Reference anchor: the reference tokenizes each training example
    inside the trainer's dataloader per epoch
    (train_adapters/RAG-eval-create_model.py:147-153); this runs the
    same tokenization ONCE, corpus-wide, producing reusable packed
    batches — the scale-correct factoring at 100 TB.
    """
    from biodata_pipeline_spark.operators.tokenizer import (
        bpe_train_from_counts,
        pack_token_ids,
        token_ids_from_counts,
        word_counts,
    )

    # one corpus scan + tokenize feeds both the merge induction and the
    # encode
    wc = word_counts(docs).persist()
    if merges is None:
        merges = bpe_train_from_counts(wc, n_merges)
    vocab, doc_tokens = token_ids_from_counts(docs, wc, merges)
    seqs = pack_token_ids(doc_tokens, seq_len)
    if sink_dir:
        seqs.write.mode("overwrite").parquet(sink_dir)
    # both consumers have run once the sequences are written (the encode
    # keeps its own cached table); unsunk, a later action recomputes it
    wc.unpersist()
    return vocab, seqs


def export_training_shards(
    corpus: DataFrame,
    sink_dir: str,
    text_col: str = "training_text",
    key_col: str = "doc_id",
    token_budget: int = 1 << 22,
    salt: str = "shuffle",
) -> DataFrame:
    """Export step after ``build_training_corpus``: deterministic corpus
    shuffle → token-budgeted shard assignment (distributed prefix sum,
    operators/sharding.py) → shard-partitioned parquet, rows inside each
    shard laid out in shuffle order (``sortWithinPartitions`` on the
    order key, so a reader streaming one shard file sees the shuffled
    sequence without any further sort). Returns the shard manifest
    (shard_id, n_docs, shard_tokens) — the loader's worker map.

    Replaces the reference's directory-order consumption
    (train_adapters/RAG-eval-create_model.py:96-117) with a layout that
    is reproducible (md5 order), token-balanced (budget cuts), and
    restart-safe (re-running the export reproduces identical shards).
    """
    from biodata_pipeline_spark.functions import textfn
    from biodata_pipeline_spark.operators.sharding import shard_plan
    from biodata_pipeline_spark.sources.sinks import write_partitioned

    weighted = corpus.withColumn(
        "__n_tok", textfn.token_count(text_col).cast("long")
    )
    plan = shard_plan(weighted, key_col, "__n_tok", token_budget, salt=salt)
    write_partitioned(
        plan.repartition(F.col("shard_id"))
        .sortWithinPartitions("__ord", key_col)
        .drop("__n_tok"),
        sink_dir,
        ["shard_id"],
    )
    return plan.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("__n_tok").cast("long").alias("shard_tokens"),
    )


def run_pretraining_pipeline(
    docs: DataFrame,
    work_dir: str,
    seq_len: int = 256,
    n_merges: int = 32,
    merges: list[tuple[str, str]] | None = None,
    token_budget: int = 1 << 20,
    **corpus_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """The full pretraining-data lifecycle as ONE declarative chain
    (VERDICT r7 #8) — the three separately-tested paths composed:

        build_training_corpus  (scrub → filter → dedup → [leak guard])
      → tokenize_and_pack      (BPE induction → ids → fixed-len packing)
      → export_packed_sequences (token-budgeted shards + delta-log
                                 manifest commit)

    ``corpus_kwargs`` pass through to ``build_training_corpus`` (scrub
    gates, language allow-list, holdout fraction, ...). Artifacts land
    under ``work_dir``: ``corpus/`` (Alpaca-formatted parquet),
    ``sequences/`` (packed token-id arrays), ``shards/`` +
    ``shard_manifest/`` (the loader's worker map). Returns
    ``(manifest, report)`` where ``report`` is the per-stage census the
    corpus build starts — (metric, value) — EXTENDED through the
    tokenizer and export stages (vocab_size, packed_sequences,
    packed_tokens, shards, shard_tokens), so one frame audits the whole
    run the way the reference's driver script echoes stage counts
    (run_data_generation_sophia.sh:61,65).
    """
    from biodata_pipeline_spark.streaming.export import (
        export_packed_sequences,
    )

    spark = docs.sparkSession
    corpus_dir = f"{work_dir}/corpus"
    corpus, report = build_training_corpus(
        docs, sink_dir=corpus_dir, with_report=True, **corpus_kwargs
    )
    # each stage hands the next its written artifact: the tokenizer's
    # jobs scan corpus/ instead of re-running scrub, dedup and batching
    train_docs = _read_written(corpus, corpus_dir).select(
        "doc_id", F.col("training_text").alias("text")
    )
    seq_dir = f"{work_dir}/sequences"
    vocab, seqs = tokenize_and_pack(
        train_docs, seq_len, merges=merges, n_merges=n_merges, sink_dir=seq_dir
    )
    seqs = _read_written(seqs, seq_dir)
    manifest = export_packed_sequences(
        seqs,
        f"{work_dir}/shards",
        f"{work_dir}/shard_manifest",
        token_budget=token_budget,
    )
    packed = seqs.agg(
        F.count("*").alias("n"), F.sum("n_tokens").alias("t")
    ).collect()[0]
    mrow = manifest.agg(
        F.count("*").alias("n"), F.sum("shard_tokens").alias("t")
    ).collect()[0]
    extra = [
        ("vocab_size", vocab.count()),
        ("packed_sequences", packed["n"]),
        ("packed_tokens", packed["t"] or 0),
        ("shards", mrow["n"]),
        ("shard_tokens", mrow["t"] or 0),
    ]
    report = report.unionByName(
        local_frame(
            spark, [(m, int(v)) for m, v in extra], "metric string, value long"
        )
    )
    return manifest, report


def build_vector_index(
    emb: DataFrame,
    index_path: str,
    dim: int,
    k: int = 16,
    iters: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    train_sample: int | None = None,
    pq_m: int | None = None,
) -> tuple["DataFrame", "DataFrame"]:
    """Embedding-side lifecycle entry: ingest-gate census → index ONLY
    the geometrically valid vectors → report cell occupancy. Returns
    ``(census, cell_stats)`` — the before/after accounting for the
    similarity side, mirroring what ``build_training_corpus`` reports
    for text. Vectors with any defect (null / wrong_dim / null_element
    / non_finite / zero_norm) are excluded from the index the same way
    the similarity operators exclude them, and the census is where a
    pipeline measures what it lost. The index then serves
    ``VectorIndexStore.query`` / ``add`` for the retrieval stage
    (reference anchor: rag_evaluation/RAG-eval-test_model.py:119-153 —
    whole-corpus ranking, here answerable per-cell at any corpus
    size). At warehouse scale pass ``train_sample`` so Lloyd's loop
    iterates over a bounded deterministic sample instead of re-scanning
    the full corpus per iteration (see VectorIndexStore.build), and
    ``pq_m`` to attach the product-quantization layer in the same pass
    (codes per enrolled vector; ``query(scoring="adc"/"adc_refine")``
    then scans codes instead of floats — the IVF-PQ shape, see
    operators/pq.py and the SCALING.md ladder)."""
    from biodata_pipeline_spark.functions.vector import embedding_defect
    from biodata_pipeline_spark.operators.ann_store import VectorIndexStore

    spark = emb.sparkSession
    census = embedding_ingest_report(emb, dim, vec_col=emb_col,
                                     id_col=id_col)
    clean = emb.filter(
        embedding_defect(emb_col, dim) == F.lit("ok")
    )
    store = VectorIndexStore(index_path, id_col=id_col, emb_col=emb_col)
    store.build(clean, k=k, iters=iters, train_sample=train_sample)
    if pq_m is not None:
        store.enable_pq(spark, m=pq_m, train_sample=train_sample)
    return census, store.cell_stats(spark)
