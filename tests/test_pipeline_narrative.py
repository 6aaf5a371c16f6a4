"""End-to-end reproduction of the reference's stage-A narrative pipeline
(generate_narratives_from_data.py): text-lines scan → blank filter →
prompt projection → manifest anti-join (skip-if-exists) → mock LLM call →
'###' validity gate → suffix strip → idempotent sink. Run twice ⇒ the
second run plans zero work."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biodata_pipeline_spark.pipelines import narrative_generation
from biodata_pipeline_spark.sources.local import local_frame
from biodata_pipeline_spark.sources.manifest import Manifest

GENOME_LINES = [
    '{"genome_id": "83332.12", "genome_name": "M. tuberculosis H37Rv", "domain": "pathway"}',
    "",
    "  ",
    "x",  # <= 2 chars after strip → dropped like the reference
    '{"genome_id": "511145.12", "genome_name": "E. coli K-12", "domain": "subsystem"}',
    '{"genome_id": "208964.12", "genome_name": "P. aeruginosa PAO1", "domain": "ppi"}',
]


run_pipeline = narrative_generation


def test_narrative_pipeline_end_to_end(spark, tmp_path):
    src = tmp_path / "genomes.jsonl"
    src.write_text("\n".join(GENOME_LINES))
    manifest = Manifest(str(tmp_path / "manifest"), ("key",))
    sink = str(tmp_path / "narratives")

    def fake_llm(prompt: str) -> str:
        # invalid response (no ### marker) for the ppi record → dropped by
        # the validity gate, like generate_narratives_from_data.py:69-74
        if "ppi" in prompt:
            return "truncated response without marker"
        return f"A narrative about the record. ###"

    n = run_pipeline(spark, str(src), manifest, sink, fake_llm)
    assert n == 2  # 3 valid lines, 1 fails the gate

    out = spark.read.parquet(sink)
    assert out.count() == 2
    assert all(not r.narrative.endswith("#") for r in out.collect())

    # run twice ⇒ zero new work, sink unchanged (skip-if-exists semantics);
    # the gated-out record was NOT marked done, so it is retried (the
    # reference would also retry it on the next sweep)
    n2 = run_pipeline(spark, str(src), manifest, sink, fake_llm)
    assert n2 == 0
    assert spark.read.parquet(sink).count() == 2


def test_gated_row_is_retried_until_valid(spark, tmp_path):
    src = tmp_path / "g.jsonl"
    src.write_text("\n".join(GENOME_LINES))
    manifest = Manifest(str(tmp_path / "m2"), ("key",))
    sink = str(tmp_path / "n2")

    flaky_state = {"fixed": False}

    def first_bad_then_good(prompt: str) -> str:
        if "ppi" in prompt and not flaky_state["fixed"]:
            return "no marker"
        return "ok ###"

    assert run_pipeline(spark, str(src), manifest, sink, first_bad_then_good) == 2
    flaky_state["fixed"] = True
    # NOTE: the closure is shipped to executors per-run, so flipping the
    # flag driver-side is visible to the next run's tasks
    assert run_pipeline(spark, str(src), manifest, sink, first_bad_then_good) == 1
    assert spark.read.parquet(sink).count() == 3


def test_external_call_runs_exactly_once_per_pending_row(spark, tmp_path):
    """The enrichment stage must execute exactly once per pending record
    per cycle (reference: one LLM call per work unit,
    generate_narratives_from_data.py:63-77). Without the localCheckpoint
    in narrative_generation, the write / mark_done / count actions each
    re-run the mapInPandas stage — 3× the calls. The counter is a file
    append because the call runs inside Python worker subprocesses."""
    src = tmp_path / "g.jsonl"
    src.write_text("\n".join(GENOME_LINES))
    manifest = Manifest(str(tmp_path / "m3"), ("key",))
    sink = str(tmp_path / "n3")
    counter = str(tmp_path / "calls.log")

    def counting_llm(prompt: str) -> str:
        with open(counter, "a") as f:
            f.write("x\n")
        return "a narrative ###"

    assert run_pipeline(spark, str(src), manifest, sink, counting_llm) == 3
    with open(counter) as f:
        assert len(f.readlines()) == 3  # one call per valid line, ever

    # second cycle: nothing pending → zero additional calls
    assert run_pipeline(spark, str(src), manifest, sink, counting_llm) == 0
    with open(counter) as f:
        assert len(f.readlines()) == 3


def test_run_incremental_transforms_once_per_cycle(spark, tmp_path):
    """run_incremental materializes the pending set once: the transform's
    per-row work executes exactly once per pending key per cycle even
    though sink, mark_done, and the returned count all consume it."""
    from biodata_pipeline_spark.sources.manifest import run_incremental

    manifest = Manifest(str(tmp_path / "m4"), ("key",))
    counter = str(tmp_path / "calls4.log")
    work = spark.createDataFrame([(f"k{i}",) for i in range(5)], ["key"])

    def transform(df):
        return enrich(df)

    def enrich(df):
        from biodata_pipeline_spark.operators.enrichment import (
            enrich_with_external_calls,
        )

        def counting(prompt: str) -> str:
            with open(counter, "a") as f:
                f.write("x\n")
            return prompt

        return enrich_with_external_calls(df, "key", call=counting)

    sunk = []
    n = run_incremental(work, manifest, transform, lambda df: sunk.append(df.count()))
    assert n == 5 and sunk == [5]
    with open(counter) as f:
        assert len(f.readlines()) == 5
    assert run_incremental(work, manifest, transform, lambda df: None) == 0
    with open(counter) as f:
        assert len(f.readlines()) == 5


def test_adapter_sweep_plan_chain_and_remaining(spark):
    from biodata_pipeline_spark.pipelines import adapter_sweep_plan

    done = spark.createDataFrame([("ppi", 0.2)], ["domain", "epoch"])
    plan = adapter_sweep_plan(spark, ["ppi", "pathway"], [0.2, 0.4, 0.6], done)
    rows = {(r.domain, r.epoch): r.resume_from_epoch for r in plan.collect()}
    assert len(rows) == 5  # 6 cells - 1 done
    assert ("ppi", 0.2) not in rows
    # the chain is computed on the FULL grid before removing finished cells
    assert rows[("ppi", 0.4)] == 0.2 and rows[("pathway", 0.2)] is None


def test_rag_evaluation_matches_flagship_queries(spark):
    """pipelines.rag_evaluation on the flagship inputs == the declared
    q26/q26b results (same composed plan, public API)."""
    from biodata_pipeline_spark.pipelines import rag_evaluation
    from biodata_pipeline_spark.registry.vector import (
        _flagship_inputs,
        q26_retrieval_rank_detail,
    )

    sf = "/root/testdata/sf0.001"
    queries, chunks = _flagship_inputs(spark, sf)
    detail, summary = rag_evaluation(queries, chunks)
    expect = {r.term: r for r in q26_retrieval_rank_detail(spark, sf).collect()}
    got = {r.term: r for r in detail.collect()}
    assert {t: r.first_hit_rank for t, r in got.items()} == {
        t: r.first_hit_rank for t, r in expect.items()
    }
    s = summary.collect()[0]
    assert s.avg_search_rank > 0 and s.avg_first_hit_rank > 0


def test_harness_evaluation_grid_minus_done(spark):
    from biodata_pipeline_spark.pipelines import harness_evaluation

    done = spark.createDataFrame(
        [("base", 0.5, "gsm8k")], ["adapter_type", "epoch", "task"]
    )

    def fake_eval(cell_key: str) -> str:
        if cell_key.endswith("mmlu"):
            raise RuntimeError("gpu fell over")
        return f'{{"cell": "{cell_key}", "acc": 0.5}}'

    out = harness_evaluation(
        spark, ["base", "lora"], [0.5, 1.0], ["gsm8k", "mmlu"], done, fake_eval
    ).cache()
    rows = out.collect()
    assert len(rows) == 7  # 8 cells - 1 done
    errs = [r for r in rows if r.metrics_json_error is not None]
    # mmlu failures are rows with an error, not silent drops
    assert len(errs) == 4 and all("gpu fell over" in r.metrics_json_error for r in errs)
    ok = [r for r in rows if r.metrics_json is not None]
    assert all(r.cell_key in r.metrics_json for r in ok)


def test_build_training_corpus_end_to_end(spark, sf_dir, tmp_path):
    from biodata_pipeline_spark.pipelines import build_training_corpus
    from biodata_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sink = str(tmp_path / "corpus")
    corpus = build_training_corpus(docs, sink, min_quality=0.3)
    n = corpus.count()
    assert 0 < n <= docs.count()
    back = spark.read.parquet(sink)
    assert back.count() == n
    assert "lang" in back.columns  # partition column round-trips
    row = back.first()
    assert row.training_text.startswith("### Instruction: ")
    # dedup actually happened: corpus has no duplicate normalized text
    from biodata_pipeline_spark.operators.dedup import normalized
    from pyspark.sql import functions as FF

    assert (
        back.select(normalized(FF.col("training_text")).alias("t")).distinct().count()
        == n
    )


def test_export_training_shards_layout_and_manifest(spark, sf_dir, tmp_path):
    """The export writes shard directories whose contents are in shuffle
    order, the manifest reconciles with what was written, and a re-run
    reproduces identical assignments (restart safety)."""
    from biodata_pipeline_spark.pipelines import export_training_shards
    from biodata_pipeline_spark.sources.tables import load_table
    from pyspark.sql import functions as FF

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", FF.col("text").alias("training_text")
    )
    sink = str(tmp_path / "shards")
    manifest = export_training_shards(docs, sink, token_budget=2000)
    man = {r.shard_id: (r.n_docs, r.shard_tokens) for r in manifest.collect()}
    assert sum(n for n, _ in man.values()) == docs.count()

    back = spark.read.parquet(sink)
    got = {
        r.shard_id: r.n
        for r in back.groupBy("shard_id").agg(FF.count("*").alias("n")).collect()
    }
    assert got == {s: n for s, (n, _) in man.items()}

    # within a shard, token offsets increase in the stored order key
    one = sorted(
        back.filter(FF.col("shard_id") == min(man)).select("__ord", "token_offset").collect(),
        key=lambda r: r["__ord"],
    )
    offs = [r.token_offset for r in one]
    assert offs == sorted(offs)

    # re-run determinism
    sink2 = str(tmp_path / "shards2")
    export_training_shards(docs, sink2, token_budget=2000)
    a = sorted(
        (r.doc_id, r.shard_id, r.token_offset)
        for r in spark.read.parquet(sink).collect()
    )
    b = sorted(
        (r.doc_id, r.shard_id, r.token_offset)
        for r in spark.read.parquet(sink2).collect()
    )
    assert a == b


def test_run_pretraining_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """The full lifecycle in one chain (VERDICT r7 #8): corpus build →
    tokenize+pack → token-budgeted shard export with the delta-log
    manifest; the census report carries counts through ALL stages and
    the manifest's token totals reconcile exactly with the packed
    sequences."""
    from biodata_pipeline_spark.pipelines import run_pretraining_pipeline
    from biodata_pipeline_spark.streaming.export import (
        export_packed_sequences,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    work = str(tmp_path / "run")
    manifest, report = run_pretraining_pipeline(
        docs, work, seq_len=64, n_merges=8, token_budget=2000,
        min_quality=0.3,
    )
    rep = {r.metric: r.value for r in report.collect()}
    for k in (
        "input_docs", "quality_lang_kept", "dedup_survivors", "final_docs",
        "vocab_size", "packed_sequences", "packed_tokens", "shards",
        "shard_tokens",
    ):
        assert k in rep, k
    assert rep["input_docs"] >= rep["final_docs"] > 0
    # token conservation: every packed token lands in exactly one shard
    assert rep["shard_tokens"] == rep["packed_tokens"] > 0
    seqs = spark.read.parquet(f"{work}/sequences")
    n_partial = seqs.filter(F.col("n_tokens") != 64).count()
    assert n_partial <= 1  # only the trailing sequence may be short
    assert seqs.count() == rep["packed_sequences"]
    # the shard files on disk hold every sequence once
    shards = spark.read.parquet(f"{work}/shards")
    assert shards.count() == rep["packed_sequences"]
    assert shards.select("seq_id").distinct().count() == rep[
        "packed_sequences"
    ]
    # the delta-log commit makes a replayed export a no-op
    m2 = export_packed_sequences(
        seqs, f"{work}/shards", f"{work}/shard_manifest", token_budget=2000
    )
    assert sorted(
        (r.shard_id, r.n_docs, r.shard_tokens) for r in m2.collect()
    ) == sorted(
        (r.shard_id, r.n_docs, r.shard_tokens) for r in manifest.collect()
    )


def test_pretraining_pipeline_hand_off_matches_lazy_chain(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The pipeline hands each stage the previous stage's written
    artifact; its census, vocab table and packed sequences must equal
    the lazy chain's — ``build_training_corpus`` without a sink, then
    ``tokenize_and_pack`` over the unwritten corpus plan."""
    from biodata_pipeline_spark import pipelines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus_kw = dict(min_quality=0.3, scrub_line_min_count=3)
    tokenize = pipelines.tokenize_and_pack
    vocabs = []

    def capture(*args, **kwargs):
        vocab, seqs = tokenize(*args, **kwargs)
        vocabs.append(sorted(map(tuple, vocab.collect())))
        return vocab, seqs

    monkeypatch.setattr(pipelines, "tokenize_and_pack", capture)
    work = str(tmp_path / "run")
    _, report = pipelines.run_pretraining_pipeline(
        docs, work, seq_len=64, n_merges=8, token_budget=2000, **corpus_kw
    )
    census = {r.metric: r.value for r in report.collect()}
    seqs = sorted(
        (r.seq_id, list(r.ids), r.n_tokens)
        for r in spark.read.parquet(f"{work}/sequences").collect()
    )

    corpus, lazy_report = pipelines.build_training_corpus(
        docs, with_report=True, **corpus_kw
    )
    lazy_vocab, lazy_seqs = tokenize(
        corpus.select("doc_id", F.col("training_text").alias("text")),
        64,
        n_merges=8,
    )
    lazy_census = {r.metric: r.value for r in lazy_report.collect()}
    assert lazy_census["final_docs"] > 0
    assert {k: census[k] for k in lazy_census} == lazy_census
    assert vocabs == [sorted(map(tuple, lazy_vocab.collect()))]
    assert census["vocab_size"] == len(vocabs[0])
    assert seqs == sorted(
        (r.seq_id, list(r.ids), r.n_tokens) for r in lazy_seqs.collect()
    )
    assert census["packed_sequences"] == len(seqs)
    assert census["packed_tokens"] == sum(n for _, _, n in seqs)


def test_pretraining_pipeline_rerun_into_one_work_dir(spark, sf_dir, tmp_path):
    """A re-run into the same ``work_dir`` that keeps fewer languages must
    read back only its own corpus — no ``lang=`` partition left over from
    the first run — even under a session-wide dynamic partition
    overwrite, and the pipeline must leave that session setting as it
    found it. (The shard export replays batch 0 as a no-op by design,
    so the shard rows of the census are not compared.)"""
    from biodata_pipeline_spark.pipelines import run_pretraining_pipeline

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kw = dict(seq_len=64, n_merges=4, token_budget=2000, min_quality=0.3)
    mode_key = "spark.sql.sources.partitionOverwriteMode"

    def outputs(work, langs):
        _, report = run_pretraining_pipeline(docs, work, langs=langs, **kw)
        census = {
            r.metric: r.value
            for r in report.collect()
            if r.metric not in ("shards", "shard_tokens")
        }
        seqs = sorted(
            (r.seq_id, list(r.ids), r.n_tokens)
            for r in spark.read.parquet(f"{work}/sequences").collect()
        )
        return census, seqs

    prior = spark.conf.get(mode_key)
    spark.conf.set(mode_key, "dynamic")
    try:
        work = str(tmp_path / "rerun")
        outputs(work, None)
        assert spark.conf.get(mode_key) == "dynamic"
        census, seqs = outputs(work, ["en", "fr"])
    finally:
        spark.conf.set(mode_key, prior)
    fresh_census, fresh_seqs = outputs(str(tmp_path / "fresh"), ["en", "fr"])
    assert spark.conf.get(mode_key) == prior
    assert census == fresh_census
    assert seqs == fresh_seqs
    langs = {
        r.lang for r in spark.read.parquet(f"{work}/corpus").select("lang").collect()
    }
    assert langs == {"en", "fr"}


def test_build_training_corpus_with_guards(spark, sf_dir):
    """The optional round-6 stages compose: line scrub runs first (docs
    scrubbed to nothing drop out), the holdout split is excluded from
    the returned training corpus, and no surviving train doc leaks a
    near-duplicate of the holdout at the guard threshold."""
    import hashlib

    from pyspark.sql import functions as FF

    from biodata_pipeline_spark.operators.dedup import cross_split_leakage
    from biodata_pipeline_spark.pipelines import build_training_corpus
    from biodata_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = build_training_corpus(
        docs,
        min_quality=0.3,
        scrub_line_min_count=4,
        holdout_fraction=0.1,
        leakage_threshold=0.1,
    )
    rows = corpus.select("doc_id").collect()
    assert rows, "guarded pipeline should still produce a corpus"
    ids = {r.doc_id for r in rows}
    # the md5 holdout is excluded
    thr = "19999999" + "0" * 24
    held = {
        i for i in ids
        if hashlib.md5(f"split{i}".encode()).hexdigest() < thr
    }
    assert not held, f"held-out docs leaked into training corpus: {held}"
    # no surviving train doc still near-duplicates the holdout: re-run
    # the guard over the SAME text the pipeline's guard saw — the corpus
    # was built from line-scrubbed text, so rebuild it with the same
    # min_count before the recheck (checking the original text would
    # audit a slightly different corpus than the guard did)
    from biodata_pipeline_spark.operators.dedup import scrub_frequent_lines

    scrubbed = docs.drop("text").join(
        scrub_frequent_lines(docs, min_count=4)
        .filter(FF.length("clean_text") > 0)
        .select("doc_id", FF.col("clean_text").alias("text")),
        "doc_id",
    )
    survivors_src = scrubbed.join(
        corpus.select("doc_id"), "doc_id", "left_semi"
    )
    # union survivors with the scrubbed holdout docs so the guard sees
    # both sides under the same split decision
    from biodata_pipeline_spark.operators.sampling import sample_predicate

    holdout_src = scrubbed.filter(sample_predicate("doc_id", 0.1, "split"))
    recheck = cross_split_leakage(
        survivors_src.unionByName(holdout_src), 0.1, test_fraction=0.1
    )
    leaked_now = {r.train_id for r in recheck.collect()} & ids
    assert not leaked_now, f"leaked train docs survived: {leaked_now}"


def test_build_training_corpus_report(spark, sf_dir):
    """Report mode surfaces the reference's between-stage counts
    (run_data_generation_sophia.sh:61,65) upgraded with the graded
    censuses: monotone stage counts, the scrub stage graded by
    edit_severity, and the leak exclusion counted explicitly."""
    from biodata_pipeline_spark.pipelines import build_training_corpus
    from biodata_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus, report = build_training_corpus(
        docs,
        min_quality=0.3,
        scrub_line_min_count=4,
        holdout_fraction=0.1,
        leakage_threshold=0.1,
        with_report=True,
    )
    m = {r.metric: r.value for r in report.collect()}
    assert set(m) == {
        "input_docs",
        "scrub_docs_kept",
        "scrub_edit_trivial",
        "scrub_edit_moderate",
        "scrub_edit_rewrite",
        "quality_lang_kept",
        "dedup_survivors",
        "leaked_train_docs_excluded",
        "final_docs",
    }
    assert m["input_docs"] == docs.count()
    assert m["final_docs"] == corpus.count()
    assert (
        m["input_docs"]
        >= m["scrub_docs_kept"]
        >= m["quality_lang_kept"]
        >= m["dedup_survivors"]
        >= m["final_docs"]
    )
    n_changed = (
        m["scrub_edit_trivial"]
        + m["scrub_edit_moderate"]
        + m["scrub_edit_rewrite"]
    )
    assert n_changed >= 1, "the scrub should have changed some doc"


def test_embedding_ingest_report_pristine_corpus(spark, sf_dir):
    """The ingest-gate census on the pristine fixture: every vector
    classes 'ok' (the planted-defect exercise lives in the declared
    q_embedding_validate query)."""
    from biodata_pipeline_spark.pipelines import embedding_ingest_report
    from biodata_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = embedding_ingest_report(emb, 64).collect()
    assert {r.defect for r in rows} == {"ok"}
    assert rows[0].n_vecs == emb.count()
    assert rows[0].first_id == 0


def test_build_training_corpus_passage_scrub_stage(spark, sf_dir):
    """The sliding-window passage scrub composes as a pipeline stage:
    stage count surfaces in the report and the corpus text no longer
    contains any window the scrub deemed corpus-frequent."""
    from biodata_pipeline_spark.pipelines import build_training_corpus
    from biodata_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus, report = build_training_corpus(
        docs,
        min_quality=0.3,
        scrub_passage_min_count=3,
        with_report=True,
    )
    m = {r.metric: r.value for r in report.collect()}
    assert "passage_scrub_kept" in m
    assert 0 < m["passage_scrub_kept"] <= m["input_docs"]
    assert m["final_docs"] == corpus.count() > 0


def _dedup_corpus_docs(spark):
    """Docs that stress the dedup stage: exact copies whose min-id copy
    has a near-duplicate with a LOWER id, copies differing only in case
    or whitespace, and null, empty and under-3-token texts."""
    import random

    rng = random.Random(8)
    words = [f"w{i}" for i in range(60)] + ["the", "and", "of", "is"]
    rows, nid = [], 100
    for _ in range(24):
        base = [rng.choice(words) for _ in range(rng.randint(20, 40))]
        text = " ".join(base)
        kind = rng.randrange(3)
        if kind == 0:
            # near-duplicate (one word changed) with the lowest id, then
            # the original and two exact copies above it
            near = list(base)
            near[len(near) // 2] = "zz"
            rows.append((nid - 90, " ".join(near)))
            rows += [(nid, text), (nid + 3, text), (nid + 7, text)]
        elif kind == 1:
            # case and whitespace variants of one text
            rows += [
                (nid, text),
                (nid + 1, text.upper()),
                (nid + 2, "  " + text.replace(" ", " \t ") + "  "),
            ]
        else:
            rows.append((nid, text))
        nid += 10
    rows += [(1, None), (2, ""), (3, "   "), (4, "a b"), (5, "x"),
             (6, "a b"), (7, "A  B")]
    langs = ["en", "de", "fr"]
    return local_frame(
        spark,
        [(i, t, langs[i % 3]) for i, t in rows],
        "doc_id long, text string, lang string",
    )


def _exact_dedup_chain(docs, holdout_fraction):
    """``build_training_corpus`` (``min_quality=0``, default thresholds)
    with an ``exact_dedup`` pass in front of the MinHash pairs and
    survivors, which then run over its output."""
    from biodata_pipeline_spark.functions.textfn import (
        alpaca_format,
        quality_score,
    )
    from biodata_pipeline_spark.operators.clusters import dedup_survivors
    from biodata_pipeline_spark.operators.dedup import (
        cross_split_leakage,
        exact_dedup,
        minhash_lsh_dup_pairs,
    )
    from biodata_pipeline_spark.operators.sampling import sample_predicate

    filtered = docs.filter(quality_score("text") >= 0.0)
    distinct = exact_dedup(filtered)
    survivors = dedup_survivors(
        distinct, minhash_lsh_dup_pairs(distinct, threshold=0.7)
    )
    n_survivors = survivors.count()
    if holdout_fraction is not None:
        leaked = cross_split_leakage(
            survivors, 0.2, test_fraction=holdout_fraction
        ).select(F.col("train_id").alias("doc_id"))
        survivors = survivors.filter(
            ~sample_predicate("doc_id", holdout_fraction, "split")
        ).join(leaked, "doc_id", "left_anti")
    corpus = survivors.select(
        "doc_id", "lang", alpaca_format(F.col("text")).alias("training_text")
    )
    return n_survivors, sorted(map(tuple, corpus.collect()))


@pytest.mark.parametrize(
    "with_report, holdout_fraction",
    [(False, None), (True, None), (False, 0.3)],
    ids=["lazy", "report", "holdout"],
)
def test_build_training_corpus_equals_exact_dedup_chain(
    spark, with_report, holdout_fraction
):
    """Exact copies leave through the MinHash pair step's own collapse:
    the corpus equals the chain with a separate ``exact_dedup`` pass in
    front, and the report's dedup census matches it."""
    from biodata_pipeline_spark.pipelines import build_training_corpus

    docs = _dedup_corpus_docs(spark)
    n_survivors, want = _exact_dedup_chain(docs, holdout_fraction)
    out = build_training_corpus(
        docs,
        min_quality=0.0,
        holdout_fraction=holdout_fraction,
        with_report=with_report,
    )
    corpus = out[0] if with_report else out
    got = sorted(
        map(tuple, corpus.select("doc_id", "lang", "training_text").collect())
    )
    assert got == want
    # "a b" (4) ≡ "a b" (6) ≡ "A  B" (7): only the min id may survive
    assert not {r[0] for r in got} & {6, 7}
    if with_report:
        census = {r.metric: r.value for r in out[1].collect()}
        assert census["dedup_survivors"] == n_survivors
        assert census["final_docs"] == len(want)
