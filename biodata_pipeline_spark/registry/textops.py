"""Text-analysis + dedup queries over ``documents`` — the training-data
pipeline extensions (chunking, token stats, quality scoring, language
guess, fingerprinting, n-gram Jaccard dedup) plus the approximate dedup
paths (MinHash-LSH, SimHash) as rows-only queries.

Oracle notes: DuckDB ``regexp_replace`` needs the 'g' flag to match
Spark's replace-all default; token splitting is ``\\s+`` on trimmed text
in both engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from biodata_pipeline_spark.functions import textfn
from biodata_pipeline_spark.operators.chunking import chunk_documents
from biodata_pipeline_spark.operators.dedup import (
    cross_split_leakage,
    cross_split_leakage_lsh,
    minhash_lsh_dup_pairs,
    ngram_jaccard_dup_pairs,
    scrub_frequent_lines,
    simhash_dup_pairs,
)
from biodata_pipeline_spark.sources.local import local_frame
from biodata_pipeline_spark.sources.tables import load_table

JACCARD_THRESHOLD = 0.05
JACCARD_MAX_DOC = 150  # bound the O(n²) exact-oracle comparison


def q_chunk_documents(spark, sf_dir):
    """The chunker itself (256-char windows, 100 overlap) as a declared
    query — every chunk row hash-checked (RAG-eval-test_model.py:239-240)."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs)


def q_token_stats(spark, sf_dir):
    """Token counting rollup per language."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = textfn.token_count("text")
    return docs.groupBy("lang").agg(
        F.sum(n_tok).alias("total_tokens"),
        F.round(F.avg(n_tok), 4).alias("avg_tokens"),
    )


def q_bpe_token_count(spark, sf_dir):
    """Per-document BPE-ish token count (GPT-2 pre-tokenizer regex) next to
    the whitespace count — the two standard corpus-budget estimators."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textfn.token_count("text").alias("ws_tokens"),
        textfn.bpe_token_count("text").alias("bpe_tokens"),
    )


def q_quality_score(spark, sf_dir):
    """Per-document quality signals: token count, stopword ratio, punct
    ratio, avg token length (C4-style quality filters)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = textfn.token_count("text")
    nonspace = F.length(F.regexp_replace("text", r"\s+", ""))
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(textfn.stopword_ratio("text"), 4).alias("stopword_ratio"),
        F.round(textfn.punct_ratio("text"), 4).alias("punct_ratio"),
        F.round(nonspace / F.greatest(n_tok, F.lit(1)), 4).alias("avg_token_len"),
    )


def q_lang_guess(spark, sf_dir):
    """Deterministic language-ID heuristic vs the labeled lang column."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        textfn.lang_guess("text").alias("predicted_lang"),
    )


def q_fingerprint(spark, sf_dir):
    """md5 fingerprint of normalized text + duplicate-group size. NULL
    text has no fingerprint (null probe, round 6): the filter is
    explicit in both engines — unfiltered, Spark's group join drops the
    null key while the oracle's window partitions NULLs together."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    fp = docs.select("doc_id", textfn.fingerprint("text").alias("fingerprint"))
    sizes = fp.groupBy("fingerprint").agg(F.count("*").alias("group_size"))
    return fp.join(sizes, "fingerprint").select("doc_id", "fingerprint", "group_size")


def q_ngram_jaccard_dedup(spark, sf_dir):
    """Exact 3-token-shingle Jaccard near-dup pairs on a bounded doc set."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < JACCARD_MAX_DOC
    )
    return ngram_jaccard_dup_pairs(docs, JACCARD_THRESHOLD)


LEAKAGE_MAX_DOC = 500  # bounded-slice audit of the split guard
# 0.02 (not the dedup family's 0.05): the guard's job is catching
# partial contamination — shared boilerplate / quoted passages — that
# full-document dedup thresholds ignore; at 0.05 the sf0.01 slice leaks
# 2 docs, at 0.02 it leaks 43, and the 43 are what an eval-honest
# pipeline wants reviewed.
LEAKAGE_THRESHOLD = 0.02


def q_split_leakage(spark, sf_dir):
    """Dedup-aware split guard: train docs that are near-duplicates
    (exact 3-token-shingle Jaccard) of any held-out doc under the SAME
    md5 split decision as q_stratified_split — one row per leaked train
    doc with its best-matching held-out doc. Dropping these train_ids is
    the decontamination step a leaderboard-honest pipeline runs before
    training. Exact verify on a bounded slice; the 100 TB candidate
    stage is MinHash banding with this query as its audit twin."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < LEAKAGE_MAX_DOC
    )
    return cross_split_leakage(
        docs, LEAKAGE_THRESHOLD, test_fraction=SPLIT_VAL_FRACTION
    )


LEAKAGE_LSH_THRESHOLD = 0.5  # at/above the (32,8)-banding knee


def q_split_leakage_lsh(spark, sf_dir):
    """The split guard's PRODUCTION candidate stage (VERDICT r6 #4):
    MinHash banding across the split boundary over the FULL corpus (no
    doc_id bound — that is the point), exact shingle-Jaccard verify on
    candidates only, exact-duplicate leaks handled by content-key
    grouping before banding (operators/dedup.py::cross_split_leakage_lsh).
    Rows-only by nature (xxhash64 banding); its recall is hash-checked
    by q_leakage_recall_audit (md5 family, same geometry) and the exact
    q_split_leakage is the bounded-slice audit twin."""
    docs = load_table(spark, sf_dir, "documents")
    return cross_split_leakage_lsh(
        docs, LEAKAGE_LSH_THRESHOLD, test_fraction=SPLIT_VAL_FRACTION
    )


PASSAGE_SCRUB_MIN = 3
PASSAGE_SCRUB_WINDOW = 6


def q_passage_scrub(spark, sf_dir):
    """Sliding-window repeated-passage REMOVAL (operators/dedup.py::
    scrub_repeated_passages) — the removal counterpart of the
    q_passage_dedup audit, approximating Lee et al. 2022's
    exact-substring dedup at 6-token-window granularity: every token
    position covered by a corpus-frequent window is scrubbed, so
    shifted/straddling repeats that q_line_dedup_scrub's fixed
    non-overlapping windows miss are caught. One row per doc:
    (doc_id, n_tokens, n_removed, clean_text)."""
    from biodata_pipeline_spark.operators.dedup import scrub_repeated_passages

    docs = load_table(spark, sf_dir, "documents")
    return scrub_repeated_passages(
        docs, min_count=PASSAGE_SCRUB_MIN, window=PASSAGE_SCRUB_WINDOW
    )


LINE_SCRUB_MIN = 3  # a line in 3+ places corpus-wide is boilerplate
LINE_TOKENS = 8


def q_line_dedup_scrub(spark, sf_dir):
    """C4/RefinedWeb-style line dedup: corpus-frequent lines (8-token
    windows standing in for newline-split lines — the synthetic corpus
    has none) are removed from every document, survivors reassembled in
    order. One row per non-empty doc: n_lines, n_removed, clean_text —
    the boilerplate-scrub pass document-level dedup cannot perform."""
    docs = load_table(spark, sf_dir, "documents")
    return scrub_frequent_lines(
        docs, min_count=LINE_SCRUB_MIN, line_tokens=LINE_TOKENS
    )


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals per document: bigram count,
    duplicate-bigram fraction, top-bigram fraction. Pure per-row array
    HOFs — zero shuffle, map-side at any corpus size (the filter that
    catches looping/boilerplate text before training)."""
    docs = load_table(spark, sf_dir, "documents")
    # inline(array(struct)) emits all three metrics from ONE evaluation of
    # the tokenize→bigram→sort→fold chain (textfn.repetition_struct)
    return docs.select(
        "doc_id", F.inline(F.array(textfn.repetition_struct("text")))
    )


def q_pii_scrub(spark, sf_dir):
    """PII redaction pass: emails and phone numbers → typed placeholders.
    The testdata contains no natural PII, so the query plants a
    deterministic contact string per document first — the scrub chain and
    the audit count are what's under test. regexp-only: zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com call +1-555-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        F.lit(" now"),
    )
    return docs.select(
        "doc_id",
        textfn.pii_count(synth).alias("n_pii"),
        textfn.scrub_pii(synth).alias("scrubbed"),
    )


def q_word_freq_topk(spark, sf_dir):
    """Corpus vocabulary: top-30 tokens by frequency (the BPE-training /
    vocab-build first pass). Explode → hash aggregate benefits from
    map-side partial aggregation: each task pre-counts its own tokens, so
    the shuffle carries one row per (task, distinct word), not one per
    token occurrence — at 100 TB that is the difference between shuffling
    ~vocab-size rows and shuffling the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(textfn.tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(30)
    )


def q_bpe_merge_pairs(spark, sf_dir):
    """First BPE merge iteration (Sennrich et al.): corpus-wide counts of
    adjacent CHARACTER pairs inside whitespace words, top-50 by count —
    the statistic a tokenizer-training pass computes before its first
    merge. Same scale shape as the vocab build: the explode emits ~one
    row per character, but map-side partial aggregation collapses each
    task to its distinct pairs (bounded by alphabet², not corpus size)
    before the single shuffle; top-50 is TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(textfn.tokens("text")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(50)
    )


BPE_TRAIN_MERGES = 20


def q_bpe_train_merges(spark, sf_dir):
    """The FULL BPE training loop (operators/tokenizer.py) declared:
    the ordered 20-merge list learned from the corpus, one row per
    merge. Rows-only by nature — the greedy argmax-then-fold iteration
    is not one SQL query — with its audit twin in pytest:
    tests/test_tokenizer.py pins the operator merge-for-merge against a
    serial textbook implementation (Sennrich et al. 2016) with the same
    deterministic tie-break. q_bpe_merge_pairs stays the hash-checked
    declaration of the loop's per-iteration statistic."""
    from biodata_pipeline_spark.operators.tokenizer import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, BPE_TRAIN_MERGES)
    return local_frame(
        spark,
        [(i + 1, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "step int, left string, right string, merged string",
    )


BPE_ENCODE_MERGES = 10
BPE_VOCAB_TOPK = 50


def q_bpe_encode_corpus(spark, sf_dir):
    """The tokenizer lifecycle's second half, declared: train
    ``BPE_ENCODE_MERGES`` merges (q_bpe_train_merges is the 20-merge
    declaration of the loop itself), ENCODE the corpus with them, and
    emit the top-50 subword vocabulary histogram by corpus frequency —
    the sanity check a pipeline runs before committing a tokenizer.
    Encode cost is vocabulary-sized, not corpus-sized: merges apply to
    the distinct-word table and counts weight by term frequency.
    Rows-only by nature (greedy iterative training). Encodes via the
    Arrow merge-rank kernel (``bpe_encode_words``) — the scale path
    that handles tokenizer-sized merge lists (VERDICT r7 #5); the
    plan-depth-bounded Catalyst fold (``bpe_encode``) remains the
    pytest bit-parity reference (tests/test_tokenizer.py)."""
    from biodata_pipeline_spark.operators.tokenizer import (
        bpe_encode_words,
        bpe_train,
        word_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, BPE_ENCODE_MERGES)
    wc = word_counts(docs)
    return (
        bpe_encode_words(wc, merges)
        .select(F.explode("syms").alias("sym"), "n")
        .groupBy("sym")
        .agg(F.sum("n").alias("sym_count"))
        .orderBy(F.desc("sym_count"), F.asc("sym"))
        .limit(BPE_VOCAB_TOPK)
    )


# Trained by bpe_train at sf0.01 and PINNED as literals (VERDICT r6 #6)
# so the DuckDB oracle can replay the same fold — the
# q_lsh_similarity_join promotion trick applied to the tokenizer:
# deterministic data-derived constants exported to both engines.
# Fidelity to the live training loop is asserted in
# tests/test_tokenizer.py::test_pinned_merges_match_training.
BPE_PINNED_MERGES: list[tuple[str, str]] = [
    ("e", "r"),
    ("e", "</w>"),
    ("n", "</w>"),
    ("er", "</w>"),
    ("o", "w"),
    ("ow", "</w>"),
    ("o", "r"),
    ("s", "t"),
]
_BPE_SEP = "\x1f"  # unit separator: cannot appear in whitespace tokens
BPE_PAIR_TOPK = 20


def _sep_fold_sql(base_expr: str, merges) -> str:
    """Nested DuckDB ``replace`` chain applying ``merges`` in training
    order to a separator-delimited symbol string. The encoding wraps
    EVERY symbol in chr(31) separators (``␟a␟b␟c␟</w>␟``), so the
    pattern ``␟a␟b␟ → ␟ab␟`` can only match whole symbols. ONE replace
    pass is NOT the greedy fold: symbol-disjoint adjacent occurrences
    share their boundary separator (``erer`` under (e,r) is
    ``␟e␟r␟e␟r␟`` — the first match consumes the middle ␟, so the
    string-level scan skips the second occurrence and yields
    ``[er, e, r]`` where the fold yields ``[er, er]``; the r7 oracle was
    wrong for any corpus containing such words — ADVICE r8 high). Each
    merge therefore applies replace TWICE, which is exact for a ≠ b:
    merging (a,b)→"ab" can never create a new (a,b) symbol adjacency
    ("ab" ≠ "a" and ≠ "b" since both are non-empty), so matches always
    correspond to ORIGINAL occurrences; in a chain of symbol-adjacent
    occurrences pass 1 merges every other one (a match is skipped only
    when the occurrence immediately before it was just merged), hence
    the occurrences pass 1 misses are never adjacent to EACH OTHER and
    pass 2 — where each survivor's neighbours are already-merged
    symbols with both its separators intact — catches all of them.
    Self-overlapping pairs (a == b, runs like ``aaa``) have different
    string-level greedy semantics and are rejected loudly; no trained
    merge list here contains one (a pair's two symbols exist strictly
    before the pair is merged, but (x,x) pairs do occur in principle —
    the assert keeps the oracle honest if one is ever pinned)."""
    s = base_expr
    for a, b in merges:
        assert "'" not in a + b, "merge symbols must not contain quotes"
        assert a != b, (
            "self-overlapping merge pair: the 2-pass replace fixpoint "
            "proof only covers a != b; extend before pinning (a, a)"
        )
        pat = f"chr(31) || '{a}' || chr(31) || '{b}' || chr(31)"
        rep = f"chr(31) || '{a}{b}' || chr(31)"
        s = f"replace(replace({s}, {pat}, {rep}), {pat}, {rep})"
    return s


# ␟c1␟c2…␟cn␟</w>␟ — one code point per symbol plus the end marker
_SEP_SYMS_SQL = (
    "regexp_replace(w, '(.)', chr(31) || '\\1', 'g')"
    " || chr(31) || '</w>' || chr(31)"
)


def q_bpe_step_argmax(spark, sf_dir):
    """ONE BPE training step, hash-checked (VERDICT r6 #6): apply the
    pinned merges 1..k−1 to the word symbol table with the SAME fold the
    training loop uses (operators/tokenizer.py::_apply_merge), then emit
    the step-k pair-count statistic — top-20 weighted adjacent-pair
    counts, totally ordered (count desc, pair asc). Row 1 is the argmax
    the loop would merge at step k (= the last pinned merge when sf_dir
    is the training corpus). The DuckDB oracle replays the fold through
    a separator-string replace chain (see _sep_fold_sql), giving the
    iterative loop's inner step a value-hash-checked row — the loop
    itself (q_bpe_train_merges) stays rows-only by nature."""
    from biodata_pipeline_spark.operators.tokenizer import (
        _apply_merge,
        _initial_symbols,
        _pair_counts,
        word_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    wc = word_counts(docs).filter(~F.col("w").contains(_BPE_SEP))
    syms = _initial_symbols(wc)
    for a, b in BPE_PINNED_MERGES[:-1]:
        syms = _apply_merge(syms, a, b)
    return (
        _pair_counts(syms)
        .select(
            F.col("p.a").alias("lhs"),
            F.col("p.b").alias("rhs"),
            F.col("cnt").alias("pair_count"),
        )
        .orderBy(F.desc("pair_count"), F.asc("lhs"), F.asc("rhs"))
        .limit(BPE_PAIR_TOPK)
    )


def q_bpe_encode_pinned(spark, sf_dir):
    """The Arrow encode KERNEL, hash-checked: encode the word table with
    all pinned merges via bpe_encode_words (the merge-rank kernel that
    scales to 1,000+ merges — VERDICT r6 #1) and emit the top-50
    corpus-weighted subword histogram. The DuckDB oracle applies the
    same pinned list through the separator-string replace chain, so the
    kernel — unlike q_bpe_encode_corpus, which trains live and stays
    rows-only — gets a cross-engine value-hash row of its own."""
    from biodata_pipeline_spark.operators.tokenizer import (
        bpe_encode_words,
        word_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    wc = word_counts(docs).filter(~F.col("w").contains(_BPE_SEP))
    return (
        bpe_encode_words(wc, BPE_PINNED_MERGES)
        .select(F.explode("syms").alias("sym"), "n")
        .groupBy("sym")
        .agg(F.sum("n").alias("sym_count"))
        .orderBy(F.desc("sym_count"), F.asc("sym"))
        .limit(BPE_VOCAB_TOPK)
    )


BPE_PACK_SEQ_LEN = 256


def q_bpe_pack_ids(spark, sf_dir):
    """The tokenizer-to-training-batches path, hash-checked end to end:
    encode the corpus to token IDS under the pinned merges (vocab ids =
    rank by corpus frequency, assigned via the distributed prefix sum —
    operators/tokenizer.py::vocab_table), concatenate documents in
    doc_id order, cut every BPE_PACK_SEQ_LEN tokens (docs split across
    boundaries — the standard LLM pretraining layout), and emit
    per-sequence invariants: token count, id sum, first/last id. The
    DuckDB oracle rebuilds the identical stream (separator-string fold
    → row_number vocab ranks → global token positions), so the whole
    kernel→vocab→prefix-sum→pack composition gets one value-hash row.
    chr(31) is scrubbed from the text first on both sides (it is the
    oracle's symbol separator; zero occurrences in the corpus)."""
    from biodata_pipeline_spark.operators.tokenizer import (
        corpus_token_ids,
        pack_token_ids,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.regexp_replace("text", _BPE_SEP, " ")
    )
    _, doc_tokens = corpus_token_ids(docs, BPE_PINNED_MERGES)
    seqs = pack_token_ids(doc_tokens, BPE_PACK_SEQ_LEN)
    return seqs.select(
        "seq_id",
        "n_tokens",
        F.aggregate(
            "ids", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("ids_sum"),
        F.element_at("ids", 1).alias("first_id"),
        F.element_at("ids", -1).alias("last_id"),
    )


BM25_TERMS = ("hash", "merge", "vector")
BM25_TOPK = 20
RRF_TOPN = 50
RRF_TOPK = 10


def q_bm25_topk(spark, sf_dir):
    """Sparse keyword retrieval: BM25 top-20 for a fixed 3-term query
    (operators/bm25.py). Complements the dense cosine rankers — the
    sparse half of the hybrid retrieval stack. Two hash aggregates +
    broadcast term stats; per-doc score folds term contributions in
    sorted order so both engines sum identical doubles identically."""
    from biodata_pipeline_spark.operators.bm25 import bm25_scores, ranked_top_n

    docs = load_table(spark, sf_dir, "documents")
    return ranked_top_n(bm25_scores(docs, BM25_TERMS), "bm25", BM25_TOPK)


BM25_QUERY_SETS = {
    "kq0": ("hash", "join"),
    "kq1": ("vector", "scan"),
    "kq2": ("merge", "customer", "slow"),
}
BM25_MULTI_TOPK = 5


def q_bm25_multi_topk(spark, sf_dir):
    """Batch sparse retrieval: BM25 top-5 per query for a 3-query keyword
    set (operators/bm25.py bm25_scores_multi) — the sparse analog of the
    flagship's query-set ranking. Term stats computed once; the per-query
    top-k window partitions by query_id (bounded by the query set, the
    same shape as q31's per-group top-k)."""
    from biodata_pipeline_spark.operators.bm25 import bm25_scores_multi
    from biodata_pipeline_spark.operators.bq import approx_ranked

    docs = load_table(spark, sf_dir, "documents")
    qt = local_frame(
        spark,
        [(q, t) for q, ts in BM25_QUERY_SETS.items() for t in ts],
        "query_id string, term string",
    )
    scored = bm25_scores_multi(docs, qt)
    return approx_ranked(scored, "bm25", BM25_MULTI_TOPK, id_col="doc_id").select(
        "query_id", "doc_id", "bm25", "rank"
    )


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion (k=60) of the BM25
    keyword ranking and the dense cosine ranking against query vector 0.
    Each ranker reduces to a top-50 via TakeOrderedAndProject before the
    (tiny) full-outer fuse — the heavy work never sees the other ranker."""
    from biodata_pipeline_spark.functions.vector import cosine_sim, l2_norm
    from biodata_pipeline_spark.operators.bm25 import (
        bm25_scores,
        ranked_top_n,
        rrf_fuse,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    sparse = ranked_top_n(bm25_scores(docs, BM25_TERMS), "bm25", RRF_TOPN)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), l2_norm(F.col("embedding")).alias("qnrm")
    )
    dense_scored = (
        emb.filter(F.col("vec_id") > 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine_sim("qv", "embedding", "qnrm", l2_norm("embedding")).alias(
                "sim"
            ),
        )
    )
    dense = ranked_top_n(dense_scored, "sim", RRF_TOPN)
    fused = rrf_fuse(sparse, dense)
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(RRF_TOPK)


def q_corpus_diff(spark, sf_dir):
    """Snapshot diff v1 -> v2 (operators/snapshot.py): v2 models the next
    crawl deterministically — doc_id % 13 == 0 dropped, % 7 == 0 edited,
    % 17 == 0 re-crawled under a new id. Output: every added / removed /
    changed document with its per-side char counts. The incremental-
    ingest decision (only added/changed re-enter the expensive stages) as
    a hash-checked row set."""
    from biodata_pipeline_spark.operators.snapshot import snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    v2 = docs.filter(F.pmod(F.col("doc_id"), F.lit(13)) != 0).withColumn(
        "text",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(7)) == 0,
            F.concat(F.col("text"), F.lit(" [rev2]")),
        ).otherwise(F.col("text")),
    )
    recrawled = docs.filter(F.pmod(F.col("doc_id"), F.lit(17)) == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    return snapshot_diff(docs, v2.unionByName(recrawled))


def q_edit_severity(spark, sf_dir):
    """Edit-severity census between snapshots (operators/snapshot.py::
    edit_severity): q_corpus_diff says WHAT changed; this grades HOW
    MUCH, so trivial edits (fixed typo) keep their embeddings while
    rewrites re-enter every stage. v2 models graded edits
    deterministically — doc_id % 19 == 0 fully rewritten, % 11 == 0
    keeps the first 80% (moderate), % 7 == 0 gets an appended marker
    (trivial); first CASE branch wins, same order both engines. One
    id equi-join + per-row shingle set math — no corpus-wide shingle
    join, the pairs are already known."""
    from biodata_pipeline_spark.operators.snapshot import edit_severity

    docs = load_table(spark, sf_dir, "documents")
    vid = F.col("doc_id")
    edited = docs.withColumn(
        "text",
        F.when(
            vid % 19 == 0,
            F.concat(
                F.lit(
                    "completely different replacement body about unrelated "
                    "topics entirely "
                ),
                vid.cast("string"),
            ),
        )
        .when(
            vid % 11 == 0,
            F.expr(
                "concat(substring(text, 1, cast(floor(length(text)*0.8) as int)),"
                " ' plus a replacement tail section written fresh for this revision')"
            ),
        )
        .when(vid % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]")))
        .otherwise(F.col("text")),
    )
    return edit_severity(docs, edited)


def q_pack_sequences(spark, sf_dir):
    """Sequence packing per language: token offsets and 512-token sequence
    ids over the doc_id-ordered layout (operators/packing.py — the LLM
    data-loader "concat and chop" prep, grouped like the reference's
    per-domain training files)."""
    from biodata_pipeline_spark.operators.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", "lang", textfn.token_count("text").alias("n_tokens"))
    return pack_sequences(toked, "n_tokens", budget=512, group_cols=("lang",))


def q_tfidf_top_terms(spark, sf_dir):
    """TF-IDF feature extraction: top-3 terms per document by
    tf·ln(N/df), ties broken alphabetically. Two hash aggregates (term
    frequency per doc, document frequency per term) and one broadcast
    join of the term-level idf table — the df table is vocabulary-sized,
    so the corpus shuffles once at 100 TB. ln() agrees bit-for-bit
    between engines on the same libm; scores are rounded to 6 dp anyway
    so a sub-ulp divergence cannot flip the hash."""
    docs = load_table(spark, sf_dir, "documents")
    # Corpus statistics over a collapsed corpus (``per_content``, case-
    # preserving key — tokens are case-sensitive): exact duplicates
    # explode/aggregate once, with document frequency counted by copy
    # count (Σ copies per term ≡ raw-corpus df, since copies contribute
    # identical term sets) and N the raw document count. Per-doc rows are
    # content-pure given the idf table, so representatives' top-3 rows
    # copy to members.
    from pyspark.sql import Window

    from biodata_pipeline_spark.operators.caching import register_cached
    from biodata_pipeline_spark.operators.dedup import _copies, per_content

    # N enters the plan as a broadcast 1-row aggregate (the oracle's scalar
    # subquery), not an eager count() — building the query plans a job-free
    # tree (plan audits / bench declaration triggered a full count per call).
    n_docs = docs.agg(F.count("*").cast("double").alias("__n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("word").asc()
    )

    def top_terms(distinct):
        words = distinct.select(
            "doc_id",
            _copies(distinct).alias("__w"),
            F.explode(textfn.tokens("text")).alias("word"),
        )
        # tf feeds two consumers (the scored stream and the df
        # derivation); persisted so the documents scan + explode +
        # (doc_id, word) exchange run once — without it Catalyst
        # evaluates the whole subtree twice.
        tf = register_cached(
            words.groupBy("doc_id", "__w", "word")
            .agg(F.count("*").alias("tf"))
            .persist()
        )
        df_ = tf.groupBy("word").agg(F.sum("__w").alias("df"))
        scored = (
            tf.join(F.broadcast(df_), "word")
            .crossJoin(F.broadcast(n_docs))
            .select(
                "doc_id",
                "word",
                "tf",
                F.round(
                    F.col("tf") * F.log(F.col("__n_docs") / F.col("df")), 6
                ).alias("tfidf"),
            )
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("doc_id", "word", "tf", "tfidf", "rn")
        )

    return per_content(docs, top_terms)


CONTAM_MOD = 97  # doc_id % 97 == 0 → the held-out "benchmark" slice


def q_contamination_check(spark, sf_dir):
    """Benchmark-contamination detection: for every training document,
    count the distinct 3-token shingles it shares with a held-out
    benchmark slice (the train/test-overlap audit every LLM data pipeline
    runs before training; emits contaminated docs only).

    Plan shape: the benchmark shingle set is DISTINCT shingles of a small
    doc slice → broadcast; the corpus side is a map-side explode +
    broadcast semi-join + one partial-agg groupBy on doc_id. The corpus
    never joins itself — at 100 TB the only shuffle is the per-doc count
    rollup. The per-doc count is content-pure given the (fixed) benchmark
    set, so the corpus side shingles once per distinct content via
    ``per_content`` and duplicates copy their representative's count —
    the benchmark side stays raw (its membership is keyed on doc_id)."""
    from biodata_pipeline_spark.operators.dedup import (
        _exploded_shingles,
        per_content,
    )

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % CONTAM_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % CONTAM_MOD != 0)
    bench_sh = _exploded_shingles(bench, "doc_id", "text", 3).select("sh").distinct()

    def shared_counts(base):
        corpus_sh = _exploded_shingles(base, "doc_id", "text", 3)
        # shingle arrays are distinct per doc, so count(*) = distinct overlap
        return (
            corpus_sh.join(F.broadcast(bench_sh), "sh")
            .groupBy(F.col("id").alias("doc_id"))
            .agg(F.count("*").alias("n_shared_shingles"))
        )

    return per_content(corpus, shared_counts)


VOCAB_K = 1000


def q_vocab_oov_rate(spark, sf_dir):
    """Tokenizer-vocabulary coverage: build the top-1000 corpus vocabulary
    (count DESC, word ASC — deterministic at the cut), then score every
    document's out-of-vocabulary token ratio. The vocab is bounded →
    broadcast; the corpus explodes map-side and aggregates per doc_id with
    partial aggregation, so the only full shuffle is on doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(textfn.tokens("text")).alias("word"))
    vocab = (
        words.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(VOCAB_K)
        .select("word")
    )
    per_doc = (
        words.join(F.broadcast(vocab.withColumn("__in_v", F.lit(1))), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("__in_v").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
        F.round(
            F.coalesce("n_oov", F.lit(0))
            / F.greatest(F.coalesce("n_tokens", F.lit(0)), F.lit(1)),
            4,
        ).alias("oov_rate"),
    )


LM_VOCAB_K = 2000  # fixed LM vocabulary: top-K by corpus frequency


def q_unigram_logprob(spark, sf_dir):
    """Perplexity-proxy quality scoring: per-document mean unigram
    log-probability under a Laplace-smoothed LM with a fixed top-K
    vocabulary and a single UNK bucket (the CCNet/Gopher-style LM quality
    filter, minus the external KenLM dependency).

    p(w) = (c(w)+1)/(T+K+1) for the K vocab words; every OOV token maps
    to UNK with c(UNK) = T − Σ vocab counts. The vocabulary is bounded by
    contract (top-K), so the idf-style join side broadcasts at any corpus
    size; the corpus shuffles once into the persisted (doc_id, word) tf
    table and once for the per-doc rollup. Following the determinism
    rules, the float sum is rounded BEFORE the division (round(sum,2)/n —
    never round(avg)): ln() of identical doubles is libm-consistent (the
    q_tfidf precedent) and the 2dp rounding absorbs summation-order ulp."""
    docs = load_table(spark, sf_dir, "documents")
    # Collapsed-corpus LM (``per_content``): the corpus counts behind the
    # model (word totals, the top-K vocabulary cut, T) weight each
    # distinct content by its copy count — integer-exact equal to
    # raw-corpus counting — and per-doc scores (content-pure given the
    # model constants) copy from representatives to members (was 26.1 s
    # at 100×-duplication re-exploding every copy).
    from biodata_pipeline_spark.operators.caching import register_cached
    from biodata_pipeline_spark.operators.dedup import _copies, per_content

    def lm_scores(distinct):
        words = distinct.select(
            "doc_id",
            _copies(distinct).alias("__w"),
            F.explode(textfn.tokens("text")).alias("word"),
        )
        tf = register_cached(
            words.groupBy("doc_id", "__w", "word")
            .agg(F.count("*").alias("tf"))
            .persist()
        )
        wc = tf.groupBy("word").agg(F.sum(F.col("tf") * F.col("__w")).alias("c"))
        vocab = wc.orderBy(F.desc("c"), F.asc("word")).limit(LM_VOCAB_K)
        # the corpus token total sums the cached tf table directly (partial
        # aggs only — no second word-grouped shuffle through wc)
        consts = tf.agg(
            F.sum(F.col("tf") * F.col("__w")).alias("__t")
        ).crossJoin(
            vocab.agg(F.sum("c").alias("__vt"), F.count("*").alias("__k"))
        )
        scored = (
            tf.join(F.broadcast(vocab), "word", "left")
            .crossJoin(F.broadcast(consts))
            .select(
                "doc_id",
                "tf",
                F.log(
                    (
                        F.coalesce(F.col("c"), F.col("__t") - F.col("__vt")) + 1
                    ).cast("double")
                    / (F.col("__t") + F.col("__k") + 1)
                ).alias("lp"),
            )
        )
        per_doc = scored.groupBy("doc_id").agg(
            F.sum("tf").alias("n_tokens"),
            (F.round(F.sum(F.col("tf") * F.col("lp")), 2) / F.sum("tf")).alias(
                "avg_logprob"
            ),
        )
        return distinct.select("doc_id").join(per_doc, "doc_id", "left").select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("avg_logprob", F.lit(0.0)).alias("avg_logprob"),
        )

    return per_content(docs, lm_scores)


def q_token_entropy(spark, sf_dir):
    """Per-document unigram entropy H = ln(n) − (Σ tf·ln tf)/n — the
    lexical-diversity signal (low entropy ⇒ repetitive/templated text,
    the complement of the Gopher repetition filters).

    Same two-shuffle shape as tfidf: (doc, word) tf with map-side partial
    aggregation, then a per-doc rollup — the shuffle carries distinct
    (doc, word) pairs, not token occurrences. Determinism: the float sum
    is rounded before the division (round(sum,2)/n) and the output is
    rounded at 6 dp — ln() diverges by 1 ulp between engines for some
    inputs (measured 8.9e-16 on this query unrounded), which the output
    rounding absorbs (the tfidf precedent).

    Entropy is content-pure, so the tf explode runs once per DISTINCT
    content (``per_content``, case-preserving key) and duplicates copy
    their representative's row — the collapse-before-scoring shape."""
    from biodata_pipeline_spark.operators.dedup import per_content

    docs = load_table(spark, sf_dir, "documents")

    def entropy_frame(base):
        words = base.select(
            "doc_id", F.explode(textfn.tokens("text")).alias("word")
        )
        tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
        per_doc = tf.groupBy("doc_id").agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                F.sum(F.col("tf") * F.log(F.col("tf").cast("double"))), 2
            ).alias("__tlt"),
        )
        return base.select("doc_id").join(per_doc, "doc_id", "left").select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.round(
                F.when(
                    F.coalesce("n_tokens", F.lit(0)) > 0,
                    F.log(F.col("n_tokens").cast("double"))
                    - F.col("__tlt") / F.col("n_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("entropy"),
        )

    return per_content(docs, entropy_frame)


MIX_TOKEN_BUDGET = 200_000  # target token budget for the sampled mixture
MIX_ALPHA = 0.5  # temperature: weight ∝ tokens^alpha (sqrt — exact IEEE)


def q_mixture_allocation(spark, sf_dir):
    """Training-mixture allocation: per-source token counts reweighted by
    temperature sampling (weight ∝ n_tokens^0.5 — upsamples small sources
    the way multilingual/multi-domain LM mixtures do) and converted to a
    per-source sampling rate that hits MIX_TOKEN_BUDGET in expectation.

    alpha is fixed at 0.5 so the power is sqrt() — correctly rounded in
    IEEE 754, hence bit-identical across engines (pow(x, 0.5) carries no
    such guarantee). One partial agg on source (sources are bounded);
    the normalizer is a 1-row crossJoin broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(textfn.token_count("text")).alias("n_tokens"),
    )
    w_raw = F.sqrt(F.col("n_tokens").cast("double"))
    tot = src.agg(
        F.sum(F.sqrt(F.col("n_tokens").cast("double"))).alias("__z")
    )
    return src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(w_raw / F.col("__z"), 6).alias("mix_weight"),
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(MIX_TOKEN_BUDGET) * (w_raw / F.col("__z")) / F.col("n_tokens"),
            ),
            6,
        ).alias("sampling_rate"),
    )


SPLIT_VAL_FRACTION = 0.1


def q_stratified_split(spark, sf_dir):
    """Stratified train/val split audit: within each language, documents
    are quartiled by token length (ntile over n_tokens DESC, doc_id — the
    stratification packing pipelines use), split 90/10 by the salted md5
    predicate, and counted per (lang, quartile, split) cell — the
    balance-check a pipeline runs before training.

    The md5 split decision is per-row map work (pushed to the scan, no
    shuffle, stable under corpus growth). The exact ntile needs a per-lang
    sort — fine while strata counts are driver-checkable; the 100 TB path
    swaps ntile for approx-quantile bucket boundaries (computed map-side)
    with the same downstream cells."""
    from pyspark.sql import Window

    from biodata_pipeline_spark.operators.sampling import sample_predicate

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("__n_tok"), F.asc("doc_id"))
    assigned = (
        docs.select(
            "doc_id", "lang", "n_chars", textfn.token_count("text").alias("__n_tok")
        )
        .withColumn("len_quartile", F.ntile(4).over(w))
        .withColumn(
            "split",
            F.when(
                sample_predicate("doc_id", SPLIT_VAL_FRACTION, "split"),
                F.lit("val"),
            ).otherwise(F.lit("train")),
        )
    )
    return assigned.groupBy("lang", "len_quartile", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


WSAMPLE_K = 100
PASSAGE_WINDOW = 5


def q_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    the 100 documents drawn with probability ∝ n_chars — the
    importance-sampling primitive mixture builders use to upweight long
    or high-quality documents deterministically.

    The per-row key ln(u)/w is pure map work from an md5-derived dyadic
    uniform; the global top-k is a TakeOrderedAndProject (per-partition
    heaps + one k-row merge at the driver), never a full sort — the same
    plan at any corpus size."""
    from biodata_pipeline_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, WSAMPLE_K, "doc_id", "n_chars").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"),
        F.col("__sk").alias("sample_key"),
    )


def q_passage_dedup(spark, sf_dir):
    """Passage-duplication audit: per document, the count and fraction of
    its distinct 5-token windows that appear in any other document
    (Lee et al. 2022's substring-dedup signal at token granularity;
    operators/dedup.py:duplicated_passages)."""
    from biodata_pipeline_spark.operators.dedup import duplicated_passages

    docs = load_table(spark, sf_dir, "documents")
    return duplicated_passages(docs, window=PASSAGE_WINDOW)


def q_quality_classifier(spark, sf_dir):
    """Hashing-trick linear quality classifier scoring — the fasttext-
    style model-based filter as a vocabulary-free dataflow: bucket =
    md5(word) % 512, weight derived from the bucket, per-doc mean weight
    through a sigmoid (operators/classifier.py). Map-side feature
    hashing + one per-doc shuffle; weights are dyadic rationals so the
    per-doc sums are EXACT regardless of partitioning/summation order."""
    from biodata_pipeline_spark.operators.classifier import hashed_linear_score

    docs = load_table(spark, sf_dir, "documents")
    return hashed_linear_score(docs)


GROUP_SAMPLE_K = 10


def q_group_weighted_sample(spark, sf_dir):
    """Per-source A-ES weighted sample: the 10 documents per source drawn
    with probability ∝ n_chars — the per-stratum draw a mixture builder
    runs after q_mixture_allocation fixes per-source rates. Window over
    (source, key DESC): partitions by source, no global sort
    (operators/sampling.py:weighted_sample_per_group)."""
    from biodata_pipeline_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample_per_group(
        docs, GROUP_SAMPLE_K, "source", "doc_id", "n_chars"
    ).select(
        "doc_id", "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("__sk").alias("sample_key"),
    )


WINNOW_K = 8  # char k-gram width
WINNOW_W = 4  # winnowing window (guarantee: shared substrings ≥ k+w-1 hit)


def _winnow_horner_sql() -> str:
    """DuckDB mirror of the polynomial gram hash (textfn.POLY_BASE/MOD
    Horner over codepoints): Spark ``ascii()`` == DuckDB ``ord()`` per
    character (full codepoints, astral included — probed r9), so the
    unrolled chain computes the exact same int64s as the Arrow kernel."""
    from biodata_pipeline_spark.functions.textfn import POLY_BASE, POLY_MOD

    h = "CAST(0 AS BIGINT)"  # seed BIGINT: bare 0 is INT32 and overflows
    for j in range(WINNOW_K):
        h = (
            f"(({h}) * {POLY_BASE} + "
            f"ord(substr(text, CAST(i + {j} AS INTEGER), 1))) % {POLY_MOD}"
        )
    return h


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (the MOSS algorithm, Schleimer et
    al. SIGMOD'03): per document, the distinct window-minima of char
    8-gram hashes — the position-robust fingerprint set plagiarism /
    near-dup scanners index. One row per (doc_id, fingerprint), via the
    Arrow kernel (operators/fingerprint.py: winnow_fingerprint_rows —
    polynomial codepoint Horner hash, bit-parity with the
    winnow_fingerprints_poly expression, ~15× the interpreted gram
    pass at sf0.1 and already exploded so the interpreted Generate is
    skipped too); fingerprinted once per distinct content via
    ``per_content`` (measured 336 s re-fingerprinting every copy of a
    100×-duplicated corpus vs 1× work + edge propagation)."""
    from biodata_pipeline_spark.operators.dedup import per_content
    from biodata_pipeline_spark.operators.fingerprint import (
        winnow_fingerprint_rows,
    )

    docs = load_table(spark, sf_dir, "documents")

    def fp_frame(base):
        return winnow_fingerprint_rows(
            base, "text", "doc_id", WINNOW_K, WINNOW_W
        )

    # char-level fingerprints see raw bytes, so the collapse key must be
    # the EXACT text (even a whitespace-run difference changes k-grams —
    # stricter than the default whitespace-normalized key)
    return per_content(docs, fp_frame, key=F.xxhash64(F.col("text")))


PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def q_quality_percentile_filter(spark, sf_dir):
    """FineWeb-style curation gate: keep the top 30% of documents per
    language by classifier score (operators/classifier.py
    quality_percentile_gate). Ranking uses the flagship's count-above
    decomposition — per-(lang, score) cumulative counts + within-bucket
    row_number — so no language ever sorts through one task."""
    from biodata_pipeline_spark.operators.classifier import (
        hashed_linear_score,
        quality_percentile_gate,
    )

    docs = load_table(spark, sf_dir, "documents")
    scored = hashed_linear_score(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return quality_percentile_gate(scored.select("doc_id", "lang", "score"))


def q_corpus_profile(spark, sf_dir):
    """Per-column intake profile of the documents table (row/null/exact-
    distinct counts, min/max as strings) — the governance summary a
    pipeline records per corpus drop. Union-of-single-column aggregates:
    each branch's scan reads exactly one parquet column
    (operators/profile.py)."""
    from biodata_pipeline_spark.operators.profile import profile

    docs = load_table(spark, sf_dir, "documents")
    return profile(docs, PROFILE_COLS)


# --- approximate dedup (rows-only + pytest recall checks) --------------------


def q_minhash_lsh_dedup(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_dup_pairs(docs, threshold=0.3)


def q_hash_sample(spark, sf_dir):
    """Deterministic ~10% sample of documents by md5 hash range — the
    reproducible replacement for the reference's random.sample
    (generate_narratives_from_data.py:39-40). Oracle-checkable because the
    sampling decision is a pure md5 comparison, identical in any engine
    (SURVEY §2.3 assumed sampling had to be rows-only — hash sampling
    doesn't)."""
    from biodata_pipeline_spark.operators.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.1).select("doc_id", "lang")


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clusters: MinHash-LSH candidate edges → connected
    components — the production dedup shape (banding feeds CC), now
    hash-checked end to end (VERDICT r5 #7). Edges come from the
    md5-family MinHash banding (same 32-lane / 8-band x 4-row geometry
    as the xxhash64 production path, audit-bounded corpus) so the edge
    set is reproducible in ANSI SQL; the oracle re-derives components
    via recursive reachability + min label. The xxhash64 path
    (``minhash_lsh_dup_pairs``) stays the 100 TB scale default — its
    banding geometry is recall-audited by q_lsh_recall_audit and its
    full-corpus variant keeps pytest + union-find coverage
    (tests/test_clusters.py::test_dedup_survivors_end_to_end)."""
    from biodata_pipeline_spark.operators.audit import (
        AUDIT_MAX_DOC,
        minhash_candidate_pairs_md5,
    )
    from biodata_pipeline_spark.operators.clusters import connected_components

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < AUDIT_MAX_DOC
    )
    pairs = minhash_candidate_pairs_md5(docs)
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component"
    )


def q_simhash_dedup(spark, sf_dir):
    """SimHash near-dup pairs at Hamming ≤ 3 with 4 bands — inside the
    pigeonhole-guarantee regime (d < n_bands ⇒ recall 1)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_dup_pairs(docs, max_hamming=3)


SPARK = {
    "q_chunk_documents": q_chunk_documents,
    "q_token_stats": q_token_stats,
    "q_bpe_token_count": q_bpe_token_count,
    "q_quality_score": q_quality_score,
    "q_lang_guess": q_lang_guess,
    "q_fingerprint": q_fingerprint,
    "q_ngram_jaccard_dedup": q_ngram_jaccard_dedup,
    "q_split_leakage": q_split_leakage,
    "q_split_leakage_lsh": q_split_leakage_lsh,
    "q_passage_scrub": q_passage_scrub,
    "q_line_dedup_scrub": q_line_dedup_scrub,
    "q_edit_severity": q_edit_severity,
    "q_repetition_stats": q_repetition_stats,
    "q_pii_scrub": q_pii_scrub,
    "q_word_freq_topk": q_word_freq_topk,
    "q_bpe_merge_pairs": q_bpe_merge_pairs,
    "q_bpe_train_merges": q_bpe_train_merges,
    "q_bpe_encode_corpus": q_bpe_encode_corpus,
    "q_bpe_step_argmax": q_bpe_step_argmax,
    "q_bpe_encode_pinned": q_bpe_encode_pinned,
    "q_bpe_pack_ids": q_bpe_pack_ids,
    "q_bm25_topk": q_bm25_topk,
    "q_bm25_multi_topk": q_bm25_multi_topk,
    "q_hybrid_rrf": q_hybrid_rrf,
    "q_corpus_diff": q_corpus_diff,
    "q_pack_sequences": q_pack_sequences,
    "q_tfidf_top_terms": q_tfidf_top_terms,
    "q_contamination_check": q_contamination_check,
    "q_vocab_oov_rate": q_vocab_oov_rate,
    "q_minhash_lsh_dedup": q_minhash_lsh_dedup,
    "q_simhash_dedup": q_simhash_dedup,
    "q_dedup_clusters": q_dedup_clusters,
    "q_hash_sample": q_hash_sample,
    "q_unigram_logprob": q_unigram_logprob,
    "q_mixture_allocation": q_mixture_allocation,
    "q_stratified_split": q_stratified_split,
    "q_token_entropy": q_token_entropy,
    "q_weighted_sample": q_weighted_sample,
    "q_passage_dedup": q_passage_dedup,
    "q_quality_classifier": q_quality_classifier,
    "q_quality_percentile_filter": q_quality_percentile_filter,
    "q_corpus_profile": q_corpus_profile,
    "q_winnow_fingerprints": q_winnow_fingerprints,
    "q_group_weighted_sample": q_group_weighted_sample,
}

# Tokenizer parity guard: Spark's textfn.tokens returns [] for empty /
# whitespace-only text, but DuckDB's string_split_regex(trim(''), '\s+')
# returns [''] — one spurious empty-string token (highest possible idf).
# The CASE keeps both engines agreeing if empty documents enter the corpus.
_TOKS = (
    r"CASE WHEN trim(text) = '' THEN [] "
    r"ELSE string_split_regex(trim(text), '\s+') END"
)

# Shared BM25 CTE chain (q_bm25_topk / q_hybrid_rrf). Constants written
# as the same pre-folded literals the Spark side computes (2.2 = k1+1,
# 0.25 = 1-b) in the same operation order — contributions bit-identical.
_BM25_IN = ", ".join(f"'{t}'" for t in BM25_TERMS)
_BM25_CTES = f"""
    dl AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS dl FROM documents),
    consts AS (
        SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dl
    ),
    words AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tfq AS (
        SELECT doc_id, term, count(*) AS tf FROM words
        WHERE term IN ({_BM25_IN}) GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tfq GROUP BY 1),
    contrib AS (
        SELECT t.doc_id, t.term,
               ln((c.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
               * (t.tf * 2.2)
               / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl)) AS contrib
        FROM tfq t JOIN dfreq f USING (term) JOIN dl d USING (doc_id)
        CROSS JOIN consts c
    ),
    bscores AS (
        SELECT doc_id, round(list_sum(list(contrib ORDER BY term)), 9) AS bm25
        FROM contrib GROUP BY 1
    )
"""

_BM25_MULTI_IN = ", ".join(
    f"'{t}'" for t in sorted({t for ts in BM25_QUERY_SETS.values() for t in ts})
)
_BM25_QT_VALUES = ", ".join(
    f"('{q}', '{t}')" for q, ts in BM25_QUERY_SETS.items() for t in ts
)

ORACLE = {
    "q_chunk_documents": """
        SELECT doc_id,
               CAST(s / 156 AS INTEGER) AS chunk_id,
               CAST(s AS INTEGER) AS chunk_start,
               substr(text, CAST(s + 1 AS INTEGER), 256) AS chunk_text
        FROM documents, generate_series(0, 16384, 156) AS g(s)
        WHERE length(text) > 0 AND s <= length(text) - 1
    """,
    "q_token_stats": f"""
        SELECT lang,
               CAST(sum(len({_TOKS})) AS BIGINT) AS total_tokens,
               round(avg(len({_TOKS})), 4) AS avg_tokens
        FROM documents GROUP BY lang
    """,
    "q_hash_sample": """
        SELECT doc_id, lang FROM documents
        WHERE md5(CAST(doc_id AS VARCHAR)) < '19999999000000000000000000000000'
    """,
    "q_bpe_token_count": f"""
        SELECT doc_id,
               CAST(len({_TOKS}) AS INTEGER) AS ws_tokens,
               CAST(len(regexp_extract_all(text,
                 '''(?:s|t|re|ve|m|ll|d)| ?\\p{{L}}+| ?\\p{{N}}+| ?[^\\s\\p{{L}}\\p{{N}}]+'))
                 AS INTEGER) AS bpe_tokens
        FROM documents
    """,
    "q_quality_score": f"""
        WITH base AS (
            SELECT doc_id, text, {_TOKS} AS toks,
                   length(regexp_replace(text, '\\s+', '', 'g')) AS nonspace
            FROM documents
        )
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_tokens,
               round(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in')))
                     / greatest(len(toks), 1), 4) AS stopword_ratio,
               round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                     / greatest(length(text), 1), 4) AS punct_ratio,
               round(nonspace / greatest(len(toks), 1), 4) AS avg_token_len
        FROM base
    """,
    "q_lang_guess": """
        WITH scored AS (
            SELECT doc_id, lang, text,
                   len(list_filter(string_split_regex(trim(text), '\\s+'),
                       x -> x IN ('der','die','und','das'))) AS s_de,
                   len(list_filter(string_split_regex(trim(text), '\\s+'),
                       x -> x IN ('the','a','and','of'))) AS s_en,
                   len(list_filter(string_split_regex(trim(text), '\\s+'),
                       x -> x IN ('el','la','los','que'))) AS s_es,
                   len(list_filter(string_split_regex(trim(text), '\\s+'),
                       x -> x IN ('le','la','les','et'))) AS s_fr
            FROM documents
        )
        SELECT doc_id, lang,
               CASE WHEN text IS NULL THEN NULL
                    WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                    WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                    WHEN s_es >= s_fr THEN 'es'
                    ELSE 'fr' END AS predicted_lang
        FROM scored
    """,
    "q_fingerprint": """
        WITH fp AS (
            SELECT doc_id,
                   substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16)
                   AS fingerprint
            FROM documents WHERE text IS NOT NULL
        )
        SELECT doc_id, fingerprint, count(*) OVER (PARTITION BY fingerprint) AS group_size
        FROM fp
    """,
    "q_repetition_stats": f"""
        WITH toksed AS (
            -- bind the split ONCE; inlining it into the lambda re-splits
            -- the text per element (measured 50x slower). COALESCE: the
            -- Spark side's size-guard scores NULL text as zero metrics
            -- (same as too-short text); [] reproduces that here
            SELECT doc_id, COALESCE({_TOKS}, []) AS t FROM documents
        ),
        bg AS (
            SELECT doc_id,
                   list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS b
            FROM toksed
        )
        SELECT doc_id, CAST(len(b) AS INTEGER) AS n_bigrams,
               round(CASE WHEN len(b) = 0 THEN 0
                     ELSE 1 - len(list_distinct(b)) / CAST(len(b) AS DOUBLE)
                     END, 4) AS dup_bigram_frac,
               round(CASE WHEN len(b) = 0 THEN 0
                     ELSE list_max(list_transform(list_distinct(b),
                              x -> len(list_filter(b, y -> y = x))))
                          / CAST(len(b) AS DOUBLE)
                     END, 4) AS top_bigram_frac
        FROM bg
    """,
    "q_pii_scrub": r"""
        WITH synth AS (
            SELECT doc_id,
                   text || ' contact user' || doc_id || '@example.com call +1-555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' AS t
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(t,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}|\+\d-\d{3}-\d{4}'))
                 AS INTEGER) AS n_pii,
               regexp_replace(
                   regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                                  '<EMAIL>', 'g'),
                   '\+\d-\d{3}-\d{4}', '<PHONE>', 'g') AS scrubbed
        FROM synth
    """,
    "q_word_freq_topk": f"""
        SELECT word, count(*) AS n
        FROM documents, unnest({_TOKS}) AS u(word)
        GROUP BY word
        ORDER BY n DESC, word ASC
        LIMIT 30
    """,
    "q_bpe_merge_pairs": f"""
        WITH words AS (SELECT unnest({_TOKS}) AS w FROM documents),
        pairs AS (
            SELECT substring(w, CAST(i AS INTEGER), 2) AS pair
            FROM words, generate_series(1, 8191) AS g(i)
            WHERE length(w) >= 2 AND i <= length(w) - 1
        )
        SELECT pair, count(*) AS n
        FROM pairs GROUP BY 1
        ORDER BY n DESC, pair ASC
        LIMIT 50
    """,
    "q_bpe_step_argmax": f"""
        WITH words AS (
            SELECT w, count(*) AS n FROM (
                SELECT unnest({_TOKS}) AS w FROM documents
            ) WHERE w NOT LIKE '%' || chr(31) || '%'
            GROUP BY w
        ),
        sym AS (
            SELECT list_filter(
                       string_split(
                           {_sep_fold_sql("(" + _SEP_SYMS_SQL + ")",
                                          BPE_PINNED_MERGES[:-1])},
                           chr(31)),
                       x -> x != '') AS l,
                   n
            FROM words
        ),
        pairs AS (
            SELECT l[CAST(i AS INTEGER)] AS lhs,
                   l[CAST(i AS INTEGER) + 1] AS rhs, n
            FROM sym, generate_series(1, 8191) AS g(i)
            WHERE i <= len(l) - 1
        )
        SELECT lhs, rhs, CAST(sum(n) AS BIGINT) AS pair_count
        FROM pairs GROUP BY 1, 2
        ORDER BY pair_count DESC, lhs ASC, rhs ASC
        LIMIT {BPE_PAIR_TOPK}
    """,
    "q_bpe_encode_pinned": f"""
        WITH words AS (
            SELECT w, count(*) AS n FROM (
                SELECT unnest({_TOKS}) AS w FROM documents
            ) WHERE w NOT LIKE '%' || chr(31) || '%'
            GROUP BY w
        ),
        sym AS (
            SELECT unnest(list_filter(
                       string_split(
                           {_sep_fold_sql("(" + _SEP_SYMS_SQL + ")",
                                          BPE_PINNED_MERGES)},
                           chr(31)),
                       x -> x != '')) AS sym,
                   n
            FROM words
        )
        SELECT sym, CAST(sum(n) AS BIGINT) AS sym_count
        FROM sym GROUP BY 1
        ORDER BY sym_count DESC, sym ASC
        LIMIT {BPE_VOCAB_TOPK}
    """,
    "q_bpe_pack_ids": f"""
        WITH doc0 AS (
            SELECT doc_id, replace(text, chr(31), ' ') AS text
            FROM documents
        ),
        toks AS (
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN []
                        ELSE string_split_regex(trim(text), '\\s+') END AS t
            FROM doc0
        ),
        doctok AS (
            SELECT doc_id, g.i AS pos, t[CAST(g.i AS INTEGER)] AS w
            FROM toks, generate_series(1, 8192) AS g(i)
            WHERE g.i <= len(t)
        ),
        words AS (SELECT w, count(*) AS n FROM doctok GROUP BY w),
        wsyms AS (
            SELECT w, n,
                   list_filter(
                       string_split(
                           {_sep_fold_sql("(" + _SEP_SYMS_SQL + ")",
                                          BPE_PINNED_MERGES)},
                           chr(31)),
                       x -> x != '') AS l
            FROM words
        ),
        symcnt AS (
            SELECT sym, CAST(sum(n) AS BIGINT) AS cnt
            FROM (SELECT unnest(l) AS sym, n FROM wsyms) GROUP BY sym
        ),
        vocab AS (
            SELECT sym,
                   CAST(row_number() OVER (ORDER BY cnt DESC, sym) - 1
                        AS BIGINT) AS id
            FROM symcnt
        ),
        wids AS (
            SELECT x.w, x.si, v.id FROM (
                SELECT ws.w, g.i AS si,
                       ws.l[CAST(g.i AS INTEGER)] AS sym
                FROM wsyms ws, generate_series(1, 8192) AS g(i)
                WHERE g.i <= len(ws.l)
            ) x JOIN vocab v ON v.sym = x.sym
        ),
        stream AS (
            SELECT wi.id,
                   row_number() OVER (ORDER BY d.doc_id, d.pos, wi.si) - 1
                       AS gpos
            FROM doctok d JOIN wids wi ON wi.w = d.w
        )
        SELECT CAST(gpos // {BPE_PACK_SEQ_LEN} AS BIGINT) AS seq_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(id) AS BIGINT) AS ids_sum,
               CAST(arg_min(id, gpos) AS BIGINT) AS first_id,
               CAST(arg_max(id, gpos) AS BIGINT) AS last_id
        FROM stream GROUP BY 1
    """,
    "q_bm25_topk": f"""
        WITH {_BM25_CTES}
        SELECT doc_id, bm25,
               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER)
                   AS rank
        FROM bscores
        ORDER BY bm25 DESC, doc_id
        LIMIT {BM25_TOPK}
    """,
    "q_bm25_multi_topk": f"""
        WITH dl AS (
            SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS dl FROM documents
        ),
        consts AS (
            SELECT count(*) AS n_docs,
                   CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
            FROM dl
        ),
        words AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
        tfq AS (
            SELECT doc_id, term, count(*) AS tf FROM words
            WHERE term IN ({_BM25_MULTI_IN}) GROUP BY 1, 2
        ),
        dfreq AS (SELECT term, count(*) AS df FROM tfq GROUP BY 1),
        contrib AS (
            SELECT t.doc_id, t.term,
                   ln((c.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
                   * (t.tf * 2.2)
                   / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl)) AS contrib
            FROM tfq t JOIN dfreq f USING (term) JOIN dl d USING (doc_id)
            CROSS JOIN consts c
        ),
        qt(query_id, term) AS (VALUES {_BM25_QT_VALUES}),
        folded AS (
            SELECT q.query_id, c.doc_id,
                   round(list_sum(list(c.contrib ORDER BY c.term)), 9) AS bm25
            FROM contrib c JOIN qt q USING (term)
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT query_id, doc_id, bm25,
                   CAST(row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rank
            FROM folded
        )
        SELECT query_id, doc_id, bm25, rank
        FROM ranked WHERE rank <= {BM25_MULTI_TOPK}
    """,
    "q_hybrid_rrf": f"""
        WITH {_BM25_CTES},
        sparse AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                        AS INTEGER) AS rank_sparse
            FROM (SELECT * FROM bscores ORDER BY bm25 DESC, doc_id
                  LIMIT {RRF_TOPN})
        ),
        q AS (
            SELECT embedding AS qv,
                   sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
                        i -> CAST(embedding[i] AS DOUBLE)
                             * CAST(embedding[i] AS DOUBLE)))) AS qnrm
            FROM embeddings WHERE vec_id = 0
        ),
        dsc AS (
            SELECT e.vec_id AS doc_id,
                   round(list_sum(list_transform(range(1, len(q.qv) + 1),
                             i -> CAST(q.qv[i] AS DOUBLE)
                                  * CAST(e.embedding[i] AS DOUBLE)))
                         / (q.qnrm
                            * sqrt(list_sum(list_transform(
                                  range(1, len(e.embedding) + 1),
                                  i -> CAST(e.embedding[i] AS DOUBLE)
                                       * CAST(e.embedding[i] AS DOUBLE))))),
                         9) AS sim
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id > 0
        ),
        dense AS (
            SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY sim DESC, doc_id)
                        AS INTEGER) AS rank_dense
            FROM (SELECT * FROM dsc ORDER BY sim DESC, doc_id
                  LIMIT {RRF_TOPN})
        ),
        fused AS (
            SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
                   round(coalesce(1.0 / (60 + s.rank_sparse), 0.0)
                         + coalesce(1.0 / (60 + d.rank_dense), 0.0), 9) AS rrf,
                   s.rank_sparse, d.rank_dense
            FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
        )
        SELECT doc_id, rrf, rank_sparse, rank_dense
        FROM fused ORDER BY rrf DESC, doc_id
        LIMIT {RRF_TOPK}
    """,
    "q_corpus_diff": """
        WITH v2 AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
                        ELSE text END AS text
            FROM documents WHERE doc_id % 13 <> 0
            UNION ALL
            SELECT doc_id + 10000000 AS doc_id, text
            FROM documents WHERE doc_id % 17 = 0
        ),
        o AS (
            SELECT doc_id AS id, md5(text) AS fp_old,
                   CAST(length(text) AS BIGINT) AS chars_old
            FROM documents
        ),
        n AS (
            SELECT doc_id AS id, md5(text) AS fp_new,
                   CAST(length(text) AS BIGINT) AS chars_new
            FROM v2
        ),
        j AS (
            SELECT coalesce(o.id, n.id) AS id,
                   fp_old, fp_new, chars_old, chars_new
            FROM o FULL OUTER JOIN n ON o.id = n.id
        )
        SELECT id AS doc_id,
               CASE WHEN fp_old IS NULL THEN 'added'
                    WHEN fp_new IS NULL THEN 'removed'
                    ELSE 'changed' END AS status,
               chars_old, chars_new
        FROM j
        WHERE fp_old IS NULL OR fp_new IS NULL OR fp_old <> fp_new
    """,
    "q_pack_sequences": f"""
        WITH toked AS (
            SELECT doc_id, lang, CAST(len({_TOKS}) AS INTEGER) AS n_tokens
            FROM documents
        )
        SELECT doc_id, lang, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS token_offset,
               CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT)
                 AS seq_id
        FROM toked
    """,
    "q_tfidf_top_terms": f"""
        WITH words AS (
            SELECT doc_id, unnest({_TOKS}) AS word FROM documents
        ),
        tf AS (
            SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word
        ),
        idf AS (
            SELECT word, count(*) AS df FROM tf GROUP BY word
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT doc_id, word, tf,
                   round(tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / df), 6)
                     AS tfidf
            FROM tf JOIN idf USING (word)
        )
        SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, tfidf,
               CAST(rn AS INTEGER) AS rn
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY tfidf DESC, word ASC) AS rn
              FROM scored)
        WHERE rn <= 3
    """,
    "q_contamination_check": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS} AS t FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
            FROM toks, generate_series(1, 8192) AS g(i)
            WHERE len(t) >= 3 AND i <= len(t) - 2
        ),
        bench AS (
            SELECT DISTINCT s FROM sh WHERE doc_id % {CONTAM_MOD} = 0
        )
        SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shared_shingles
        FROM sh JOIN bench USING (s)
        WHERE sh.doc_id % {CONTAM_MOD} <> 0
        GROUP BY sh.doc_id
    """,
    "q_vocab_oov_rate": f"""
        WITH words AS (
            SELECT doc_id, unnest({_TOKS}) AS word FROM documents
        ),
        vocab AS (
            SELECT word FROM (
                SELECT word, count(*) AS n FROM words GROUP BY word
                ORDER BY n DESC, word ASC LIMIT {VOCAB_K}
            )
        ),
        per_doc AS (
            SELECT w.doc_id, count(*) AS n_tokens,
                   sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS n_oov
            FROM words w LEFT JOIN vocab v USING (word)
            GROUP BY w.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(coalesce(p.n_oov, 0) AS BIGINT) AS n_oov,
               round(coalesce(p.n_oov, 0) / greatest(coalesce(p.n_tokens, 0), 1), 4)
                 AS oov_rate
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    "q_ngram_jaccard_dedup": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS} AS t FROM documents WHERE doc_id < {JACCARD_MAX_DOC}
        ),
        sh AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
            FROM toks, generate_series(1, 8192) AS g(i)
            WHERE len(t) >= 3 AND i <= len(t) - 2
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 9) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 9) >= {JACCARD_THRESHOLD}
    """,
    "q_split_leakage": f"""
        WITH toks AS (
            SELECT doc_id,
                   md5('split' || CAST(doc_id AS VARCHAR))
                       < '19999999000000000000000000000000' AS is_test,
                   {_TOKS} AS t
            FROM documents WHERE doc_id < {LEAKAGE_MAX_DOC}
        ),
        sh AS (
            SELECT DISTINCT doc_id, is_test, array_to_string(t[i:i+2], ' ') AS s
            FROM toks, generate_series(1, 8192) AS g(i)
            WHERE len(t) >= 3 AND i <= len(t) - 2
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS train_id, b.doc_id AS test_id, count(*) AS i
            FROM sh a JOIN sh b ON a.s = b.s AND NOT a.is_test AND b.is_test
            GROUP BY 1, 2
        ),
        scored AS (
            SELECT train_id, test_id,
                   round(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 9) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = train_id
            JOIN sizes sb ON sb.doc_id = test_id
            WHERE round(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 9)
                  >= {LEAKAGE_THRESHOLD}
        )
        SELECT train_id, test_id, jaccard
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY train_id ORDER BY jaccard DESC, test_id
            ) AS rn
            FROM scored
        )
        WHERE rn = 1
    """,
    "q_edit_severity": f"""
        WITH v2 AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 19 = 0 THEN
                            'completely different replacement body about '
                            || 'unrelated topics entirely '
                            || CAST(doc_id AS VARCHAR)
                        WHEN doc_id % 11 = 0 THEN
                            concat(substr(text, 1,
                                CAST(floor(length(text)*0.8) AS INT)),
                                ' plus a replacement tail section written '
                                || 'fresh for this revision')
                        WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
                        ELSE text END AS text
            FROM documents
        ),
        t_old AS (SELECT doc_id, md5(text) AS fp, {_TOKS} AS t FROM documents),
        t_new AS (SELECT doc_id, md5(text) AS fp, {_TOKS} AS t FROM v2),
        changed AS (
            SELECT o.doc_id FROM t_old o JOIN t_new n USING (doc_id)
            WHERE o.fp != n.fp
        ),
        sh_old AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
            FROM t_old, generate_series(1, 8192) AS g(i)
            WHERE len(t) >= 3 AND i <= len(t) - 2
        ),
        sh_new AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
            FROM t_new, generate_series(1, 8192) AS g(i)
            WHERE len(t) >= 3 AND i <= len(t) - 2
        ),
        so AS (SELECT doc_id, count(*) AS n FROM sh_old GROUP BY 1),
        sn AS (SELECT doc_id, count(*) AS n FROM sh_new GROUP BY 1),
        iv AS (
            SELECT o.doc_id, count(*) AS i
            FROM sh_old o JOIN sh_new n ON o.doc_id = n.doc_id AND o.s = n.s
            GROUP BY 1
        ),
        scored AS (
            SELECT c.doc_id,
                   coalesce(so.n, 0) + coalesce(sn.n, 0) - coalesce(iv.i, 0)
                       AS u,
                   coalesce(iv.i, 0) AS i
            FROM changed c
            LEFT JOIN so ON so.doc_id = c.doc_id
            LEFT JOIN sn ON sn.doc_id = c.doc_id
            LEFT JOIN iv ON iv.doc_id = c.doc_id
        ),
        graded AS (
            SELECT doc_id,
                   CASE WHEN u = 0 THEN 1.0
                        ELSE round(i / CAST(u AS DOUBLE), 9) END AS jaccard
            FROM scored
        )
        SELECT doc_id, jaccard,
               CASE WHEN jaccard >= 0.9 THEN 'trivial'
                    WHEN jaccard >= 0.5 THEN 'moderate'
                    ELSE 'rewrite' END AS severity
        FROM graded
    """,
    "q_passage_scrub": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS} AS t
            FROM documents WHERE text IS NOT NULL
        ),
        wins AS (
            SELECT doc_id, g.i AS s,
                   array_to_string(
                       t[CAST(g.i AS INTEGER):
                         CAST(g.i AS INTEGER) + {PASSAGE_SCRUB_WINDOW - 1}],
                       ' ') AS win
            FROM toks, generate_series(1, 8192) AS g(i)
            WHERE g.i <= len(t) - {PASSAGE_SCRUB_WINDOW} + 1
        ),
        freq AS (
            SELECT win FROM wins GROUP BY win
            HAVING count(*) >= {PASSAGE_SCRUB_MIN}
        ),
        bad AS (
            SELECT DISTINCT w.doc_id, w.s + g.o AS p
            FROM wins w JOIN freq USING (win),
                 generate_series(0, {PASSAGE_SCRUB_WINDOW - 1}) AS g(o)
        ),
        badn AS (SELECT doc_id, count(*) AS n_bad FROM bad GROUP BY doc_id),
        posl AS (
            SELECT t.doc_id, g.j AS j, t.t[CAST(g.j AS INTEGER)] AS tok
            FROM toks t, generate_series(1, 8192) AS g(j)
            WHERE g.j <= len(t.t)
        ),
        keptagg AS (
            SELECT p.doc_id, string_agg(p.tok, ' ' ORDER BY p.j) AS clean_text
            FROM posl p LEFT JOIN bad b ON b.doc_id = p.doc_id AND b.p = p.j
            WHERE b.p IS NULL
            GROUP BY p.doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.t) AS INTEGER) AS n_tokens,
               CAST(coalesce(bn.n_bad, 0) AS INTEGER) AS n_removed,
               coalesce(k.clean_text, '') AS clean_text
        FROM toks t
        LEFT JOIN badn bn ON bn.doc_id = t.doc_id
        LEFT JOIN keptagg k ON k.doc_id = t.doc_id
    """,
    "q_line_dedup_scrub": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        lines AS (
            SELECT doc_id, i AS pos,
                   array_to_string(
                       t[i*{LINE_TOKENS}+1 : i*{LINE_TOKENS}+{LINE_TOKENS}],
                       ' ') AS line
            FROM toks, generate_series(0, 1023) AS g(i)
            WHERE len(t) > 0 AND i <= (len(t) - 1) // {LINE_TOKENS}
        ),
        freq AS (
            SELECT lower(line) AS key FROM lines
            GROUP BY 1 HAVING count(*) >= {LINE_SCRUB_MIN}
        ),
        flagged AS (
            SELECT l.doc_id, l.pos, l.line,
                   CASE WHEN f.key IS NULL THEN 0 ELSE 1 END AS rm
            FROM lines l LEFT JOIN freq f ON lower(l.line) = f.key
        )
        SELECT doc_id,
               CAST(count(*) AS INTEGER) AS n_lines,
               CAST(sum(rm) AS INTEGER) AS n_removed,
               coalesce(
                   string_agg(CASE WHEN rm = 0 THEN line END, ' ' ORDER BY pos),
                   '') AS clean_text
        FROM flagged GROUP BY doc_id
    """,
    "q_unigram_logprob": f"""
        WITH words AS (
            SELECT doc_id, unnest({_TOKS}) AS word FROM documents
        ),
        tf AS (
            SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2
        ),
        wc AS (SELECT word, sum(tf) AS c FROM tf GROUP BY 1),
        vocab AS (
            SELECT word, c FROM wc ORDER BY c DESC, word LIMIT {LM_VOCAB_K}
        ),
        consts AS (
            SELECT (SELECT sum(c) FROM wc) AS t,
                   (SELECT sum(c) FROM vocab) AS vt,
                   (SELECT count(*) FROM vocab) AS k
        ),
        scored AS (
            SELECT tf.doc_id, tf.tf,
                   ln(CAST(coalesce(v.c, cs.t - cs.vt) + 1 AS DOUBLE)
                      / (cs.t + cs.k + 1)) AS lp
            FROM tf LEFT JOIN vocab v USING (word) CROSS JOIN consts cs
        ),
        per_doc AS (
            SELECT doc_id,
                   CAST(sum(tf) AS BIGINT) AS n_tokens,
                   round(sum(tf * lp), 2) / CAST(sum(tf) AS DOUBLE)
                       AS avg_logprob
            FROM scored GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(p.n_tokens, 0) AS n_tokens,
               coalesce(p.avg_logprob, 0.0) AS avg_logprob
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    "q_mixture_allocation": f"""
        WITH src AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY 1
        ),
        tot AS (
            SELECT sum(sqrt(CAST(n_tokens AS DOUBLE))) AS z FROM src
        )
        SELECT source, n_docs, n_tokens,
               round(sqrt(CAST(n_tokens AS DOUBLE)) / z, 6) AS mix_weight,
               round(least(1.0,
                     {MIX_TOKEN_BUDGET} * (sqrt(CAST(n_tokens AS DOUBLE)) / z)
                     / n_tokens), 6) AS sampling_rate
        FROM src CROSS JOIN tot
    """,
    "q_token_entropy": f"""
        WITH words AS (
            SELECT doc_id, unnest({_TOKS}) AS word FROM documents
        ),
        tf AS (
            SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2
        ),
        per_doc AS (
            SELECT doc_id,
                   CAST(sum(tf) AS BIGINT) AS n_tokens,
                   round(sum(tf * ln(CAST(tf AS DOUBLE))), 2) AS tlt
            FROM tf GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(p.n_tokens, 0) AS n_tokens,
               round(CASE WHEN coalesce(p.n_tokens, 0) > 0
                          THEN ln(CAST(p.n_tokens AS DOUBLE))
                               - p.tlt / p.n_tokens
                          ELSE 0.0 END, 6) AS entropy
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
    "q_stratified_split": f"""
        WITH ranked AS (
            SELECT lang, n_chars,
                   CAST(ntile(4) OVER (
                       PARTITION BY lang
                       ORDER BY len({_TOKS}) DESC, doc_id
                   ) AS INTEGER) AS len_quartile,
                   CASE WHEN md5('split' || CAST(doc_id AS VARCHAR))
                             < '19999999000000000000000000000000'
                        THEN 'val' ELSE 'train' END AS split
            FROM documents
        )
        SELECT lang, len_quartile, split,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM ranked GROUP BY 1, 2, 3
    """,
    "q_group_weighted_sample": f"""
        WITH keyed AS (
            SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
                   round(
                       ln((CAST(concat('0x', substr(md5(concat('aes', CAST(doc_id AS VARCHAR))), 1, 8))
                                AS BIGINT) + 1.0) / 4294967296.0)
                       / CAST(n_chars AS DOUBLE),
                   12) AS sample_key
            FROM documents
            WHERE n_chars > 0
        )
        SELECT doc_id, source, n_chars, sample_key
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY source ORDER BY sample_key DESC, doc_id ASC
            ) AS rn
            FROM keyed
        )
        WHERE rn <= {GROUP_SAMPLE_K}
    """,
    "q_winnow_fingerprints": f"""
        WITH g AS (
            SELECT doc_id,
                   list_transform(
                       generate_series(1, length(text) - {WINNOW_K} + 1),
                       i -> {_winnow_horner_sql()}) AS gh
            FROM documents
            WHERE length(text) >= {WINNOW_K + WINNOW_W - 1}
        ),
        wins AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       generate_series(1, len(gh) - {WINNOW_W} + 1),
                       j -> list_min(gh[CAST(j AS INTEGER):CAST(j + {WINNOW_W - 1} AS INTEGER)])))
                     AS fps
            FROM g
        )
        SELECT doc_id, unnest(fps) AS fp FROM wins
    """,
    "q_corpus_profile": """
        SELECT 'doc_id' AS column, count(*) AS n_rows,
               CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               count(DISTINCT doc_id) AS n_distinct,
               CAST(min(doc_id) AS VARCHAR) AS min_val,
               CAST(max(doc_id) AS VARCHAR) AS max_val
        FROM documents
        UNION ALL
        SELECT 'text', count(*),
               CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT text), min(text), max(text)
        FROM documents
        UNION ALL
        SELECT 'lang', count(*),
               CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT lang), min(lang), max(lang)
        FROM documents
        UNION ALL
        SELECT 'source', count(*),
               CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT source), min(source), max(source)
        FROM documents
        UNION ALL
        SELECT 'n_chars', count(*),
               CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT n_chars),
               CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
        FROM documents
    """,
    # u = (hex(md5)+1)/2^32 is an exact dyadic rational and ln() is
    # libm-consistent on identical doubles, so keys match Spark's
    # bit-for-bit before the shared 12 dp rounding
    "q_weighted_sample": f"""
        WITH keyed AS (
            SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
                   round(
                       ln((CAST(concat('0x', substr(md5(concat('aes', CAST(doc_id AS VARCHAR))), 1, 8))
                                AS BIGINT) + 1.0) / 4294967296.0)
                       / CAST(n_chars AS DOUBLE),
                   12) AS sample_key
            FROM documents
            WHERE n_chars > 0
        )
        SELECT doc_id, source, n_chars, sample_key
        FROM keyed ORDER BY sample_key DESC, doc_id ASC LIMIT {WSAMPLE_K}
    """,
    "q_passage_dedup": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS} AS t FROM documents
        ),
        sh AS (
            SELECT DISTINCT doc_id,
                   array_to_string(t[i:i+{PASSAGE_WINDOW - 1}], ' ') AS s
            FROM toks, generate_series(1, 8192) AS g(i)
            WHERE len(t) >= {PASSAGE_WINDOW}
              AND i <= len(t) - {PASSAGE_WINDOW - 1}
        ),
        dup AS (
            SELECT s FROM sh GROUP BY s HAVING count(*) >= 2
        ),
        per_doc AS (
            SELECT sh.doc_id,
                   count(*) AS n_windows,
                   sum(CASE WHEN dup.s IS NULL THEN 0 ELSE 1 END) AS n_dup
            FROM sh LEFT JOIN dup USING (s)
            GROUP BY sh.doc_id
        )
        SELECT doc_id,
               CAST(n_windows AS BIGINT) AS n_windows,
               CAST(n_dup AS BIGINT) AS n_dup_windows,
               round(n_dup / greatest(n_windows, 1), 6) AS dup_frac
        FROM per_doc
    """,
    "q_quality_percentile_filter": """
        WITH words AS (
            SELECT doc_id,
                   unnest(CASE WHEN trim(text) = '' THEN []
                          ELSE string_split_regex(trim(text), '\\s+') END) AS word
            FROM documents
        ),
        weighted AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(concat('w:', CAST(
                       CAST(concat('0x', substr(md5(concat('feat:', word)), 1, 8))
                            AS BIGINT) % 512 AS VARCHAR))), 1, 8)) AS BIGINT)
                       / 4294967296.0 - 0.5 AS w
            FROM words
        ),
        per_doc AS (
            SELECT doc_id, count(*) AS n_tokens, sum(w) AS sw
            FROM weighted GROUP BY doc_id
        ),
        cls AS (
            SELECT d.doc_id, d.lang,
                   round(CASE WHEN coalesce(p.n_tokens, 0) > 0
                        THEN 1.0 / (1.0 + exp(-(8.0 * p.sw / p.n_tokens)))
                        ELSE 0.5 END, 6) AS score
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        ),
        counts AS (SELECT lang, score, count(*) AS c FROM cls GROUP BY 1, 2),
        above AS (
            SELECT lang, score,
                   sum(c) OVER (PARTITION BY lang ORDER BY score DESC
                                ROWS UNBOUNDED PRECEDING) - c AS abv
            FROM counts
        ),
        lsizes AS (SELECT lang, count(*) AS n FROM cls GROUP BY 1),
        ranked AS (
            SELECT s.doc_id, s.lang, s.score,
                   CAST(a.abv + row_number() OVER (
                        PARTITION BY s.lang, s.score ORDER BY s.doc_id)
                        AS BIGINT) AS qrank,
                   z.n
            FROM cls s
            JOIN above a ON a.lang = s.lang AND a.score = s.score
            JOIN lsizes z ON z.lang = s.lang
        )
        SELECT doc_id, lang, score, qrank
        FROM ranked WHERE qrank <= (3 * n + 9) // 10
    """,
    "q_quality_classifier": """
        WITH words AS (
            SELECT doc_id,
                   unnest(CASE WHEN trim(text) = '' THEN []
                          ELSE string_split_regex(trim(text), '\\s+') END) AS word
            FROM documents
        ),
        weighted AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(concat('w:', CAST(
                       CAST(concat('0x', substr(md5(concat('feat:', word)), 1, 8))
                            AS BIGINT) % 512 AS VARCHAR))), 1, 8)) AS BIGINT)
                       / 4294967296.0 - 0.5 AS w
            FROM words
        ),
        per_doc AS (
            SELECT doc_id, count(*) AS n_tokens, sum(w) AS sw
            FROM weighted GROUP BY doc_id
        ),
        scored AS (
            SELECT d.doc_id,
                   coalesce(p.n_tokens, 0) AS n_tokens,
                   CASE WHEN coalesce(p.n_tokens, 0) > 0
                        THEN 1.0 / (1.0 + exp(-(8.0 * p.sw / p.n_tokens)))
                        ELSE 0.5 END AS score
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
        )
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               round(score, 6) AS score,
               CAST(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END AS INTEGER) AS keep
        FROM scored
    """,
}


# q_dedup_clusters oracle (promoted from rows-only, VERDICT r5 #7):
# the md5-family MinHash banding CTEs are shared with the recall audit
# (registry.audits) so both oracles pin the SAME candidate edge set;
# components are re-derived by recursive reachability + min label —
# assigned post-definition because the fragments live in audits.
from biodata_pipeline_spark.registry.audits import (  # noqa: E402
    _MINHASH_CAND,
    _SHINGLES,
)

ORACLE["q_dedup_clusters"] = f"""
    WITH RECURSIVE {_SHINGLES},
    {_MINHASH_CAND},
    e AS (
        SELECT id_a AS a, id_b AS b FROM cand
        UNION
        SELECT id_b, id_a FROM cand
    ),
    nodes AS (SELECT DISTINCT a FROM e),
    reach(a, b) AS (
        SELECT a, a FROM nodes
        UNION
        SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
    )
    SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a
"""
