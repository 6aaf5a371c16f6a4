"""BPE tokenizer induction on the corpus — the full merge loop.

``q_bpe_merge_pairs`` declares the FIRST merge's statistic; this
operator runs the whole greedy loop (Sennrich et al. 2016): repeatedly
count adjacent symbol pairs over the corpus and merge the most frequent
one, producing the ordered merge list a BPE tokenizer is.

Scale shape — the reason this is corpus-feasible at all: merges are a
function of the WORD FREQUENCY TABLE, not the corpus. One scan
aggregates (word, count) — vocabulary-sized, bounded by language, not
data; every one of the k iterations then runs on that table alone:

  * pair counts: explode each word's adjacent symbol pairs weighted by
    the word count, aggregate — map-side combine bounds the shuffle by
    the live pair vocabulary;
  * argmax: TakeOrdered(1) with a total-order tie-break
    (count desc, pair lexicographic) — deterministic on any engine;
  * apply: a left-to-right fold over each word's symbol array
    (``F.aggregate`` HOF — JVM-side, no UDF), merging non-overlapping
    occurrences greedily exactly like the reference algorithm.

Lineage is truncated with ``localCheckpoint`` every few iterations (an
iterative plan otherwise grows by one fold per merge and analysis cost
compounds). The driver holds only the merge list (k pairs) and the
per-iteration argmax row — never the vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biodata_pipeline_spark.functions import textfn
from biodata_pipeline_spark.sources.local import local_frame

CHECKPOINT_EVERY = 6
END_OF_WORD = "</w>"


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) over the whitespace tokenization — the corpus's only
    full scan in the training loop."""
    return (
        df.select(F.explode(textfn.tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )


def _chars(col) -> F.Column:
    """One CODE POINT per element. Not ``split(col, '(?!$)')``: Java's
    zero-width split matches between the two code UNITS of a surrogate
    pair, shattering astral chars (emoji, rare CJK) into broken halves —
    which would train merges over unpaired surrogates and diverge from
    any code-point tokenizer (the Arrow encode kernel iterates Python
    code points). ``regexp_extract_all('(?s).')`` iterates code points.
    """
    return F.regexp_extract_all(col, F.lit("(?s)."), 0)


def _initial_symbols(words: DataFrame) -> DataFrame:
    """Split each word into single characters + the end-of-word marker
    (the marker lets merges learn suffixes without crossing words)."""
    return words.select(
        F.concat(
            _chars(F.col("w")),
            F.array(F.lit(END_OF_WORD)),
        ).alias("syms"),
        "n",
    )


def _pair_counts(syms: DataFrame) -> DataFrame:
    # guard fully-merged single-symbol words: sequence(1, 0) counts DOWN
    # ([1, 0]), so an unguarded transform indexes past the array under
    # ANSI mode instead of emitting nothing
    pair = F.expr(
        "CASE WHEN size(syms) >= 2 THEN"
        " transform(sequence(1, size(syms) - 1),"
        " i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"
        " ELSE array() END"
    )
    return (
        syms.select(F.explode(pair).alias("p"), "n")
        .groupBy("p")
        .agg(F.sum("n").alias("cnt"))
    )


def _apply_merge(syms: DataFrame, a: str, b: str) -> DataFrame:
    """Left-to-right greedy merge of adjacent (a, b) → a||b inside each
    symbol array — one JVM-side fold, no Python."""
    merged = F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return syms.select(merged.alias("syms"), "n")


# Word-vocabulary row bound under which training runs driver-side.
# 2M (word, count) rows is tens of MB — vocabulary is bounded by
# language, not data (sf0.1 has ~60k distinct words; 100× replication
# adds none), so virtually every real corpus takes the fast path. A
# corpus that genuinely exceeds it (misconfigured tokenization turning
# unique ids into "words") falls back to the distributed loop rather
# than OOMing the driver.
BPE_INMEMORY_MAX_WORDS = 2_000_000


def bpe_train(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
    max_inmemory_words: int = BPE_INMEMORY_MAX_WORDS,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns them in
    application order. Stops early when no pair reaches
    ``min_pair_count`` (merging singletons only memorizes words).

    Count-gated two-path training (VERDICT r7 #1): ONE distributed scan
    builds the word-frequency table; when its row count is at most
    ``max_inmemory_words`` the merge loop runs IN MEMORY on the
    collected ``(word, n)`` pairs (the HF-tokenizers shape — incremental
    pair-count maintenance + a lazy-deletion heap, so a 32k-merge
    vocabulary trains in minutes instead of paying the per-merge Spark
    scheduler floor ~0.2 s × 32,000 ≈ 2 h), else it falls back to the
    distributed per-merge loop (``bpe_train_distributed``). Both paths
    produce IDENTICAL merges — same weighted pair statistic, same
    (count desc, pair asc) argmax tie-break (Python tuple order over
    str == Spark's binary UTF-8 order: both sort by code point), same
    greedy left-to-right application — pinned merge-for-merge in
    tests/test_tokenizer.py."""
    return bpe_train_from_counts(
        word_counts(df, text_col), n_merges, min_pair_count, max_inmemory_words
    )


def bpe_train_from_counts(
    wc: DataFrame,
    n_merges: int,
    min_pair_count: int = 2,
    max_inmemory_words: int = BPE_INMEMORY_MAX_WORDS,
) -> list[tuple[str, str]]:
    """``bpe_train`` over an already-built ``word_counts`` table — for
    callers that also encode with it (``tokenize_and_pack``), so the
    corpus is scanned and tokenized once for both."""
    if n_merges <= 0:
        raise ValueError("n_merges must be positive")
    # gate and collect in ONE scan: a limit of bound+1 rows either
    # proves the vocabulary fits (use the rows) or overflows by one row
    # (fall back) — a separate count() would re-scan the corpus, which
    # at 100× data costs more than the whole merge loop
    rows = wc.limit(max_inmemory_words + 1).collect()
    if len(rows) <= max_inmemory_words:
        return _bpe_train_inmemory(
            [(r["w"], r["n"]) for r in rows], n_merges, min_pair_count
        )
    return _bpe_train_distributed_from(wc, n_merges, min_pair_count)


def bpe_train_distributed(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """The distributed per-merge loop: every iteration is one Spark
    pair-count + argmax job over the symbol table. Scale shape is right
    (vocabulary-sized iterations) but each merge pays the scheduler
    floor — ``bpe_train`` uses it only past the in-memory word bound;
    kept callable directly as the parity reference."""
    if n_merges <= 0:
        raise ValueError("n_merges must be positive")
    return _bpe_train_distributed_from(
        word_counts(df, text_col), n_merges, min_pair_count
    )


def _bpe_train_distributed_from(
    wc: DataFrame, n_merges: int, min_pair_count: int
) -> list[tuple[str, str]]:
    syms = _initial_symbols(wc).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        top = (
            _pair_counts(syms)
            .orderBy(F.desc("cnt"), F.asc("p.a"), F.asc("p.b"))
            .limit(1)
            .collect()
        )  # 1 row: the argmax pair
        if not top or top[0]["cnt"] < min_pair_count:
            break
        a, b = top[0]["p"]["a"], top[0]["p"]["b"]
        merges.append((a, b))
        syms = _apply_merge(syms, a, b)
        if (i + 1) % CHECKPOINT_EVERY == 0:
            syms = syms.localCheckpoint()
    return merges


def _bpe_train_inmemory(
    word_freqs: list[tuple[str, int]],
    n_merges: int,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Driver-side merge loop over the collected word-frequency table —
    the standard tokenizer-training core. Incremental maintenance:
    ``pair_counts`` (weighted by word frequency, every adjacent index —
    overlapping run occurrences counted individually, matching
    ``_pair_counts``), ``pair_words`` (which words contain each pair, so
    a merge touches only affected words), and a lazy-deletion max-heap
    keyed ``(-count, a, b)`` whose pop order IS the distributed argmax's
    ``(cnt desc, a asc, b asc)`` tie-break. Per merge: re-segment each
    affected word with the same greedy left-to-right non-overlapping
    scan as ``_apply_merge``, apply the pair-count deltas, push updated
    heap entries (stale ones are detected by count mismatch and
    discarded on pop)."""
    import collections
    import heapq

    words: list[tuple[list[str], int]] = [
        (list(w) + [END_OF_WORD], n) for w, n in word_freqs
    ]
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for idx, (syms, n) in enumerate(words):
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + n
            pair_words.setdefault(p, set()).add(idx)
    heap = [(-c, a, b) for (a, b), c in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        # lazy-deletion discipline: pushes happen only when a count
        # INCREASES (decreases leave a stale-high entry); a popped
        # stale-high entry re-pushes the pair's current count, so every
        # live pair always has an entry at or above its true count and
        # the first entry that MATCHES its count is the argmax
        best = None
        while heap:
            negc, a, b = heap[0]
            cur = pair_counts.get((a, b), 0)
            if cur == -negc:
                best = (a, b, cur)
                break
            heapq.heappop(heap)
            if 0 < cur < -negc:
                heapq.heappush(heap, (-cur, a, b))
        if best is None or best[2] < min_pair_count:
            break
        a, b, _ = best
        merges.append((a, b))
        ab = a + b
        for idx in pair_words.pop((a, b), set()):
            syms, n = words[idx]
            new_syms: list[str] = []
            append = new_syms.append
            i = 0
            n_syms = len(syms)
            while i < n_syms:
                if i + 1 < n_syms and syms[i] == a and syms[i + 1] == b:
                    append(ab)
                    i += 2
                else:
                    append(syms[i])
                    i += 1
            # per-word old/new pair histograms drive BOTH the weighted
            # count deltas and the membership maintenance in one pass
            # (a Counter-subtract + two tuple-set builds per word
            # measured ~2× slower over a 200k-word vocabulary)
            oldc: dict = {}
            for p in zip(syms, syms[1:]):
                oldc[p] = oldc.get(p, 0) + 1
            newc: dict = {}
            for p in zip(new_syms, new_syms[1:]):
                newc[p] = newc.get(p, 0) + 1
            for p, cn in newc.items():
                co = oldc.pop(p, 0)
                d = cn - co
                if d:
                    c = pair_counts.get(p, 0) + d * n
                    if c:
                        pair_counts[p] = c
                        if d > 0:  # increases push; decreases stay lazy
                            heapq.heappush(heap, (-c, p[0], p[1]))
                    else:
                        pair_counts.pop(p, None)
                if co == 0:  # pair newly present in this word
                    pair_words.setdefault(p, set()).add(idx)
            for p, co in oldc.items():  # pairs no longer in this word
                c = pair_counts.get(p, 0) - co * n
                if c:
                    pair_counts[p] = c  # lazy: stale-high entry remains
                else:
                    pair_counts.pop(p, None)
                s = pair_words.get(p)
                if s is not None:
                    s.discard(idx)
            words[idx] = (new_syms, n)
    return merges


def bpe_encode_words(
    df: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "w",
    out_col: str = "syms",
) -> DataFrame:
    """Scale-real BPE encode (VERDICT r6 #1): apply a learned merge list
    to a word table via an Arrow ``mapInPandas`` kernel — the standard
    merge-rank encode loop, so the merge list can be tokenizer-sized
    (1,000+ merges) where the ``bpe_encode`` fold stack is plan-depth
    bounded to toy lists (each merge adds one Catalyst fold layer).

    Returns ``df`` with ``out_col: array<string>`` appended (NULL word →
    NULL syms). The kernel ships the rank dict in its closure — a merge
    list is tokenizer-vocabulary sized (kBs to low MBs), broadcast once
    per executor by task serialization.

    BIT PARITY with the training fold (``_apply_merge`` /
    ``bpe_encode``), proven in tests/test_tokenizer.py: the fold applies
    merges in TRAINING ORDER, each greedily left-to-right; the kernel
    repeatedly merges the LOWEST-RANK pair present (also greedily
    left-to-right). These are equivalent because a merge's two component
    symbols always exist strictly before its rank — pair k could only be
    counted at training step k over symbols already created — so
    applying a later merge can never create a new occurrence of an
    earlier pair, and "lowest-rank present, repeat" visits merges in
    exactly training order, skipping the absent ones.

    Scale shape: encode cost is VOCABULARY-sized, not corpus-sized —
    callers feed the distinct-word table (``word_counts``) and weight
    results by term frequency, exactly like the training loop. Per-word
    cost is O(len · applied_merges) dict lookups; Arrow batches keep the
    Python boundary amortized, and partitions parallelize across
    executors with no shuffle (pure map).
    """
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    merges = [tuple(m) for m in merges]
    ranks = {m: i for i, m in enumerate(merges)}
    out_schema = StructType(
        df.schema.fields + [StructField(out_col, ArrayType(StringType()))]
    )

    def encode(word):
        if word is None:
            return None
        syms = list(word)
        syms.append(END_OF_WORD)
        while len(syms) >= 2:
            best = None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best is None or r < best):
                    best = r
            if best is None:
                break
            a, b = merges[best]
            ab = a + b
            out = []
            i = 0
            n = len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def kernel(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [encode(w) for w in pdf[word_col]]
            yield pdf

    return df.mapInPandas(kernel, out_schema)


def bpe_encode(col, merges: list[tuple[str, str]]):
    """Column expression applying a learned merge list to one word —
    chars + end marker, then each merge as the same greedy fold used in
    training (so encode(train corpus) reproduces the training symbols).
    Intended for bounded merge lists (each merge adds one fold layer)."""
    def merge_fold(a: str, b: str):
        # factory, not default-arg capture: a 2-param lambda is the
        # aggregate merge signature, and extra defaulted params trip
        # PySpark's HOF arity inspection (the (element, index) trap)
        def fold(acc, x):
            return F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
                ),
            ).otherwise(F.concat(acc, F.array(x)))

        return fold

    syms = F.concat(_chars(col), F.array(F.lit(END_OF_WORD)))
    for a, b in merges:
        syms = F.aggregate(
            syms, F.array().cast("array<string>"), merge_fold(a, b)
        )
    return syms


def vocab_table(df: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """``(sym, id, cnt)`` — the trained tokenizer's vocabulary with
    deterministic contiguous ids: rank by corpus-weighted frequency
    (count desc, sym asc — a total order, so ids are engine-independent).

    The rank is an exclusive prefix sum of 1 over that order, computed
    with the distributed two-phase prefix sum (operators/sharding.py) —
    NOT a global single-partition window, so the id assignment holds at
    any vocabulary size (a 100 TB multilingual corpus can push the
    subword vocabulary into the millions)."""
    return vocab_from_encoded(bpe_encode_words(word_counts(df), merges))


def vocab_from_encoded(enc: DataFrame) -> DataFrame:
    """``vocab_table`` from an already-encoded word table ``(w, n,
    syms)`` — callers that also need the per-word symbols (e.g.
    ``corpus_token_ids``) persist that frame and share it instead of
    running the word-count scan + encode kernel twice."""
    from biodata_pipeline_spark.operators.sharding import ordered_prefix_sum

    counts = (
        enc.select(F.explode("syms").alias("sym"), "n")
        .groupBy("sym")
        .agg(F.sum("n").cast("long").alias("cnt"))
    )
    ranked = ordered_prefix_sum(
        counts.withColumn("__negcnt", -F.col("cnt")).withColumn(
            "__one", F.lit(1)
        ),
        ["__negcnt", "sym"],
        "__one",
        out_col="id",
    )
    return ranked.select("sym", "id", "cnt")


def corpus_token_ids(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Tokenize the corpus to ID arrays — the Megatron-style preprocess
    step a training pipeline runs after tokenizer induction. Returns
    ``(vocab, doc_tokens)`` with ``doc_tokens = (id_col, ids
    array<long>, n_tok)``; a doc's ids follow its token order, each
    token's subwords in merge order.

    Scale shape: the encode is VOCABULARY-sized (the kernel runs on the
    distinct-word table, never the corpus — ``bpe_encode_words``); the
    corpus-sized work is one token explode (narrow map), one join
    against the word→ids table (vocabulary-sized build side — AQE
    broadcasts it when it fits, and it fits for any natural language),
    and one groupBy(doc) reassembly whose per-group state is bounded by
    document length. No token-level shuffle carries strings — only
    (doc, pos, id) longs after the join."""
    return token_ids_from_counts(
        df, word_counts(df, text_col), merges, id_col, text_col
    )


def token_ids_from_counts(
    df: DataFrame,
    wc: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """``corpus_token_ids`` with the corpus's ``word_counts`` table
    ``wc`` already built (and shared with ``bpe_train_from_counts``)."""
    from biodata_pipeline_spark.functions.textfn import tokens
    from biodata_pipeline_spark.operators.caching import register_cached

    # ONE kernel pass, shared by the vocab build and the word→ids table
    # (unpersisted, the Arrow encode and everything upstream of it ran
    # twice — measured 2× the whole front half).
    enc = register_cached(
        bpe_encode_words(wc, merges).select("w", "n", "syms").persist()
    )
    vocab = vocab_from_encoded(enc)
    word_ids = (
        enc.select("w", F.posexplode("syms").alias("si", "sym"))
        .join(vocab.select("sym", "id"), "sym")
        .groupBy("w")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("si", "id"))),
                lambda s: s["id"],
            ).alias("__wids")
        )
    )
    doc_tokens = (
        df.select(
            F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "w")
        )
        .join(word_ids, "w")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "__wids"))),
                    lambda s: s["__wids"],
                )
            ).alias("ids")
        )
        .withColumn("n_tok", F.size("ids").cast("long"))
    )
    return vocab, doc_tokens


def pack_token_ids(
    doc_tokens: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Pack per-doc token-id arrays into fixed-length training
    sequences — documents concatenated in ``id_col`` order, cut every
    ``seq_len`` tokens, docs spanning sequence boundaries split across
    them (the standard LLM pretraining layout; the trailing partial
    sequence is emitted unpadded). Returns ``(seq_id, ids, n_tokens)``.

    Scale shape: ONE doc-level distributed prefix sum gives each doc
    its global token offset (no token-level prefix machinery — a
    token's global position is offset + its index, a pure map), then
    one shuffle groups (seq_id, pos_in_seq, id) longs into sequences;
    per-group state is exactly ``seq_len`` ids."""
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    from biodata_pipeline_spark.operators.sharding import ordered_prefix_sum

    offd = ordered_prefix_sum(
        doc_tokens,
        [id_col],
        "n_tok",
        # NOT "__off": ordered_prefix_sum uses that name internally and
        # drops it on the way out, so an out_col of "__off" vanishes
        out_col="token_offset",
        num_partitions=num_partitions,
    )
    tok = offd.select(
        "token_offset", F.posexplode("ids").alias("__i", "id")
    ).select((F.col("token_offset") + F.col("__i")).alias("__gpos"), "id")
    return (
        tok.select(
            F.floor(F.col("__gpos") / seq_len).cast("long").alias("seq_id"),
            (F.col("__gpos") % seq_len).alias("__p"),
            "id",
        )
        .groupBy("seq_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__p", "id"))),
                lambda s: s["id"],
            ).alias("ids"),
        )
        .withColumn("n_tokens", F.size("ids").cast("long"))
    )


def save_tokenizer(
    spark,
    merges: list[tuple[str, str]],
    path: str,
    vocab: DataFrame | None = None,
) -> None:
    """Persist a trained tokenizer: the ordered merge list as parquet
    (rank, left, right) under ``path/merges`` and, when given, the
    vocab table under ``path/vocab`` — so training runs once and every
    encode consumer (batch, streaming, another session) loads the same
    artifact. Overwrite semantics: a tokenizer is one immutable
    artifact, not an append log."""
    local_frame(
        spark,
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/merges")
    if vocab is not None:
        vocab.write.mode("overwrite").parquet(f"{path}/vocab")


def load_merges(spark, path: str) -> list[tuple[str, str]]:
    """The merge list back in application order — the driver-side shape
    ``bpe_encode_words`` / ``bpe_encode`` consume. Merge lists are
    tokenizer-vocabulary sized (kBs to low MBs), so the collect is a
    driver-safe constant, not a corpus read."""
    rows = (
        spark.read.parquet(f"{path}/merges")
        .orderBy("rank")
        .collect()
    )
    return [(r.left, r.right) for r in rows]
