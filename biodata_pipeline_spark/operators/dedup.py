"""Deduplication operators for LLM training corpora.

The reference dedups *work units* by file existence
(generate_narratives_from_data.py:63-65); a training-data engine needs
content dedup too. Every strategy is shuffle-conscious:

 - exact: hash group-by on normalized text (one shuffle on the hash).
 - n-gram Jaccard: exact set similarity over token shingles via
   explode + equi-join on shingle — deterministic, oracle-checkable.
 - MinHash + LSH banding: signature → band buckets → equi-join; near-dup
   pairs verified with the true Jaccard. The only shuffles are on band
   buckets and the candidate verification.
 - SimHash: 64-bit sign-of-weighted-sum fingerprint; near-dups = small
   Hamming distance within band buckets.
 - embedding cosine: delegates to the similarity-join operators.
 - train/test leakage: the n-gram Jaccard across a hash split, exact or
   MinHash-banded.
 - passage scrub/audit: corpus-frequency counts over token windows.

Two combinators carry the decisions these share: ``per_content`` (the
duplication gate, the exact-copy collapse, copy-count weights and the
representative→member copy) and ``_shingle_jaccard`` (the exact
shingle-set Jaccard of the dedup and leakage family).

Everything is built on xxhash64 (JVM-side, codegen'd) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biodata_pipeline_spark.functions.textfn import tokens
from biodata_pipeline_spark.operators import vector_kernels as vk
from biodata_pipeline_spark.operators.caching import register_cached
from biodata_pipeline_spark.sources.local import local_frame
from biodata_pipeline_spark.sources.store import (
    compact_dedup_index,
    component_frames,
    minus_tombstones,
    remove_from_dedup_index,
    write_batch,
)


def normalized(col) -> F.Column:
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def _collapse_groups(
    df: DataFrame, id_col: str, key: F.Column
) -> tuple[DataFrame, DataFrame]:
    """``(reps, edges)`` of the rows whose ``key`` expression is
    identical: ``reps = (id_col, __w)`` holds each group's representative
    (min id) with the group's size, ``edges = (id_a=rep, id_b=member)``
    every other member.

    Shuffle discipline — the part that matters at corpus scale: the
    representative window (min id and group size, one window) runs over
    a NARROW ``(id, key)`` projection (two longs per row), never over
    the full rows, so document text / embedding payloads do not shuffle
    on the content hash. The narrow table is persisted: it feeds both
    the edge branch and the representatives (unpersisted, the scan +
    window re-ran per consumer — measured 3× the window cost on a
    100×-duplicated corpus)."""
    from pyspark.sql import Window

    group = Window.partitionBy("__k")
    narrow = register_cached(
        df.select(F.col(id_col), key.alias("__k"))
        .withColumn("__rep", F.min(id_col).over(group))
        .withColumn("__w", F.count(F.lit(1)).over(group))
        .persist()
    )
    reps = narrow.filter(F.col(id_col) == F.col("__rep")).select(id_col, "__w")
    edges = narrow.filter(F.col(id_col) != F.col("__rep")).select(
        F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b")
    )
    return reps, edges


def collapse_identical(
    df: DataFrame, id_col: str, key: F.Column
) -> tuple[DataFrame, DataFrame]:
    """Collapse rows whose ``key`` expression is identical to one
    representative (min id) each: returns ``(distinct_rows, edges)``
    with ``edges = (id_a=rep, id_b=member)`` for every other member
    (``_collapse_groups``).

    The survivors come back as a semi-join on ``id_col``, which AQE
    turns into a broadcast when the distinct side is small and an
    id-partitioned shuffle — the payload's only shuffle — when it isn't.
    A semi-join's size estimate is its left side's, so joins downstream
    of ``distinct_rows`` keep their planned strategies (an inner join's
    estimate is the product of its sides, which turned the MinHash,
    SimHash and LSH pair joins into sort-merge joins).
    """
    reps, edges = _collapse_groups(df, id_col, key)
    return df.join(reps.select(id_col), id_col, "left_semi"), edges


def case_exact_key(text_col: str) -> F.Column:
    """Whitespace-normalized, case-preserving content key: collapses
    variants the ``\\s+`` tokenizer cannot distinguish and nothing else.
    The collapse key for content-pure computations whose token features
    are case-sensitive (passage windows, hashed classifier buckets)."""
    return F.xxhash64(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))


# Collapse pays for itself only when duplicates are real: below this
# distinct/total ratio the corpus is duplicate-heavy enough that running
# ``compute`` once per distinct content beats the collapse machinery's
# fixed cost (the narrow window + semi-join + edge join, ~0.5 s at
# sf0.1). Above it the collapse is skipped — both branches produce
# IDENTICAL output (the collapse is an identity on duplicate-free input,
# unit-pinned), so the gate is a pure physical-plan decision, the same
# kind of size-driven switch AQE makes for join strategies.
DUP_GATE_RATIO = 0.95


def gate_key(text_col: str) -> F.Column:
    """Cheap duplication-GATE key (not a collapse key): xxhash64 of the
    first 64 chars plus the exact length. Byte-identical copies always
    collide, so real replication is always detected; the full-content
    normalized hash cost 4.6 s per gate at the 100× probe vs 1.4 s for
    this (the parquet scan floor). Collisions between genuinely
    different docs only push the estimate toward "duplicated", i.e.
    toward running the collapse — the identical-output branch, never a
    correctness risk. (The one blind spot — duplicates differing only
    in whitespace runs have equal collapse keys but possibly distinct
    gate keys — degrades to the skip branch, which is also identical
    output, just without the collapse win.)"""
    return F.xxhash64(
        F.substring(F.col(text_col), 1, 64), F.length(F.col(text_col))
    )


def duplication_ratio(df: DataFrame, key: F.Column) -> float:
    """Estimated distinct-content fraction: approx_count_distinct(key) /
    count(*). One cheap aggregation job — a single narrow column scan
    with map-side partial HLL sketches; the only shuffle row is one
    sketch per task. ~1.0 means duplicate-free; 0.01 means a 100×
    duplicated corpus. Pass ``gate_key(text_col)`` unless you need the
    exact collapse key's ratio."""
    row = df.agg(
        F.approx_count_distinct(key).alias("__d"),
        F.count("*").alias("__n"),
    ).first()
    return (row["__d"] / row["__n"]) if row["__n"] else 1.0


def _copies(frame: DataFrame) -> F.Column:
    """The copy count of each row ``per_content`` hands its ``compute``:
    ``__w`` on the collapse branch, 1 on the skip branch (the raw frame).
    A corpus count over those rows sums this instead of counting rows."""
    return F.col("__w") if "__w" in frame.columns else F.lit(1)


def per_content(
    df: DataFrame,
    compute,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: F.Column | None = None,
) -> DataFrame:
    """Content memoization: run ``compute`` (a frame → frame function
    whose rows each carry one input row's ``id_col``, any number per
    input row) once per distinct content, then copy each
    representative's rows to its exact duplicates via the collapse
    edges. The one place that decides whether to collapse and that
    copies results to members.

    The 100 TB lever for every content-pure per-document operator
    (quality/LM scoring, fingerprints, token stats, passage counts):
    web corpora run 30-60% exact duplicates, and recomputing a pure
    function per copy is pure waste — this is the CCNet ordering (dedup
    before scoring) as a combinator. Cost: the narrow collapse window +
    one broadcast-ish join that hands ``compute`` the representatives
    with ``__w`` + the edge join; wins whenever ``compute`` is more
    expensive than that, or the duplication factor is real.

    ``compute`` that counts over the corpus (document frequencies, LM
    counts, window frequencies) weights each row by ``_copies(base)``:
    the collapse group size on the collapse branch, so the weighted
    count equals the raw-corpus count. Its output must not carry
    ``__w``.

    ``key`` defaults to ``case_exact_key`` — callers whose features are
    case-insensitive may pass a looser key (e.g. collapse_exact's
    normalized hash) for a higher collapse rate.

    Gated on measured duplication: a duplicate-light corpus (estimated
    distinct ratio ≥ ``DUP_GATE_RATIO``) skips the collapse entirely and
    runs ``compute`` over the raw frame — identical output, none of the
    collapse overhead."""
    key = key if key is not None else case_exact_key(text_col)
    if duplication_ratio(df, gate_key(text_col)) >= DUP_GATE_RATIO:
        return compute(df)
    reps, edges = _collapse_groups(df, id_col, key)
    rep = compute(df.join(reps, id_col))
    others = [c for c in rep.columns if c != id_col]
    member = edges.join(
        rep.withColumnRenamed(id_col, "id_a"), "id_a"
    ).select(F.col("id_b").alias(id_col), *others)
    return rep.unionByName(member)


def collapse_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Collapse exact (normalized-text) duplicates before any quadratic
    near-dup machinery: returns ``(distinct_docs, exact_edges)`` where
    ``distinct_docs`` keeps one representative (min id) per distinct
    content and ``exact_edges`` is ``(id_a=rep, id_b=member)`` for every
    other member.

    This is the scale guard for LSH banding: a corpus where the same text
    appears m times would otherwise put m identical signatures in every
    band bucket → O(m²) candidate pairs *per duplicate cluster* (measured:
    a 10× replicated corpus produced 29M candidates from 50k docs and
    OOM'd). After collapsing, banding sees each distinct content once and
    clusters are recovered from the rep→member edges (union-find style:
    edges, not all-pairs, represent a clique)."""
    return collapse_identical(
        df, id_col, F.xxhash64(normalized(F.col(text_col)))
    )


def prune_mega_buckets(
    bands: DataFrame, max_bucket: int, keys: tuple[str, str] = ("band", "bucket")
) -> DataFrame:
    """Drop degenerate LSH buckets larger than ``max_bucket`` rows (each
    contributes O(n²) candidate pairs; a bucket that large means the band
    carries no discriminating information). Standard LSH hygiene at scale;
    recall impact is confined to the dropped buckets."""
    sizes = bands.groupBy(*keys).agg(F.count("*").alias("__bn"))
    return (
        bands.join(F.broadcast(sizes.filter(F.col("__bn") > max_bucket)), list(keys), "left_anti")
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per distinct normalized text.

    groupBy on the normalized text hash → single shuffle with map-side
    partial aggregation; survivors joined back by id.
    """
    keyed = df.withColumn("__h", F.xxhash64(normalized(F.col(text_col))))
    keepers = keyed.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return keyed.join(keepers, [ "__h", id_col]).drop("__h")


def token_shingles(text_col, n: int = 3) -> F.Column:
    """Distinct n-token shingles (joined with a separator) of a text column.

    The token array is let-bound through a 1-element transform so the
    regex tokenization evaluates once per row; referencing ``tokens()``
    directly inside the index lambda makes CollapseProject inline the
    split per shingle index — O(tokens²) regex work per document
    (measured 8.6× on the sf0.1 corpus explode).
    """

    def body(toks):
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
        # isNull leg (null probe, round 6): for NULL text size(toks) is
        # NULL, the `< n` guard three-values to NULL, and the otherwise
        # branch emits [NULL] — one phantom shingle per null doc, whose
        # concat_ws-skips-nulls lane hash then gave every null doc the
        # SAME minhash signature (15 null docs = one fake dup cluster)
        return F.when(
            toks.isNull() | (F.size(toks) < n), F.array().cast("array<string>")
        ).otherwise(
            F.array_distinct(
                F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
            )
        )

    return F.get(F.transform(F.array(tokens(text_col)), body), 0)


def _exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(token_shingles(F.col(text_col), n)).alias("sh"),
    )


def _shingle_jaccard(
    a_sh: DataFrame,
    b_sh: DataFrame,
    sizes: DataFrame,
    a: str = "id_a",
    b: str = "id_b",
    triangle: bool = True,
) -> DataFrame:
    """``(a, b, jaccard)`` for every pair of ids from the ``(id, sh)``
    sides ``a_sh`` and ``b_sh`` that share a shingle — the exact
    shingle-set Jaccard of the dedup and leakage family, unthresholded.

    |A∩B| comes from an equi-join on the shingle (co-partitioned shuffle,
    no cross product); |A∪B| = |A|+|B|−|A∩B| from the ``(id, sz)``
    ``sizes`` table; the quotient is rounded to 9 dp. ``triangle`` keeps
    the ``a.id < b.id`` half of a self-join (both sides one table);
    without it the sides are a bipartition (train × test) and every
    cross pair counts."""
    pairs = a_sh.alias("a").join(b_sh.alias("b"), "sh")
    if triangle:
        pairs = pairs.filter(F.col("a.id") < F.col("b.id"))
    inter = pairs.groupBy(F.col("a.id").alias(a), F.col("b.id").alias(b)).agg(
        F.count("*").alias("inter")
    )
    union = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        inter.join(sizes.withColumnsRenamed({"id": a, "sz": "sz_a"}), a)
        .join(sizes.withColumnsRenamed({"id": b, "sz": "sz_b"}), b)
        .select(
            a, b, F.round(F.col("inter") / union.cast("double"), 9).alias("jaccard")
        )
    )


def _shingle_sizes(sh: DataFrame) -> DataFrame:
    return sh.groupBy("id").agg(F.count("*").alias("sz"))


def _best_test_match(pairs: DataFrame) -> DataFrame:
    """Per train doc, its best-matching held-out doc: rank 1 by
    (jaccard desc, test_id asc) — the leakage guards' output."""
    from biodata_pipeline_spark.operators.bq import approx_ranked

    return approx_ranked(pairs, "jaccard", 1, "train_id", "test_id").select(
        "train_id", "test_id", "jaccard"
    )


def ngram_jaccard_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over n-token shingle sets
    (``_shingle_jaccard``, the ``id_a < id_b`` triangle). Output: id_a,
    id_b, jaccard for pairs at or above ``threshold``.

    ``shingles``: optionally a precomputed (persisted) ``_exploded_shingles``
    frame, so a caller that needs the shingle table twice (e.g. the
    MinHash recall audit: exact side + signature side) tokenizes once.
    When not supplied, the internally-derived frame is persisted
    (cache_scope-registered): it feeds THREE consumers — the size
    table and both sides of the intersection self-join — and the
    tokenize→shingle→explode chain is the dominant cost of the whole
    operator, so recomputing it per consumer tripled the work.
    """
    sh = (
        shingles
        if shingles is not None
        else register_cached(
            _exploded_shingles(df, id_col, text_col, n).persist()
        )
    )
    return _shingle_jaccard(sh, sh, _shingle_sizes(sh)).filter(
        F.col("jaccard") >= threshold
    )


def cross_split_leakage(
    df: DataFrame,
    threshold: float,
    test_fraction: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    salt: str = "split",
) -> DataFrame:
    """Dedup-aware train/test leakage guard: training documents that are
    near-duplicates of any held-out document.

    A hash split keeps exact duplicates apart only by luck — a train doc
    that shares most of its shingles with a held-out doc inflates eval
    scores without tripping exact dedup. This operator finds those docs:
    split by the deterministic md5 predicate (``sample_predicate`` —
    same decision as q_stratified_split, so the guard audits the split
    the pipeline actually uses), then compute exact n-token-shingle
    Jaccard between every train/held-out pair sharing a shingle, and
    report, per leaked train doc, its best-matching held-out doc —
    ``(train_id, test_id, jaccard)``, tie-broken (jaccard desc, test_id
    asc). Dropping the returned train_ids from the training set is the
    decontamination step.

    Plan shape: the split is a pure map predicate (no shuffle); the
    bipartite intersection is the same shingle equi-join as
    ``ngram_jaccard_dup_pairs`` but with the split flags replacing the
    ``id_a < id_b`` triangle filter, so candidates are co-partitioned on
    the shingle and nothing is all-pairs. The held-out side is
    ``test_fraction`` of the corpus, so the join's build side shrinks
    with the split, not the corpus. At 100 TB the exact verify keeps the
    same duplication gate story as the Jaccard deduper; the candidate
    stage swaps to MinHash banding (``minhash_lsh_dup_pairs`` geometry)
    with this operator as its bounded-slice audit — the established
    audit-twin pattern.

    Reference anchor: the reference evaluates retrieval by substring
    containment against held-out expected answers
    (rag_evaluation/RAG-eval-test_model.py:233-248) with no guard that
    eval text is absent from the index — this operator is that guard.
    """
    from biodata_pipeline_spark.operators.sampling import sample_predicate

    flagged = df.withColumn(
        "__is_test", sample_predicate(id_col, test_fraction, salt)
    )
    sh = register_cached(
        flagged.select(
            F.col(id_col).alias("id"),
            F.col("__is_test"),
            F.explode(token_shingles(F.col(text_col), n)).alias("sh"),
        ).persist()
    )
    scored = _shingle_jaccard(
        sh.filter(~F.col("__is_test")),
        sh.filter(F.col("__is_test")),
        _shingle_sizes(sh),
        "train_id",
        "test_id",
        triangle=False,
    )
    return _best_test_match(scored.filter(F.col("jaccard") >= threshold))


def _jaccard_verified(
    pairs: DataFrame,
    a: str,
    b: str,
    hs_a: DataFrame,
    hs_b: DataFrame,
    threshold: float,
) -> DataFrame:
    """``(a, b, jaccard)`` for the candidate ``pairs`` whose exact
    Jaccard over shingle-hash sets is at least ``threshold``: each side's
    ``hs`` joins in from its ``(id, hs)`` table, and the score is
    ``|∩| / max(|∪|, 1)`` rounded to 9 dp — the verify step every
    MinHash consumer shares."""
    sa, sb = F.col("__sa"), F.col("__sb")
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(F.array_union(sa, sb))
    return (
        pairs.join(hs_a.select(F.col("id").alias(a), F.col("hs").alias("__sa")), a)
        .join(hs_b.select(F.col("id").alias(b), F.col("hs").alias("__sb")), b)
        .withColumn(
            "jaccard",
            F.round(inter / F.greatest(union, F.lit(1)).cast("double"), 9),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(a, b, "jaccard")
    )


def cross_split_leakage_lsh(
    df: DataFrame,
    threshold: float,
    test_fraction: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    n_bands: int = 8,
    max_bucket: int = 100_000,
    salt: str = "split",
) -> DataFrame:
    """Production-scale train/test leakage guard (VERDICT r6 #4): the
    MinHash-banded candidate stage ``cross_split_leakage``'s docstring
    promises, with exact shingle-Jaccard verification on candidates
    only. Same output contract as the exact operator — per leaked train
    doc, its best-matching held-out doc as ``(train_id, test_id,
    jaccard)``, tie-broken (jaccard desc, test_id asc) — so the exact
    operator doubles as this one's bounded-slice audit twin (the
    established pattern; see ``q_leakage_recall_audit`` for the
    hash-checked md5-family recall measurement).

    Stages, each with its scale rationale:

    1. split flag: the same deterministic md5 predicate the pipeline's
       holdout uses (``sample_predicate``) — a pure map, no shuffle.
    2. exact-duplicate handling WITHOUT the quadratic trap: group docs
       by normalized-content hash; any content present on both sides is
       a jaccard-1.0 leak (every train member pairs with the min test
       member) emitted directly — and only ONE representative per
       (content, side) enters the banding, so an m×-duplicated corpus
       contributes m signatures to a bucket exactly once per side
       instead of m times (the ``collapse_exact`` guard, adapted to the
       bipartite setting where a content key can span both sides).
    3. banding: 32-lane signature over the shingle-hash table, 8 bands
       × 4 rows (knee near s≈0.6) — candidates are TRAIN-side bands
       equi-joined to TEST-side bands on (band, bucket), so the build
       side shrinks with ``test_fraction``, never the corpus, and no
       triangle filter is needed (the split IS the bipartition).
       Mega-buckets are pruned (standard LSH hygiene).
    4. exact verify on candidates only (array_intersect/union over the
       persisted shingle-hash sets), threshold filter, then rep→member
       expansion back to every train doc sharing the rep's content.

    Rows-only by nature (xxhash64 banding); recall vs the exact guard
    is pytest-pinned (tests/test_dedup.py) and measured sublinear on
    the 100× replica (SCALING.md, "Round 7: scrub broadcast gate, BPE
    encode kernel, banded split guard"; the probe script is in git
    history).
    """
    from pyspark.sql import Window

    from biodata_pipeline_spark.operators.sampling import sample_predicate

    if num_hashes % n_bands:
        raise ValueError("num_hashes must divide evenly into n_bands")
    r = num_hashes // n_bands
    # Contentless docs (NULL text / fewer than n tokens) have no
    # shingles, so the EXACT guard can never flag them — and without
    # this filter every null-text doc shares the NULL content key, so
    # one held-out null doc would mark ALL null train docs as
    # jaccard-1.0 leaks (the fake-dup-cluster trap the r6 null sweep
    # found in MinHash signatures; found here by the same probe in r7).
    # The cheap text-level predicate matches shingle_hash_table's gate.
    has_content = (
        F.col(text_col).isNotNull()
        & (F.length(F.trim(F.col(text_col))) > 0)
        & (F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= n)
    )
    flagged = df.filter(has_content).select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        sample_predicate(id_col, test_fraction, salt).alias("__is_test"),
    )
    # narrow membership table: (id, side, content key) — feeds the
    # exact-leak branch, the rep selection, and the final expansion
    members = register_cached(
        flagged.select(
            "id",
            "__is_test",
            F.xxhash64(normalized(F.col("text"))).alias("__k"),
        ).persist()
    )
    test_rep_per_key = members.filter(F.col("__is_test")).groupBy("__k").agg(
        F.min("id").alias("__best_test")
    )
    exact_leaks = (
        members.filter(~F.col("__is_test"))
        .join(test_rep_per_key, "__k")
        .select(
            F.col("id").alias("train_id"),
            F.col("__best_test").alias("test_id"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    w = Window.partitionBy("__k", "__is_test").orderBy("id")
    reps = members.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    rep_docs = flagged.join(reps.select("id"), "id", "left_semi")
    # one cheap upper-bound count gates BOTH Arrow kernels (shingle +
    # banding) — parquet-backed counts are footer-metadata jobs
    n_docs = df.count()
    # shingle-hash table persisted: feeds the signature pass AND both
    # sides of candidate verification (three consumers)
    base = register_cached(
        shingle_hash_table(rep_docs, "id", "text", n).persist()
    )
    bands = register_cached(
        minhash_band_rows(
            base.join(reps.select("id", "__is_test"), "id"),
            num_hashes,
            n_bands,
            extra_cols=("__is_test",),
            n_rows=n_docs,
        ).persist()
    )
    bands = prune_mega_buckets(bands, max_bucket)
    cands = (
        bands.filter(~F.col("__is_test"))
        .alias("a")
        .join(bands.filter(F.col("__is_test")).alias("b"), ["band", "bucket"])
        .select(
            F.col("a.id").alias("__rep_train"), F.col("b.id").alias("test_id")
        )
        .dropDuplicates(["__rep_train", "test_id"])
    )
    near = _jaccard_verified(cands, "__rep_train", "test_id", base, base, threshold)
    # expand the train rep back to every train member with that content
    rep_key = (
        reps.filter(~F.col("__is_test"))
        .select(F.col("id").alias("__rep_train"), "__k")
    )
    train_members = members.filter(~F.col("__is_test")).select(
        F.col("id").alias("train_id"), "__k"
    )
    expanded = (
        near.join(rep_key, "__rep_train")
        .join(train_members, "__k")
        .select("train_id", "test_id", "jaccard")
    )
    return _best_test_match(expanded.unionByName(exact_leaks))


def scrub_frequent_lines(
    df: DataFrame,
    min_count: int = 3,
    line_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_max_lines: int = 1_000_000,
) -> DataFrame:
    """Corpus-frequency line dedup: remove lines that repeat across the
    corpus, keep the rest of each document intact.

    The C4/RefinedWeb curation step that document-level dedup cannot do:
    navigation bars, cookie banners, and license boilerplate repeat
    across *different* documents, so no whole-document signal catches
    them — but the offending LINE appears nearly verbatim in many docs.
    This operator splits each document into lines (here: fixed
    ``line_tokens``-token windows, since the synthetic corpus has no
    newlines — a real corpus passes its own splitter upstream and feeds
    (id, pos, line) rows), counts each case-normalized line corpus-wide,
    drops every occurrence of lines seen ``min_count``+ times, and
    reassembles the survivors in original order.

    Output: ``(id_col, n_lines, n_removed, clean_text)`` — one row per
    non-empty input document; a doc whose every line is boilerplate
    comes back with ``clean_text = ''`` (the quality gate downstream
    drops it), so removal is observable, never silent.

    Plan shape at scale: line explode is map work (~len/line_tokens×
    rows, narrow); the frequency count is ONE hash aggregation whose
    key space is the distinct-line set (map-side partial combine
    collapses repeats before the shuffle — the boilerplate being
    removed is exactly what compresses best); reassembly is one
    groupBy(id) with array_sort(collect_list(struct(pos, …))) — per-doc
    state bounded by document length.

    The flag join is COUNT-GATED to broadcast (VERDICT r6 #2): the
    frequent-line table is usually tiny (only lines with count >=
    min_count), but on a boilerplate-heavy crawl it can be ~10% of the
    distinct-line set, and an unconditional broadcast then OOMs the
    driver. One cheap count on the persisted, already-aggregated
    frequent table decides: at or under ``broadcast_max_lines`` rows the
    join broadcasts the raw normalized strings (cross-engine
    hash-checkable — the declared q_line_dedup_scrub path at test SFs);
    above it the join switches to ``xxhash64(lower(line))`` keys with NO
    broadcast hint — the build side shuffles narrow longs instead of
    strings, and a 64-bit collision falsely scrubbing a line has
    probability ~n²/2⁶⁵ (the variant this docstring always promised).
    Branch parity is pinned in tests/test_dedup.py, the no-broadcast
    plan shape in tests/test_plans.py, and the adversarial cost on the
    duplicate-heavy 100× replica (where nearly every distinct line is
    frequent) in SCALING.md, "Round 7: scrub broadcast gate, BPE encode
    kernel, banded split guard" (the probe script is in git history).
    """
    if min_count < 2:
        raise ValueError("min_count < 2 would scrub every line")

    # Let-bind the token array through a 1-element transform (the
    # token_shingles pattern): referencing tokens() directly inside the
    # per-line lambda makes CollapseProject inline the regex split per
    # line index — measured 9× on the duplicate-heavy 100× replica
    # (110 s → 12 s for the full scrub).
    def _body(toks):
        n_lines = (F.floor((F.size(toks) - 1) / line_tokens) + 1).cast("int")
        return F.when(
            F.size(toks) == 0, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.array_join(
                    F.slice(toks, i * line_tokens + 1, line_tokens), " "
                ),
            )
        )

    line_arr = F.get(F.transform(F.array(tokens(F.col(text_col))), _body), 0)
    # posexplode drops empty arrays, so whitespace-only docs produce no
    # output row — the documented "one row per non-empty doc" contract.
    # Persisted (cache_scope-registered): the exploded frame feeds both
    # the corpus-wide frequency count and the flag join — unpersisted,
    # the scan+tokenize+explode chain (the dominant cost) runs twice.
    lines = register_cached(
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(line_arr).alias("pos", "line"),
        ).persist()
    )
    # Persisted: the frequent table feeds the gate count AND the flag
    # join; unpersisted, the distinct-line aggregation over the cached
    # lines frame runs twice. The frame is one string per frequent line
    # — the aggregation's own output, never the corpus.
    frequent = register_cached(
        lines.groupBy(F.lower(F.col("line")).alias("key"))
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_count)
        .select("key")
        .persist()
    )
    if frequent.count() <= broadcast_max_lines:
        flagged = lines.join(
            F.broadcast(frequent),
            F.lower(F.col("line")) == F.col("key"),
            "left",
        )
    else:
        # scale path: narrow 64-bit keys, engine-chosen (shuffle) join.
        # distinct() on the hash guards the one way a collision could
        # corrupt counts: two frequent lines hashing together would
        # otherwise double-match — and double-COUNT — a flagged line.
        hashed = frequent.select(F.xxhash64(F.col("key")).alias("hk")).distinct()
        flagged = lines.join(
            hashed,
            F.xxhash64(F.lower(F.col("line"))) == F.col("hk"),
            "left",
        ).withColumnRenamed("hk", "key")
    flagged = flagged.select(
        "id",
        "pos",
        "line",
        F.when(F.col("key").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("rm"),
    )
    kept_struct = F.array_sort(
        F.collect_list(F.struct(F.col("pos"), F.col("line"), F.col("rm")))
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.count("*").cast("int").alias("n_lines"),
            F.sum("rm").cast("int").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.filter(kept_struct, lambda x: x["rm"] == 0),
                    lambda x: x["line"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(F.col("id").alias(id_col), "n_lines", "n_removed", "clean_text")
    )


def scrub_repeated_passages(
    df: DataFrame,
    min_count: int = 3,
    window: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_max_windows: int = 1_000_000,
) -> DataFrame:
    """Remove corpus-repeated passages at SLIDING-window granularity —
    the removal counterpart of the ``duplicated_passages`` audit and the
    window-level approximation of Lee et al. 2022's exact-substring
    dedup (their suffix-array pass removes substrings occurring ≥ k
    times; here the unit is a ``window``-token span, counted with
    multiplicity, and removal is positional).

    A token POSITION is boilerplate iff ANY ``window``-token span
    covering it occurs ``min_count``+ times corpus-wide — so a repeated
    passage of any length ≥ window is removed in full (every position
    of a long repeat is covered by some frequent window), while the
    unique text around it survives. This is what
    ``scrub_frequent_lines`` cannot do: its fixed non-overlapping
    windows miss repeats that straddle window boundaries or start at
    shifted offsets.

    Output: ``(id_col, n_tokens, n_removed, clean_text)`` — one row per
    doc with non-NULL text (shorter-than-window docs pass through
    untouched; a fully-boilerplate doc returns ``clean_text = ''``, so
    removal is observable, never silent).

    Plan shape at scale: the window explode is map work (one row per
    token position, narrow); the frequency count is ONE hash
    aggregation with map-side combine (repeats collapse before the
    shuffle — the boilerplate being removed compresses best); the flag
    join is COUNT-GATED to broadcast exactly like scrub_frequent_lines
    (raw strings under ``broadcast_max_windows``, xxhash64 keys with no
    hint above — same OOM guard, same collision story); covered
    positions expand windows→positions per flagged start (bounded ×w
    map fan-out on the FLAGGED subset only); reassembly is one
    groupBy(id) collecting the bad-position set — per-doc state bounded
    by document length — and an array filter over the let-bound token
    array (no re-tokenize, no order shuffle).
    """
    if min_count < 2:
        raise ValueError("min_count < 2 would scrub every window")
    if window < 1:
        raise ValueError("window must be positive")

    # let-bind the token array (the token_shingles pattern): inlining
    # tokens() into per-index lambdas re-runs the regex split per index
    def _wins(toks):
        n_starts = F.size(toks) - window + 1
        return F.when(
            toks.isNull() | (n_starts < 1), F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), n_starts),
                lambda s: F.array_join(F.slice(toks, s, window), " "),
            )
        )

    def scrub(distinct: DataFrame) -> DataFrame:
        # persisted: feeds the window explode AND the final reassembly
        toks_tbl = register_cached(
            distinct.select(
                F.col(id_col).alias("id"),
                tokens(F.col(text_col)).alias("toks"),
                _copies(distinct).alias("__w"),
            ).persist()
        )
        wins = register_cached(
            toks_tbl.select(
                "id",
                "__w",
                F.posexplode(
                    F.get(F.transform(F.array(F.col("toks")), _wins), 0)
                ).alias("s", "win"),
            )
            .withColumn("s", F.col("s") + 1)  # 1-based starts
            .persist()
        )
        frequent = register_cached(
            wins.groupBy("win")
            .agg(F.sum("__w").alias("c"))
            .filter(F.col("c") >= min_count)
            .select("win")
            .persist()
        )
        if frequent.count() <= broadcast_max_windows:
            flagged = wins.join(F.broadcast(frequent), "win", "left_semi")
        else:
            hashed = frequent.select(F.xxhash64("win").alias("hw")).distinct()
            flagged = wins.join(
                hashed, F.xxhash64(F.col("win")) == F.col("hw"), "left_semi"
            )
        bad = (
            flagged.select(
                "id",
                F.explode(
                    F.sequence(F.col("s"), F.col("s") + F.lit(window - 1))
                ).alias("p"),
            )
            .groupBy("id")
            .agg(F.collect_set("p").alias("__bad"))
        )
        joined = toks_tbl.join(bad, "id", "left").select(
            "id",
            "toks",
            F.coalesce("__bad", F.array().cast("array<int>")).alias("__bad"),
        )
        kept = F.filter(
            F.col("toks"),
            lambda x, i: ~F.array_contains(F.col("__bad"), (i + 1).cast("int")),
        )
        return joined.select(
            F.col("id").alias(id_col),
            F.size("toks").cast("int").alias("n_tokens"),
            F.size("__bad").cast("int").alias("n_removed"),
            F.array_join(kept, " ").alias("clean_text"),
        )

    # The scrub is a pure function of CONTENT (case-preserving key:
    # window identity is exact token equality), so on a duplicate-heavy
    # corpus ``per_content`` runs the positional work once per distinct
    # content with window counts weighted by copy count. Measured 272 s
    # → single-digit seconds on the 100×-duplicated replica.
    return per_content(
        df.filter(F.col(text_col).isNotNull()), scrub, id_col, text_col
    )


def duplicated_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 5,
) -> DataFrame:
    """Passage-level duplication audit (the substring-dedup signal of Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", at token-window granularity): for every document, how many
    of its distinct ``window``-token passages also appear in at least one
    OTHER document, and the duplicated fraction.

    Per-doc distinct windows mean the cross-doc count per passage equals
    its document frequency, so "duplicated" is simply df >= 2 — no
    self-pair bookkeeping. Plan: one map-side explode, one groupBy on the
    passage (the df count), a co-partitioned semi-join back, and the
    per-doc rollup — no self-join of the corpus against itself. At 100 TB
    the passage groupBy would key on xxhash64(passage) to keep the
    shuffle rows fixed-width (collision odds ~n²/2⁶⁴ — acceptable for an
    audit, swapped here for the exact string so the count is
    oracle-exact).

    Output: ``(doc_id, n_windows, n_dup_windows, dup_frac)`` — one row
    per document that HAS at least one ``window``-token passage;
    documents shorter than ``window`` tokens (and empty/null text) yield
    no windows and are omitted, matching the oracle (zero-fill them with
    a caller-side left join from the document table if needed).
    """
    # The audit is a pure function of content, so ``per_content`` shingles
    # each distinct content once and counts document frequency by copy
    # count (each passage's df = Σ over distinct contents containing it
    # of that content's copy count — the raw-corpus count, since copies
    # contribute identical window sets). Measured 63.7 s → single-digit
    # seconds on the 100×-duplication probe. The default collapse key
    # preserves CASE: passage identity is exact token equality, so "A B"
    # and "a b" must not share a representative — only whitespace runs
    # (which \s+ tokenization cannot see) collapse.
    def audit(distinct: DataFrame) -> DataFrame:
        # persisted: the exploded passage table feeds the weighted df
        # count, the semi-join probe side, and the per-doc totals (three
        # consumers; the tokenize+shingle explode would otherwise run per
        # consumer — the minhash_lsh_dup_pairs lesson)
        sh = register_cached(
            distinct.select(
                F.col(id_col).alias("id"),
                _copies(distinct).alias("__w"),
                F.explode(token_shingles(F.col(text_col), window)).alias("sh"),
            ).persist()
        )
        dup_sh = sh.groupBy("sh").agg(F.sum("__w").alias("__df")).filter(
            F.col("__df") >= 2
        )
        dup_counts = (
            sh.join(dup_sh.select("sh"), "sh")
            .groupBy("id")
            .agg(F.count("*").alias("n_dup_windows"))
        )
        totals = sh.groupBy("id").agg(F.count("*").alias("n_windows"))
        n_dup = F.coalesce("n_dup_windows", F.lit(0))
        return totals.join(dup_counts, "id", "left").select(
            F.col("id").alias(id_col),
            "n_windows",
            n_dup.alias("n_dup_windows"),
            F.round(
                n_dup / F.greatest("n_windows", F.lit(1)).cast("double"), 6
            ).alias("dup_frac"),
        )

    return per_content(df, audit, id_col, text_col)


def shingle_hash_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """``(id, hs)`` where ``hs`` is the distinct n-token shingle-hash set,
    built without ever materializing shingle strings: each token is hashed
    once, then n consecutive token hashes combine via one multi-arg
    xxhash64.

    Deliberately JVM-only (r12 measured negative): an Arrow twin of
    this stage — python tokenize + vectorized UTF-8 XXH64, bit-parity
    proven — ran 2.6× SLOWER than these interpreted HOFs at equal
    32-way parallelism (0.94 s vs 2.5 s per 500k docs; SCALING r12),
    because regex tokenization and per-token encode stay Python-bound
    where the JIT-compiled fold is branch-light. The banding stage is
    where the kernel wins (see ``minhash_band_rows``).

    The token-hash array must be evaluated once per row, but aliasing it in
    a separate projection doesn't guarantee that — CollapseProject inlines
    it per reference, re-tokenizing the text for every F.get (measured 5×
    slowdown). Wrapping it as the element of a 1-element array and binding
    it as a ``transform`` lambda variable forces exactly-once evaluation
    inside a single projection (a poor man's let-expression)."""
    ht_expr = F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t))

    def shingles_from(ht):
        idx = F.sequence(F.lit(0), F.size(ht) - n)
        combine = lambda i: F.xxhash64(*[F.get(ht, i + j) for j in range(n)])  # noqa: E731
        return F.when(F.size(ht) < n, F.array().cast("array<bigint>")).otherwise(
            F.array_distinct(F.transform(idx, combine))
        )

    hs = F.get(F.transform(F.array(ht_expr), shingles_from), 0)
    # Guard against empty shingle sets with a CHEAP text-level predicate
    # (trim non-empty ∧ ≥ n whitespace-split fields ⇔ size(hs) > 0), NOT
    # a filter on the computed hs column: Catalyst substitutes a computed
    # column's defining expression into a filter and pushes it through
    # joins, so `filter(size(hs) > 0)` below a selective semi-join ran
    # the full tokenize+shingle+hash chain over every pre-join row
    # (measured: 11.3 s vs 4.9 s on a 100×-duplicated corpus where the
    # join keeps 1%). The cheap predicate pushes to the scan instead.
    has_shingles = (F.length(F.trim(F.col(text_col))) > 0) & (
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= n
    )
    return df.filter(has_shingles).select(
        F.col(id_col).alias("id"), hs.alias("hs")
    )


def minhash_signature_from(hashes_col, num_hashes: int = 32) -> F.Column:
    """MinHash signature over a materialized shingle-hash array column:
    per hash function i, the min over shingles of xxhash64(shingle_hash, i)
    — a fixed-width (long, int) rehash, ~10× cheaper than re-hashing the
    shingle string per seed.

    Takes a *column reference*, not the shingling expression — inlining
    ``token_shingles`` here would make Catalyst recompute the shingling
    ``num_hashes`` times per row (measured 40× slowdown).

    A string column name takes the SQL-parse path: the 32-lane expression
    is one ``F.expr`` call instead of ~64 py4j round-trips (~0.5s of
    driver time per query build; resolves to the identical expression
    tree)."""
    if isinstance(hashes_col, str):
        # bare {i}: INT literal, matching F.lit(int)'s IntegerType —
        # xxhash64 is type-sensitive, so an L suffix would change every
        # signature (asserted in tests against the column build)
        lanes = ",".join(
            f"array_min(transform({hashes_col}, h -> xxhash64(h, {i})))"
            for i in range(num_hashes)
        )
        return F.expr(f"array({lanes})")
    hs = hashes_col

    def lane(i: int) -> F.Column:
        # closure over i via a factory, NOT a defaulted second lambda
        # parameter: F.transform treats a two-parameter lambda as
        # (element, index) and silently shadows the default — which made
        # every lane hash with the array position instead of the lane
        # seed (the round-2 bug this replaced: all 32 lanes identical,
        # collapsing banding to single-hash MinHash)
        return F.array_min(F.transform(hs, lambda h: F.xxhash64(h, F.lit(i))))

    return F.array(*[lane(i) for i in range(num_hashes)])


def band_buckets_expr(sig_col: str, n_bands: int, rows_per_band: int) -> F.Column:
    """``array<long>`` of LSH band buckets: bucket b hashes its slice of
    the signature with the band index as the leading xxhash64 argument.
    One SQL parse (the F.xxhash64/F.element_at build costs ~n_bands×r
    py4j round-trips)."""
    arrays = ",".join(
        "xxhash64("
        + ",".join(
            [str(b)]  # bare INT literal = F.lit(int)'s type (xxhash64 is type-sensitive)
            + [
                f"element_at({sig_col}, {b * rows_per_band + j + 1})"
                for j in range(rows_per_band)
            ]
        )
        + ")"
        for b in range(n_bands)
    )
    return F.expr(f"array({arrays})")


# Above this many shingle-table rows the banding stage runs in the Arrow
# XXH64 kernel instead of the interpreted JVM HOF fold (see
# minhash_band_rows).
MINHASH_KERNEL_THRESHOLD = 100_000


def minhash_band_rows(
    base: DataFrame,
    num_hashes: int,
    n_bands: int,
    extra_cols: tuple[str, ...] = (),
    n_rows: int | None = None,
) -> DataFrame:
    """``(id[, extra...], band, bucket)`` from a shingle-hash table
    ``(id, hs[, extra...])`` — the banding stage every MinHash consumer
    shares (dup pairs, split-leakage guard, ingest gate, SignatureStore).

    Below ``MINHASH_KERNEL_THRESHOLD`` rows this is the JVM expression
    pair ``minhash_signature_from`` + ``band_buckets_expr`` under
    ``posexplode`` (no Arrow spin-up for small batches, and the declared
    sf0.01 queries keep their all-JVM plans). Above the gate it is a
    vectorized Arrow XXH64 kernel emitting the IDENTICAL rows
    (bit-parity pinned in tests/test_dedup.py: Spark's xxhash64 is
    reproduced exactly by functions/xxh64.py, the per-lane min over
    signed longs is numpy's segment min, and the band hash folds the
    same arg order) — the signature fold is a CodegenFallback chain,
    interpreted per element, and it is the stage behind the 28× JIT
    bimodality outlier measured on a 1M-doc ingest-gate admit
    (SCALING r12). ``n_rows`` feeds the gate; ``None`` counts ``base``
    (one job — every caller holds it persisted, so the count is the
    materialization a first consumer pays anyway)."""
    if num_hashes % n_bands:
        raise ValueError("num_hashes must divide evenly into n_bands")
    r = num_hashes // n_bands
    if n_rows is None:
        n_rows = base.count()
    if n_rows <= MINHASH_KERNEL_THRESHOLD:
        sig = base.withColumn(
            "sig", minhash_signature_from("hs", num_hashes)
        )
        return sig.select(
            "id",
            *extra_cols,
            F.posexplode(band_buckets_expr("sig", n_bands, r)).alias(
                "band", "bucket"
            ),
        )
    return _minhash_band_rows_kernel(base, num_hashes, n_bands, extra_cols)


def _minhash_band_rows_kernel(
    base: DataFrame,
    num_hashes: int,
    n_bands: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Arrow twin of the JVM banding expressions (see minhash_band_rows).

    Vectorization shape: the shingle-hash lists flatten to ONE array per
    Arrow batch; the long-fold ``hash_long(h, 42)`` is computed once and
    shared by all lanes (the JVM evaluates it per lane inside
    ``xxhash64(h, i)`` — same value, this is pure CSE); each lane then
    pays one ``hash_int`` over the flat array plus one segmented min
    (``np.minimum.reduceat`` over the int64 VIEW — signed min, exactly
    ``array_min<bigint>``); band buckets chain ``hash_int(band)`` then
    ``hash_long`` over the r signature columns in argument order."""
    import numpy as np
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from biodata_pipeline_spark.functions import xxh64

    r = num_hashes // n_bands
    in_fields = {f.name: f for f in base.schema.fields}
    carry = ["id", *extra_cols]
    out_schema = StructType(
        [in_fields[c] for c in carry]
        + [StructField("band", IntegerType()), StructField("bucket", LongType())]
    )

    def kern(pdf):
        n = len(pdf)
        hs_lists = pdf["hs"].tolist()
        lens = np.fromiter(
            (len(h) for h in hs_lists), dtype=np.int64, count=n
        )
        # shingle_hash_table's text-level guard never emits an
        # empty set; enforce the contract instead of replicating
        # NULL-min semantics (an empty-hs row would otherwise
        # band on xxhash64(b) constants and join EVERYTHING)
        if not lens.all():
            raise ValueError(
                "empty shingle-hash set reached the banding kernel"
            )
        flat = np.concatenate(
            [np.asarray(h, dtype=np.int64) for h in hs_lists]
        ).astype(np.uint64)
        offsets = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        with np.errstate(over="ignore"):
            h1 = xxh64.hash_long(flat, xxh64.SEED)  # shared long fold
            sig = np.empty((n, num_hashes), dtype=np.int64)
            for i in range(num_hashes):
                lane = xxh64.hash_int(i, h1).view(np.int64)
                sig[:, i] = np.minimum.reduceat(lane, offsets)
            buckets = np.empty((n, n_bands), dtype=np.int64)
            for b in range(n_bands):
                hb = xxh64.hash_int(b, xxh64.SEED)
                for j in range(r):
                    hb = xxh64.hash_long(
                        sig[:, b * r + j].astype(np.uint64), hb
                    )
                buckets[:, b] = hb.view(np.int64)
        out = pdf.iloc[np.repeat(np.arange(n), n_bands)][
            carry
        ].reset_index(drop=True)
        out["band"] = np.tile(np.arange(n_bands, dtype=np.int32), n)
        out["bucket"] = buckets.reshape(-1)
        return out

    return vk.arrow_map(base.select(*carry, "hs"), kern, out_schema)


def minhash_lsh_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    n_bands: int = 8,
    max_bucket: int = 100_000,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with the exact Jaccard.

    Banding: signature split into ``n_bands`` bands of ``num_hashes/n_bands``
    rows; docs sharing any full band collide. Collision probability for
    similarity s is 1-(1-s^r)^b — with (32, 8) the curve's knee sits near
    s≈0.6. Candidates are verified exactly, so precision is 1.0 and the
    only approximation is recall below the knee.

    Exact (normalized-text) duplicates are collapsed to a representative
    before banding and come back as rep→member edges with jaccard 1.0 —
    duplicate-heavy corpora would otherwise blow the band buckets up
    quadratically (see ``collapse_exact``).
    """
    if num_hashes % n_bands:
        raise ValueError("num_hashes must divide evenly into n_bands")
    r = num_hashes // n_bands
    distinct, exact_edges = collapse_exact(df, id_col, text_col)
    # one cheap upper-bound count (raw input, footer-metadata on
    # parquet) gates both Arrow kernels below
    n_docs = df.count()
    # Shingle-hash table computed once and persisted: it feeds the
    # signature/banding pass AND both sides of candidate verification (three
    # consumers — without the persist the tokenize+shingle pass runs 3×).
    # At cluster scale this is the table you would checkpoint.
    base = register_cached(
        shingle_hash_table(distinct, id_col, text_col, n).persist()
    )
    # Band buckets hash the r signature longs directly (multi-arg xxhash64,
    # band index as the first arg) — no string assembly. Only (id, band,
    # bucket) flows into the self-join shuffle; the shingle-hash arrays
    # rejoin after candidate dedup, so they are shuffled once, not n_bands×.
    # Persisted: the signature pass (32 xxhash64 lanes per shingle — the
    # most expensive map stage here) has THREE consumers:
    # prune_mega_buckets' size aggregation and both aliases of the
    # candidate self-join. Unpersisted, Spark recomputes it per consumer
    # (measured 3× the signature cost at sf0.1); the cached frame is just
    # (id, band, bucket) longs — tiny relative to the shingle table.
    # Above MINHASH_KERNEL_THRESHOLD rows the stage runs in the Arrow
    # XXH64 kernel (r12 — bit-identical rows, no interpreted HOF fold).
    bands = register_cached(
        minhash_band_rows(base, num_hashes, n_bands, n_rows=n_docs).persist()
    )
    bands = prune_mega_buckets(bands, max_bucket)
    cands = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # Exact verification of candidates only. Jaccard over shingle hashes ==
    # Jaccard over shingles up to 64-bit collisions (negligible).
    near = _jaccard_verified(cands, "id_a", "id_b", base, base, threshold)
    return near.unionByName(
        exact_edges.withColumn("jaccard", F.lit(1.0))
    )


_BIT_MASKS = [1 << i for i in range(63)]


def simhash64_from(hashed_col) -> F.Column:
    """63-bit SimHash over a token-hash array: for each bit i, sum over
    tokens of ±1 by token-hash bit i; fingerprint bit = sign. Tokens
    weighted by frequency (duplicates kept).

    Single pass over the array: one ``aggregate`` whose accumulator is the
    63-vector of bit votes (vs. the naive 63 aggregates = 63 passes,
    measured 4× slower), then the votes fold into a long. Vote masks are
    distinct powers of two so their ANSI-mode sum cannot overflow."""
    hashed = F.col(hashed_col) if isinstance(hashed_col, str) else hashed_col
    masks = F.lit(_BIT_MASKS)  # one nested-literal py4j call; array<long>
    votes = F.aggregate(
        hashed,
        F.array_repeat(F.lit(0), 63),
        lambda acc, h: F.zip_with(
            acc, masks, lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def simhash64(text_col) -> F.Column:
    """SimHash straight from text. The token-hash array is let-bound via a
    1-element-array ``transform`` so tokenization runs once per row even
    though the fingerprint expression references the array many times
    (CollapseProject would otherwise inline it per reference)."""
    ht_expr = F.transform(tokens(text_col), lambda t: F.xxhash64(t))
    return F.get(F.transform(F.array(ht_expr), simhash64_from), 0)


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(id, fp)`` SimHash fingerprints with the vote fold in an
    Arrow-batched numpy kernel. Tokenization and xxhash64 stay JVM-side
    (the engine's hash must match SignatureStore/banding expectations);
    only the 63-bit vote fold crosses to numpy — pure integer math, so
    the fingerprints are BIT-identical to ``simhash64``'s (parity-pinned
    in tests) at ~3× the throughput of the interpreted HOF fold (the
    63-wide zip_with accumulator allocates per token).

    Null text propagates as a null fingerprint (``tokens()`` yields a
    null array, matching the HOF expression's null semantics) — null
    rows then drop out of band equi-joins downstream instead of
    crashing the kernel."""
    import numpy as np
    import pandas as pd

    ht = df.select(
        F.col(id_col).alias("id"),
        F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t)).alias(
            "ht"
        ),
    )

    shifts = np.arange(63, dtype=np.uint64)

    def fold(pdf):
        n = len(pdf)
        fps: list[int | None] = [0] * n
        for r in range(n):
            raw = pdf["ht"].iloc[r]
            if raw is None:  # null text → null array → null fp
                fps[r] = None
                continue
            hs = np.asarray(raw, dtype=np.int64).astype(np.uint64)
            if hs.size == 0:
                continue  # no tokens: all votes negative → fp 0
            bits = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).astype(
                np.int64
            )
            votes = (2 * bits - 1).sum(axis=0)
            fps[r] = int(
                ((votes > 0).astype(np.uint64) << shifts)
                .sum()
                .astype(np.int64)
            )
        return pd.DataFrame({"id": pdf["id"], "fp": pd.array(fps, dtype="Int64")})

    return vk.arrow_map(ht, fold, "id long, fp long")


def hamming64(a, b) -> F.Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 4,
    max_bucket: int = 100_000,
) -> DataFrame:
    """SimHash near-dup pairs: fingerprints bucketed by band (a pair within
    Hamming distance d < n_bands must agree on ≥1 of n_bands bit-slices —
    the classic pigeonhole trick; for d ≥ n_bands recall drops below 1),
    then verified by exact Hamming distance.

    The fingerprint table feeds both sides of the band self-join, so it is
    persisted — tokenization+fingerprinting runs once, not twice.

    Exact (normalized-text) duplicates are collapsed to a representative
    before banding (rep→member edges come back with hamming 0) — a
    duplicate-heavy corpus would otherwise grow band buckets, and thus
    candidate pairs, quadratically in the duplication factor (measured
    OOM at 10× replication without this; see ``collapse_exact``).
    """
    bits_per_band = 63 // n_bands + 1
    distinct, exact_edges = collapse_exact(df, id_col, text_col)
    fp = register_cached(
        simhash_fingerprints(distinct, id_col, text_col).persist()
    )
    bands = prune_mega_buckets(
        fp.select(
            "id",
            "fp",
            F.posexplode(
                F.array(
                    *[
                        F.shiftrightunsigned(F.col("fp"), b * bits_per_band).bitwiseAND(
                            F.lit((1 << bits_per_band) - 1)
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("band", "bucket"),
        ),
        max_bucket,
    )
    near = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.fp"), F.col("b.fp")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )
    return near.unionByName(
        exact_edges.withColumn("hamming", F.lit(0).cast("int"))
    )


def embedding_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    approximate: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity."""
    from biodata_pipeline_spark.operators.similarity import (
        lsh_similarity_join,
        similarity_join_vectorized,
    )

    if approximate:
        return lsh_similarity_join(df, threshold, id_col=id_col, emb_col=emb_col)
    # exact path: Arrow/numpy kernel, bit-identical to the HOF join and ~8x
    # faster (operators/similarity.py:similarity_join_vectorized)
    return similarity_join_vectorized(df, threshold, id_col=id_col, emb_col=emb_col)


class SignatureStore:
    """Persisted MinHash banding state for *incremental* near-dup dedup.

    At 100 TB you never re-shingle the historical corpus to admit a new
    batch: the store keeps ``(id, band, bucket)`` rows plus the shingle-hash
    sets, so admitting a batch is (a) signature computation over the NEW
    docs only, (b) an equi-join of new band rows against stored band rows,
    (c) exact verification of the candidates, (d) an append of the new
    rows' state. The reference's skip-if-exists manifests (SURVEY §2 Q13)
    applied to dedup state.
    """

    def __init__(self, path: str, n: int = 3, num_hashes: int = 32, n_bands: int = 8):
        if num_hashes % n_bands:
            raise ValueError("num_hashes must divide evenly into n_bands")
        self.path = path
        self.n, self.num_hashes, self.n_bands = n, num_hashes, n_bands

    def _bands_path(self) -> str:
        return f"{self.path}/bands"

    def _shingles_path(self) -> str:
        return f"{self.path}/shingles"

    def _state_for(self, df: DataFrame, id_col: str, text_col: str):
        # one cheap input count gates both Arrow kernels; the shingle
        # table is persisted HERE (not just by admit's later
        # register_cached of the returned frames) so its three
        # consumers share one materialization
        n_docs = df.count()
        base = register_cached(
            shingle_hash_table(df, id_col, text_col, self.n).persist()
        )
        bands = minhash_band_rows(
            base, self.num_hashes, self.n_bands, n_rows=n_docs
        )
        return base.select("id", "hs"), bands

    def admit(
        self,
        new_docs: DataFrame,
        threshold: float,
        id_col: str = "doc_id",
        text_col: str = "text",
        batch_id: str | None = None,
    ) -> DataFrame:
        """Near-dup pairs of the NEW docs against (stored ∪ new), then the
        new state is appended. Returns (id_new, id_old, jaccard) — id_old
        may itself be from this batch.

        Pass ``batch_id`` to make the state append IDEMPOTENT per batch:
        each batch's rows land in their own ``batch_id=`` partition via
        dynamic partition overwrite, so a retried batch overwrites its own
        partition instead of appending a second copy (the at-least-once →
        exactly-once-effect trick from the streaming sinks, applied to
        dedup state). Without a batch_id each call appends — idempotence
        is then the caller's concern (pair with a Manifest on id)."""
        spark = new_docs.sparkSession
        shingles, bands = self._state_for(new_docs, id_col, text_col)
        shingles = register_cached(shingles.persist())
        bands = register_cached(bands.persist())
        # every live source of stored state: the compacted bucketed
        # table (after a .compact()) plus the parquet delta appends —
        # each joined separately, like incremental_near_dup_filter, so
        # the bucketed scan keeps its shuffle-free partitioning (a
        # missing store yields empty lists = first batch; a CORRUPT
        # store still raises inside the read, by design)
        stored_bands = component_frames(spark, self.path, "bands")
        stored_shingles = component_frames(spark, self.path, "shingles")
        cands = None
        for side in [bands] + stored_bands:  # new-vs-new first
            c = (
                bands.alias("a")
                .join(side.alias("b"), ["band", "bucket"])
                .filter(F.col("a.id") != F.col("b.id"))
                .select(
                    F.col("a.id").alias("id_new"),
                    F.col("b.id").alias("id_old"),
                )
                .filter(F.col("id_new") > F.col("id_old"))  # canonical
            )
            cands = c if cands is None else cands.unionByName(c)
        cands = cands.dropDuplicates(["id_new", "id_old"])
        # deletion contract (r11): a tombstoned doc is no longer history —
        # it must not block (or report) a near-dup admission. BOTH pair
        # sides are filtered (ADVICE r11): id_old because tombstoned
        # history must not block new docs, and id_new because a doc
        # re-admitted while its tombstone is pending must stay fully
        # invisible — the same removal-wins-until-compact rule
        # VectorIndexStore enforces (its re-added rows are appended here
        # too, but the next compact's fold drops them along with the old
        # ones; compact first to re-enroll).
        cands = minus_tombstones(spark, self.path, cands, "id_old", "id_new")
        all_shingles = shingles
        for s in stored_shingles:
            all_shingles = all_shingles.unionByName(s)
        result = _jaccard_verified(
            cands, "id_new", "id_old", shingles, all_shingles, threshold
        ).localCheckpoint()  # materialize BEFORE mutating the store
        write_batch(bands, self._bands_path(), batch_id)
        write_batch(shingles, self._shingles_path(), batch_id)
        return result

    def remove(self, spark, ids) -> int:
        """Tombstone ``ids`` — delegates to ``remove_from_dedup_index``
        (the shared deletion path; see its docstring for the visibility
        rule). A tombstoned doc stops blocking (and being reported by)
        ``admit`` immediately — on BOTH pair sides: it neither blocks
        new docs as history nor participates if re-admitted while the
        tombstone is pending (removal wins until compact, the rule all
        three stores share). The next ``compact`` physically drops its
        bands/shingles and clears the tombstones."""
        return remove_from_dedup_index(spark, self.path, ids)

    def compact(self, spark, n_buckets: int | None = None) -> dict:
        """Fold this store's per-batch appends into bucketed tables —
        ``compact_dedup_index`` with this store's layout (``bands`` on
        (band, bucket), ``shingles`` on (id)). Same contract: run
        between batches; decisions identical across the fold; file
        count bounded by the bucket count. Pending tombstones are
        folded in and cleared by the shared machinery."""
        return compact_dedup_index(
            spark,
            self.path,
            n_buckets=n_buckets,
            parts={"bands": ["band", "bucket"], "shingles": ["id"]},
        )


def embedding_dedup_survivors(
    df,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    approximate: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup dedup: keep each vector unless it has a
    near-duplicate (cosine >= threshold) with a smaller id.

    Greedy keep-smallest-id rule — SQL-expressible (anti-join against the
    pair list's id_b side), unlike full transitive clustering which lives
    in operators/clusters.py. ``approximate=True`` swaps the exact O(n²)
    pair join for the hyperplane-LSH candidate path (the 100 TB shape:
    only (band, bucket) equi-joins, no cross product).
    """
    # null-embedding contract (null probe, round 6): geometry-less
    # vectors can neither match nor survive similarity dedup — exclude
    # them here too, not just in the pair join, or they'd all "survive"
    df = df.filter(F.col(emb_col).isNotNull())
    pairs = embedding_dup_pairs(
        df, threshold, id_col=id_col, emb_col=emb_col, approximate=approximate
    )
    dup_ids = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dup_ids, id_col, "left_anti")


def incremental_near_dup_filter(
    new_docs: DataFrame,
    index_dir: str,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    n_bands: int = 8,
    max_bucket: int = 100_000,
    batch_id: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Cross-batch near-dup gate: filter a NEW batch of documents
    against everything already accepted, then enroll the survivors.

    ``minhash_lsh_dup_pairs`` answers "which pairs in THIS corpus are
    near-dups"; ``SignatureStore.admit`` answers the incremental
    DETECTION question — log every new-vs-history pair, state appended
    unconditionally. This operator is the third contract, the one an
    ingest pipeline actually gates on: DECIDE keep/drop per new doc and
    enroll ONLY the survivors, so the index stays exactly the
    accepted-set (admitting dups too would make every future batch pay
    candidate width for docs that were rejected) — all without
    re-banding history. The index at ``index_dir`` persists the
    accepted docs' LSH state (``bands/``: one (id, band, bucket) row
    per band; ``hashes/``: the shingle-hash set per id, for exact
    verification), so each batch costs: batch-sized signature work +
    one equi-join of the batch's bands against the stored bands + exact
    verify on candidates only. History is never re-scanned, only
    joined — and the join's stream side is the BATCH (small), so AQE
    broadcasts it against the big stored side. Long-running ingests
    periodically fold the per-batch appends into bucketed tables with
    ``compact_dedup_index`` — bounded file count, and past the
    broadcast threshold the bands join needs no stored-side shuffle at
    all (the bucketed scan's partitioning already matches (band,
    bucket)); this filter reads both layouts transparently.

    Decision order inside the batch (deterministic):
      1. exact duplicates collapse to their min-id representative
         (members report scope='exact');
      2. reps near-dupping the INDEX are dropped (scope='index');
      3. among surviving reps, near-dup pairs keep the min id
         (scope='batch') — resolved transitively via min-id closure so
         a chain a~b~c keeps exactly a.
    Returns ``(kept_docs, report)`` — kept rows of ``new_docs`` and one
    row per DROPPED id: (id, matched_id, jaccard, scope). Both frames
    are materialized (localCheckpoint) BEFORE the index append — they
    must not lazily re-read the index they are about to grow — and the
    survivors' bands + hash sets are appended last. Pass ``batch_id``
    to make the whole batch IDEMPOTENT: the batch's index rows land in
    their own ``batch_id=`` partition via dynamic partition overwrite
    (the SignatureStore trick), AND the index read EXCLUDES that
    partition, so a foreachBatch retry sees exactly the pre-crash index
    state and re-derives bit-identical decisions — including transitive
    batch chains (a~b, b~c, a≁c keeps exactly ``a`` on every replay;
    without the exclusion the replay would match ``b`` against its own
    partial enrollment of ``a`` at the index stage and admit ``c``).
    Without ``batch_id`` each call appends; a replay then re-appends
    duplicate index rows (bucket-join width, not a correctness issue —
    candidates are dropDuplicates'd and verified exactly) but transitive
    batch decisions can differ from the no-crash run, so streaming
    ingest always sets it (streaming/dedup_ingest.py).

    Reference anchor: the reference's only cross-run dedup is
    skip-if-exists on output filenames
    (generate_narratives_from_data.py:63-65) — identity-keyed, blind to
    content. This is the content-keyed, near-duplicate-aware form a
    training-data ingest needs.
    """
    from pyspark.sql import Window

    if num_hashes % n_bands:
        raise ValueError("num_hashes must divide evenly into n_bands")
    r = num_hashes // n_bands
    spark = new_docs.sparkSession

    distinct, exact_edges = collapse_exact(new_docs, id_col, text_col)
    n_docs = new_docs.count()  # cheap upper bound gating both kernels
    base = register_cached(
        shingle_hash_table(distinct, id_col, text_col, n).persist()
    )
    bands = register_cached(
        minhash_band_rows(base, num_hashes, n_bands, n_rows=n_docs).persist()
    )
    bands = prune_mega_buckets(bands, max_bucket)

    # --- step 2: batch reps vs the stored index -------------------------
    # each index part (compacted bucketed table / parquet delta) is
    # joined SEPARATELY: the bucketed scan's output partitioning then
    # satisfies the join's distribution with no stored-side Exchange
    # (a pre-join union of the parts would erase it); the per-part
    # candidate frames are small and union cheaply
    band_parts = component_frames(spark, index_dir, "bands", batch_id)
    hash_parts = component_frames(spark, index_dir, "hashes", batch_id)
    if band_parts and hash_parts:
        cand_idx = None
        for bp in band_parts:
            c = (
                bands.join(
                    bp.withColumnRenamed("id", "other_id"),
                    ["band", "bucket"],
                )
                # self-pairs appear only when a replayed batch meets its
                # own prior enrollment — impossible in batch_id mode
                # (those rows are excluded from the read) but still
                # reachable on a replayed plain append, where this guard
                # keeps the batch from reporting itself "all index dups"
                .filter(F.col("id") != F.col("other_id"))
                .select("id", "other_id")
            )
            cand_idx = c if cand_idx is None else cand_idx.unionByName(c)
        cand_idx = cand_idx.dropDuplicates(["id", "other_id"])
        # deletion contract (r11): a tombstoned doc is no longer history
        # — it must not block admission (remove_from_dedup_index; the
        # next compaction drops its rows physically)
        cand_idx = minus_tombstones(spark, index_dir, cand_idx, "other_id")
        idx_hashes = hash_parts[0]
        for hp in hash_parts[1:]:
            idx_hashes = idx_hashes.unionByName(hp)
        vs_index = _jaccard_verified(
            cand_idx, "id", "other_id", base, idx_hashes, threshold
        )
    else:
        id_type = dict(base.dtypes)["id"]
        vs_index = local_frame(
            spark, [], f"id {id_type}, other_id {id_type}, jaccard double"
        )
    w_best = Window.partitionBy("id").orderBy(F.desc("jaccard"), F.asc("other_id"))
    index_drops = register_cached(
        vs_index.withColumn("__rn", F.row_number().over(w_best))
        .filter(F.col("__rn") == 1)
        .select("id", F.col("other_id").alias("matched_id"), "jaccard")
        .persist()
    )

    # --- step 3: near-dup pairs among the remaining reps ----------------
    alive = bands.join(index_drops.select("id"), "id", "left_anti")
    cand_batch = (
        alive.alias("a")
        .join(alive.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("b.id").alias("id"), F.col("a.id").alias("other_id"))
        .dropDuplicates(["id", "other_id"])
    )
    batch_pairs = _jaccard_verified(
        cand_batch, "id", "other_id", base, base, threshold
    )
    # min-id closure: drop ids that near-dup a SMALLER surviving id; a
    # chain a~b~c keeps exactly a because every later member pairs with
    # an earlier one at/above threshold via the banding candidates
    batch_drops = (
        batch_pairs.withColumn("__rn", F.row_number().over(w_best))
        .filter(F.col("__rn") == 1)
        .select("id", F.col("other_id").alias("matched_id"), "jaccard")
    )

    dropped = register_cached(
        index_drops.withColumn("scope", F.lit("index"))
        .unionByName(batch_drops.withColumn("scope", F.lit("batch")))
        .persist()
    )
    exact_report = (
        exact_edges.select(
            F.col("id_b").alias("id"),
            F.col("id_a").alias("matched_id"),
            F.lit(1.0).alias("jaccard"),
            F.lit("exact").alias("scope"),
        )
    )
    report = (
        dropped.unionByName(exact_report)
        .select("id", "matched_id", "jaccard", "scope")
        .localCheckpoint()
    )
    kept = (
        # alias the drop side: with id_col="id" both sides would carry
        # an "id" column and the join condition turns ambiguous
        distinct.join(
            dropped.select(F.col("id").alias("__drop_id")),
            F.col(id_col) == F.col("__drop_id"),
            "left_anti",
        )
        .localCheckpoint()
    )

    # --- enroll survivors LAST (after materialization above) ------------
    kept_ids = kept.select(F.col(id_col).alias("id"))
    new_bands = bands.join(kept_ids, "id", "left_semi")
    new_hashes = base.join(kept_ids, "id", "left_semi")
    write_batch(new_bands, f"{index_dir}/bands", batch_id)
    write_batch(new_hashes, f"{index_dir}/hashes", batch_id)
    return kept, report
