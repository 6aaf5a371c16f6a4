"""Dedup operators: exact, n-gram Jaccard (vs brute force), MinHash-LSH
recall, SimHash near-dup detection."""

from __future__ import annotations

import itertools

import pytest

from biodata_pipeline_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dup_pairs,
    ngram_jaccard_dup_pairs,
    simhash_dup_pairs,
)

# SimHash is a bit-vote over token hashes: near-dup detection needs docs
# long enough that a few changed tokens can't flip many votes.
_WORDS = [f"token{i}" for i in range(120)]
BASE = "the quick brown fox jumps over the lazy dog " + " ".join(_WORDS)
_OTHER = " ".join(f"other{i}" for i in range(120))
DOCS = [
    (0, BASE),
    (1, BASE),  # exact duplicate of 0
    (2, BASE + " with a tiny suffix change"),  # near-dup of 0
    (3, "completely different content about spark dataframes and shuffles " + _OTHER),
    (4, "  THE quick   brown fox jumps over the lazy dog " + " ".join(_WORDS) + " "),
    (5, "another unrelated document mentioning catalyst optimizer " + _OTHER.upper()),
]


def python_jaccard(a: str, b: str, n=3) -> float:
    def shingles(t):
        toks = t.split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(spark, docs_df):
    kept = sorted(r.doc_id for r in exact_dedup(docs_df).collect())
    # 1 is an exact dup of 0; 4 normalizes (case+whitespace) to the same text
    assert kept == [0, 2, 3, 5]


def test_ngram_jaccard_matches_bruteforce(spark, docs_df):
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_dup_pairs(docs_df, threshold=0.3).collect()
    }
    expected = {}
    for (ia, ta), (ib, tb) in itertools.combinations(DOCS, 2):
        j = python_jaccard(ta, tb)
        if j >= 0.3:
            expected[(ia, ib)] = pytest.approx(j, abs=1e-9)
    assert got == expected
    assert (0, 1) in got  # the exact pair survives


def test_minhash_lsh_finds_near_dups(spark, docs_df):
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_dup_pairs(docs_df, threshold=0.5).collect()
    }
    assert (0, 1) in pairs  # identical docs always collide
    # precision: every reported pair truly exceeds the threshold
    texts = dict(DOCS)
    for a, b in pairs:
        assert python_jaccard(texts[a], texts[b]) >= 0.5


def test_simhash_near_dups(spark, docs_df):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_dup_pairs(docs_df, max_hamming=10).collect()
    }
    assert pairs[(0, 1)] == 0  # identical text → identical fingerprint
    # near-dup of 0 (doc 2) should be within a small hamming distance
    assert (0, 2) in pairs
    # unrelated docs must not appear at a tight radius
    tight = {
        (r.id_a, r.id_b)
        for r in simhash_dup_pairs(docs_df, max_hamming=3).collect()
    }
    assert (0, 3) not in tight and (0, 5) not in tight


def test_corrupt_signature_store_raises_instead_of_resetting(spark, tmp_path):
    """A store that exists but cannot be read must raise — treating it as
    'first batch' would silently drop all historical banding state and
    then append over the damage."""
    import pytest

    from biodata_pipeline_spark.operators.dedup import SignatureStore

    store = SignatureStore(str(tmp_path / "sigstore"))
    docs = spark.createDataFrame([(1, "some document text here")], ["doc_id", "text"])
    store.admit(docs, threshold=0.5)

    # corrupt the stored band state: parquet dir exists, contents garbage
    bands = tmp_path / "sigstore" / "bands"
    for f in bands.glob("*.parquet"):
        f.write_bytes(b"not parquet at all")
    with pytest.raises(Exception) as exc:
        store.admit(
            spark.createDataFrame([(2, "another doc")], ["doc_id", "text"]),
            threshold=0.5,
        ).count()
    assert "PATH_NOT_FOUND" not in str(exc.value)


def test_incremental_signature_store(spark, tmp_path):
    from biodata_pipeline_spark.operators.dedup import SignatureStore

    store = SignatureStore(str(tmp_path / "sigstore"))
    batch1 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "an entirely different document about spark plans here"),
        ],
        ["doc_id", "text"],
    )
    first = store.admit(batch1, threshold=0.5)
    assert first.count() == 0  # nothing similar within batch 1

    batch2 = spark.createDataFrame(
        [
            (3, "the quick brown fox jumps over the lazy dog today!"),  # near-dup of 1
            (4, "totally novel content with no relatives anywhere at all"),
        ],
        ["doc_id", "text"],
    )
    second = store.admit(batch2, threshold=0.5)
    pairs = {(r.id_new, r.id_old) for r in second.collect()}
    assert (3, 1) in pairs  # cross-batch near-dup found WITHOUT re-reading batch 1 text
    assert all(new in (3, 4) for new, _ in pairs)

    # batch 3 matches a batch-2 doc: the store accumulated state
    batch3 = spark.createDataFrame(
        [(5, "totally novel content with no relatives anywhere at all :)")],
        ["doc_id", "text"],
    )
    third = store.admit(batch3, threshold=0.5)
    assert {(r.id_new, r.id_old) for r in third.collect()} == {(5, 4)}


def test_hash_sampling_and_split(spark, sf_dir):
    from pyspark.sql import functions as F

    from biodata_pipeline_spark.operators.sampling import hash_sample, train_test_split
    from biodata_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    s1 = hash_sample(docs, "doc_id", 0.1)
    # deterministic: identical sample on re-evaluation
    ids1 = {r.doc_id for r in s1.collect()}
    assert ids1 == {r.doc_id for r in hash_sample(docs, "doc_id", 0.1).collect()}
    assert 0 < len(ids1) < n
    # monotone: a larger fraction strictly contains the smaller sample
    ids3 = {r.doc_id for r in hash_sample(docs, "doc_id", 0.3).collect()}
    assert ids1 <= ids3
    # independent salts draw different samples
    other = {r.doc_id for r in hash_sample(docs, "doc_id", 0.1, salt="b").collect()}
    assert other != ids1
    # split: disjoint + exhaustive
    train, test = train_test_split(docs, "doc_id", 0.2)
    assert train.count() + test.count() == n
    assert train.join(test, "doc_id").count() == 0
    # stability under corpus growth: decisions for old keys never flip
    subset = docs.filter(F.col("doc_id") < 100)
    sub_train, _ = train_test_split(subset, "doc_id", 0.2)
    full_train_ids = {r.doc_id for r in train.select("doc_id").collect()}
    assert {r.doc_id for r in sub_train.select("doc_id").collect()} <= full_train_ids


def test_signature_store_batch_id_readmit_is_idempotent(spark, tmp_path):
    """A retried batch (same batch_id) must leave the store byte-identical:
    its rows overwrite their own batch_id= partition instead of appending a
    second copy — and the returned pairs are the same."""
    from biodata_pipeline_spark.operators.dedup import SignatureStore

    store = SignatureStore(str(tmp_path / "sigstore"))
    batch = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today!"),
        ],
        ["doc_id", "text"],
    )
    first = store.admit(batch, threshold=0.5, batch_id="b1")
    pairs1 = {(r.id_new, r.id_old) for r in first.collect()}
    assert pairs1 == {(2, 1)}

    def state():
        bands = spark.read.parquet(f"{store.path}/bands")
        shingles = spark.read.parquet(f"{store.path}/shingles")
        return (
            sorted(map(tuple, bands.drop("batch_id").collect())),
            sorted((r.id, tuple(r.hs)) for r in shingles.collect()),
        )

    before = state()
    retried = store.admit(batch, threshold=0.5, batch_id="b1")  # the retry
    assert {(r.id_new, r.id_old) for r in retried.collect()} == pairs1
    assert state() == before  # no double-append

    # a NEW batch id still accumulates
    batch2 = spark.createDataFrame(
        [(7, "some fresh unrelated words in this one")], ["doc_id", "text"]
    )
    store.admit(batch2, threshold=0.5, batch_id="b2")
    assert spark.read.parquet(f"{store.path}/bands").select(
        "id"
    ).distinct().count() == 3


def test_sql_parsed_signature_and_bands_match_column_build(spark):
    """The F.expr fast paths must resolve to the same values as the
    element-wise column builds they replace."""
    from pyspark.sql import functions as F

    from biodata_pipeline_spark.operators.dedup import (
        band_buckets_expr,
        minhash_signature_from,
        shingle_hash_table,
    )

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], ["doc_id", "text"]
    )
    base = shingle_hash_table(df, "doc_id", "text", 3)
    row = base.select(
        minhash_signature_from("hs", 8).alias("fast"),
        minhash_signature_from(F.col("hs"), 8).alias("slow"),
    ).collect()[0]
    assert row.fast == row.slow

    sig = base.withColumn("sig", minhash_signature_from("hs", 8))
    old = F.array(
        *[
            F.xxhash64(F.lit(b), *[F.element_at("sig", b * 2 + j + 1) for j in range(2)])
            for b in range(4)
        ]
    )
    r2 = sig.select(
        band_buckets_expr("sig", 4, 2).alias("fast"), old.alias("slow")
    ).collect()[0]
    assert r2.fast == r2.slow


def test_approx_stratum_buckets_tracks_exact_ntile(spark, sf_dir):
    """The approx-quantile bucket assignment (the corpus-scale swap for
    q_stratified_split's exact ntile) partitions every stratum, keeps
    buckets near-balanced, and agrees with the exact ntile for nearly all
    rows at full sketch accuracy."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from biodata_pipeline_spark.functions.textfn import token_count
    from biodata_pipeline_spark.operators.sampling import approx_stratum_buckets
    from biodata_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count("text").alias("n_tok")
    )
    out = approx_stratum_buckets(docs, "lang", "n_tok", n_buckets=4)
    rows = out.collect()
    assert len(rows) == docs.count()  # exhaustive: every row gets a bucket
    assert {r.bucket for r in rows} <= {1, 2, 3, 4}
    # near-balance within each stratum (ties + sketch error tolerance)
    from collections import Counter

    for lang in {r.lang for r in rows}:
        sizes = Counter(r.bucket for r in rows if r.lang == lang)
        n = sum(sizes.values())
        if n >= 20:
            for b in (1, 2, 3, 4):
                assert sizes.get(b, 0) > 0.1 * n, (lang, dict(sizes))
    # orientation matches ntile over (value DESC): largest values in bucket 1
    w = Window.partitionBy("lang").orderBy(F.desc("n_tok"), F.asc("doc_id"))
    exact = docs.withColumn("q", F.ntile(4).over(w))
    joined = out.join(exact, ["doc_id", "lang", "n_tok"]).select("bucket", "q")
    agree = joined.filter(F.col("bucket") == F.col("q")).count() / joined.count()
    assert agree > 0.8, agree
    # deterministic across evaluations in the same layout
    again = {(r.doc_id, r.bucket) for r in approx_stratum_buckets(
        docs, "lang", "n_tok", n_buckets=4
    ).collect()}
    assert again == {(r.doc_id, r.bucket) for r in rows}


def test_simhash_kernel_matches_hof_fold(spark, sf_dir):
    """The numpy vote fold must reproduce the JVM HOF fingerprint
    bit-for-bit (pure integer math — no tolerance)."""
    from pyspark.sql import functions as F

    from biodata_pipeline_spark.operators.dedup import (
        simhash64,
        simhash_fingerprints,
    )
    from biodata_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(300)
    hof = {r.doc_id: r.fp for r in docs.select(
        "doc_id", simhash64(F.col("text")).alias("fp")).collect()}
    ker = {r.id: r.fp for r in simhash_fingerprints(docs).collect()}
    assert hof == ker and len(ker) > 0


def test_per_content_memoizes_and_propagates(spark):
    """per_content must call compute on representatives only and copy
    rows to exact duplicates, with whitespace variants collapsing and
    case variants staying distinct under the default key."""
    from pyspark.sql import functions as F

    from biodata_pipeline_spark.operators.dedup import per_content

    docs = spark.createDataFrame(
        [(1, "x y z"), (2, "x y z"), (3, "x  y  z"), (4, "X Y Z")],
        ["doc_id", "text"],
    )
    calls = []

    def compute(base):
        calls.append(base)
        return base.select("doc_id", F.length("text").alias("n"))

    out = {r.doc_id: r.n for r in per_content(docs, compute).collect()}
    assert len(calls) == 1
    reps = {r.doc_id for r in calls[0].select("doc_id").collect()}
    assert reps == {1, 4}  # 2 and 3 collapse into 1; case variant 4 stays
    # members copy the representative's row (including its length!)
    assert out == {1: 5, 2: 5, 3: 5, 4: 5}


def test_per_content_skips_collapse_on_duplicate_free_input(spark):
    """Duplicate-light corpora skip the collapse machinery (the
    DUP_GATE_RATIO gate) — compute then sees every row, and the output
    is identical to the collapsed branch by construction."""
    from pyspark.sql import functions as F

    from biodata_pipeline_spark.operators.dedup import per_content

    docs = spark.createDataFrame(
        [(i, f"unique text {i}") for i in range(20)], ["doc_id", "text"]
    )
    calls = []

    def compute(base):
        calls.append(base)
        return base.select("doc_id", F.length("text").alias("n"))

    out = {r.doc_id: r.n for r in per_content(docs, compute).collect()}
    assert len(calls) == 1
    assert calls[0] is docs  # gate took the raw-frame branch
    assert out == {i: len(f"unique text {i}") for i in range(20)}


def test_simhash_kernel_propagates_null_text_as_null_fp(spark):
    """Null text must yield a null fingerprint (the HOF expression's
    null semantics), not crash the Arrow kernel."""
    from biodata_pipeline_spark.operators.dedup import simhash_fingerprints

    docs = spark.createDataFrame(
        [(1, "some words here"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    out = {r.id: r.fp for r in simhash_fingerprints(docs).collect()}
    assert out[2] is None
    assert out[1] is not None
    assert out[3] == 0  # empty text: no tokens, all votes negative


def test_cache_scope_releases_operator_internal_persists(spark):
    """Operator-internal persist()s registered inside a cache_scope are
    unpersisted on exit; outside a scope behavior is unchanged."""
    from pyspark.sql import functions as F

    from biodata_pipeline_spark.operators.caching import cache_scope
    from biodata_pipeline_spark.operators.dedup import per_content

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "c d")], ["doc_id", "text"]
    )

    def compute(base):
        return base.select("doc_id", F.length("text").alias("n"))

    with cache_scope() as tracked:
        per_content(docs, compute).collect()
        assert tracked, "collapse_identical should have registered its persist"
        assert any(df.storageLevel.useMemory for df in tracked)
    assert all(not df.storageLevel.useMemory for df in tracked)


def test_cross_split_leakage_flags_only_cross_split_near_dups(spark):
    """A train doc near-duplicating a held-out doc is flagged with its
    best match; near-dup pairs living in the SAME split are not. Split
    membership under the md5 predicate (salt 'split', fraction 0.1) for
    ids 0..99: {29, 33, 44, 48, 59, 75, 77, 80, 90, 97} are held out —
    computed with hashlib, pinned here so the planted docs land on the
    intended sides."""
    from biodata_pipeline_spark.operators.dedup import cross_split_leakage

    held_out = 29  # test side
    leaky_train = 2  # train side, near-dup of held_out
    train_pair_a, train_pair_b = 3, 5  # near-dups of each other, both train
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    other = "lambda mu nu xi omicron pi rho sigma tau upsilon " * 5
    docs = spark.createDataFrame(
        [
            (held_out, base),
            (leaky_train, base + " tiny suffix"),
            (train_pair_a, other),
            (train_pair_b, other + " different ending"),
            (7, "unrelated content entirely " + " ".join(f"w{i}" for i in range(60))),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.train_id: (r.test_id, r.jaccard)
        for r in cross_split_leakage(docs, threshold=0.3).collect()
    }
    assert set(got) == {leaky_train}, got
    test_id, j = got[leaky_train]
    assert test_id == held_out
    assert j == pytest.approx(
        python_jaccard(base, base + " tiny suffix"), abs=1e-9
    )


def test_scrub_frequent_lines_removes_boilerplate_keeps_order(spark):
    """Lines repeated across min_count+ docs are removed everywhere;
    unique lines survive in original order; a doc of pure boilerplate
    comes back empty rather than vanishing."""
    from biodata_pipeline_spark.operators.dedup import scrub_frequent_lines

    boiler = "subscribe to our newsletter for updates now ok"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} unique alpha words here for doc one x"),
            (2, f"{boiler} different beta content in doc two here y"),
            (3, f"{boiler} third gamma body text of doc three z"),
            (4, boiler),  # pure boilerplate
            (5, "entirely novel document with no repeated window lines"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in scrub_frequent_lines(docs, min_count=3, line_tokens=8).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1].n_removed == 1
    assert out[1].clean_text == "unique alpha words here for doc one x"
    assert out[4].n_removed == 1 and out[4].clean_text == ""
    assert out[5].n_removed == 0
    assert out[5].clean_text == "entirely novel document with no repeated window lines"


def test_cross_split_leakage_lsh_planted_leaks(spark):
    """The banded guard finds both leak species: an exact duplicate
    crossing the split (content-key branch, jaccard 1.0 — never through
    the quadratic bucket trap) and a near-duplicate above the banding
    knee (signature branch)."""
    import hashlib

    from biodata_pipeline_spark.operators.dedup import cross_split_leakage_lsh

    thr = "19999999" + "0" * 24

    def is_test(i):
        return hashlib.md5(f"split{i}".encode()).hexdigest() < thr

    ids = list(range(200))
    train = [i for i in ids if not is_test(i)]
    held = [i for i in ids if is_test(i)]
    assert len(held) >= 2
    t_dup1, t_dup2, t_near = train[0], train[1], train[2]
    h_dup = held[0]
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota omega"
    rows = []
    for i in ids:
        if i in (t_dup1, t_dup2, h_dup):
            rows.append((i, base))
        elif i == t_near:
            rows.append((i, near))
        else:
            rows.append((i, f"filler document number {i} with its own words {i}"))
    # contentless docs must never leak: NULL text on both sides (the
    # NULL content key must not form a fake dup cluster — r7 null-probe
    # find), plus an under-3-token doc duplicated across the split
    # (no shingles ⇒ the exact guard can't flag it; neither may we)
    rows[train[3]] = (train[3], None)
    rows[held[1]] = (held[1], None)
    rows[train[4]] = (train[4], "too short")
    if len(held) > 2:
        rows[held[2]] = (held[2], "too short")
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.train_id: (r.test_id, r.jaccard)
        for r in cross_split_leakage_lsh(df, 0.5, test_fraction=0.1).collect()
    }
    assert out[t_dup1] == (h_dup, 1.0)
    assert out[t_dup2] == (h_dup, 1.0)
    # near doc: 8 shingles each, only the last window differs -> 7/9
    got_test, got_jac = out[t_near]
    assert got_test == h_dup and got_jac == pytest.approx(7 / 9, abs=1e-6)
    assert set(out) == {t_dup1, t_dup2, t_near}


def test_cross_split_leakage_lsh_subset_of_exact(spark, sf_dir):
    """On the corpus fixture the banded guard's flags are a subset of
    the exact guard's (precision 1 — candidates are exact-verified),
    and every exact leak at/above the banding knee is found."""
    from biodata_pipeline_spark.operators.dedup import (
        cross_split_leakage,
        cross_split_leakage_lsh,
    )
    from biodata_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        r.train_id: r.jaccard
        for r in cross_split_leakage(docs, 0.5).collect()
    }
    lsh = {
        r.train_id: r.jaccard
        for r in cross_split_leakage_lsh(docs, 0.5).collect()
    }
    assert set(lsh) <= set(exact)
    for tid, jac in lsh.items():
        assert jac <= exact[tid] + 1e-9  # best-match can only improve
    # at/above the knee the banding collides with near-certainty
    missed_high = {t for t, j in exact.items() if j >= 0.7} - set(lsh)
    assert not missed_high


def test_scrub_gate_hash_branch_matches_broadcast(spark, sf_dir):
    """The count-gated scale branch (xxhash64 keys, no broadcast hint)
    produces row-identical output to the broadcast branch — the gate is
    a pure physical-plan decision (VERDICT r6 #2)."""
    from biodata_pipeline_spark.operators.dedup import scrub_frequent_lines
    from biodata_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    cols = ["doc_id", "n_lines", "n_removed", "clean_text"]
    broad = sorted(
        tuple(r) for r in scrub_frequent_lines(docs, min_count=3).select(*cols).collect()
    )
    hashed = sorted(
        tuple(r)
        for r in scrub_frequent_lines(
            docs, min_count=3, broadcast_max_lines=0
        ).select(*cols).collect()
    )
    assert broad == hashed
    assert any(r[2] > 0 for r in broad), "fixture should scrub something"


def test_scrub_frequent_lines_rejects_degenerate_min_count(spark):
    from biodata_pipeline_spark.operators.dedup import scrub_frequent_lines

    docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="min_count"):
        scrub_frequent_lines(docs, min_count=1)


def test_incremental_near_dup_filter_across_batches(spark, tmp_path):
    """Cross-batch gate: batch 1 enrolls; batch 2's exact dup, near dup,
    and internal dup pair are dropped with the right scopes while the
    genuinely new doc survives; re-offering the accepted docs drops
    everything against the index."""
    from biodata_pipeline_spark.operators.dedup import (
        incremental_near_dup_filter,
    )

    idx = str(tmp_path / "nd_index")
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota omega"
    b1 = spark.createDataFrame(
        [
            (1, base),
            (2, "a completely different first document body here now one"),
            (3, "yet another unrelated piece of training text entirely two"),
        ],
        ["doc_id", "text"],
    )
    kept1, rep1 = incremental_near_dup_filter(b1, idx, 0.5)
    assert sorted(r.doc_id for r in kept1.collect()) == [1, 2, 3]
    assert rep1.count() == 0

    b2 = spark.createDataFrame(
        [
            (10, base),              # exact dup of enrolled doc 1 (via rep 10? no: collapse within batch only -> vs index 1.0)
            (11, near),              # near dup of enrolled doc 1
            (12, "a brand new unique document that matches nothing else"),
            (13, "twin text shared inside this batch only here today yes"),
            (14, "twin text shared inside this batch only here today yes"),
            (15, "twin text shared inside this batch only here well today"),
        ],
        ["doc_id", "text"],
    )
    kept2, rep2 = incremental_near_dup_filter(b2, idx, 0.5)
    scopes = {r.id: (r.matched_id, r.scope) for r in rep2.collect()}
    kept_ids = sorted(r.doc_id for r in kept2.collect())
    assert kept_ids == [12, 13, 15] or kept_ids == [12, 13]
    # 10 is byte-identical to enrolled doc 1 -> index drop at jaccard 1.0
    assert scopes[10] == (1, "index")
    assert scopes[11][0] == 1 and scopes[11][1] == "index"
    # 14 is an exact dup of 13 within the batch
    assert scopes[14] == (13, "exact")
    if 15 in scopes:
        assert scopes[15] == (13, "batch")
    jacc = {r.id: r.jaccard for r in rep2.collect()}
    assert jacc[10] == 1.0

    # re-offer the batch-2 survivors under fresh ids: all index drops now
    b3 = spark.createDataFrame(
        [(20 + i, r.text) for i, r in enumerate(kept2.collect())],
        ["doc_id", "text"],
    )
    kept3, rep3 = incremental_near_dup_filter(b3, idx, 0.5)
    assert kept3.count() == 0
    assert {r.scope for r in rep3.collect()} == {"index"}


def test_incremental_near_dup_filter_batch_id_retry_idempotent(spark, tmp_path):
    """A retried batch (same batch_id) overwrites its own index
    partition instead of double-enrolling, and returns the same
    decision."""
    from biodata_pipeline_spark.operators.dedup import (
        incremental_near_dup_filter,
    )

    idx = str(tmp_path / "nd_idx2")
    b1 = spark.createDataFrame(
        [(1, "first document body with plenty of distinct words inside")],
        ["doc_id", "text"],
    )
    incremental_near_dup_filter(b1, idx, 0.5, batch_id="b1")
    b2 = spark.createDataFrame(
        [
            (2, "second document body sharing no words with the first"),
            (3, "second document body sharing no words with the first"),
        ],
        ["doc_id", "text"],
    )
    k_a, r_a = incremental_near_dup_filter(b2, idx, 0.5, batch_id="b2")
    n_bands_after = spark.read.parquet(f"{idx}/bands").count()
    # retry the SAME batch: decision unchanged vs the enrolled history...
    k_b, r_b = incremental_near_dup_filter(b2, idx, 0.5, batch_id="b2")
    # ...the retry returns the identical decision (self-pairs against its
    # own prior enrollment are excluded) and the STORE holds the same
    # rows — no second copy
    assert sorted(r.doc_id for r in k_b.collect()) == sorted(
        r.doc_id for r in k_a.collect()
    )
    assert {(r.id, r.scope) for r in r_b.collect()} == {
        (r.id, r.scope) for r in r_a.collect()
    }
    assert spark.read.parquet(f"{idx}/bands").count() == n_bands_after
    ids = sorted(
        r.id for r in spark.read.parquet(f"{idx}/bands").select("id").distinct().collect()
    )
    assert ids == [1, 2]
    assert sorted(r.doc_id for r in k_a.collect()) == [2]
    assert {(r.id, r.scope) for r in r_a.collect()} == {(3, "exact")}


def test_incremental_near_dup_filter_replay_transitive_chain(spark, tmp_path):
    """The crash-window replay case (ADVICE r8 medium): a batch with a
    transitive chain a~b, b~c, a≁c keeps exactly {a}. If the batch
    crashes AFTER enrolling {a} but before the caller's accepted write,
    the replay must re-derive the SAME decision — the index read
    excludes the batch's own partition, so b is still dropped at the
    BATCH stage (not the index stage) and c still pairs with b. Without
    the exclusion, b fell to the enrolled a at the index stage before
    batch pairing, leaving c matchless and wrongly admitted."""
    from biodata_pipeline_spark.operators.dedup import (
        incremental_near_dup_filter,
    )

    idx = str(tmp_path / "nd_idx3")
    P = " ".join(f"p{i}" for i in range(20))
    Q = " ".join(f"q{i}" for i in range(60))
    R = " ".join(f"r{i}" for i in range(60))
    S = " ".join(f"s{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, f"{P} {Q}"), (2, f"{Q} {R}"), (3, f"{R} {S}")],
        ["doc_id", "text"],
    )
    # r=1 banding (32 bands of one hash) so the moderate-jaccard chain
    # pairs are found deterministically; a≁c share zero shingles
    kw = dict(num_hashes=32, n_bands=32, batch_id="7")
    k1, r1 = incremental_near_dup_filter(docs, idx, 0.3, **kw)
    assert sorted(r.doc_id for r in k1.collect()) == [1]
    first = {r.id: (r.matched_id, r.scope) for r in r1.collect()}
    assert first[2] == (1, "batch") and first[3] == (2, "batch")

    # replay after the crash window: {1} is already enrolled under this
    # batch_id — the decision must not change
    k2, r2 = incremental_near_dup_filter(docs, idx, 0.3, **kw)
    assert sorted(r.doc_id for r in k2.collect()) == [1]
    assert {r.id: (r.matched_id, r.scope) for r in r2.collect()} == first
    enrolled = spark.read.parquet(f"{idx}/bands").select("id").distinct()
    assert [r.id for r in enrolled.collect()] == [1]


def test_incremental_near_dup_filter_id_col_named_id(spark, tmp_path):
    """id_col=\"id\" must not trip an ambiguous self-reference in the
    kept-docs anti-join (ADVICE r8 low)."""
    from biodata_pipeline_spark.operators.dedup import (
        incremental_near_dup_filter,
    )

    idx = str(tmp_path / "nd_idx4")
    docs = spark.createDataFrame(
        [
            (1, "one document body with plenty of distinct words inside"),
            (2, "one document body with plenty of distinct words inside"),
            (3, "a wholly different second text that matches nothing here"),
        ],
        ["id", "text"],
    )
    kept, rep = incremental_near_dup_filter(docs, idx, 0.5, id_col="id")
    assert sorted(r.id for r in kept.collect()) == [1, 3]
    assert {(r.id, r.matched_id, r.scope) for r in rep.collect()} == {
        (2, 1, "exact")
    }


def test_scrub_repeated_passages_positional_removal(spark):
    """The sliding-window property the line scrub lacks: the SAME
    boilerplate span is removed wherever it starts (any offset), the
    unique text around it survives, shorter-than-window docs pass
    through, and a doc of pure boilerplate comes back empty."""
    from biodata_pipeline_spark.operators.dedup import scrub_repeated_passages

    boiler = "please subscribe to our channel and newsletter today"
    docs = spark.createDataFrame(
        [
            (1, f"intro words one {boiler} outro text here"),
            (2, f"{boiler} and unrelated body two"),
            (3, f"different prefix stuff {boiler}"),
            (4, boiler),
            (5, "totally unique document with no repeats at all"),
            (6, "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in scrub_repeated_passages(docs, min_count=3, window=6).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5, 6}
    assert out[1].clean_text == "intro words one outro text here"
    assert out[2].clean_text == "and unrelated body two"
    assert out[3].clean_text == "different prefix stuff"
    assert (out[1].n_removed, out[2].n_removed, out[3].n_removed) == (8, 8, 8)
    assert out[4].clean_text == "" and out[4].n_removed == 8
    assert out[5].n_removed == 0 and out[6].n_removed == 0
    assert out[6].clean_text == "tiny doc"


def test_scrub_repeated_passages_gate_branch_parity(spark, sf_dir):
    """The count-gated hash branch produces row-identical output to the
    broadcast branch (same contract as the line scrub's gate)."""
    from biodata_pipeline_spark.operators.dedup import scrub_repeated_passages
    from biodata_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    cols = ["doc_id", "n_tokens", "n_removed", "clean_text"]
    a = sorted(
        tuple(r)
        for r in scrub_repeated_passages(docs, min_count=3).select(*cols).collect()
    )
    b = sorted(
        tuple(r)
        for r in scrub_repeated_passages(
            docs, min_count=3, broadcast_max_windows=0
        ).select(*cols).collect()
    )
    assert a == b
    assert any(r[2] > 0 for r in a), "fixture should scrub something"


def test_scrub_repeated_passages_collapse_parity(spark, monkeypatch):
    """On a duplicate-heavy corpus the collapse branch (positional work
    once per distinct content, multiplicity-weighted counts, results
    propagated to members) is row-identical to the plain branch."""
    import biodata_pipeline_spark.operators.dedup as D

    boiler = "please subscribe to our channel and newsletter today"
    base_rows = [
        (0, f"intro words one {boiler} outro text here"),
        (1, f"{boiler} and unrelated body two"),
        (2, "totally unique document with no repeats at all"),
    ]
    replicated = [
        (copy * 100 + i, t) for copy in range(4) for i, t in base_rows
    ]
    docs = spark.createDataFrame(replicated, ["doc_id", "text"])

    # min_count=5: the boilerplate spans 2 docs x 4 copies = 8 >= 5;
    # each doc's unique windows occur only 4 times (< 5) and survive
    collapse = sorted(
        tuple(r)
        for r in D.scrub_repeated_passages(docs, min_count=5, window=6).collect()
    )
    monkeypatch.setattr(D, "DUP_GATE_RATIO", -1.0)  # force the plain branch
    plain = sorted(
        tuple(r)
        for r in D.scrub_repeated_passages(docs, min_count=5, window=6).collect()
    )
    assert collapse == plain
    assert len(collapse) == len(replicated)
    by_id = {t[0]: t for t in collapse}
    for copy in range(4):
        assert by_id[copy * 100 + 0][3] == "intro words one outro text here"
        assert by_id[copy * 100 + 1][3] == "and unrelated body two"
        assert by_id[copy * 100 + 2][2] == 0  # unique doc untouched


_BOILER = "please subscribe to our channel and newsletter today"
_BASE_TEXTS = [
    f"intro words one {_BOILER} outro text here",
    f"{_BOILER} and unrelated body two",
    "totally unique document with no repeats at all",
    "Alpha Beta Gamma delta epsilon zeta eta theta",
]


@pytest.fixture(scope="module")
def duplicate_heavy(spark, tmp_path_factory):
    """``(docs, sf_dir)``: exact copies, a whitespace-run variant, a case
    variant, null texts and shorter-than-window docs, also written as the
    ``documents`` table of ``sf_dir`` for the registry queries."""
    rows = [
        (copy * 100 + i, t) for copy in range(3) for i, t in enumerate(_BASE_TEXTS)
    ]
    rows += [
        (400, f"  intro words one  {_BOILER}   outro text here "),
        (401, _BASE_TEXTS[3].upper()),
        (402, None),
        (403, None),
        (404, "tiny doc"),
        (405, "tiny doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sf_dir = str(tmp_path_factory.mktemp("duplicate_heavy"))
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    return docs, sf_dir


def _scrub(spark, docs, sf_dir):
    from biodata_pipeline_spark.operators.dedup import scrub_repeated_passages

    # the boilerplate occurs 7 times, each doc's own windows at most 4
    return scrub_repeated_passages(docs, min_count=5, window=6)


def _passages(spark, docs, sf_dir):
    from biodata_pipeline_spark.operators.dedup import duplicated_passages

    return duplicated_passages(docs, window=5)


def _tfidf(spark, docs, sf_dir):
    from biodata_pipeline_spark.registry.textops import q_tfidf_top_terms

    return q_tfidf_top_terms(spark, sf_dir)


def _logprob(spark, docs, sf_dir):
    from biodata_pipeline_spark.registry.textops import q_unigram_logprob

    return q_unigram_logprob(spark, sf_dir)


def _classifier(spark, docs, sf_dir):
    from biodata_pipeline_spark.operators.classifier import hashed_linear_score

    return hashed_linear_score(docs)


@pytest.mark.parametrize(
    "consumer", [_scrub, _passages, _tfidf, _logprob, _classifier],
    ids=lambda f: f.__name__.strip("_"),
)
def test_collapse_consumers_branch_parity(
    spark, monkeypatch, duplicate_heavy, consumer
):
    """Every collapse-then-count consumer returns the same rows whether
    the duplication gate forces the collapse (corpus counts weighted by
    copy count, results copied from representatives to members) or
    forces the skip (compute over every row). The test SFs never take
    the collapse branch on their own, so this is the check that pins it."""
    from collections import Counter

    import biodata_pipeline_spark.operators.dedup as D

    docs, sf_dir = duplicate_heavy
    out = {}
    for ratio in (2.0, -1.0):  # 2.0 forces the collapse, -1.0 the skip
        monkeypatch.setattr(D, "DUP_GATE_RATIO", ratio)
        frame = consumer(spark, docs, sf_dir)
        assert not any(c.startswith("__") for c in frame.columns)
        out[ratio] = Counter(tuple(r) for r in frame.collect())
    assert out[2.0] == out[-1.0]
    assert sum(out[2.0].values()) > 0


def test_signature_store_remove_unblocks_and_compact_folds(spark, tmp_path):
    """Deletion path (r11): a tombstoned doc stops blocking near-dup
    admission immediately; compact physically drops its bands/shingles
    and clears the tombstones; re-admitting after the compact works."""
    from biodata_pipeline_spark.operators.dedup import SignatureStore

    store = SignatureStore(str(tmp_path / "sigdel"))
    base = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "an entirely different document about spark plans here"),
        ],
        ["doc_id", "text"],
    )
    assert store.admit(base, threshold=0.5, batch_id="0").count() == 0

    near = spark.createDataFrame(
        [(3, "the quick brown fox jumps over the lazy dog today!")],
        ["doc_id", "text"],
    )
    # blocked while doc 1 is history
    assert store.admit(near, threshold=0.5, batch_id="1").count() == 1

    # remove doc 1 AND doc 3 (its state was appended by the admit above):
    # a re-admitted twin must now come back clean
    assert store.remove(spark, [1, 3]) == 2
    again = spark.createDataFrame(
        [(5, "the quick brown fox jumps over the lazy dog today!")],
        ["doc_id", "text"],
    )
    assert store.admit(again, threshold=0.5, batch_id="2").count() == 0

    # compact folds the drops and clears tombstones; decisions unchanged
    stats = store.compact(spark, n_buckets=4)
    assert stats["tombstones_folded"] == 2
    import os

    assert not os.path.exists(f"{store.path}/tombstones")
    ids_left = {
        r.id
        for r in spark.table(
            __import__(
                "json"
            ).load(open(f"{store.path}/_meta_v{stats['version']}.json"))[
                "shingles_table"
            ]
        ).select("id").collect()
    }
    assert ids_left == {2, 5}

    # doc 1 can re-enroll post-compact and blocks its twin again
    store.admit(
        spark.createDataFrame(
            [(11, "the quick brown fox jumps over the lazy dog today")],
            ["doc_id", "text"],
        ),
        threshold=0.5,
        batch_id="3",
    )
    twin = spark.createDataFrame(
        [(12, "the quick brown fox jumps over the lazy dog today?")],
        ["doc_id", "text"],
    )
    assert store.admit(twin, threshold=0.5, batch_id="4").count() >= 1


class TestXXH64Kernel:
    """r12: the banding stage's Arrow XXH64 kernel must be bit-identical
    to the JVM expressions it replaces above MINHASH_KERNEL_THRESHOLD —
    the precondition for removing the interpreted HOF fold (the stage
    behind the 28x JIT-bimodality outlier at the 1M-doc rung) without
    changing one emitted row."""

    # adversarial longs: zero, +-1, extremes, sign boundaries
    VALS = [0, 1, -1, 42, 2**62, -(2**62), 2**63 - 1, -(2**63),
            123456789123456789, -987654321987654321]

    def test_xxh64_long_int_parity_with_jvm(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from biodata_pipeline_spark.functions import xxh64

        df = spark.createDataFrame([(v,) for v in self.VALS], "h long")
        arr = np.array(self.VALS, dtype=np.int64)
        for i in (0, 1, 7, 31):
            jvm = [r[0] for r in df.select(F.expr(f"xxhash64(h, {i})")).collect()]
            with np.errstate(over="ignore"):
                got = list(xxh64.xxhash64_long_int(arr, i).view(np.int64))
            assert got == jvm, f"lane {i}"

    def test_xxh64_band_chain_parity_with_jvm(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        from biodata_pipeline_spark.functions import xxh64

        rows = list(zip(self.VALS, reversed(self.VALS), self.VALS[1:] + [7]))
        df = spark.createDataFrame(rows, "a long, b long, c long")
        cols = [np.array([r[i] for r in rows], dtype=np.int64) for i in range(3)]
        for band in (0, 3, 7):
            jvm = [
                r[0]
                for r in df.select(F.expr(f"xxhash64({band}, a, b, c)")).collect()
            ]
            with np.errstate(over="ignore"):
                got = list(
                    xxh64.xxhash64_int_then_longs(band, cols).view(np.int64)
                )
            assert got == jvm, f"band {band}"

    def test_band_rows_kernel_parity_on_real_docs(self, spark, sf_dir):
        """Exact (id, band, bucket) row-set equality, kernel vs JVM, on
        the sf documents corpus — signatures, minima, and band hashes
        all bit-equal or this fails."""
        from biodata_pipeline_spark.operators.dedup import (
            _minhash_band_rows_kernel,
            minhash_band_rows,
            shingle_hash_table,
        )
        from biodata_pipeline_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents").limit(300)
        base = shingle_hash_table(docs, "doc_id", "text", 3).persist()
        jvm = minhash_band_rows(base, 32, 8, n_rows=1)  # force JVM path
        kern = _minhash_band_rows_kernel(base, 32, 8)
        jvm_rows = sorted((r.id, r.band, r.bucket) for r in jvm.collect())
        kern_rows = sorted((r.id, r.band, r.bucket) for r in kern.collect())
        base.unpersist()
        assert len(jvm_rows) == 300 * 8
        assert jvm_rows == kern_rows

    def test_band_rows_kernel_carries_extra_cols(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from biodata_pipeline_spark.operators.dedup import (
            _minhash_band_rows_kernel,
            minhash_band_rows,
            shingle_hash_table,
        )
        from biodata_pipeline_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents").limit(100)
        base = shingle_hash_table(docs, "doc_id", "text", 3).withColumn(
            "flag", F.col("id") % 2 == 0
        ).persist()
        jvm = minhash_band_rows(base, 16, 4, extra_cols=("flag",), n_rows=1)
        kern = _minhash_band_rows_kernel(base, 16, 4, extra_cols=("flag",))
        assert sorted(
            (r.id, r.flag, r.band, r.bucket) for r in jvm.collect()
        ) == sorted((r.id, r.flag, r.band, r.bucket) for r in kern.collect())
        base.unpersist()

    def test_lsh_pairs_identical_across_the_kernel_gate(self, spark, monkeypatch):
        """End-to-end: minhash_lsh_dup_pairs emits the identical pair set
        with the gate forced to the kernel path."""
        import biodata_pipeline_spark.operators.dedup as dd

        docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
        want = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_lsh_dup_pairs(docs, 0.5).collect()
        )
        monkeypatch.setattr(dd, "MINHASH_KERNEL_THRESHOLD", 0)
        got = sorted(
            (r.id_a, r.id_b, r.jaccard)
            for r in dd.minhash_lsh_dup_pairs(docs, 0.5).collect()
        )
        assert got == want and len(want) >= 2
