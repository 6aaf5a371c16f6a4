"""Round-4 operators: A-ES weighted sampling, passage-duplication audit,
hashing-trick classifier scoring."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from biodata_pipeline_spark.operators.classifier import hashed_linear_score
from biodata_pipeline_spark.operators.dedup import duplicated_passages
from biodata_pipeline_spark.operators.sampling import (
    hash_uniform,
    weighted_sample,
)


def test_hash_uniform_is_deterministic_and_in_unit_interval(spark):
    df = spark.range(200).select(hash_uniform("id").alias("u"))
    rows = [r.u for r in df.collect()]
    again = [r.u for r in spark.range(200).select(hash_uniform("id").alias("u")).collect()]
    assert rows == again
    assert all(0.0 < u <= 1.0 for u in rows)
    # draws should actually spread over the interval
    assert max(rows) > 0.9 and min(rows) < 0.1


def test_weighted_sample_returns_k_rows_and_is_stable(spark):
    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 7 + 1).alias("w")
    )
    s1 = weighted_sample(df, 50, "id", "w").select("id").collect()
    s2 = weighted_sample(df, 50, "id", "w").select("id").collect()
    assert s1 == s2
    assert len(s1) == 50


def test_weighted_sample_prefers_heavy_rows(spark):
    # half the rows carry 50× the weight: the sample must skew heavy.
    # With weights 50 vs 1 the expected heavy share is ~98%; 60 of 100
    # leaves ~12σ of slack, so this is deterministic-in-practice.
    df = spark.range(2000).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.lit(50.0)).otherwise(F.lit(1.0)).alias("w"),
    )
    sample = weighted_sample(df, 100, "id", "w").collect()
    heavy = sum(1 for r in sample if r.id % 2 == 0)
    assert heavy > 60


def test_weighted_sample_is_a_takeordered_not_a_full_sort(spark):
    df = spark.range(100).select(F.col("id"), F.lit(1.0).alias("w"))
    plan = (
        weighted_sample(df, 5, "id", "w")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_duplicated_passages_finds_shared_window(spark):
    shared = "alpha beta gamma delta epsilon"
    docs = _docs(
        spark,
        [
            (1, f"intro words here {shared} trailing tail one"),
            (2, f"{shared} completely different ending structure here"),
            (3, "no overlap with anything else at all whatsoever"),
        ],
    )
    out = {r.doc_id: r for r in duplicated_passages(docs, window=5).collect()}
    assert out[1].n_dup_windows == 1 and out[2].n_dup_windows == 1
    assert out[3].n_dup_windows == 0
    assert out[3].dup_frac == 0.0
    assert out[1].n_windows == 7  # 11 tokens → 7 distinct 5-token windows


def test_duplicated_passages_short_docs_have_no_windows(spark):
    docs = _docs(spark, [(1, "only four tokens here"), (2, "a b c d e")])
    out = {r.doc_id: r for r in duplicated_passages(docs, window=5).collect()}
    assert 1 not in out  # < window tokens → no window rows
    assert out[2].n_windows == 1 and out[2].n_dup_windows == 0


def test_hashed_linear_score_covers_every_doc_and_bounds(spark):
    docs = _docs(
        spark,
        [(1, "some ordinary words in a document"), (2, ""), (3, "more text")],
    )
    out = {r.doc_id: r for r in hashed_linear_score(docs).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2].n_tokens == 0 and out[2].score == 0.5 and out[2].keep == 1
    assert all(0.0 < r.score < 1.0 for r in out.values())
    assert all(r.keep == int(r.score >= 0.5) for r in out.values())


def test_hashed_linear_score_matches_local_recompute(spark):
    """The distributed score must equal a driver-side recompute of the
    same hashing scheme (exact dyadic accumulation ⇒ no tolerance)."""
    import hashlib

    text = "the quick brown fox jumps over the lazy dog"
    docs = _docs(spark, [(1, text)])
    out = hashed_linear_score(docs).collect()[0]

    def u32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    ws = []
    for word in text.split():
        bucket = u32(f"feat:{word}") % 512
        ws.append(u32(f"w:{bucket}") / 2**32 - 0.5)
    logit = 8.0 * sum(ws) / len(ws)
    expected = round(1.0 / (1.0 + math.exp(-logit)), 6)
    assert out.score == expected


def test_profile_counts_nulls_and_distincts(spark):
    from biodata_pipeline_spark.operators.profile import profile

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "b")], ["id", "s"]
    )
    out = {r.column: r for r in profile(df, ["id", "s"]).collect()}
    assert out["id"].n_rows == 4 and out["id"].n_nulls == 0
    assert out["id"].n_distinct == 4
    assert out["s"].n_nulls == 1 and out["s"].n_distinct == 2
    assert out["s"].min_val == "a" and out["s"].max_val == "b"
    assert out["id"].min_val == "1" and out["id"].max_val == "4"


def test_profile_approx_mode_stays_close(spark):
    from biodata_pipeline_spark.operators.profile import profile

    df = spark.range(1000).withColumnRenamed("id", "k")
    exact = profile(df, ["k"]).collect()[0]
    approx = profile(df, ["k"], exact=False).collect()[0]
    assert exact.n_distinct == 1000
    assert abs(approx.n_distinct - 1000) < 100


def test_duplicated_passages_exact_copies_are_all_dup(spark):
    """Exact duplicates collapse before shingling, but multiplicity must
    still count toward document frequency: copies are all-dup, and a
    window shared only between the copies still counts as duplicated."""
    text = "alpha beta gamma delta epsilon zeta"
    docs = _docs(spark, [(1, text), (2, text), (3, "totally different words here now")])
    out = {r.doc_id: r for r in duplicated_passages(docs, window=5).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].n_windows == 2 and out[1].dup_frac == 1.0
    assert out[2].n_windows == 2 and out[2].dup_frac == 1.0  # member copies rep
    assert out[3].n_dup_windows == 0


def test_duplicated_passages_case_variants_do_not_collapse(spark):
    """Case-variant docs are NOT exact passage duplicates: their window
    strings differ, so neither doc's windows may count as duplicated."""
    docs = _docs(
        spark,
        [(1, "Alpha Beta Gamma Delta Epsilon"), (2, "alpha beta gamma delta epsilon")],
    )
    out = {r.doc_id: r for r in duplicated_passages(docs, window=5).collect()}
    assert out[1].n_dup_windows == 0 and out[2].n_dup_windows == 0


def test_hashed_linear_score_collapse_matches_direct(spark, monkeypatch):
    """Content memoization must be invisible in the output: identical
    rows with and without duplicate collapsing, including exact copies
    and whitespace variants (same tokens), but not case variants."""
    import biodata_pipeline_spark.operators.dedup as D

    docs = _docs(
        spark,
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamma"),       # exact copy of 1
            (3, "alpha  beta   gamma"),    # whitespace variant of 1
            (4, "Alpha Beta Gamma"),       # case variant: different buckets
            (5, ""),
        ],
    )
    monkeypatch.setattr(D, "DUP_GATE_RATIO", -1.0)  # force the skip branch
    direct = sorted(hashed_linear_score(docs).collect())
    monkeypatch.setattr(D, "DUP_GATE_RATIO", 2.0)  # force the collapse
    collapsed = sorted(hashed_linear_score(docs).collect())
    assert direct == collapsed
    rows = {r.doc_id: r for r in collapsed}
    assert rows[1].score == rows[2].score == rows[3].score
    assert rows[4].score != rows[1].score


def test_weighted_sample_per_group_draws_k_per_stratum(spark):
    from biodata_pipeline_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    df = spark.range(300).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") % 5 + 1).alias("w"),
    )
    out = weighted_sample_per_group(df, 7, "grp", "id", "w").collect()
    per = {}
    for r in out:
        per.setdefault(r.grp, []).append(r.id)
    assert set(per) == {"0", "1", "2"}
    assert all(len(v) == 7 for v in per.values())
    # no global ordering: the plan is a grouped window, not a TakeOrdered
    plan = (
        weighted_sample_per_group(df, 7, "grp", "id", "w")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" not in plan and "Window" in plan


def test_weighted_sample_respects_fractional_weights(spark):
    """Weights in (0, 1] must behave proportionally — the A-ES key
    divides by the TRUE weight (a clamp to >= 1 would make weight 0.01
    and weight 1.0 rows equally likely). A 100x weight gap on fractional
    weights must dominate the draw."""
    from biodata_pipeline_spark.operators.sampling import weighted_sample

    rows = [(i, 0.5 if i < 50 else 0.005) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, w double")
    sample = weighted_sample(df, 40, "id", "w").collect()
    heavy = sum(1 for r in sample if r.id < 50)
    # 50 rows carry 100x the weight of the other 950: they must take the
    # overwhelming majority of a 40-row draw (deterministic given the salt)
    assert heavy >= 30


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from biodata_pipeline_spark.operators.sampling import (
        weighted_sample,
        weighted_sample_per_group,
    )

    df = spark.createDataFrame(
        [(1, 5.0, "g"), (2, 0.0, "g"), (3, -1.0, "g"), (4, 2.0, "g")],
        "id long, w double, grp string",
    )
    ids = {r.id for r in weighted_sample(df, 10, "id", "w").collect()}
    assert ids == {1, 4}
    ids = {
        r.id
        for r in weighted_sample_per_group(df, 10, "grp", "id", "w").collect()
    }
    assert ids == {1, 4}


def test_quality_percentile_gate_keeps_top_fraction(spark):
    from biodata_pipeline_spark.operators.classifier import (
        quality_percentile_gate,
    )

    rows = [(i, "en" if i < 40 else "fr", round(1.0 - i * 0.01, 6)) for i in range(60)]
    scored = spark.createDataFrame(rows, "doc_id long, lang string, score double")
    got = quality_percentile_gate(scored).collect()
    by_lang = {}
    for r in got:
        by_lang.setdefault(r.lang, []).append(r)
    # ceil(0.3*40)=12 en, ceil(0.3*20)=6 fr
    assert len(by_lang["en"]) == 12 and len(by_lang["fr"]) == 6
    # kept docs are exactly the highest-scoring per lang (scores strictly
    # decreasing with doc_id here)
    assert sorted(r.doc_id for r in by_lang["en"]) == list(range(12))
    assert sorted(r.doc_id for r in by_lang["fr"]) == list(range(40, 46))
    assert all(r.qrank <= 12 for r in by_lang["en"])


def test_quality_percentile_gate_tie_break_is_id(spark):
    scored = spark.createDataFrame(
        [(i, "en", 0.5) for i in range(10)], "doc_id long, lang string, score double"
    )
    from biodata_pipeline_spark.operators.classifier import (
        quality_percentile_gate,
    )

    got = sorted(r.doc_id for r in quality_percentile_gate(scored).collect())
    assert got == [0, 1, 2]  # ceil(3) lowest ids win the all-tied bucket


# --- md5_top_n: the bounded-merge deterministic sample rule (round 14) ----


def test_md5_top_n_identical_to_direct_rule_both_paths(spark):
    """The threshold path must return EXACTLY the rows of
    orderBy(md5(key), key).limit(n) — the fast path is exact, not
    approximate (the superset provably contains the true top-n)."""
    from biodata_pipeline_spark.operators.sampling import md5_top_n

    df = spark.range(3000).select(
        F.col("id"), (F.col("id") % 13).alias("payload")
    )
    want = [
        (r.id, r.payload)
        for r in df.orderBy(
            F.md5(F.col("id").cast("string")), F.col("id")
        )
        .limit(100)
        .collect()
    ]
    direct = md5_top_n(df, 100, "id")  # 3000 rows: under the gate
    assert [(r.id, r.payload) for r in direct.collect()] == want
    fast = md5_top_n(df, 100, "id", direct_rows=0)  # force threshold path
    assert [(r.id, r.payload) for r in fast.collect()] == want


def test_md5_top_n_huge_n_returns_every_row_in_order(spark):
    """An ``n`` far above the row count ("sample everything") returns
    every row in ``(md5(key), key)`` order. The direct path limits by
    the rows present: a limit of n sizes the take-ordered buffer by n,
    and at 10**9 that exhausted the heap and took the JVM down."""
    from biodata_pipeline_spark.operators.sampling import md5_top_n

    df = spark.range(20).select(F.col("id"), (F.col("id") * 7).alias("v"))
    want = [
        (r.id, r.v)
        for r in df.orderBy(F.md5(F.col("id").cast("string")), "id").collect()
    ]
    got = md5_top_n(df, 10**9, "id").collect()
    assert [(r.id, r.v) for r in got] == want


def test_md5_top_n_edges(spark):
    import pytest as _pytest

    from biodata_pipeline_spark.operators.sampling import md5_top_n

    df = spark.range(40).select(F.col("id"))
    # n >= total: every row, still deterministic
    assert md5_top_n(df, 100, "id").count() == 40
    assert md5_top_n(df, 100, "id", direct_rows=0).count() == 40
    # NULL keys are excluded on both paths (md5(NULL) never sorts)
    withnull = df.select(
        F.when(F.col("id") < 5, None).otherwise(F.col("id")).alias("id")
    )
    got = md5_top_n(withnull, 100, "id").collect()
    assert len(got) == 35 and all(r.id is not None for r in got)
    with _pytest.raises(ValueError, match="positive"):
        md5_top_n(df, 0, "id")
