"""Text column functions: prompt templates, validity gates, text analysis.

All pure Column expressions (JVM-side, codegen'd). The template strings
reproduce the reference byte-for-byte where tests assert fidelity:
 - narrative prompt: data_generation/generate_narratives_from_data.py:29-37
 - Alpaca format (incl. the odd ``Response :`` spacing):
   train_adapters/RAG-eval-create_model.py:55-67
 - '###' suffix validity gate + strip:
   generate_narratives_from_data.py:55-61,69
 - word-boundary containment: rag_evaluation/RAG-eval-test_model.py:131,136

The analysis helpers (token count, quality score, language guess,
fingerprint) are the training-data-pipeline extensions: deterministic,
UDF-free, so they run at 100 TB as pure map work with no shuffle.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

NARRATIVE_INSTRUCTION = (
    "Write a narrative that describes the following genome data. "
    "Only use the information provided in the data. "
)

ALPACA_INSTRUCTION = "Learn this biology information. "


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# --- templates -------------------------------------------------------------


def narrative_prompt(record_json: Column | str) -> Column:
    """Fixed instruction + the record serialized as JSON (stage-A prompt)."""
    return F.concat(F.lit(NARRATIVE_INSTRUCTION), F.lit("\n"), _c(record_json))


def alpaca_format(line: Column | str, instruction: str = ALPACA_INSTRUCTION) -> Column:
    """Self-supervised Alpaca template: the input line echoed as response."""
    line = _c(line)
    return F.concat(
        F.lit("### Instruction: \n"),
        F.lit(instruction),
        F.lit("\n### Input: \n"),
        line,
        F.lit("### Response :\n"),
        line,
    )


# --- validity gates ---------------------------------------------------------


def has_suffix_marker(col: Column | str, marker: str = "###", window: int = 10) -> Column:
    """True when ``marker`` appears within the last ``window`` characters.

    Written as substr(greatest(1, len-window+1)) so the semantics are
    identical in Spark and ANSI SQL (negative-position substr differs
    between engines).
    """
    col = _c(col)
    tail = F.substr(col, F.greatest(F.lit(1), F.length(col) - F.lit(window - 1)))
    return tail.contains(marker)


def strip_suffix_marker(col: Column | str, marker_re: str = r"###\s*$") -> Column:
    """Remove the trailing response marker."""
    return F.regexp_replace(_c(col), marker_re, "")


# --- matching ---------------------------------------------------------------


def boundary_pattern(term: str) -> str:
    """Word-boundary containment regex for a literal term (re.escape'd),
    exactly the reference's ``(?:^|\\W)term(?:$|\\W)`` semantics but written
    with capturing groups so the same pattern runs on Spark (Java regex)
    and RE2-based engines."""
    return r"(^|\W)" + re.escape(term) + r"($|\W)"


def boundary_match(col: Column | str, term: str) -> Column:
    """True when ``term`` occurs as a whole word in ``col``."""
    return _c(col).rlike(boundary_pattern(term))


# --- text analysis (training-data-pipeline extensions) ----------------------

STOPWORDS = ("the", "a", "of", "and", "to", "in")

# Deterministic marker-word tables for the language-guess heuristic.
LANG_MARKERS = {
    "en": ("the", "a", "and", "of"),
    "es": ("el", "la", "los", "que"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "les", "et"),
    "zh": (),  # CJK presence is tested by codepoint range instead
}
CJK_RANGE = "[一-鿿]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization; empty text → empty array."""
    col = _c(col)
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


# GPT-2-style pre-tokenizer split: contractions, letter runs, digit runs,
# punctuation runs (each optionally preceded by one space). Restricted to
# constructs shared by Java regex (Spark) and RE2 (DuckDB): unicode
# classes, non-capturing groups, no lookaround.
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_token_count(col: Column | str) -> Column:
    """Approximate LLM token count: number of BPE pre-tokenization pieces
    (each piece maps to ≥1 BPE token, so this lower-bounds and tracks the
    true count). Pure regexp — JVM-side, no tokenizer dependency."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(BPE_SPLIT_RE), F.lit(0)))


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    toks = tokens(col)
    stops = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return stops / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(col: Column | str) -> Column:
    col = _c(col)
    stripped = F.regexp_replace(col, r"[^\w\s]", "")
    return (F.length(col) - F.length(stripped)) / F.greatest(F.length(col), F.lit(1))


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length, stopword presence, low
    punctuation. Mirrors the usual LLM-corpus quality filters (C4-style)."""
    col = _c(col)
    length_component = F.least(F.length(col) / F.lit(400.0), F.lit(1.0))
    stop_component = F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
    punct_component = F.lit(1.0) - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    return (length_component + stop_component + punct_component) / 3.0


def lang_guess(col: Column | str) -> Column:
    """Deterministic language guess: CJK codepoints → zh; otherwise the
    language whose marker words score highest (ties → alphabetical)."""
    col = _c(col)
    toks = tokens(col)

    def marker_filter(marks):
        # single-arg lambda factory: a default-arg lambda would make PySpark
        # treat the second parameter as the element index
        return lambda t: t.isin(*marks)

    scores = []
    for lang in ("de", "en", "es", "fr"):
        s = F.size(F.filter(toks, marker_filter(LANG_MARKERS[lang])))
        scores.append((lang, s))
    best = F.lit("en")
    best_score = F.lit(-1)
    # fold right-to-left keeping strict > so earlier (alphabetical) wins ties
    for lang, s in reversed(scores):
        pick = s >= best_score
        best = F.when(pick, F.lit(lang)).otherwise(best)
        best_score = F.when(pick, s).otherwise(best_score)
    # null-in → null-out, explicitly (null probe, round 6): without the
    # guard the NULL marker scores fall through every >= comparison and
    # the two engines disagree on which arbitrary label survives the
    # fold (Spark kept the init 'en', SQL's CASE fell to its ELSE 'fr')
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(col.rlike(CJK_RANGE), F.lit("zh")).otherwise(best)
    )


def fingerprint(col: Column | str, length: int = 16) -> Column:
    """Deterministic document fingerprint: md5 of the whitespace-normalized,
    lower-cased text, truncated. md5 is identical across engines so the
    fingerprint is oracle-checkable."""
    norm = F.regexp_replace(F.lower(F.trim(_c(col))), r"\s+", " ")
    return F.substring(F.md5(norm), 1, length)


def winnow_fingerprints(col: Column | str, k: int = 8, w: int = 4) -> Column:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
    the MOSS algorithm): hash every character ``k``-gram, slide a window
    of ``w`` consecutive hashes, keep each window's minimum; the distinct
    minima are a position-robust fingerprint set that any sufficiently
    long shared substring (≥ k + w − 1 chars) is guaranteed to hit.

    Pure per-row array HOFs — zero shuffle; the k-gram hash is an md5
    prefix so the set is oracle-checkable (xxhash64 is the drop-in at
    scale). Documents shorter than k + w − 1 get an empty set. The
    k-gram hash array is let-bound so the md5 pass runs once per row,
    not once per window."""
    c = _c(col)
    grams = F.when(
        F.length(c) < k + w - 1, F.array().cast("array<bigint>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(c) - k + 1),
            lambda i: F.conv(
                F.substring(F.md5(c.substr(i, F.lit(k))), 1, 8), 16, 10
            ).cast("bigint"),
        )
    )
    return _let(grams, lambda gh: _window_minima(gh, w))


def _window_minima(gh: Column, w: int) -> Column:
    """Distinct sorted minima of every ``w``-wide window over a hash
    array — the winnowing selection step, shared by the md5 and
    polynomial gram-hash variants."""
    return F.when(
        F.size(gh) < w, F.array().cast("array<bigint>")
    ).otherwise(
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(gh) - w + 1),
                    lambda j: F.array_min(F.slice(gh, j, w)),
                )
            )
        )
    )


POLY_MOD = 2147483647  # 2^31 - 1: keeps every Horner step < 2^36 (ANSI-safe)
POLY_BASE = 31


def winnow_fingerprints_poly(col: Column | str, k: int = 8, w: int = 4) -> Column:
    """``winnow_fingerprints`` with a polynomial (Horner) codepoint hash
    in place of the md5 prefix: ``h = fold(h*31 + codepoint) mod 2^31-1``
    over the gram's ``k`` characters. Same winnowing selection, ~an
    order of magnitude cheaper per gram than md5+hex+conv, and still
    engine-portable — Spark's ``ascii()`` and DuckDB's ``ord()`` agree
    on full codepoints (astral chars included, probed r9), so the oracle
    mirrors it with an unrolled ``ord(substr(...))`` Horner chain.

    This is the JVM-expression reference for the Arrow kernel
    (operators/fingerprint.py: winnow_fingerprint_rows), which computes
    the identical integers vectorized; parity is pytest-pinned. All
    arithmetic is exact int64 — no float, no overflow under ANSI mode
    (max intermediate (2^31-2)*31 + 0x10FFFF < 2^36)."""
    c = _c(col)

    def gram_hash(i):
        h = F.lit(0).cast("bigint")
        for j in range(k):
            h = (h * POLY_BASE + F.ascii(c.substr(i + j, F.lit(1)))) % POLY_MOD
        return h

    grams = F.when(
        F.length(c) < k + w - 1, F.array().cast("array<bigint>")
    ).otherwise(
        F.transform(F.sequence(F.lit(1), F.length(c) - k + 1), gram_hash)
    )
    return _let(grams, lambda gh: _window_minima(gh, w))


def _let(bound: Column, f) -> Column:
    """Evaluate ``bound`` once per row and pass it to ``f`` as a lambda
    variable. Spark has no let-expression, and every textual reference to
    a Column subtree is re-evaluated at runtime — inside nested HOF
    lambdas that turns O(n) expressions into O(n·d) re-parses (measured
    46 s → 0.4 s on q_repetition_stats at sf0.01). Routing the value
    through a single-element transform materializes it exactly once."""
    return F.get(F.transform(F.array(bound), f), 0)


def bigram_array(col: Column | str) -> Column:
    """Adjacent-token bigrams as an array<string>; <2 tokens → empty.

    Per-row expression (no explode/shuffle): repetition metrics over
    bounded-length documents stay map-side at any corpus size."""
    return _let(
        tokens(col),
        lambda t: F.when(
            F.size(t) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - F.lit(2)),
                lambda i: F.concat_ws(" ", F.get(t, i), F.get(t, i + F.lit(1))),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def dup_bigram_fraction(bg: Column) -> Column:
    """Gopher-style repetition signal: fraction of bigram occurrences that
    repeat an earlier occurrence (1 - distinct/total); empty → 0."""
    return _let(
        bg,
        lambda b: F.round(
            F.when(
                F.size(b) > 0,
                F.lit(1.0) - F.size(F.array_distinct(b)) / F.size(b).cast("double"),
            ).otherwise(F.lit(0.0)),
            4,
        ),
    )


def top_bigram_fraction(bg: Column) -> Column:
    """Fraction of bigram occurrences taken by the single most frequent
    bigram (Gopher "top n-gram" filter).

    Computed as the longest run in the SORTED bigram array with a single
    aggregate fold — O(n log n) per row instead of the O(distinct × total)
    filter-per-distinct formulation (measured 105 s → 68 s over 500k docs
    at the 100× replica; see repetition_struct for the single-pass form). The count is an integer, so any correct
    algorithm matches the oracle's filter-count formulation exactly."""
    return _let(
        F.array_sort(bg),
        lambda s: F.round(
            F.when(
                F.size(s) > 0,
                F.aggregate(
                    s,
                    F.struct(
                        F.lit(None).cast("string").alias("prev"),
                        F.lit(0).alias("run"),
                        F.lit(0).alias("best"),
                    ),
                    lambda acc, x: F.struct(
                        x.alias("prev"),
                        F.when(x == acc["prev"], acc["run"] + 1)
                        .otherwise(F.lit(1))
                        .alias("run"),
                        F.greatest(
                            acc["best"],
                            F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                                F.lit(1)
                            ),
                        ).alias("best"),
                    ),
                    lambda acc: acc["best"],
                )
                / F.size(s).cast("double"),
            ).otherwise(F.lit(0.0)),
            4,
        ),
    )


# PII patterns restricted to Java-regex ∩ RE2 constructs (no lookaround)
# so Spark and the DuckDB oracle scrub identically.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+\d-\d{3}-\d{4}"


def pii_count(col: Column | str) -> Column:
    """Number of PII spans (pre-scrub audit metric). One alternation pass
    at half the regex cost of counting per pattern; a span that matches
    both shapes (a phone-shaped email local part) counts once — the span
    is one redaction."""
    c = _c(col)
    return F.regexp_count(c, F.lit(f"{EMAIL_RE}|{PHONE_RE}")).cast("int")


def scrub_pii(col: Column | str) -> Column:
    """Redact emails then phone numbers with typed placeholders — the
    pre-training corpus hygiene pass. Pure regexp_replace chain: JVM-side,
    zero shuffle, scales linearly with corpus bytes."""
    c = _c(col)
    return F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )


def repetition_struct(col: Column | str) -> Column:
    """All three repetition metrics from ONE pass: a single fold over the
    sorted bigram array carries (total, n_runs, best_run). Meant to be
    emitted via ``F.inline(F.array(...))`` so the whole chain — tokenize,
    bigram build, sort, fold — runs exactly once per row; emitting the
    three metrics as separate select columns re-evaluates it per column
    (CollapseProject inlines projection aliases). Measured 105 s → 44 s
    over 500k docs at the 100× replica vs the per-column formulation."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit(0).alias("nd"),
    )

    def step(acc, x):
        is_run = x == acc["prev"]
        run = F.when(is_run, acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
            (acc["nd"] + F.when(is_run, 0).otherwise(1)).alias("nd"),
        )

    def metrics(s):
        n = F.size(s)
        agg = F.aggregate(s, zero, step)
        nd = F.lit(1.0) - agg["nd"] / n.cast("double")
        top = agg["best"] / n.cast("double")
        return F.when(
            n > 0,
            F.struct(
                n.alias("n_bigrams"),
                F.round(nd, 4).alias("dup_bigram_frac"),
                F.round(top, 4).alias("top_bigram_frac"),
            ),
        ).otherwise(
            F.struct(
                F.lit(0).alias("n_bigrams"),
                F.lit(0.0).alias("dup_bigram_frac"),
                F.lit(0.0).alias("top_bigram_frac"),
            )
        )

    return _let(F.array_sort(bigram_array(col)), metrics)
