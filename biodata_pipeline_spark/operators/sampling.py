"""Deterministic sampling: reproducible subsets without rand().

The reference samples with ``random.sample``
(data_generation/generate_narratives_from_data.py:39-40) — unreproducible
across runs and engines, which SURVEY §2.3 therefore marked rows-only.
Hash-based sampling beats that: a row is kept iff ``md5(salt‖key)``
compares below a threshold encoding the fraction. Properties a training
pipeline needs and rand() lacks:

 - deterministic: same key ⇒ same decision, on any engine, any run —
   so the sample IS oracle-checkable (md5 is identical everywhere);
 - stable under reprocessing: adding rows never flips old decisions
   (consistent train/test splits across corpus versions);
 - disjoint splits for free: non-overlapping hash ranges;
 - distributed: a pure map predicate, pushed to the scan, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HEX_DIGITS = 8  # fraction resolution: 1/16^8 ≈ 2.3e-10


def hash_threshold(fraction: float) -> str:
    """32-hex-char threshold: md5 digests lexicographically below it make
    up ``fraction`` of the (uniform) digest space."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    scaled = int(fraction * (16**_HEX_DIGITS))
    if scaled >= 16**_HEX_DIGITS:
        return "f" * 32  # fraction == 1.0: everything compares <= max digest
    return format(scaled, f"0{_HEX_DIGITS}x") + "0" * (32 - _HEX_DIGITS)


def sample_predicate(key, fraction: float, salt: str = "") -> Column:
    """Keep-this-row predicate (pure map work; no shuffle, no state)."""
    key = F.col(key) if isinstance(key, str) else key
    digest = F.md5(F.concat(F.lit(salt), key.cast("string")))
    return digest < F.lit(hash_threshold(fraction))


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Deterministic ``fraction`` sample keyed on ``key_col``. Different
    ``salt`` values draw independent samples from the same keys."""
    return df.filter(sample_predicate(key_col, fraction, salt))


def hash_uniform(key, salt: str = "") -> Column:
    """Deterministic uniform draw in (0, 1]: the first 8 hex digits of
    ``md5(salt‖key)`` as an integer, shifted to exclude 0 (``ln`` of the
    draw must be finite). The value is a dyadic rational (k+1)/2^32 —
    exactly representable in float64 on every engine, so downstream
    arithmetic starts from bit-identical inputs."""
    key = F.col(key) if isinstance(key, str) else key
    raw = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8),
        16,
        10,
    ).cast("double")
    return (raw + F.lit(1.0)) / F.lit(float(1 << 32))


def weighted_sample_key(key, weight, salt: str = "") -> Column:
    """Efraimidis–Spirakis (A-ES) weighted-sampling key: taking the k
    rows with the LARGEST ``ln(u)/w`` (u uniform per row, w the row's
    weight) draws a weighted sample without replacement — the standard
    one-pass distributed formulation (each partition computes keys
    map-side; the global top-k is a TakeOrdered, never a full sort).

    PRECONDITION: ``weight > 0``. The key divides by the TRUE weight —
    fractional weights behave proportionally (an earlier clamp to ≥ 1
    silently flattened all weights in (0, 1] to 1, breaking the
    "probability ∝ weight" contract). Rows with w ≤ 0 get a null key
    (0/negative weight has no place in the A-ES order); ``weighted_sample``
    / ``weighted_sample_per_group`` exclude them up front.

    ``ln`` of identical doubles is libm-consistent across engines (the
    q_tfidf precedent) and u is an exact dyadic rational, so keys are
    reproducible; they are still rounded (12 dp — keys sit in
    [-22/w_min, 0], far coarser than the rounding) so any residual ulp
    collapses into ties broken by the caller's id column."""
    w = F.col(weight) if isinstance(weight, str) else weight
    w = w.cast("double")
    u = hash_uniform(key, salt)
    return F.when(w > 0, F.round(F.log(u) / w, 12))


def weighted_sample(
    df: DataFrame,
    k: int,
    key_col: str,
    weight_col: str,
    salt: str = "aes",
) -> DataFrame:
    """Top-``k`` weighted sample without replacement (A-ES). Rows are
    kept with probability proportional to ``weight_col`` (exactly: the
    sequential weighted draw), deterministically in ``key_col``. Rows
    with non-positive weight are excluded — they have zero selection
    probability under the A-ES model."""
    w = F.col(weight_col).cast("double")
    keyed = df.filter(w > 0).withColumn(
        "__sk", weighted_sample_key(key_col, weight_col, salt)
    )
    return keyed.orderBy(F.desc("__sk"), F.asc(key_col)).limit(k)


def weighted_sample_per_group(
    df: DataFrame,
    k: int,
    group_col: str,
    key_col: str,
    weight_col: str,
    salt: str = "aes",
) -> DataFrame:
    """Top-``k`` A-ES weighted sample WITHIN each group — the
    per-stratum draw mixture builders run (k docs per source/language,
    probability ∝ weight). Same map-side keys as ``weighted_sample``
    (non-positive weights excluded, true-weight divide); the rank is a
    window over (group, key DESC), so the shuffle partitions by group
    and each partition heap-sorts only its own stratum — no global
    ordering exists anywhere in the plan."""
    from pyspark.sql import Window

    w_col = F.col(weight_col).cast("double")
    keyed = df.filter(w_col > 0).withColumn(
        "__sk", weighted_sample_key(key_col, weight_col, salt)
    )
    w = Window.partitionBy(group_col).orderBy(
        F.desc("__sk"), F.asc(key_col)
    )
    return (
        keyed.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
        .drop("__rank")
    )


def train_test_split(
    df: DataFrame, key_col: str, test_fraction: float = 0.1, salt: str = "split"
) -> tuple[DataFrame, DataFrame]:
    """Disjoint, exhaustive (train, test) split by hash range — every row
    lands in exactly one side, stably across runs and corpus versions."""
    pred = sample_predicate(key_col, test_fraction, salt)
    return df.filter(~pred), df.filter(pred)


def approx_stratum_buckets(
    df: DataFrame,
    strat_col: str,
    value_col: str,
    n_buckets: int = 4,
    accuracy: int = 10_000,
) -> DataFrame:
    """Assign each row a ``bucket`` (1..n_buckets, descending by value —
    ntile orientation) within its stratum using approx-quantile boundaries
    instead of a per-stratum sort.

    This is the corpus-scale path behind ``q_stratified_split``'s exact
    ntile: ``percentile_approx`` is a map-side mergeable sketch, so the
    only shuffle carries one sketch per stratum — the rows themselves
    never shuffle and no stratum is sorted. The trade: bucket populations
    are approximately (not exactly) balanced, so the exact ntile stays the
    oracle-checked surface and this is the documented swap once strata
    stop fitting a sort (the boundary table stays |strata|×n_buckets —
    always broadcastable).
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = df.groupBy(strat_col).agg(
        F.percentile_approx(
            F.col(value_col), F.array(*[F.lit(p) for p in fracs]), accuracy
        ).alias("__bounds")
    )
    with_bounds = df.join(F.broadcast(bounds), strat_col)
    # value > bounds[k] for all upper cuts → bucket 1 (largest values),
    # mirroring ntile over (value DESC): bucket = n - #cuts strictly below
    n_below = F.size(
        F.filter(F.col("__bounds"), lambda b: F.col(value_col) > b)
    )
    return with_bounds.withColumn(
        "bucket", (F.lit(n_buckets) - n_below).cast("int")
    ).drop("__bounds")


VTIME_SCALE = 10**12  # virtual-time resolution (integer-exact in BIGINT)


def interleave_schedule(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int,
    salt: str = "interleave",
) -> DataFrame:
    """First ``k`` positions of the deterministic sqrt-temperature
    training schedule: each group (source/domain) emits its docs in
    shuffle-hash order at rate ∝ √(group size), interleaved by virtual
    time — the streaming realization of the √-weighted mixture that
    ``q_mixture_allocation`` only *rates* (multinomial temperature
    sampling with α = 0.5, made reproducible).

    The r-th doc of a group of n is emitted at virtual time r/√n;
    comparing r₁/√n₁ < r₂/√n₂ ⟺ r₁²·n₂ < r₂²·n₁, so the sort key is the
    integer ``r² · VTIME_SCALE div n`` — EXACT integer division on both
    engines (Spark ``div`` ≡ DuckDB ``//``; no float pow, no double
    rounding: r²·VTIME_SCALE exceeds double's 53-bit exact range long
    before it exceeds BIGINT's). Since the schedule's first k positions
    can use at most k docs of any group, ranks are filtered to ≤ k
    BEFORE the key is built: the per-group window is scale-safe
    (partitioned by group), the survivor set is ≤ k·|groups| rows, and
    the final sort is tiny. r ≤ k keeps r²·VTIME_SCALE < 2⁶³ for any
    k ≤ 3 000 (grow k by shrinking VTIME_SCALE in step).

    Output: position (1..k), group, rank_in_group, vtime, key column.
    """
    from biodata_pipeline_spark.operators.sharding import shuffle_hash

    if k <= 0:
        raise ValueError("k must be positive")
    if k > 3000:
        raise ValueError("k > 3000 overflows the BIGINT vtime key")
    key = F.col(key_col)
    w_rank = Window.partitionBy(group_col).orderBy(
        shuffle_hash(key_col, salt), key
    )
    w_size = Window.partitionBy(group_col)
    ranked = (
        df.select(key_col, group_col)
        .withColumn("rank_in_group", F.row_number().over(w_rank))
        .withColumn("__n", F.count("*").over(w_size))
        .filter(F.col("rank_in_group") <= k)
    )
    vtime = F.expr(
        f"CAST(rank_in_group AS BIGINT) * rank_in_group * {VTIME_SCALE}"
        " div __n"
    ).cast("long")
    # asc_nulls_first EXPLICITLY (null probe, round 6): a NULL group
    # (missing source tag) is a legal stratum, and the two engines
    # default its sort position differently (Spark NULLS FIRST, SQL
    # NULLS LAST) — pin Spark's default so the tie-break is one thing
    group_order = F.col(group_col).asc_nulls_first()
    sched = (
        ranked.withColumn("vtime", vtime)
        .orderBy("vtime", group_order, "rank_in_group")
        .limit(k)
    )
    # single-partition WindowExec is BENIGN here: the frame is the
    # post-limit schedule — at most k rows by construction — so the
    # "No Partition Defined" warning never sees an unbounded input
    # (plan-audit note, VERDICT r7 #6)
    w_pos = Window.orderBy("vtime", group_order, "rank_in_group")
    return sched.withColumn(
        "position", F.row_number().over(w_pos)
    ).select("position", key_col, group_col, "rank_in_group", "vtime")


# The bounded-merge gate for md5_top_n: at or below this many corpus
# rows the plain orderBy().limit() path runs — its TakeOrdered merge is
# n × P rows, harmless at this size — and above it the threshold path
# keeps the merge bounded by ~1.25·n candidates regardless of corpus
# size or partition count (measured at the 1M rung in SCALING.md r14).
MD5_TOPN_DIRECT_ROWS = 131_072


def md5_top_n(
    df: DataFrame,
    n: int,
    key: str,
    direct_rows: int = MD5_TOPN_DIRECT_ROWS,
) -> DataFrame:
    """The ``n`` rows smallest by ``(md5(key), key)`` — the engine-wide
    deterministic training-sample rule (``seed_centroids`` /
    ``VectorIndexStore.build`` / ``pq_fit``) — selected WITHOUT an
    unbounded driver merge (VERDICT r13 #4).

    ``orderBy(md5, key).limit(n)`` plans as TakeOrderedAndProject:
    every partition ships its own top-n to the DRIVER, an n × P row
    merge — ~1.8 GB at the 1M-row / 100k-sample rung (SCALING.md
    r13:2099) and n × 1000 partitions on a real cluster, where it is
    the attach-path bottleneck for every trained representation.
    Above ``direct_rows`` total rows this takes the threshold path
    instead:

      1. count the corpus (the key column alone — column-pruned scan);
      2. one ``approxQuantile`` ladder over the numeric 13-hex-char
         md5 prefix (52 bits: exact in a double) at fractions
         1.25·n/total, ×4, ×16, ..., 1.0;
      3. one conditional agg verifies the cheapest ladder threshold t
         with ``count(prefix <= t) >= n``;
      4. filter to that threshold — a distributed superset of ~1.25·n
         rows — and run the ORIGINAL sort-limit on it: the TakeOrdered
         merge now sees only bounded candidates.

    The output is IDENTICAL to the direct rule for ANY verified
    threshold, not approximately so: with ≥ n rows at prefix ≤ t,
    every row above t is lexicographically after all of them (md5 is
    fixed-width hex, so prefix order bounds full-digest order), hence
    after the true top-n — the superset provably contains the exact
    answer, and the final sort applies the exact rule. approxQuantile's
    estimation error therefore never touches WHAT is returned, only
    how much slack the superset carries; the ladder's 1.0 rung makes
    termination unconditional. Rows with a NULL key are excluded (md5
    of NULL is NULL — such rows never sort into a deterministic
    sample; the callers' id contracts exclude them anyway)."""
    if n <= 0:
        raise ValueError(f"md5_top_n: n must be positive, got {n}")
    key_c = F.col(key)
    mk = F.md5(key_c.cast("string"))
    base = df.filter(key_c.isNotNull())
    total = base.count()
    if total <= max(n, direct_rows):
        # limit by the rows present, not by n: the take-ordered buffer
        # is sized by the limit, so an n far above the corpus (a
        # "sample everything" 10**9) exhausts the heap for no row
        return base.orderBy(mk, key_c).limit(min(n, total))
    keyed = base.withColumn(
        "__mk_num",
        F.conv(F.substring(mk, 1, 13), 16, 10).cast("double"),
    )
    fracs = []
    f = min(1.0, 1.25 * n / total)
    while True:
        fracs.append(f)
        if f >= 1.0:
            break
        f = min(1.0, f * 4)
    ladder = keyed.approxQuantile("__mk_num", fracs, 0.001)
    counts = keyed.agg(
        *[
            F.sum((F.col("__mk_num") <= F.lit(t)).cast("long")).alias(
                f"c{i}"
            )
            for i, t in enumerate(ladder)
        ]
    ).collect()[0]
    t_ok = next(
        ladder[i] for i in range(len(ladder)) if (counts[f"c{i}"] or 0) >= n
    )
    return (
        keyed.filter(F.col("__mk_num") <= F.lit(t_ok))
        .drop("__mk_num")
        .orderBy(mk, key_c)
        .limit(n)
    )
