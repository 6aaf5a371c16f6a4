"""As-of join (nearest earlier match) — an operator Spark lacks natively.

Reference analog: each training epoch resumes from the *latest previous*
checkpoint (train_adapters/create_all_models.py:52-58) — a temporal
"most recent prior row" lookup.

Implementation is the union-and-carry trick, not a cross/range join:
tag left and right rows, union them, and per key carry the last right
payload forward with an ordered window (``last(..., ignorenulls=True)``).
One shuffle on (key) — the same cost as a regular equi-join — versus the
naive range-join's quadratic blowup. This is the standard scalable as-of
pattern (cf. pandas merge_asof semantics; Flink temporal joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_payload: tuple[str, ...] | None = None,
    allow_exact_matches: bool = True,
    suffix: str = "_right",
) -> DataFrame:
    """For each left row, attach the most recent right row with the same
    key(s) whose timestamp is ≤ (or < when not ``allow_exact_matches``)
    the left timestamp. Left rows with no prior right row keep NULLs.

    Ties inside the right side (same key, same ts) are broken by taking the
    row that sorts last on its payload struct — deterministic.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if right_payload is None:
        right_payload = tuple(
            c for c in right.columns if c not in keys and c != right_ts
        )
    payload_struct = F.struct(
        F.col(right_ts).alias("__rts"), *[F.col(c) for c in right_payload]
    )

    l_tag = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"),
        F.lit(None).cast(
            right.select(payload_struct.alias("p"))
            .schema["p"]
            .dataType.simpleString()
        ).alias("__rrow"),
    )
    r_tag = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(l_tag.schema["__lrow"].dataType.simpleString()).alias("__lrow"),
        payload_struct.alias("__rrow"),
    )
    # Order inside equal timestamps: with exact matches allowed the right row
    # must sort BEFORE the left row (so the left sees it); otherwise after.
    tagged = l_tag.unionByName(r_tag)
    tie = F.col("__is_left").asc() if allow_exact_matches else F.col("__is_left").desc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), tie, F.col("__rrow").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # NULL-key contract (null probe, round 6): a window PARTITION BY
    # groups NULL keys into one partition, so null-key left rows would
    # silently "match" null-key right rows — but this operator has JOIN
    # semantics, where NULL equals nothing (DuckDB's ASOF JOIN, pandas
    # merge_asof, and every SQL equi-join agree). Mask the carry for
    # null-key rows; they keep the no-match NULL payload.
    null_key = F.lit(False)
    for k in keys:
        null_key = null_key | F.col(k).isNull()
    rrow_type = r_tag.schema["__rrow"].dataType.simpleString()
    carried = tagged.withColumn(
        "__carry",
        F.when(null_key, F.lit(None).cast(rrow_type)).otherwise(
            F.last("__rrow", ignorenulls=True).over(w)
        ),
    ).filter(F.col("__is_left") == 1)

    out_cols = [F.col(f"__lrow.{c}").alias(c) for c in left.columns]
    out_cols.append(F.col("__carry.__rts").alias(f"{right_ts}{suffix}"))
    out_cols += [F.col(f"__carry.{c}").alias(f"{c}{suffix}" if c in left.columns else c)
                 for c in right_payload]
    return carried.select(*out_cols)
