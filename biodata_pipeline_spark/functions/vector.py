"""Vector math over ``array<float>`` columns — UDF-free.

The reference attaches a dense embedding to each chunk and ranks by cosine
similarity (rag_evaluation/RAG-eval-test_model.py:83,130,247-248). Here the
dot product / norm / cosine are built from ``zip_with`` + ``aggregate`` so
they stay JVM-side inside whole-stage codegen — no Python boundary, no
Arrow transfer, and Catalyst can pipeline them with the surrounding joins.
Elements are upcast to double before multiplying so accumulation error is
float64, matching any SQL oracle that computes in DOUBLE.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SIM_ROUND = 9  # ranking precision: collapses float64 ulp noise into ties


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two equal-length array<numeric> columns (as double)."""
    return F.aggregate(
        F.zip_with(
            _col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str) -> Column:
    """Euclidean norm of an array<numeric> column."""
    return F.sqrt(dot(a, a))


def cosine_sim(
    a: Column | str, b: Column | str, na: Column | str, nb: Column | str
) -> Column:
    """The engine's one exact cosine: ``round(dot(a, b) / (na * nb),
    SIM_ROUND)``. ``na``/``nb`` are the caller's norms (a precomputed
    column or an inline ``l2_norm``), so each side's norm is built where
    the plan wants it. The DuckDB oracle's ``_DOT`` SQL and
    ``vector_kernels.exact`` fold in this order, so every engine path
    returns the same bits; an exact ranking never writes it inline."""
    return F.round(dot(a, b) / (_col(na) * _col(nb)), SIM_ROUND)


def embedding_defect(col: Column | str, dim: int) -> Column:
    """Classify a vector into its ingest-gate defect class — the check a
    pipeline runs BEFORE similarity/clustering ever see the column:

      'null'         missing vector (failed encode)
      'wrong_dim'    length != dim (model/schema drift mid-corpus)
      'null_element' any NULL element (partial encode / bad Arrow batch)
      'non_finite'   any NaN/Inf element (overflow upstream)
      'zero_norm'    all-zero vector (cosine undefined: 0/0)
      'ok'           usable geometry

    First matching class wins, in that order (a NULL has no length; a
    truncated vector's elements aren't inspected). The explicit
    ``null_element`` branch matters for cross-engine checkability:
    without it, Spark's ``exists``/``aggregate`` go three-valued on a
    NULL element (every ``when`` is skipped → 'ok') while DuckDB's
    ``list_filter``/``list_sum`` IGNORE NULL elements (→ possibly
    'zero_norm') — a silent divergence in the one function whose job is
    an oracle-checkable census. Pure Column logic — evaluates in
    codegen, and the CASE order is reproducible in ANSI SQL."""
    e = _col(col)
    inf = float("inf")
    return (
        F.when(e.isNull(), F.lit("null"))
        .when(F.size(e) != dim, F.lit("wrong_dim"))
        .when(F.exists(e, lambda x: x.isNull()), F.lit("null_element"))
        .when(
            F.exists(e, lambda x: F.isnan(x) | (F.abs(x) == F.lit(inf))),
            F.lit("non_finite"),
        )
        .when(
            F.aggregate(
                e, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
            )
            == 0.0,
            F.lit("zero_norm"),
        )
        .otherwise(F.lit("ok"))
    )
