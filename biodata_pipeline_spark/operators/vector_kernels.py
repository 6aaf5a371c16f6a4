"""The engine's Arrow vector kernels: one fold, one scorer per vector
representation, one encoder map, one query collect.

Bit-parity policy — the contract every kernel here keeps with the JVM
higher-order-function (HOF) fold of ``functions.vector.dot`` and with
the DuckDB oracle:

 - **ascending-dimension float64 fold.** Every dot product, squared
   norm and squared distance accumulates ``acc += a_i * b_i`` for
   i = 0..d-1 from ``0.0``: the same IEEE-754 operation sequence the
   ``zip_with`` + ``aggregate`` fold evaluates, so each partial sum is
   bit-identical. Never ``np.dot``/``np.linalg`` (blocked, reordered
   sums). Cosines divide by the product of the two norms, multiplied
   first, as the JVM expression does.
 - **rounding stays JVM-side.** Kernels emit raw float64; the caller
   rounds with ``F.round`` (half-up), never numpy (half-even).
 - **one defective-row predicate.** ``scorable`` keeps the rows the HOF
   fold can score: a non-null vector of the query dimension with no
   null element. The HOF fold returns NULL for exactly the rows it
   drops, so the HOF paths drop NULL scores and both paths agree on
   defective input. NaN/inf elements are scored on both paths (the
   same IEEE ops give the same NaN, which crosses Arrow as NaN, not
   NULL — see ``_column``). A zero-norm vector has no
   cosine: the HOF fold raises ANSI ``DIVIDE_BY_ZERO`` while a kernel
   yields NaN, so callers gate those with ``embedding_defect``.

Kernel closures carry this module to the Python workers by value (the
``register_pickle_by_value`` call at the end), so a worker needs no
import path to the package; the module holds no driver state.
"""

from __future__ import annotations

import sys
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

# Driver-collect bound for a kernel's query set: the queries ride in the
# kernel closure, so an unbounded collect would be the one scale-killer
# pattern this engine bans.
MAX_QUERY_ROWS = 10_000


# -- Arrow plumbing ------------------------------------------------------------
def arrow_map(df: DataFrame, fn, out_schema) -> DataFrame:
    """``mapInPandas`` of ``fn(pdf) -> pdf`` over non-empty batches (an
    empty batch yields nothing, so ``fn`` never builds typed empty
    frames)."""

    def kern(batches):
        for pdf in batches:
            if len(pdf):
                yield fn(pdf)

    return df.mapInPandas(kern, out_schema)


def matrix(col: pd.Series) -> np.ndarray:
    """A batch's array column as an (n, d) float64 matrix (null
    elements read as NaN)."""
    return np.array(col.tolist(), dtype=np.float64)


def ints(col: pd.Series) -> np.ndarray:
    """A batch's code column as an (n, w) int64 matrix."""
    return np.array(col.tolist(), dtype=np.int64)


# -- the defective-row predicates --------------------------------------------
def defective(emb) -> F.Column:
    """Any null / NaN / infinite element — the geometry defect the
    encoders code as NULL and the quantizer fits exclude."""
    return F.exists(
        emb,
        lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
    )


def scorable(df: DataFrame, emb_col: str, dim: int) -> DataFrame:
    """Rows a fold can score against ``dim``-long queries: non-null,
    ``dim`` elements, no null element (see the module policy)."""
    e = F.col(emb_col)
    return df.filter(
        e.isNotNull() & (F.size(e) == dim) & ~F.exists(e, lambda x: x.isNull())
    )


# -- the fold, in its two shapes -----------------------------------------------
def fold_rows(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-aligned ``sum_i a[r, i] * b[r, i]`` -> (n,)."""
    acc = np.zeros(a.shape[0])
    for i in range(a.shape[1]):
        acc += a[:, i] * b[:, i]
    return acc


def fold_cross(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Every pair ``sum_i a[r, i] * b[c, i]`` -> (len(a), len(b))."""
    acc = np.zeros((a.shape[0], b.shape[0]))
    for i in range(a.shape[1]):
        acc += a[:, i][:, None] * b[:, i][None, :]
    return acc


def sqdist_cross(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Every pair ``sum_i (a[r, i] - b[c, i])^2`` -> (len(a), len(b))."""
    acc = np.zeros((a.shape[0], b.shape[0]))
    for i in range(a.shape[1]):
        d = a[:, i][:, None] - b[:, i][None, :]
        acc += d * d
    return acc


def norms(m: np.ndarray) -> np.ndarray:
    return np.sqrt(fold_rows(m, m))


def cosine(num, qn, cn, cross: bool = False) -> np.ndarray:
    """``num / (qn * cn)``: the norms multiply first, as in the JVM."""
    return num / (np.outer(qn, cn) if cross else qn * cn)


# -- queries -------------------------------------------------------------------
class Queries(NamedTuple):
    rows: list  # collected Rows: query id, extras, embedding
    mat: np.ndarray  # (nq, dim) float64
    norms: np.ndarray  # (nq,)


def collect_queries(
    queries: DataFrame,
    query_id: str,
    query_emb: str,
    extra: tuple[str, ...] = (),
    distinct: bool = False,
    max_rows: int = MAX_QUERY_ROWS,
    who: str = "kernel path",
) -> Queries:
    """Collect the scorable queries (non-null, no null element) for a
    cross-shaped kernel, bounded by ``max_rows``. ``distinct`` keeps one
    row per ``query_id``. All queries must share one dimension."""
    e = F.col(query_emb)
    q = queries.filter(e.isNotNull() & ~F.exists(e, lambda x: x.isNull()))
    q = q.select(query_id, *extra, query_emb)
    if distinct:
        q = q.dropDuplicates([query_id])
    rows = q.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"{who}: query set has more than {max_rows} rows, over the "
            f"driver-collect bound of {max_rows}. The kernel ships the "
            "query embeddings from the driver; split the query set or "
            "score with the HOF path instead."
        )
    dims = sorted({len(r[query_emb]) for r in rows})
    if len(dims) > 1:
        raise ValueError(f"{who}: queries mix dimensions {dims}")
    mat = np.array(
        [r[query_emb] for r in rows], dtype=np.float64
    ).reshape(len(rows), dims[0] if dims else 0)
    return Queries(rows, mat, norms(mat))


# -- score streams ---------------------------------------------------------------
def _column(a: np.ndarray):
    """A flat output column. A float score goes out as a masked Float64
    array: Arrow reads a plain float column's NaN as NULL, and a NaN
    score must stay NaN, as the HOF fold's does."""
    a = np.ravel(a)
    if a.dtype != np.float64:
        return a
    return pd.arrays.FloatingArray(a, np.zeros(len(a), dtype=bool))


def score_rows(
    cand: DataFrame, query_id: str, id_col: str, cols: list[str], fn,
    out: StructField | None = None,
) -> DataFrame:
    """``(query_id, id_col, out)`` for candidate rows that each carry
    their own query: ``fn(pdf) -> (n,)`` scores of one batch (``out``
    defaults to a ``__raw`` double)."""
    out = out or StructField("__raw", DoubleType())
    fields = {f.name: f for f in cand.schema.fields}
    schema = StructType([fields[query_id], fields[id_col], out])
    return arrow_map(
        cand.select(query_id, id_col, *cols),
        lambda pdf: pd.DataFrame(
            {
                query_id: pdf[query_id],
                id_col: pdf[id_col],
                out.name: _column(fn(pdf)),
            }
        ),
        schema,
    )


def score_cross(
    stored: DataFrame, id_col: str, key: StructField, keys, fn, out=None
) -> DataFrame:
    """One flat row per (collected query, stored row): ``(key, id_col,
    *out)``. ``fn(pdf)`` returns ``{name: (len(keys), n) array}`` for
    every ``out`` field (default: one ``__raw`` double); ``keys[q]``
    labels query ``q``. Every column is scalar, so the batch stays on
    Arrow's vectorized path."""
    out = out or [StructField("__raw", DoubleType())]
    keys = np.asarray(keys)
    schema = StructType([key, stored.schema[id_col], *out])

    def emit(pdf):
        n = len(pdf)
        cols = fn(pdf)
        return pd.DataFrame(
            {
                key.name: np.repeat(keys, n),
                id_col: np.tile(pdf[id_col].to_numpy(), len(keys)),
                **{f.name: _column(cols[f.name]) for f in out},
            }
        )

    if not len(keys):
        return stored.sparkSession.createDataFrame([], schema)
    return arrow_map(stored, emit, schema)


def rounded(df: DataFrame, query_id: str, id_col: str, sim: str, digits: int):
    """The JVM-side rounding of a ``__raw`` score stream."""
    return df.select(
        query_id, id_col, F.round(F.col("__raw"), digits).alias(sim)
    )


# -- one scorer per representation -----------------------------------------------
def exact(q, qn, emb, cross: bool = False) -> np.ndarray:
    """Cosine of the queries against full float vectors."""
    fold = fold_cross if cross else fold_rows
    return cosine(fold(q, emb), qn, norms(emb), cross)


def sq8_bounds(bounds: dict) -> tuple[np.ndarray, np.ndarray]:
    """(vmin, range) float64 arrays; range is the same float64
    subtraction the declarative encoder and the oracle perform."""
    mn = np.array(bounds["vmin"], dtype=np.float64)
    return mn, np.array(bounds["vmax"], dtype=np.float64) - mn


def sq8(q, qn, codes, mn, rg, cross: bool = False) -> np.ndarray:
    """SQ8: the midpoint reconstruction ``mn + (c + 1/2) * rg / 256``
    (``sq_decode``'s float64 ops in its order), then its exact cosine."""
    return exact(q, qn, mn + (codes + 0.5) * rg / 256.0, cross)


def sq8_encode(mat: np.ndarray, mn, rg) -> np.ndarray:
    """``clamp(floor((x - mn) * 256 / rg), 0, 255)``; a degenerate
    dimension (``rg == 0``) codes 0."""
    nz = rg != 0.0
    codes = np.zeros(mat.shape, dtype=np.int64)
    with np.errstate(invalid="ignore"):
        scaled = np.floor((mat - mn) * 256.0 / np.where(nz, rg, 1.0))
    codes[:, nz] = np.clip(scaled[:, nz], 0, 255).astype(np.int64)
    return codes


class PQ:
    """Product-quantization ADC scorer, plain or residual: the cosine of
    the exact query against the codeword reconstruction (plus
    ``cents[cell]`` when residual), in the subspace-grouped fold — each
    subspace's partial dot in ascending dimension, the partials added in
    subspace order; residual numerators start at the full q·centroid
    dot, denominators at ||centroid||², then the 2·centroid·row terms,
    then the row norms. Query-independent tables are built once here;
    a table lookup equals the fold it stores bit for bit."""

    def __init__(self, books, cents=None):
        self.C = np.array(books, dtype=np.float64)  # (m, k_sub, sd)
        m, _, sd = self.C.shape
        self.sub = [slice(j * sd, (j + 1) * sd) for j in range(m)]
        self.rn2 = np.stack([fold_rows(self.C[j], self.C[j]) for j in range(m)])
        self.cents = None if cents is None else np.array(cents, dtype=np.float64)
        if self.cents is not None:
            self.cn = fold_rows(self.cents, self.cents)
            self.xc = np.stack(
                [fold_cross(self.cents[:, s], self.C[j]) for j, s in enumerate(self.sub)],
                axis=1,
            )  # (k_cells, m, k_sub)

    def den2(self, codes, cells=None) -> np.ndarray:
        d = np.zeros(len(codes)) if self.cents is None else self.cn[cells]
        if self.cents is not None:
            for j in range(len(self.sub)):
                d = d + 2.0 * self.xc[cells, j, codes[:, j]]
        for j in range(len(self.sub)):
            d = d + self.rn2[j, codes[:, j]]
        return d

    def luts(self, q):
        """Per-query tables of the cross shape: the subspace partials of
        every codeword, and the centroid dots when residual."""
        lut = [fold_cross(q[:, s], self.C[j]) for j, s in enumerate(self.sub)]
        qc = None if self.cents is None else fold_cross(q, self.cents)
        return lut, qc

    def rows(self, q, qn, codes, cells=None) -> np.ndarray:
        """Row-aligned: candidate r scored against its own query q[r]."""
        num = (
            np.zeros(len(codes))
            if self.cents is None
            else fold_rows(q, self.cents[cells])
        )
        for j, s in enumerate(self.sub):
            num = num + fold_rows(q[:, s], self.C[j, codes[:, j]])
        return cosine(num, qn, np.sqrt(self.den2(codes, cells)))

    def cross(self, luts, qn, codes, cells=None) -> np.ndarray:
        """Every (query, candidate) pair from ``luts(q)``."""
        lut, qc = luts
        num = np.zeros((len(qn), len(codes))) if qc is None else qc[:, cells]
        for j in range(len(lut)):
            num = num + lut[j][:, codes[:, j]]
        return cosine(num, qn, np.sqrt(self.den2(codes, cells)), cross=True)

    def encode(self, mat: np.ndarray) -> np.ndarray:
        """Per-subspace argmin of the squared-distance fold; ties go to
        the lowest code (``np.argmin``'s first occurrence)."""
        return np.stack(
            [
                np.argmin(sqdist_cross(mat[:, s], self.C[j]), axis=1)
                for j, s in enumerate(self.sub)
            ],
            axis=1,
        )


BQ_WORD_BITS = 32  # bits packed per stored long (sign-bit headroom)
_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def bq1_pack(mat: np.ndarray, thr: np.ndarray) -> np.ndarray:
    """bit_d = ``x_d > thr_d``, packed little-endian into 32-bit words
    carried as int64 — exact integer sums of distinct powers of two."""
    pow2 = np.int64(1) << np.arange(BQ_WORD_BITS, dtype=np.int64)
    with np.errstate(invalid="ignore"):
        bits = (mat > thr).astype(np.int64)
    return bits.reshape(len(mat), -1, BQ_WORD_BITS) @ pow2


def bq1_hamming(qw: np.ndarray, words: np.ndarray) -> np.ndarray:
    """Row-aligned Hamming distance: xor + byte-table popcount."""
    x = np.bitwise_xor(qw, words)
    return _POP8[x.view(np.uint8)].reshape(len(x), -1).sum(axis=1)


# -- encoders ----------------------------------------------------------------------
def encode_map(
    df: DataFrame, emb_col: str, dim: int, out: StructField, encode, shift=None
) -> DataFrame:
    """Carry every column of the rows with a non-null ``dim``-long
    vector and add ``out``: ``encode(mat) -> (n, w)`` integer codes per
    row, NULL for a row with a null / non-finite element.
    ``shift(pdf)`` (optional) is subtracted from the vectors first."""
    base = df.filter(F.col(emb_col).isNotNull() & (F.size(emb_col) == dim))

    def fn(pdf):
        mat = matrix(pdf[emb_col])
        if shift is not None:
            mat = mat - shift(pdf)
        finite = np.isfinite(mat).all(axis=1)
        codes = encode(mat).tolist()
        res = pdf.copy()
        res[out.name] = pd.Series(
            [c if ok else None for c, ok in zip(codes, finite)],
            dtype="object",
            index=pdf.index,
        )
        return res

    return arrow_map(base, fn, StructType(base.schema.fields + [out]))


# A kernel closure references this module; pickling it by value lets a
# Python worker started outside the repo root run it.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
