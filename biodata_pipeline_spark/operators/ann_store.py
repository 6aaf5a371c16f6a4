"""Persistent incremental IVF index — similarity search's counterpart
of the dedup ``SignatureStore``.

At 100 TB you never re-cluster the historical embedding corpus to make
new vectors searchable: the index at ``path`` persists the trained
centroids (a k×dim artifact, kBs) and the cell-assigned vectors
(``assignments/``: one (vec_id, embedding, cell) row per vector,
appended per batch), so

  * ``add`` costs one broadcast-centroid assignment map over the NEW
    batch only — history untouched;
  * ``query`` probes each query's ``n_probe`` nearest cells and ranks
    only those vectors — an equi-join on cell id, scanning
    ~n_probe/k of the corpus, never all of it;
  * ``compact`` folds the per-batch appends into a bucketed table on
    (cell) via the shared index-maintenance machinery
    (``compact_dedup_index``), so a thousand-batch index keeps a
    bounded file count and the probe join needs no stored-side shuffle
    past the broadcast threshold;
  * ``cell_stats`` reports per-cell occupancy — the drift signal that
    tells an operator when the frozen centroids have stopped fitting
    the data and a re-``build`` is due (the standard IVF maintenance
    trade: adds are cheap because the coarse quantizer is frozen);
  * ``enable_pq`` attaches a product-quantization layer (IVF-PQ, the
    billion-scale shape): enrolled vectors get m-int codes in a
    parallel ``pq_codes/`` component, and ``query(scoring="adc")`` /
    ``"adc_refine"`` probes scan codes instead of float vectors —
    16-64× less candidate I/O, with the refine variant re-scoring the
    top refine·k exactly (see operators/pq.py);
  * ``enable_sq8`` / ``enable_bq`` attach the byte and 1-bit layers the
    same way. Each code layer is one ``_LAYERS`` entry (component,
    codes column, fitted state, encoder, scorer), so ``add``,
    ``query``, ``compact`` and ``describe`` treat all three alike.

Everything is deterministic: centroids come from ``kmeans_fit``
(md5-seeded, no RNG), assignment is ``assign_clusters``'s argmin with
its tie-break, ranking reuses the 9dp-rounded cosine with id
tie-breaks.

Reference anchor: the reference embeds chunks and brute-force ranks the
whole corpus per query (rag_evaluation/RAG-eval-test_model.py:119-153);
this is the layout that keeps that query answerable when the corpus no
longer fits a scan per query.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biodata_pipeline_spark.functions.vector import SIM_ROUND, cosine_sim, l2_norm
from biodata_pipeline_spark.operators import vector_kernels as vk
from biodata_pipeline_spark.operators.bq import approx_ranked, bq_encode_kernel
from biodata_pipeline_spark.operators.kmeans import (
    assign_clusters_kernel,
    kmeans_fit,
)
from biodata_pipeline_spark.operators.pq import (
    PQ_ITERS,
    PQ_M,
    _minus_centroid,
    pq_encode_kernel,
    pq_fit,
    recommended_k_sub,
)
from biodata_pipeline_spark.operators.sq import sq_encode_kernel
from biodata_pipeline_spark.sources.local import local_frame
from biodata_pipeline_spark.sources.store import (
    META,
    component_frames,
    compact_dedup_index,
    fs_path,
    minus_tombstones,
    read_doc,
    read_if_present,
    remove_from_dedup_index,
    retire_component,
    tombstones,
    write_batch,
    write_doc,
)


def _books_etag(books: list[list[list[float]]]) -> str:
    """Content hash of the PQ codebooks — the cross-instance staleness
    guard (r12 advice): a content etag (not a counter) means an
    idempotent retrain on the same corpus keeps caches valid, while ANY
    book change — from this process or another — is detected."""
    import hashlib
    import json

    return hashlib.md5(
        json.dumps(books, separators=(",", ":")).encode()
    ).hexdigest()


def _layer_etag(doc: "dict | None") -> "str | None":
    """Content hash of an SQ8/BQ1 layer doc (bounds / thresholds) —
    ``_books_etag``'s sibling for the layers whose doc IS the codebook.
    None when the layer is absent or disabled, so "layer off" and
    "layer on with these parameters" always fingerprint differently."""
    import hashlib
    import json

    if doc is None or doc.get("disabled"):
        return None
    return hashlib.md5(
        json.dumps(doc, sort_keys=True, separators=(",", ":")).encode()
    ).hexdigest()


# structure_ratio at or above this reads "structure-free": residual
# quantization measured at parity-at-best with raw codes on such
# corpora (the r13 1M uniform arm; fixture + rung measurements in
# SCALING.md r14), so enable_pq(residual=True) warns — k_sub is the
# binding recall lever there, not the residual representation.
STRUCTURE_PARITY_RATIO = 0.8

# Cap on the structure-probe sample when enable_pq trains on the full
# corpus (train_sample=None): the probe's cost must stay bounded even
# when the fit is deliberately unbounded (ADVICE r14). Matches the
# production fit path's 100k md5_top_n operating point.
STRUCTURE_PROBE_CAP = 100_000


def _structure_ratio(
    sample: DataFrame,
    cents: list[list[float]],
    emb_col: str = "emb",
    cell_col: str = "cell",
) -> float | None:
    """Measured cluster-structure signal on the (bounded) training
    sample: RMS of the cell residuals over RMS of the centered corpus —
    ``sqrt( E‖x − centroid(cell)‖² / Σ_i Var(x_i) )`` (VERDICT r13 #3).

    ≪ 1 means the coarse cells absorb most of the spread (real cluster
    structure — residual PQ's measured win case: the same m × k_sub
    budget quantizes a fraction of the spread); ≈ 1 means the cells
    explain almost nothing (structure-free — residual measured at
    parity with raw, SCALING.md r13/r14). Cost: one shuffle of
    sample × dim (i, x, r) rows into ≤ dim groups with map-side
    partial aggregation — the interpreted ``zip_with`` subtract runs
    on the BOUNDED sample only, per the r13 residual-fit discipline.
    Returns None on an empty sample or zero corpus variance (a
    constant corpus has no structure to speak of)."""
    import math

    withr = _minus_centroid(
        sample.select(
            F.col(emb_col).cast("array<double>").alias("__x"),
            F.col(cell_col),
        ),
        cents,
        "__x",
        cell_col=cell_col,
    )
    per_dim = (
        withr.select(
            F.posexplode(
                F.arrays_zip(
                    F.col("__x").alias("x"),
                    F.col("__rvec").alias("r"),
                )
            ).alias("i", "z")
        )
        .groupBy("i")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("z.x")).alias("sx"),
            F.sum(F.col("z.x") * F.col("z.x")).alias("sxx"),
            F.sum(F.col("z.r") * F.col("z.r")).alias("srr"),
        )
        .collect()  # ≤ dim rows — driver-sized by design
    )
    if not per_dim or not per_dim[0]["n"]:
        return None
    n = per_dim[0]["n"]
    corpus_var = sum(r["sxx"] / n - (r["sx"] / n) ** 2 for r in per_dim)
    resid_msq = sum(r["srr"] / n for r in per_dim)
    if corpus_var <= 0:
        return None
    return round(math.sqrt(resid_msq / corpus_var), 4)


def recommended_n_probe(n_cells: int, target_recall: float = 0.9) -> int:
    """Conservative no-measurement n_probe fallback (VERDICT r9 #3).

    Heuristic, not a guarantee (ADVICE r10): on the r10 operating-curve
    sweep (tables in SCALING.md)
    the probed fraction ``n_probe / n_cells`` EMPIRICALLY held as a
    lower bound on recall@10 at every measured point (k=16: n_probe 8
    → 0.85 vs fraction 0.5, 16 → 1.0; k=64: 32 → 0.945 vs 0.5; k=256:
    32 → 0.65 vs 0.125), because centroid ranking preferentially probes
    the cells that hold a query's near neighbours even on a
    structure-free corpus. It is NOT provable on arbitrary data —
    adversarial placements can leave true neighbours in unprobed cells
    — and ``ceil(target * n_cells)`` is near-exhaustive at high
    targets (0.9 → probing 90% of cells forfeits most of the IVF
    speedup). Use ``measured_n_probe`` to ride the actual per-corpus
    curve: the measured crossing sits far below this fallback (0.9
    reached at 32/64 cells even on uniform synthetics).
    The reference anchor is recall 1.0 semantics (it retrieves with
    k = corpus size, RAG-eval-test_model.py:247-248): target 1.0
    returns n_probe = n_cells, the exhaustive-exact setting."""
    import math

    if not 0.0 < target_recall <= 1.0:
        raise ValueError(f"target_recall must be in (0, 1], got {target_recall}")
    return max(1, min(n_cells, math.ceil(target_recall * n_cells)))


def recommended_scoring(
    pq: "dict | None",
    sq8_attached: bool,
    bq1_attached: bool,
) -> dict:
    """The SCALING.md compression-ladder operating rule as a decision
    the store makes from its MEASURED signals instead of prose
    (VERDICT r14 #4): which ``query(scoring=...)`` an operator should
    ship for this corpus, given what is attached and the
    structure_ratio measured at the last ``enable_pq``.

    The measured ladder behind each branch (1M-rung tables, SCALING.md
    r13/r14): PQ's refined recall holds the target only when the
    coarse cells absorb real spread (structure_ratio ≪ 1 — clustered
    fixture 0.028; refined recall 0.975 at k_sub=256), and collapses
    on structure-free corpora (ratio 0.890 uniform — the regime where
    SQ8 measured recall 1.0 at 8× less scan I/O than float64). BQ1 is
    the cheapest scan (4.8× fewer bytes than PQ codes) but needs its
    refine funnel — 0.17 codes-only vs 0.41+ refined worst-case — so
    alone it ranks with a wide funnel, and next to a higher-resolution
    layer its role is the coarse FIRST pass. Returns ``{"scoring",
    "why"}`` plus ``"coarse_filter": "bq1"`` when a BQ1 layer can
    serve that coarse-first role in front of the primary
    recommendation. Calibrate the funnel widths with ``calibrate()``
    (per-scoring measured refine since r15)."""
    sr = pq.get("structure_ratio") if pq else None
    bq_note = (
        " BQ1 stays attached as the coarse first-pass filter "
        "(coarse_filter)."
        if bq1_attached
        else ""
    )
    if pq and sr is not None and sr < STRUCTURE_PARITY_RATIO:
        out = {
            "scoring": "adc_refine",
            "why": (
                f"measured structure_ratio {sr} < "
                f"{STRUCTURE_PARITY_RATIO}: the coarse cells absorb "
                "most of the spread — PQ's measured win regime "
                "(smallest codes per candidate at target recall; "
                "SCALING.md ladder)." + bq_note
            ),
        }
    elif sq8_attached:
        out = {
            "scoring": "sq8_refine",
            "why": (
                (
                    f"measured structure_ratio {sr} >= "
                    f"{STRUCTURE_PARITY_RATIO} (structure-free): PQ "
                    "measured parity-at-best here while SQ8 held "
                    "near-exact recall at 8x less scan I/O than raw "
                    "(SCALING.md ladder)."
                    if sr is not None
                    else "no measured cluster structure on the books: "
                    "SQ8 is the near-exact default at 8x less scan "
                    "I/O than raw (SCALING.md ladder)."
                )
                + bq_note
            ),
        }
    elif pq and sr is not None:  # structure-free, and no SQ8 to fall to
        out = {
            "scoring": "exact",
            "why": (
                f"measured structure_ratio {sr} >= "
                f"{STRUCTURE_PARITY_RATIO} (structure-free) and no SQ8 "
                "layer attached: the PQ codes measured parity-at-best "
                "in this regime — enable_sq8() for the byte layer, "
                "then re-describe." + bq_note
            ),
        }
    elif pq:  # legacy layer that never measured the signal
        out = {
            "scoring": "adc_refine",
            "why": (
                "PQ attached but structure_ratio unmeasured (legacy "
                "layer): re-run enable_pq() to measure it; until then "
                "adc_refine with a calibrated funnel is the attached "
                "compressed path." + bq_note
            ),
        }
    elif bq1_attached:
        out = {
            "scoring": "bq1_refine",
            "why": (
                "only the 1-bit layer is attached: integer Hamming "
                "scan with a WIDE exact-refine funnel (the funnel is "
                "BQ1's primary recall lever — SCALING.md r14: 0.17 "
                "codes-only vs 0.41+ refined on the worst case); "
                "calibrate() measures the width."
            ),
        }
    else:
        out = {
            "scoring": "exact",
            "why": "no compressed layer attached.",
        }
    if bq1_attached and out["scoring"] != "bq1_refine":
        out["coarse_filter"] = "bq1"
    return out


def measured_n_probe(
    store: "VectorIndexStore",
    queries: DataFrame,
    target_recall: float = 0.9,
    k: int = 10,
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    max_sample: int = 32,
    with_recall: bool = False,
) -> "int | tuple[int, float]":
    """Cheapest n_probe whose MEASURED recall@k on a bounded query
    sample meets ``target_recall`` (VERDICT r10 #4) — the setting a
    user would actually ship, vs ``recommended_n_probe``'s
    near-exhaustive no-measurement fallback. With ``with_recall`` the
    return is ``(n_probe, measured_recall)`` — the number the caller
    persists (``VectorIndexStore.calibrate``) or logs.

    Protocol: take a deterministic ``max_sample``-query slice (ordered
    by ``query_id`` — bounded driver-side state, the centroid-collect
    discipline), compute exact ground truth by probing ALL cells (at
    n_probe = n_cells the IVF ranking IS the exact ranking), then walk
    n_probe up in powers of two measuring micro-averaged recall@k
    (|ivf ∩ truth| / |truth| over the sample) and return the first
    setting at or above target. Per-query recall is monotone
    nondecreasing in n_probe — candidates only grow, and an exact
    top-k member can never be displaced from a candidate-subset top-k
    by items that all rank above it globally (there are < k of those)
    — so the first crossing is the cheapest and the walk terminates at
    n_cells with recall exactly 1.0.

    Cost: O(log n_cells) bounded IVF queries plus one exhaustive pass
    over the sample — a calibration you run once per corpus/store, not
    per query batch."""
    if not 0.0 < target_recall <= 1.0:
        raise ValueError(f"target_recall must be in (0, 1], got {target_recall}")
    spark = queries.sparkSession
    n_cells = len(store.centroids(spark))
    sample = (
        queries.select(query_id, query_emb)
        .orderBy(query_id)
        .limit(max_sample)
        .localCheckpoint()
    )
    truth = (
        store.query(sample, k, n_probe=n_cells,
                    query_id=query_id, query_emb=query_emb)
        .select(query_id, store.id_col)
        .localCheckpoint()  # reused once per sweep step
    )
    n_truth = truth.count()
    if n_truth == 0:
        return (1, 1.0) if with_recall else 1
    n_probe = 1
    while n_probe < n_cells:
        got = store.query(sample, k, n_probe=n_probe,
                          query_id=query_id, query_emb=query_emb)
        hits = truth.join(
            got.select(query_id, store.id_col), [query_id, store.id_col]
        ).count()
        recall = hits / n_truth
        if recall >= target_recall:
            return (n_probe, recall) if with_recall else n_probe
        n_probe = min(n_probe * 2, n_cells)
    # at n_probe = n_cells the IVF ranking IS the ground truth above
    return (n_cells, 1.0) if with_recall else n_cells


# The three refine-funnel scoring paths and, per path, where a
# cap-hit-below-target shortfall actually lives — the advice the cap
# warning names (r15: the funnel calibration covers every compressed
# representation, not just PQ; for BQ1 the funnel IS the primary
# recall lever, so its advice is "widen the funnel" first).
REFINE_SCORINGS = ("adc_refine", "sq8_refine", "bq1_refine")

_REFINE_CAP_ADVICE = {
    "adc_refine": (
        "raising refine further cannot close this; the shortfall lives "
        "in m / k_sub (code resolution): retrain with enable_pq(m=...) "
        "/ enable_pq(k_sub=...) per the SCALING.md grid"
    ),
    "sq8_refine": (
        "the byte reconstruction itself is losing rank information — "
        "check sq_drift() (out-of-bounds clamping after corpus drift) "
        "and re-run enable_sq8 to refit, or score exact"
    ),
    "bq1_refine": (
        "the 1-bit funnel needs more width than the cap allows: raise "
        "max_refine (the funnel is BQ1's primary recall lever — "
        "SCALING.md r14 measured 0.17 codes-only vs 0.41+ refined), or "
        "step up the ladder to sq8/adc scoring"
    ),
}


def measured_refine(
    store: "VectorIndexStore",
    queries: DataFrame,
    scoring: str = "adc_refine",
    target_recall: float = 0.9,
    k: int = 10,
    n_probe: int = 4,
    query_id: str = "query_id",
    query_emb: str = "query_emb",
    max_sample: int = 32,
    max_refine: int = 64,
    with_recall: bool = False,
) -> "int | tuple[int, float]":
    """Cheapest ``refine`` multiplier whose MEASURED recall@k (against
    the exact ranking at the same ``n_probe``) meets ``target_recall``
    on a bounded query sample — ``measured_n_probe``'s sibling for the
    compressed-representation paths (``scoring`` picks which:
    ``adc_refine`` / ``sq8_refine`` / ``bq1_refine``): n_probe prices
    the probe, refine prices the representation, and the two
    calibrations compose (total recall ≈ probe recall × this one).

    Monotonicity (why first crossing = cheapest): the refine·k
    shortlist — ordered by the compressed score, whichever
    representation produced it — only grows with refine, and the final
    top-k is the exact re-ranking of that shortlist; a true top-k
    member in the shortlist can only be displaced by candidates with a
    strictly higher exact sim, which are themselves true top-k members,
    so every shortlisted true hit survives and hits = |shortlist ∩
    exact top-k|, monotone nondecreasing in refine. The argument never
    touches HOW the shortlist was ranked, so it covers all three
    representations identically. The walk doubles refine and
    terminates at ``max_refine`` (a shortlist that saturates the
    probed candidates returns the exact-at-n_probe ranking, recall 1.0
    vs that truth). Cost: O(log max_refine) bounded queries — run once
    per corpus/store, not per query batch. If the measured crossing
    never arrives the cap is returned AND a RuntimeWarning names the
    recall shortfall (r12 advice: a bare ``max_refine`` was
    indistinguishable from "target met exactly at the cap") with
    per-representation advice on where the shortfall lives
    (``_REFINE_CAP_ADVICE``). With ``with_recall`` the return is
    ``(refine, measured_recall)``, the unambiguous programmatic
    form."""
    if scoring not in REFINE_SCORINGS:
        raise ValueError(
            f"measured_refine: scoring must be one of {REFINE_SCORINGS}, "
            f"got {scoring!r}"
        )
    if not 0.0 < target_recall <= 1.0:
        raise ValueError(f"target_recall must be in (0, 1], got {target_recall}")
    sample = (
        queries.select(query_id, query_emb)
        .orderBy(query_id)
        .limit(max_sample)
        .localCheckpoint()
    )
    truth = (
        store.query(sample, k, n_probe=n_probe,
                    query_id=query_id, query_emb=query_emb)
        .select(query_id, store.id_col)
        .localCheckpoint()  # reused once per walk step
    )
    n_truth = truth.count()
    if n_truth == 0:
        return (1, 1.0) if with_recall else 1
    refine = 1
    while True:
        got = store.query(
            sample, k, n_probe=n_probe, scoring=scoring,
            refine=refine, query_id=query_id, query_emb=query_emb,
        )
        hits = truth.join(
            got.select(query_id, store.id_col), [query_id, store.id_col]
        ).count()
        recall = hits / n_truth
        if recall >= target_recall or refine >= max_refine:
            if recall < target_recall:
                import warnings

                warnings.warn(
                    f"measured_refine[{scoring}]: recall {recall:.4f} "
                    f"at the max_refine={max_refine} cap is below the "
                    f"{target_recall} target — "
                    + _REFINE_CAP_ADVICE[scoring],
                    RuntimeWarning,
                    stacklevel=2,
                )
            return (refine, recall) if with_recall else refine
        refine = min(refine * 2, max_refine)


# Above this many enrolled index rows, query() scores candidates in the
# Arrow kernel instead of the interpreted JVM HOF fold (see query()).
KERNEL_INDEX_THRESHOLD = 100_000


def _score_candidates(
    cand: DataFrame, query_id: str, id_col: str, cols: list[str], score
) -> DataFrame:
    """Arrow scoring of (query, candidate) rows — the one kernel behind
    every ``query()`` scoring. Each row carries its query (``__qe``,
    ``__nq``) and ``cols``; ``score(q, qn, pdf)`` is a row-shaped
    ``vector_kernels`` scorer, so the sims are the JVM fold's bits and
    the 9dp rounding stays JVM-side. Output (query_id, id, sim)."""

    def fn(pdf):
        return score(vk.matrix(pdf["__qe"]), pdf["__nq"].to_numpy(), pdf)

    return vk.rounded(
        vk.score_rows(cand, query_id, id_col, ["__qe", "__nq", *cols], fn),
        query_id, id_col, "sim", SIM_ROUND,
    )


def _adc_scorer(state, cents, dim):
    books, residual = state
    pq = vk.PQ(books, cents if residual else None)
    return (
        ["cell", "codes"] if residual else ["codes"],
        lambda q, qn, pdf: pq.rows(
            q, qn, vk.ints(pdf["codes"]),
            pdf["cell"].to_numpy(dtype="int64") if residual else None,
        ),
    )


def _sq8_scorer(bounds, cents, dim):
    mn, rg = vk.sq8_bounds(bounds)
    return ["codes"], lambda q, qn, pdf: vk.sq8(
        q, qn, vk.ints(pdf["codes"]), mn, rg
    )


def _bq1_scorer(thresholds, cents, dim):
    # normalized Hamming similarity (dim - h) / dim: h and dim are exact
    # integers and dim is a power of two, so the division is exact; the
    # query packs in-kernel under the same thresholds as the stored words
    import numpy as np

    thr = np.array(thresholds["thr"], dtype=np.float64)
    return ["words"], lambda q, qn, pdf: (
        dim - vk.bq1_hamming(vk.bq1_pack(q, thr), vk.ints(pdf["words"]))
    ) / float(dim)


def _pq_info(store, spark, state, n_live) -> dict:
    books, residual = state
    doc = read_doc(spark, store.path, "pq_etag") or {}
    return {
        "m": len(books),
        "k_sub": len(books[0]),
        "subdim": len(books[0][0]),
        "residual": residual,
        # the size-aware production default for THIS corpus — an
        # attached layer whose k_sub sits below it is the "retrain with
        # enable_pq()" signal (VERDICT r13 #2)
        "recommended_k_sub": recommended_k_sub(n_live),
        # measured at the last enable_pq: ≪1 = real cluster structure
        # (residual's win case), ≈1 = structure-free (residual parity;
        # k_sub is the lever) — None on legacy layers that never
        # measured it
        "structure_ratio": doc.get("structure_ratio"),
    }


class _Layer(NamedTuple):
    """One compressed code layer of the store. ``comp/`` holds (id,
    cell, ``col``) rows with the batch semantics of ``assignments/``;
    the fitted state lives in (or is guarded by) the store doc ``doc``,
    whose etag the calibration fingerprint carries as ``fp``."""

    comp: str
    col: str
    doc: str
    fp: str
    key: str  # describe() entry
    first: str  # what a query on the layer needs while it is off
    state: Callable  # (store, spark) -> fitted state, None when off
    encode: Callable  # (df, state, centroids) -> df plus ``col``
    scorer: Callable  # (state, centroids, dim) -> (cols, row scorer)
    etag: Callable  # (doc) -> content etag, None when off
    info: Callable  # (store, spark, state, n_live) -> describe() entry


# The store's code layers, keyed by scoring family: ``query(scoring=f)``
# and ``f + "_refine"`` scan ``comp/``, and add/compact/describe/
# calibrate walk every attached layer.
_LAYERS = {
    "adc": _Layer(
        comp="pq_codes", col="codes", doc="pq_etag", fp="books_etag",
        key="pq", first="PQ codes at {p}: enable_pq() first",
        state=lambda store, spark: store._pq_state(spark),
        encode=lambda df, st, cents: pq_encode_kernel(
            df, st[0], emb_col="emb", centroids=cents if st[1] else None
        ),
        scorer=_adc_scorer,
        etag=lambda doc: doc["etag"] if doc else None,
        info=_pq_info,
    ),
    "sq8": _Layer(
        comp="sq_codes", col="codes", doc="sq_meta", fp="sq_etag",
        key="sq8", first="SQ8 codes at {p}: enable_sq8() first",
        state=lambda store, spark: store._layer_doc(spark, "sq_meta"),
        encode=lambda df, st, cents: sq_encode_kernel(
            df, st, emb_col="emb", codes_col="codes"
        ),
        scorer=_sq8_scorer,
        etag=_layer_etag,
        info=lambda store, spark, st, n: {"dim": len(st["vmin"])},
    ),
    "bq1": _Layer(
        comp="bq_words", col="words", doc="bq_meta", fp="bq_etag",
        key="bq1", first="BQ1 words at {p}: enable_bq() first",
        state=lambda store, spark: store._layer_doc(spark, "bq_meta"),
        encode=lambda df, st, cents: bq_encode_kernel(
            df, st, emb_col="emb", words_col="words"
        ),
        scorer=_bq1_scorer,
        etag=_layer_etag,
        info=lambda store, spark, st, n: {"dim": len(st["thr"])},
    ),
}


class VectorIndexStore:
    """Persistent IVF state under ``path``: ``centroids/`` (the trained
    coarse quantizer) + ``assignments/`` (cell-assigned vectors,
    appended per batch, compactable), plus one code component per
    attached ``_LAYERS`` entry."""

    def __init__(self, path: str, id_col: str = "vec_id",
                 emb_col: str = "embedding"):
        self.path = path
        self.id_col, self.emb_col = id_col, emb_col
        # query()'s kernel-gate row count, cached per instance: index
        # size only changes on add/compact, so re-counting every query()
        # call paid one Spark job per index part per call (ADVICE r11).
        # Invalidated by add()/compact(); an out-of-band writer to the
        # same path from ANOTHER instance/process is outside this
        # cache's contract (the gate only picks a scoring path — a stale
        # count degrades throughput on one call, never correctness).
        self._n_rows_cache: int | None = None
        # trained PQ codebooks, read once per instance (m×k_sub rows —
        # driver-sized by design, like the coarse quantizer); refreshed
        # by enable_pq(). Unlike the row-count gate, a stale entry here
        # would change RESULTS (old books scoring new codes), so every
        # ``_pq_books`` call validates the cache against the persisted
        # content etag (``pq_etag.json`` — one tiny FS read, no Spark
        # job) and reloads on mismatch: a re-enable from ANOTHER
        # instance/process can no longer make this instance silently
        # encode or score under retired books (r12 advice).
        self._pq_cache: list[list[list[float]]] | None = None
        self._pq_cache_etag: str | None = None
        # whether the cached books quantize residuals (persisted in the
        # same pq_etag doc; False for legacy stores without the doc)
        self._pq_cache_residual: bool = False
        # the coarse quantizer, read once per instance: build() writes
        # centroids/ with mode "error" and rebuild() goes to a new path,
        # so the files only change when another writer deletes and
        # rebuilds this path. Every centroids() call compares the dir's
        # file listing (one filesystem listing, no Spark job) with the
        # one the cache was read under, and re-reads on a mismatch.
        self._cents: list[list[float]] | None = None
        self._cents_stamp: tuple | None = None

    # -- build / maintain -------------------------------------------------
    def build(
        self,
        vecs: DataFrame,
        k: int = 16,
        iters: int = 4,
        batch_id: str | None = "build",
        train_sample: int | None = None,
    ) -> list[list[float]]:
        """Train the coarse quantizer on ``vecs`` and enroll them as the
        index's first batch. Overwrites any previous centroids — a
        rebuild invalidates stored assignments, so it also expects the
        caller to start from a fresh ``path`` (asserted). The default
        enrollment label is the non-numeric ``"build"``: streaming
        epochs count 0, 1, 2, ... and a numeric default collided with
        epoch 0 — the stream's first microbatch would silently
        partition-overwrite the entire initial enrollment (caught by
        the vector-ingest streaming test).

        ``train_sample`` is the 100 TB shape: Lloyd's loop iterates
        ``iters`` times, and running every iteration over the full
        corpus re-scans 100 TB per iteration for a quantizer whose
        quality saturates at a bounded training set (FAISS trains IVF
        coarse quantizers on ~max(10k, 50·k) points for exactly this
        reason). With ``train_sample=n`` the full corpus is scanned
        ONCE for a deterministic sample — the n rows with the smallest
        ``(md5(id), id)``, the same order-stable rule as
        ``seed_centroids``, a distributed partial top-n, no RNG — the
        sample is cached and the merge loop iterates over it alone;
        only the final enrollment assignment touches every vector
        (unavoidable: each one needs a cell). Queries stay exactly as
        correct — candidate scoring is exact cosine regardless of where
        the centroids came from; n_probe=k remains exhaustive-exact —
        only cell-boundary placement (recall at small n_probe) can
        differ, measured by the r8 recall ladder (SCALING.md).
        """
        spark = vecs.sparkSession
        if train_sample is not None:
            from biodata_pipeline_spark.operators.sampling import (
                md5_top_n,
            )

            # bounded-merge selection (r14): identical rows to the old
            # orderBy(md5, id).limit(n), but the TakeOrdered driver
            # merge no longer grows with corpus size × partition count
            sample = md5_top_n(
                vecs.filter(F.col(self.emb_col).isNotNull())
                .select(self.id_col, self.emb_col),
                train_sample,
                self.id_col,
            ).persist()  # Lloyd re-reads it iters+1 times; bounded rows
            try:
                cents = kmeans_fit(
                    sample, k, iters, self.id_col, self.emb_col
                )
            finally:
                sample.unpersist()
        else:
            cents = kmeans_fit(vecs, k, iters, self.id_col, self.emb_col)
        written = [[float(x) for x in c] for c in cents]
        local_frame(
            spark, list(enumerate(written)), "cell int, centroid array<double>"
        ).coalesce(1).write.mode("error").parquet(f"{self.path}/centroids")
        self._cents = written
        self._cents_stamp = self._centroids_stamp(spark)
        self.add(vecs, batch_id=batch_id)
        return cents

    def _centroids_stamp(self, spark) -> tuple | None:
        """(name, mtime) of every file under ``centroids/``, or None when
        the dir is absent. Spark names each written part file with its
        write job's id, so a delete-and-rebuild never repeats a stamp."""
        fs, hp = fs_path(spark, f"{self.path}/centroids")
        if not fs.exists(hp):
            return None
        return tuple(sorted(
            (st.getPath().getName(), st.getModificationTime())
            for st in fs.listStatus(hp)
        ))

    def centroids(self, spark) -> list[list[float]]:
        """The coarse quantizer, one vector per cell in cell order
        (k rows, driver-sized by design), as a fresh copy. Read through
        Spark only when the cached copy's stamp no longer matches
        ``centroids/``."""
        stamp = self._centroids_stamp(spark)
        if stamp is None:
            raise ValueError(
                f"no index at {self.path}: build() trains the coarse "
                "quantizer before add/query can run"
            )
        if stamp != self._cents_stamp:
            rows = (
                spark.read.parquet(f"{self.path}/centroids")
                .orderBy("cell")
                .collect()
            )
            self._cents = [list(r.centroid) for r in rows]
            self._cents_stamp = stamp
        return [list(c) for c in self._cents]

    def add(self, vecs: DataFrame, batch_id: str | None = None) -> int:
        """Assign NEW vectors to their nearest stored centroid and
        append them — one broadcast-assignment map, no history read.
        ``batch_id`` gives the same per-batch idempotent overwrite as
        the dedup index. Returns rows enrolled (null embeddings are
        excluded by the assignment's geometry contract)."""
        spark = vecs.sparkSession
        cents = self.centroids(spark)
        assigned = assign_clusters_kernel(
            vecs, cents, emb_col=self.emb_col
        ).select(
            F.col(self.id_col).alias("id"),
            F.col(self.emb_col).cast("array<double>").alias("emb"),
            F.col("cluster").alias("cell"),
        ).localCheckpoint()  # materialize before mutating the store
        write_batch(assigned, f"{self.path}/assignments", batch_id)
        # Every attached code layer encodes the batch under its fitted
        # state, with the same batch_id: a crash between the writes is
        # repaired by REPLAYING the batch (the store-wide idempotent-
        # overwrite contract) — until then that layer simply lacks the
        # batch's candidates while the exact path has them; never a
        # wrong result, only a visibly thinner approximate index. SQ8
        # values beyond the fitted bounds clamp to 0/255, BQ1 bits bias
        # toward one side on a drifted corpus: re-run the enable to
        # refit when it matters (sq_drift / bq_drift measure it).
        for layer in _LAYERS.values():
            state = layer.state(self, spark)
            if state is not None:
                coded = layer.encode(assigned, state, cents)
                write_batch(
                    coded.select("id", "cell", layer.col),
                    f"{self.path}/{layer.comp}", batch_id,
                )
        self._n_rows_cache = None  # index grew: re-count at next query()
        return assigned.count()

    def _live(self, spark, cols: list[str]) -> DataFrame:
        """``cols`` of every enrolled, not-tombstoned vector, one row per
        id: compacted table plus deltas, with crash-stale and replayed
        duplicates dropped (byte-identical by the replay contract, so
        any survivor is the row)."""
        parts = component_frames(spark, self.path, "assignments")
        if not parts:
            raise ValueError(f"no index at {self.path}")
        full = parts[0].select(*cols)
        for p in parts[1:]:
            full = full.unionByName(p.select(*cols))
        return minus_tombstones(
            spark, self.path, full.dropDuplicates(["id"])
        )

    def _layer_doc(self, spark, name: str) -> "dict | None":
        """A doc-fitted layer's state (SQ8 bounds, BQ1 thresholds), or
        None while the layer is off: no doc, or the ``disabled``
        tombstone an interrupted enable leaves."""
        doc = read_doc(spark, self.path, name)
        return None if doc is None or doc.get("disabled") else doc

    def _require(self, spark, family: str):
        """The fitted state of layer ``family``; raises while it is off."""
        state = _LAYERS[family].state(self, spark)
        if state is None:
            raise self._missing(family)
        return state

    def _missing(self, family: str) -> ValueError:
        first = _LAYERS[family].first.format(p=self.path)
        return ValueError(
            f"no {first}, or re-run it if a prior run did not complete"
        )

    # -- product quantization (the code-compressed probe path) -------------
    def pq_enabled(self, spark) -> bool:
        fs, hp = fs_path(spark, f"{self.path}/pq/codebooks")
        return bool(fs.exists(hp))

    def enable_pq(
        self,
        spark,
        m: int = PQ_M,
        k_sub: int | None = None,
        iters: int = PQ_ITERS,
        train_sample: int | None = None,
        residual: bool = False,
    ) -> int:
        """Attach a PQ layer: train ``m`` per-subspace codebooks on the
        enrolled live corpus (bounded by ``train_sample`` at scale, the
        coarse-quantizer discipline), encode every live vector, and
        persist ``pq/codebooks`` + ``pq_codes/`` (batch semantics
        identical to ``assignments/``). From here ``add`` encodes each
        new batch on enroll and ``query(scoring="adc"/"adc_refine")``
        scans m-int codes instead of dim-float vectors — at 100 TB the
        probe's candidate I/O shrinks 16-64×, which is the point.
        Re-running retrains and fully re-encodes (idempotent).
        Returns vectors encoded. Tombstoned ids are excluded from
        training and encoding; codes for ids removed LATER are masked
        by the same read-time anti-join as everything else and fold out
        at compaction.

        ``k_sub=None`` (the default) resolves size-aware via
        ``recommended_k_sub(live rows)``: 256 — FAISS's 8-bit standard,
        the measured 1M operating point (refined recall 0.975 vs 0.615
        at k_sub=16, SCALING.md) — once the corpus clears
        ``KSUB_BYTE_CODE_ROWS``, else 16. Pass k_sub explicitly to pin
        a representation across growth.

        ``residual=True`` quantizes each vector's RESIDUAL against its
        cell centroid (FAISS IndexIVFPQ's encode_residual form — within
        a cell the residual spread is a fraction of the corpus spread,
        so the same m × k_sub budget buys finer resolution; measured at
        the 1M rung in SCALING.md r13). The flag persists with the
        books' etag, every later ``add`` encodes residuals, and
        ``query(scoring="adc"/"adc_refine")`` scores with the
        centroid-extended grouped fold (``pq.pq_residual_scores``'s
        bit-parity contract)."""
        cents = self.centroids(spark)  # raises if the store is missing
        dim = len(cents[0])
        live = self._live(spark, ["id", "emb", "cell"])
        if k_sub is None:
            # size-aware default (VERDICT r13 #2, the m-fix one knob
            # later): the byte-code arm once the live corpus clears the
            # measured rung where 4-bit codes stop holding target
            # recall — the store picks the production operating point
            # instead of leaving it in SCALING.md prose. An explicit
            # k_sub always wins (the declared registry family pins 16:
            # its oracle replays every Lloyd chain).
            k_sub = recommended_k_sub(live.count())
        # ONE bounded training sample serves the codebook fit and the
        # structure probe. Sampling before pq_fit's validity filter is
        # row-identical to the old sample-inside-pq_fit order: enrolled
        # rows passed the geometry contract at add(), so the filter is
        # a no-op on store rows (the r13 residual path set the
        # precedent). The interpreted zip_with subtract stays off every
        # full-corpus pass: only the bounded sample is subtracted here;
        # the full-corpus ENCODE below fuses the subtraction into the
        # Arrow kernel (bit-identical: the same correctly-rounded
        # float64 op on the same operands is deterministic). Before
        # these moves a residual attach cost 5× the raw one at the 1M
        # rung (SCALING r13); the sample selection itself rides
        # md5_top_n's bounded-merge path (r14).
        from biodata_pipeline_spark.operators.sampling import md5_top_n

        sample = (
            live
            if train_sample is None
            else md5_top_n(live, train_sample, "id")
        ).persist()  # structure probe + m×(1+iters) Lloyd passes
        try:
            # The structure probe is ALWAYS bounded (ADVICE r14): with
            # train_sample=None the fit deliberately uses the full
            # corpus, but the probe's interpreted zip_with subtract +
            # corpus×dim posexplode shuffle must not ride along as a
            # full-corpus pass — cap it at the same 100k deterministic
            # sample the production fit path uses. The ratio is a
            # variance RATIO: the md5_top_n sample is
            # content-hash-uniform, so the capped estimate tracks the
            # full-corpus value (fixture-pinned in tests).
            probe_src = (
                sample
                if train_sample is not None
                else md5_top_n(live, STRUCTURE_PROBE_CAP, "id")
            )
            structure = _structure_ratio(probe_src, cents)
            if (
                residual
                and structure is not None
                and structure >= STRUCTURE_PARITY_RATIO
            ):
                import warnings

                warnings.warn(
                    f"enable_pq(residual=True) on a structure-free "
                    f"corpus (structure_ratio {structure} >= "
                    f"{STRUCTURE_PARITY_RATIO}: the coarse cells "
                    "explain almost none of the spread) — residual "
                    "codes measured at parity-at-best with raw here; "
                    "k_sub is the binding recall lever (SCALING.md "
                    "r13/r14)",
                    RuntimeWarning,
                    stacklevel=2,
                )
            fit_src = (
                _minus_centroid(sample, cents, "emb", cell_col="cell")
                if residual
                else sample
            )
            enc_col = "__rvec" if residual else "emb"
            books = pq_fit(
                fit_src.select(
                    F.col("id").alias(self.id_col),
                    F.col(enc_col).alias(self.emb_col),
                ),
                m=m, k_sub=k_sub, iters=iters,
                id_col=self.id_col, emb_col=self.emb_col,
                dim=dim, train_sample=None,
            )
        finally:
            sample.unpersist()
        rows = [
            (j, c, [float(x) for x in books[j][c]])
            for j in range(m)
            for c in range(k_sub)
        ]
        coded = pq_encode_kernel(
            live, books, emb_col="emb",
            centroids=cents if residual else None,
        ).select(
            "id", "cell", "codes"
        ).localCheckpoint()  # materialize BEFORE any store mutation
        n = coded.count()
        # Mutation order makes every crash window VISIBLE, never
        # silently wrong: (1) retire ALL old code state FIRST — old
        # codes under NEW codebooks would score garbage sims without
        # any error, so the codes must go dark before the books can
        # change (an ADC query in the window raises "no PQ codes", the
        # recovery is re-running enable_pq, which is idempotent);
        # (2) overwrite the codebooks; (3) write the fresh full encode
        # (supersedes any per-batch deltas from earlier adds). A crash
        # mid-(3) leaves a partial batch — consistent with the new
        # books, just thinner — repaired by the same re-run, the
        # store-wide replay contract.
        #
        # "All old code state" includes the COMPACTED pq_codes table
        # when a compaction ran since the last enable (r12 review: the
        # delta-dir delete alone left the compacted table live in the
        # meta, so a retrain-after-compact gave every previously
        # enrolled id two CONFLICTING code rows and dropDuplicates
        # picked an arbitrary survivor). See store.retire_component
        # for the retirement order (shared with enable_sq8 since r14).
        retire_component(spark, self.path, "pq_codes")
        local_frame(
            spark, rows, "sub int, code int, centroid array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{self.path}/pq/codebooks"
        )
        write_batch(coded, f"{self.path}/pq_codes", "pq_enable")
        etag = _books_etag(books)
        write_doc(
            spark, self.path, "pq_etag",
            {
                "etag": etag,
                "residual": bool(residual),
                # the measured structure signal the residual operating
                # rule depends on (VERDICT r13 #3) — persisted so
                # describe() can surface it without re-measuring
                "structure_ratio": structure,
            },
        )
        # the books changed: any persisted refine calibration measured
        # against the old codes is void — recorded by fingerprint drift
        # (calibrate() compares books_etag), nothing to delete here
        self._pq_cache = books
        self._pq_cache_etag = etag
        self._pq_cache_residual = bool(residual)
        return n

    def _pq_books(self, spark) -> list[list[list[float]]]:
        doc = read_doc(spark, self.path, "pq_etag")
        current = doc["etag"] if doc else None
        self._pq_cache_residual = bool(doc.get("residual")) if doc else False
        if (
            self._pq_cache is not None
            and current is not None
            and self._pq_cache_etag != current
        ):
            # another writer retrained the books under this path —
            # drop the cache and fall through to a fresh read
            self._pq_cache = None
            self._pq_cache_etag = None
        if self._pq_cache is None:
            stored = read_if_present(spark, f"{self.path}/pq/codebooks")
            if stored is None:
                raise ValueError(
                    f"no PQ layer at {self.path}: enable_pq() trains "
                    "the codebooks before ADC scoring can run"
                )
            # m×k_sub rows — driver-sized by design
            rows = stored.orderBy("sub", "code").collect()
            m = max(r["sub"] for r in rows) + 1
            books: list[list[list[float]]] = [[] for _ in range(m)]
            for r in rows:  # (sub, code)-ordered: code index == position
                books[r["sub"]].append(list(r["centroid"]))
            loaded = _books_etag(books)
            if current is not None and loaded != current:
                # enable_pq crashed between the codebook overwrite and
                # the etag flip: the on-disk state is half-committed.
                # Fail loudly — scoring under it could silently mix
                # books and codes from different trainings.
                raise ValueError(
                    f"PQ codebooks at {self.path} do not match the "
                    "persisted etag (a crashed enable_pq?): re-run "
                    "enable_pq() to restore a consistent PQ layer"
                )
            self._pq_cache = books
            self._pq_cache_etag = loaded
        return self._pq_cache

    def _pq_state(self, spark):
        """(books, residual) of the attached PQ layer, or None."""
        if not self.pq_enabled(spark):
            return None
        books = self._pq_books(spark)  # also refreshes the residual flag
        return books, self._pq_cache_residual

    # -- scalar quantization (the byte-per-dimension probe path, r14) -------
    def sq_enabled(self, spark) -> bool:
        return self._layer_doc(spark, "sq_meta") is not None

    def enable_sq8(self, spark) -> int:
        """Attach an SQ8 layer (PQ's simpler, stronger-recall sibling —
        see operators/sq.py): per-dimension [min, max] bounds over the
        live corpus in ONE scan (no Lloyd chains, no training sample),
        every live vector encoded to dim bytes in ``sq_codes/``
        (batch semantics identical to ``pq_codes/``), and
        ``query(scoring="sq8"/"sq8_refine")`` scans bytes instead of
        floats — 8× less candidate I/O vs float64 rows at near-exact
        recall. From here ``add`` byte-encodes each new batch on enroll
        (values beyond the fitted bounds CLAMP — the standard SQ drift
        semantics; re-run enable_sq8 to refit when ``describe`` shows
        the corpus has drifted). Re-running refits and fully re-encodes
        (idempotent). Coexists with a PQ layer: the two code components
        are independent.

        Mutation order — every crash window VISIBLE, never silently
        wrong. The bounds doc IS the codebook here, and unlike
        ``pq_etag`` (where a missing doc meant dangerous legacy
        semantics) a disabled ``sq_meta`` is the SAFE direction: the
        layer just reads as off. So: (1) flip the doc to a
        ``disabled`` tombstone — byte scoring goes dark immediately;
        (2) retire all old sq code state; (3) write the fresh full
        encode; (4) flip the doc to the new bounds LAST. A crash
        before (1) leaves the old consistent layer; between (1) and
        (4) the layer is visibly disabled ("re-run enable_sq8");
        after (4) the new layer is consistent — at no point can bytes
        be scored under bounds they were not encoded with (the
        new-codes-under-old-doc window a codes-before-doc order would
        open)."""
        from biodata_pipeline_spark.operators.sq import sq_fit

        return self._enable_doc_layer(
            spark, "sq8",
            lambda live, dim: sq_fit(live, id_col="id", emb_col="emb", dim=dim),
        )

    def _enable_doc_layer(self, spark, family: str, fit) -> int:
        """The disable-first protocol ``enable_sq8`` spells out, for a
        layer whose store doc IS its codebook: ``fit(live, dim)`` fits
        the state on the live corpus, the full encode is materialized
        BEFORE any store mutation, then (1) tombstone the doc, (2)
        retire the old code state, (3) write the encode, (4) flip the
        doc to the new state. Returns vectors encoded."""
        layer = _LAYERS[family]
        dim = len(self.centroids(spark)[0])  # raises if the store is missing
        live = self._live(spark, ["id", "emb", "cell"])
        state = fit(live, dim)
        coded = layer.encode(live, state, None).select(
            "id", "cell", layer.col
        ).localCheckpoint()
        n = coded.count()
        if read_doc(spark, self.path, layer.doc) is not None:
            write_doc(spark, self.path, layer.doc, {"disabled": True})
        retire_component(spark, self.path, layer.comp)
        write_batch(
            coded, f"{self.path}/{layer.comp}",
            layer.comp.split("_")[0] + "_enable",
        )
        write_doc(spark, self.path, layer.doc, state)
        return n

    # -- binary quantization (the 1-bit Hamming probe path, r14) ------------
    def bq_enabled(self, spark) -> bool:
        return self._layer_doc(spark, "bq_meta") is not None

    def enable_bq(self, spark, train_sample: int | None = 100_000) -> int:
        """Attach a BQ1 layer (the 1-bit end of the curve — see
        operators/bq.py): per-dimension lower-median thresholds fit on
        the bounded md5_top_n training sample (a median is a ranked
        selection — one per-dimension sort, so unlike SQ8's min/max
        scan the fit cost is bounded by SAMPLING, the pq_fit
        discipline; thresholds saturate on ~100k rows exactly as
        codebooks do), every live vector packed to dim/32 words in
        ``bq_words/`` (batch semantics identical to ``sq_codes/``),
        and ``query(scoring="bq1"/"bq1_refine")`` scans 8-byte words
        with integer xor/popcount — the cheapest candidate scan the
        store has. ``add`` packs each new batch on enroll under the
        fitted thresholds; re-running refits and fully re-encodes
        (idempotent). Coexists with the PQ and SQ8 layers.

        Mutation order: the ``enable_sq8`` disable-first protocol
        verbatim — the thresholds doc IS the codebook and a disabled
        ``bq_meta`` is the safe direction, so (1) tombstone the doc,
        (2) retire old word state, (3) write the fresh encode, (4)
        flip the doc to the new thresholds LAST. Every crash window is
        visibly off, never silently wrong."""
        from biodata_pipeline_spark.operators.bq import bq_fit
        from biodata_pipeline_spark.operators.sampling import md5_top_n

        return self._enable_doc_layer(
            spark, "bq1",
            lambda live, dim: bq_fit(
                live if train_sample is None
                else md5_top_n(live, train_sample, "id"),
                id_col="id", emb_col="emb", dim=dim,
            ),
        )

    def sq_drift(self, spark) -> dict:
        """Measured drift signal for the SQ8 layer — the 'refit when
        the corpus has drifted' rule as a number instead of prose (the
        structure_ratio discipline): the fraction of LIVE vectors
        carrying at least one value OUTSIDE the fitted [min, max]
        bounds — exactly the rows whose codes saturated at 0/255 under
        the clamp semantics, i.e. the rows the byte representation can
        no longer tell apart at the range edge. One column-pruned scan
        + one agg; call it between batches, not per query. Returns
        ``{"n_live", "n_clamped", "frac_clamped"}`` — at fit time the
        fraction is 0 by construction (the bounds COVER the fit
        corpus), so any growth is pure post-fit drift; re-run
        ``enable_sq8`` when it stops being a tail."""
        bounds = self._require(spark, "sq8")
        mnlit = F.array(*[F.lit(float(v)) for v in bounds["vmin"]])
        mxlit = F.array(*[F.lit(float(v)) for v in bounds["vmax"]])
        live = self._live(spark, ["id", "emb"])
        emb = F.col("emb").cast("array<double>")
        clamped = (
            F.exists(
                F.zip_with(emb, mnlit, lambda x, m: x < m), lambda b: b
            )
            | F.exists(
                F.zip_with(emb, mxlit, lambda x, m: x > m), lambda b: b
            )
        )
        row = live.agg(
            F.count("*").alias("n"),
            F.sum(clamped.cast("long")).alias("c"),
        ).collect()[0]
        n, c = row["n"], row["c"] or 0
        return {
            "n_live": n,
            "n_clamped": c,
            "frac_clamped": round(c / n, 6) if n else 0.0,
        }

    def bq_drift(self, spark) -> dict:
        """Measured drift signal for the BQ1 layer: per-dimension bit
        balance. Under the fitted lower-median thresholds each
        dimension splits the fit corpus ~50/50 by construction; as the
        corpus drifts, dimensions polarize and carry less Hamming
        signal. Reports the worst per-dimension |P(bit=1) − 0.5| and
        the mean — re-run ``enable_bq`` when dimensions saturate. One
        scan into ≤ dim groups."""
        thr = self._require(spark, "bq1")["thr"]
        thrlit = F.array(*[F.lit(float(t)) for t in thr])
        live = self._live(spark, ["id", "emb"])
        emb = F.col("emb").cast("array<double>")
        rows = (
            live.select(
                F.posexplode(
                    F.zip_with(emb, thrlit, lambda x, t: (x > t).cast("long"))
                ).alias("i", "bit")
            )
            .groupBy("i")
            .agg(F.avg("bit").alias("p1"))
            .collect()  # ≤ dim rows — driver-sized by design
        )
        if not rows:
            return {"n_dims": 0, "max_imbalance": None, "mean_imbalance": None}
        devs = [abs(r["p1"] - 0.5) for r in rows]
        return {
            "n_dims": len(devs),
            "max_imbalance": round(max(devs), 4),
            "mean_imbalance": round(sum(devs) / len(devs), 4),
        }

    # -- delete ------------------------------------------------------------
    def remove(self, spark, ids) -> int:
        """Tombstone ``ids`` (a DataFrame carrying ``self.id_col``, or a
        plain iterable of ids) — the 100 TB deletion path: one bounded
        parquet append, NO rewrite of the assignment history. A
        tombstoned id is immediately invisible to ``query`` /
        ``vectors`` / ``cell_stats`` (candidates anti-join the
        tombstone set BEFORE ranking, so a removed vector can't eat a
        top-k rank), and the next ``compact`` physically drops its rows
        while folding the layout anyway, then clears the tombstones.

        Removal wins until a compact has run: an id removed and then
        re-``add``-ed before the next compaction stays invisible (the
        pending tombstone masks it, and that compaction drops the
        re-added rows with the old ones). To resurrect an id, compact
        first, then add. Removing an id that was never enrolled is a
        no-op. Returns the number of ids tombstoned. Delegates to the
        shared ``remove_from_dedup_index`` (one tombstone mechanism
        across the ingest index, SignatureStore, and this store)."""
        if isinstance(ids, DataFrame):
            ids = ids.select(self.id_col)
        return remove_from_dedup_index(spark, self.path, ids)

    def compact(self, spark, n_buckets: int | None = None) -> dict:
        """Fold per-batch assignment appends into ONE bucketed table on
        (cell) — bounded file count, shuffle-free probe join past the
        broadcast threshold. Same contract as the dedup index: run
        between batches; query results identical across the fold.
        Pending tombstones are folded in (their rows leave the physical
        layout) and then cleared by the shared machinery — see
        ``compact_dedup_index``'s crash-window note. When a PQ layer is
        attached its code table folds in the same pass (same bucketing
        on cell, same tombstone drop), so both probe paths keep the
        bounded-file-count / shuffle-free-join contract."""
        self._n_rows_cache = None  # fold drops tombstoned rows
        parts = {"assignments": ["cell"]}
        for layer in _LAYERS.values():
            if layer.state(self, spark) is not None:
                parts[layer.comp] = ["cell"]
        return compact_dedup_index(
            spark, self.path, n_buckets=n_buckets, parts=parts,
        )

    def vectors(self, spark) -> DataFrame:
        """Every enrolled, not-tombstoned vector as (id, emb) —
        compacted table plus deltas, with crash-stale duplicates
        dropped (byte-identical by the replay contract, so any
        survivor is the row)."""
        return self._live(spark, ["id", "emb"])

    def rebuild(
        self,
        spark,
        new_path: str,
        k: int = 16,
        iters: int = 4,
        train_sample: int | None = None,
    ) -> "VectorIndexStore":
        """The maintenance action ``cell_stats`` drift points at:
        retrain the coarse quantizer on the enrolled corpus (bounded
        sample via ``train_sample`` — at scale always) and re-enroll
        every vector under the new centroids, into a NEW store at
        ``new_path``. This store stays fully live throughout — a
        rebuild at 100 TB runs for hours alongside serving, so the
        switch is the caller's pointer flip from old path to new, and
        batches enrolled here after the rebuild started must be
        re-``add``-ed to the new store before the flip (the same
        run-behind contract as any reindex). The new store carries NO
        PQ layer — codes are functions of the codebooks, which should
        retrain on the re-clustered corpus: call ``enable_pq`` on the
        result. Returns the new store."""
        new = VectorIndexStore(
            new_path, id_col=self.id_col, emb_col=self.emb_col
        )
        corpus = self.vectors(spark).select(
            F.col("id").alias(self.id_col),
            F.col("emb").alias(self.emb_col),
        )
        new.build(
            corpus, k=k, iters=iters, train_sample=train_sample
        )
        return new

    def describe(self, spark) -> dict:
        """Operational snapshot for maintenance decisions: live row
        count, coarse-quantizer size, pending tombstones, compaction
        version, the PQ layer's shape (or None), and the persisted
        calibration record with its staleness verdict. Runs a few small
        jobs — a maintenance call, not a query-path one; the numbers an
        operator reads before choosing between ``compact``, ``rebuild``,
        ``enable_pq`` retrain and re-``calibrate``."""
        tomb = tombstones(spark, self.path)
        meta = read_doc(spark, self.path, META) or {}
        out = {
            "n_live_vectors": self.vectors(spark).count(),
            "n_cells": len(self.centroids(spark)),
            "n_pending_tombstones": (
                tomb.select("id").distinct().count()
                if tomb is not None
                else 0
            ),
            "compaction_version": int(meta.get("version", 0)),
            "pq": None,
            "sq8": None,
            "bq1": None,
            "calibration": None,
            # always present (r13 advice: callers probing staleness on an
            # uncalibrated store hit KeyError when this key was conditional)
            "calibration_stale": None,
        }
        for layer in _LAYERS.values():
            state = layer.state(self, spark)
            if state is not None:
                out[layer.key] = layer.info(
                    self, spark, state, out["n_live_vectors"]
                )
        cal = read_doc(spark, self.path, "calibration")
        if cal is not None:
            out["calibration"] = cal
            out["calibration_stale"] = not self._calibration_fresh(
                cal.get("fingerprint", {}),
                self._fingerprint(spark, n_rows=out["n_live_vectors"]),
            )
        # the ladder's operating rule, decided from the measured
        # signals above (VERDICT r14 #4)
        out["recommended_scoring"] = recommended_scoring(
            out["pq"], out["sq8"] is not None, out["bq1"] is not None
        )
        return out

    # relative live-row drift beyond which a persisted calibration no
    # longer speaks for the corpus (the recall curve moves with cell
    # occupancy, not with compaction — folding is result-identical, so
    # compaction_version is deliberately NOT part of the fingerprint)
    CALIBRATION_MAX_DRIFT = 0.2

    def _fingerprint(self, spark, n_rows: int | None = None) -> dict:
        """What the calibration was measured AGAINST: live row count,
        quantizer size, and a content etag per attached compressed
        layer — PQ books, SQ8 bounds, BQ1 thresholds (each None when
        the layer is off). Attaching, detaching, or refitting ANY
        scored representation changes the fingerprint, because the
        calibration record now speaks for every attached layer's
        refine funnel (r15), not just PQ's."""
        return {
            "n_rows": (
                self.vectors(spark).count() if n_rows is None else n_rows
            ),
            "n_cells": len(self.centroids(spark)),
            **{
                layer.fp: layer.etag(
                    read_doc(spark, self.path, layer.doc)
                )
                for layer in _LAYERS.values()
            },
        }

    def _calibration_fresh(self, measured: dict, current: dict) -> bool:
        if measured.get("n_cells") != current.get("n_cells"):
            return False
        # any representation change moves its refine curve: retrained
        # PQ books, refit SQ8 bounds / BQ1 thresholds, or a layer
        # newly attached since the record was measured (legacy records
        # without the sq/bq keys read None — fresh only while those
        # layers stay off)
        for layer in _LAYERS.values():
            if measured.get(layer.fp) != current.get(layer.fp):
                return False
        old_n = measured.get("n_rows") or 0
        new_n = current.get("n_rows") or 0
        drift = abs(new_n - old_n) / max(old_n, 1)
        return drift <= self.CALIBRATION_MAX_DRIFT

    def calibrate(
        self,
        spark,
        queries: DataFrame,
        target_recall: float = 0.9,
        k: int = 10,
        query_id: str = "query_id",
        query_emb: str = "query_emb",
        max_sample: int = 32,
        max_refine: int = 64,
        force: bool = False,
    ) -> dict:
        """Calibrate-once semantics for the store's measured knobs
        (VERDICT r12 #4; extended to every attached representation in
        r15 per VERDICT r14 #3): run ``measured_n_probe``, then — for
        EACH attached compressed layer — ``measured_refine`` at that
        n_probe (``adc_refine`` for PQ, ``sq8_refine`` for SQ8,
        ``bq1_refine`` for BQ1; the per-path walk lands in
        ``doc["scorings"]``), persist the settings WITH their measured
        recalls and the corpus fingerprint they were measured against,
        and on every later call — including from a fresh instance or
        process — return the stored record without re-measuring, as
        long as the fingerprint is still fresh (same quantizer, same
        layer etags — attaching or refitting ANY scored layer
        re-measures — live-row drift within ``CALIBRATION_MAX_DRIFT``).

        The point is cost: the measurement is O(log n_cells ·
        log max_refine) bounded queries — 454 s at the 1M rung
        (SCALING.md) — and its result is a per-corpus constant, so
        paying it once per corpus *state* rather than once per process
        is the difference between a knob and a tax. Returns the
        calibration dict; ``reused`` says whether a stored record was
        served. ``force`` is the unconditional override — re-measure
        regardless of the stored record (e.g. after a workload shift
        the fingerprint can't see).

        Reuse requires the stored record's measurement budget to COVER
        the request (r13 advice): ``max_sample``/``max_refine`` persist
        in the doc, and a stored record only serves calls asking for at
        most that sample size and refine cap — a call with a LARGER
        budget re-measures rather than silently inheriting a
        possibly-cap-limited record (legacy docs without the fields
        re-measure). A reused record whose measured refine recall sits
        below the target re-raises the cap warning so the shortfall
        stays visible across processes, not just in the process that
        first measured it."""
        fp = self._fingerprint(spark)
        # which refine funnels this corpus state needs measured
        attached = [
            f"{family}_refine"
            for family, layer in _LAYERS.items()
            if layer.state(self, spark) is not None
        ]
        stored = read_doc(spark, self.path, "calibration")
        if (
            not force
            and stored is not None
            and stored.get("target_recall") == target_recall
            and stored.get("k") == k
            and (stored.get("max_sample") or 0) >= max_sample
            and (
                not attached
                or (stored.get("max_refine") or 0) >= max_refine
            )
            # a record measured before the per-scoring extension does
            # not speak for attached non-PQ layers: re-measure
            and all(
                sc in (stored.get("scorings") or {})
                for sc in attached
                if sc != "adc_refine" or stored.get("refine") is None
            )
            and self._calibration_fresh(stored.get("fingerprint", {}), fp)
        ):
            # re-raise every cap shortfall so it stays visible in this
            # process too (r13 advice, per-scoring since r15)
            shortfalls = {
                sc: rec.get("recall")
                for sc, rec in (stored.get("scorings") or {}).items()
                if rec.get("recall") is not None
                and rec["recall"] < target_recall
            }
            rr = stored.get("refine_recall")
            if not shortfalls and rr is not None and rr < target_recall:
                shortfalls = {"adc_refine": rr}  # legacy record shape
            if shortfalls:
                import warnings

                detail = ", ".join(
                    f"{sc}={r}" for sc, r in sorted(shortfalls.items())
                )
                warnings.warn(
                    f"calibrate: reused record's refine recall ({detail})"
                    f" is below the {target_recall} target (measured at "
                    f"the max_refine={stored.get('max_refine')} cap) — "
                    "per-path advice: "
                    + "; ".join(
                        _REFINE_CAP_ADVICE[sc]
                        for sc in sorted(shortfalls)
                    )
                    + "; or pass force=True to re-measure",
                    RuntimeWarning,
                    stacklevel=2,
                )
            return {**stored, "reused": True}
        n_probe, np_recall = measured_n_probe(
            self, queries, target_recall, k,
            query_id=query_id, query_emb=query_emb,
            max_sample=max_sample, with_recall=True,
        )
        doc = {
            "target_recall": target_recall,
            "k": k,
            "n_probe": n_probe,
            "n_probe_recall": round(np_recall, 4),
            "refine": None,
            "refine_recall": None,
            # per-scoring refine funnels, one entry per attached layer
            # (r15): {"adc_refine"/"sq8_refine"/"bq1_refine":
            #         {"refine": int, "recall": float}}
            "scorings": {},
            # the measurement budget: reuse only serves requests this
            # record covers (r13 advice)
            "max_sample": max_sample,
            "max_refine": max_refine if attached else None,
            "fingerprint": fp,
        }
        for sc in attached:
            refine, rf_recall = measured_refine(
                self, queries, scoring=sc,
                target_recall=target_recall, k=k, n_probe=n_probe,
                query_id=query_id, query_emb=query_emb,
                max_sample=max_sample, max_refine=max_refine,
                with_recall=True,
            )
            doc["scorings"][sc] = {
                "refine": refine,
                "recall": round(rf_recall, 4),
            }
        if "adc_refine" in doc["scorings"]:
            # legacy top-level form: the PQ funnel (r12-r14 callers)
            doc["refine"] = doc["scorings"]["adc_refine"]["refine"]
            doc["refine_recall"] = doc["scorings"]["adc_refine"]["recall"]
            rf_recall = doc["refine_recall"]
            if rf_recall < target_recall:
                cur_k_sub = len(self._pq_books(spark)[0])
                rec = recommended_k_sub(fp["n_rows"])
                if cur_k_sub < rec:
                    import warnings

                    warnings.warn(
                        f"calibrate: refine recall {rf_recall:.4f} "
                        f"missed the {target_recall} target and the "
                        f"attached PQ layer's k_sub={cur_k_sub} sits "
                        f"below the size-aware recommendation {rec} "
                        f"for {fp['n_rows']} live rows — retrain with "
                        f"enable_pq(k_sub={rec}) (or k_sub=None for "
                        "the size-aware default), then re-calibrate",
                        RuntimeWarning,
                        stacklevel=2,
                    )
        write_doc(spark, self.path, "calibration", doc)
        return {**doc, "reused": False}

    def cell_stats(self, spark) -> DataFrame:
        """(cell, n_vecs) occupancy — the drift report. A cell running
        hot (≫ corpus/k) means the frozen quantizer no longer fits the
        incoming distribution and probe cost for queries near that cell
        degrades toward a scan: time to ``rebuild`` into a fresh path
        (bigger k, current data distribution). Counts the live corpus
        ``vectors()`` reads: one row per id, tombstones excluded."""
        return (
            self._live(spark, ["id", "cell"])
            .groupBy("cell")
            .agg(F.count("*").alias("n_vecs"))
        )

    # -- search -----------------------------------------------------------
    def query_calibrated(
        self,
        queries: DataFrame,
        k: int,
        scoring: str | None = None,
        query_id: str = "query_id",
        query_emb: str = "query_emb",
    ) -> DataFrame:
        """``query`` riding the persisted calibration (r15 — the other
        half of calibrate-once: measure once per corpus state, then
        every query ships the measured knobs without the caller
        re-plumbing numbers). Resolves n_probe from the stored record
        and, for a ``*_refine`` scoring, the refine width from that
        scoring's measured funnel (``doc["scorings"]``); with
        ``scoring=None`` the representation itself comes from
        ``recommended_scoring`` (upgraded to its ``_refine`` arm when
        that funnel was calibrated — the measured-win form).

        Raises when no calibration record exists, when it has gone
        stale (corpus drift / layer refit — re-run ``calibrate()``),
        or when the requested refine scoring was never measured (layer
        attached after the record: ``calibrate()`` would have caught
        it via the fingerprint, so this arises only with an explicit
        scoring naming a detached layer's path)."""
        spark = queries.sparkSession
        cal = read_doc(spark, self.path, "calibration")
        if cal is None:
            raise ValueError(
                f"no calibration record at {self.path}: run "
                "calibrate() first (query_calibrated is the "
                "measured-knob path; plain query() takes explicit "
                "n_probe/refine)"
            )
        if not self._calibration_fresh(
            cal.get("fingerprint", {}), self._fingerprint(spark)
        ):
            raise ValueError(
                f"calibration record at {self.path} is stale (corpus "
                "drift or a layer attach/refit since it was measured) "
                "— re-run calibrate()"
            )
        scorings = cal.get("scorings") or {}
        if scoring is None:
            rec = recommended_scoring(
                self.describe(spark)["pq"],
                self.sq_enabled(spark),
                self.bq_enabled(spark),
            )["scoring"]
            scoring = rec
        if scoring.endswith("_refine"):
            entry = scorings.get(scoring)
            if entry is None and scoring == "adc_refine" and cal.get(
                "refine"
            ) is not None:
                entry = {"refine": cal["refine"]}  # legacy record shape
            if entry is None:
                raise ValueError(
                    f"calibration record has no measured funnel for "
                    f"{scoring!r} — re-run calibrate() with the layer "
                    "attached"
                )
            return self.query(
                queries, k, n_probe=cal["n_probe"], scoring=scoring,
                refine=entry["refine"], query_id=query_id,
                query_emb=query_emb,
            )
        return self.query(
            queries, k, n_probe=cal["n_probe"], scoring=scoring,
            query_id=query_id, query_emb=query_emb,
        )

    def query(
        self,
        queries: DataFrame,
        k: int,
        n_probe: int = 4,
        query_id: str = "query_id",
        query_emb: str = "query_emb",
        kernel_threshold: int = KERNEL_INDEX_THRESHOLD,
        scoring: str = "exact",
        refine: int = 4,
    ) -> DataFrame:
        """Top-``k`` per query over the stored index: rank the stored
        centroids per query on the driver (the scorable queries are
        collected once; the coarse quantizer is cached on the instance),
        probe the ``n_probe`` best cells, equi-join candidates on cell —
        each index part joined separately so the compacted bucketed scan
        keeps its partitioning — score, then the per-query rank window.
        Returns (query_id, vec_id, rank, sim) with the engine's standard
        tie-breaks. Building the frame runs no job over the index beyond
        reading the component footers (and the kernel gate's row count
        after an ``add``/``compact``).

        The query batch is collected to the driver, so it is bounded like
        every kernel path's query set: more than
        ``vector_kernels.MAX_QUERY_ROWS`` scorable rows (duplicate ids
        count before they collapse) raise ``ValueError``. Rows with an
        unscorable embedding (null, a null element, or not the index's
        dimension) return nothing; rows sharing a ``query_id`` collapse
        to the first collected.

        ``scoring`` picks the candidate representation (the IVF-PQ
        trade, requires ``enable_pq`` for the last two):
         - ``"exact"``: full float vectors, exact cosine (Arrow kernel
           above ``kernel_threshold`` index rows, all-JVM fold below);
         - ``"adc"``: candidates scanned as m-int PQ codes and scored
           asymmetrically — 16-64× less candidate I/O, sim is the ADC
           estimate;
         - ``"adc_refine"``: ADC first, then the top ``refine``·k live
           candidates per query re-scored exactly against their stored
           vectors — the standard recall repair; the full-vector read
           touches refine·k rows per query instead of every candidate;
         - ``"sq8"`` / ``"sq8_refine"`` (requires ``enable_sq8``):
           candidates scanned as dim byte codes, scored against the
           midpoint reconstruction — near-exact recall at ~8× less
           candidate I/O than float64 rows;
         - ``"bq1"`` / ``"bq1_refine"`` (requires ``enable_bq``):
           candidates scanned as dim/32 packed words, ranked by
           integer Hamming (sim is the normalized ``(dim−h)/dim``) —
           the cheapest scan; pair with the refine arm, which repairs
           what 1 bit/dim costs.

        ``n_probe=4`` is a throughput default, not a recall promise:
        calibrate with ``measured_n_probe(store, queries, target)`` —
        the cheapest setting whose measured recall@k meets the target
        on a bounded query sample — or fall back to
        ``recommended_n_probe(n_cells, target)``, the conservative
        no-measurement heuristic (near-exhaustive at high targets; the
        r10 operating-curve tables are in SCALING.md)."""
        family = scoring.removesuffix("_refine")
        if scoring != "exact" and family not in _LAYERS:
            raise ValueError(f"unknown scoring {scoring!r}")
        if scoring.endswith("_refine") and refine < 1:
            # rank<=refine*k would silently return ZERO rows per query
            raise ValueError(
                f"{scoring} needs refine >= 1, got {refine}"
            )
        import numpy as np
        from pyspark.sql.types import IntegerType, StructField, StructType

        spark = queries.sparkSession
        cents = self.centroids(spark)
        n_cells, dim = len(cents), len(cents[0])
        n_probe = min(n_probe, n_cells)
        # Probe cells are ranked on the driver: the decision is |Q|×k
        # numbers, so one bounded collect of the scorable queries feeds
        # it, and the probed-cell list and both broadcast query sides are
        # driver-built frames (LocalRelations, no job of their own).
        # Cosine == dot against unit-normalized centroids, in the
        # ascending fold the JVM ``dot`` uses, so the sims are the same
        # bits. The 9-dp rounding stays in the JVM: Spark rounds HALF_UP
        # on Double.toString (on JDK 17 not always the shortest repr),
        # Python half-even on the binary value. A Project over a
        # LocalRelation is evaluated while planning, so that rounding
        # collect runs no job. Ranking by (sim DESC, cell ASC) keeps the
        # lowest-cell tie-break (ADVICE r9), with NaN first as in Spark's
        # descending sort.
        q = vk.scorable(queries, query_emb, dim).select(
            F.col(query_id),
            F.col(query_emb).cast("array<double>").alias("__qe"),
            l2_norm(F.col(query_emb)).alias("__nq"),
        )
        # One row per query_id, the first collected (ADVICE r11): a
        # retried / unioned batch collapses to one probe set per id
        # instead of splitting n_probe across the copies. Duplicate ids
        # with CONFLICTING embeddings are a contract violation (the
        # final rank window already assumes query_id is a key); one row
        # wins and the probe set, scoring and ranking all follow it.
        first: dict = {}
        for r in vk.bounded_collect(
            q, vk.MAX_QUERY_ROWS, "VectorIndexStore.query"
        ):
            first.setdefault(r[0], tuple(r))
        qmeta_rows = list(first.values())
        qcell_rows = []
        if qmeta_rows:
            cm = np.array(cents, dtype=np.float64)
            nrm = vk.norms(cm)
            unit = cm / np.where(nrm == 0.0, 1.0, nrm)[:, None]
            raw = vk.fold_cross(
                np.array([r[1] for r in qmeta_rows], dtype=np.float64), unit
            )
            rounded = local_frame(
                spark, [(x,) for x in raw.tolist()], "s array<double>"
            ).select(F.transform("s", lambda x: F.round(x, SIM_ROUND)))
            sims = np.array(
                [r[0] for r in rounded.collect()], dtype=np.float64
            ).reshape(raw.shape)
            cells = np.broadcast_to(np.arange(n_cells), sims.shape)
            nan = np.isnan(sims)
            order = np.lexsort(
                (cells, -np.where(nan, 0.0, sims), ~nan), axis=-1
            )[:, :n_probe]
            for r, top in zip(qmeta_rows, order.tolist()):
                qcell_rows.extend((*r, c) for c in top)
        qfields = q.schema.fields
        qmeta = local_frame(spark, qmeta_rows, StructType(qfields))
        qcells = local_frame(
            spark,
            qcell_rows,
            StructType([*qfields, StructField("cell", IntegerType())]),
        )
        # push the probed-cell set into the scan as an IN filter: the
        # list is ≤ queries × n_probe values (driver-bounded by the
        # query batch the caller chose), and the compacted layout is
        # sorted by cell, so parquet row-group stats prune everything
        # outside the probed cells — without this the scan read the
        # WHOLE index and the join did the filtering (measured at 1M
        # vectors: the bucketed scan was 2× slower than parquet because
        # its 16 files capped parallelism on a full scan it never
        # needed to do)
        probed = sorted({r[-1] for r in qcell_rows})

        aparts_memo: list = []

        def _aparts():
            # the assignments component frames, listed ONCE per query()
            # call (r12 review: the exact path listed them in both the
            # candidate build and the row-count gate — each listing
            # re-reads the meta file and parquet footers)
            if not aparts_memo:
                parts = component_frames(spark, self.path, "assignments")
                if not parts:
                    raise ValueError(f"no index at {self.path}")
                aparts_memo.append(parts)
            return aparts_memo[0]

        def _cand_from(parts, cols: list[str]):
            cand = None
            for p in parts:
                s = p.filter(F.col("cell").isin(probed)).join(
                    F.broadcast(qcells), "cell"
                ).select(
                    query_id,
                    F.col("id").alias(self.id_col),
                    "__qe",
                    "__nq",
                    *cols,
                )
                cand = s if cand is None else cand.unionByName(s)
            return cand

        def _exact_scored(cand):
            # Candidate scoring switches on observed index size (the
            # retrieval-family discipline). The JVM fold is interpreted
            # per row and turned bimodal under JIT pressure at 200k
            # vectors (3 s ↔ 72 s); above the gate the Arrow kernel
            # scores the same bits. Below it the all-JVM fold avoids the
            # ~0.7 s Arrow spin-up. The count is cached on the instance
            # (invalidated by add/compact). Defective stored rows (a
            # wrong-dim add) fail the one scorable predicate on both
            # paths alike.
            cand = vk.scorable(cand, "emb", dim)
            if self._n_rows_cache is None:
                self._n_rows_cache = sum(p.count() for p in _aparts())
            if self._n_rows_cache > kernel_threshold:
                return _score_candidates(
                    cand, query_id, self.id_col, ["emb"],
                    lambda q, qn, pdf: vk.exact(q, qn, vk.matrix(pdf["emb"])),
                )
            return cand.select(
                query_id,
                self.id_col,
                cosine_sim("__qe", "emb", "__nq", l2_norm("emb")).alias("sim"),
            )

        def _rank(scored, kk: int):
            # The shared compaction contract tolerates duplicate index
            # rows (crash-stale deltas, a batch replayed
            # post-compaction) as "decision-neutral: candidates are
            # deduplicated and exactly verified" — make that true HERE
            # too, as the dedup path does: without this a duplicated
            # vector occupies two adjacent ranks and displaces a
            # legitimate top-k result (ADVICE r9). Duplicate rows are
            # byte-identical by contract, so any survivor carries the
            # same sim. Tombstone filter BEFORE the rank window: a
            # removed vector must not occupy a rank and displace a live
            # top-k result — nor, on the refine path, eat one of the
            # refine·k exact-rescore slots.
            live = minus_tombstones(
                spark, self.path,
                scored.dropDuplicates([query_id, self.id_col]),
                self.id_col,
            )
            return approx_ranked(live, "sim", kk, query_id, self.id_col)

        def _exact_refine(approx_scored):
            # the top refine·k LIVE approximate candidates per query,
            # re-scored exactly — the shared recall-repair tail of
            # adc_refine and sq8_refine. The full-vector join stays
            # inside the probed cells (the candidate came from one),
            # so the assignments scan keeps the same IN-filter
            # row-group pruning as the exact path — it just reads
            # refine·k rows per query instead of every candidate in
            # the probed cells.
            cand_ids = _rank(approx_scored, refine * k).select(
                query_id, self.id_col
            )
            embf = None
            for p in _aparts():
                s = p.filter(F.col("cell").isin(probed)).select(
                    F.col("id").alias(self.id_col), "emb"
                )
                embf = s if embf is None else embf.unionByName(s)
            embf = embf.dropDuplicates([self.id_col])
            recand = (
                cand_ids.join(embf, self.id_col)
                .join(F.broadcast(qmeta), query_id)
                .select(query_id, self.id_col, "__qe", "__nq", "emb")
            )
            return _rank(_exact_scored(recand), k)

        if scoring == "exact":
            return _rank(_exact_scored(_cand_from(_aparts(), ["emb"])), k)
        layer = _LAYERS[family]
        cols, score = layer.scorer(self._require(spark, family), cents, dim)
        parts = component_frames(spark, self.path, layer.comp)
        if not parts:
            raise self._missing(family)
        cand = _cand_from(parts, cols).filter(
            F.col(layer.col).isNotNull()  # defective rows: no codes
        )
        approx = _score_candidates(cand, query_id, self.id_col, cols, score)
        return _rank(approx, k) if scoring == family else _exact_refine(approx)
