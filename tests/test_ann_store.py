"""Persistent incremental IVF index (VectorIndexStore): build → add →
query → compact, with recall against the exact ranker and identical
results across the compaction fold."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from biodata_pipeline_spark.operators.ann_store import VectorIndexStore
from biodata_pipeline_spark.operators.pq import PQ_M

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _queries(spark, n=5):
    # held-out queries: the first n vectors re-labeled, so each query's
    # rank-1 neighbor should be its own identical twin in the index
    return (
        _emb(spark)
        .orderBy("vec_id")
        .limit(n)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_emb"),
        )
    )


def test_build_query_recall_and_incremental_add(spark, tmp_path):
    from biodata_pipeline_spark.operators.similarity import brute_force_ann

    store = VectorIndexStore(str(tmp_path / "ivf"))
    base = _emb(spark).filter(F.col("vec_id") < 150)
    n = store.build(base, k=8, iters=2)
    assert len(n) == 8
    q = _queries(spark)

    got = store.query(q, k=5, n_probe=8).collect()  # n_probe=k_cells ⇒ exact
    assert {r.query_id for r in got} == {r.query_id for r in q.collect()}
    # probing every cell is exhaustive: must equal the exact ranker
    exact = brute_force_ann(q, base, 5).collect()
    assert {(r.query_id, r.vec_id, r.rank) for r in got} == {
        (r.query_id, r.vec_id, r.rank) for r in exact
    }
    # each query's own twin ranks first at sim 1.0
    top = {r.query_id: r for r in got if r.rank == 1}
    for qid, r in top.items():
        assert r.vec_id == qid and r.sim == pytest.approx(1.0)

    # narrow probe still finds the identical twin (it shares the cell)
    narrow = store.query(q, k=1, n_probe=1).collect()
    assert all(r.vec_id == r.query_id for r in narrow)

    # incremental add: new vectors become searchable without rebuild
    extra = _emb(spark).filter(
        (F.col("vec_id") >= 150) & (F.col("vec_id") < 160)
    )
    assert store.add(extra, batch_id="1") == 10
    probe = extra.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_emb"),
    )
    found = store.query(probe, k=1, n_probe=8).collect()
    assert all(r.vec_id == r.query_id and r.rank == 1 for r in found)


def test_add_batch_id_retry_idempotent(spark, tmp_path):
    store = VectorIndexStore(str(tmp_path / "ivf2"))
    base = _emb(spark).filter(F.col("vec_id") < 100)
    store.build(base, k=4, iters=1)
    extra = _emb(spark).filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 110)
    )
    store.add(extra, batch_id="7")
    store.add(extra, batch_id="7")  # replay overwrites its own partition
    n_rows = spark.read.parquet(f"{store.path}/assignments").count()
    assert n_rows == 110
    stats = {r.cell: r.n_vecs for r in store.cell_stats(spark).collect()}
    assert sum(stats.values()) == 110


def test_query_scan_prunes_to_probed_cells(spark, tmp_path):
    """The probed-cell IN filter must reach the assignments scan as a
    pushed parquet filter — without it the query reads the whole index
    and the join does the filtering (the 1M-vector probe measured the
    full scan 2× slower on the compacted layout)."""
    from biodata_pipeline_spark.plans.inspect import formatted_plan

    store = VectorIndexStore(str(tmp_path / "ivf_plan"))
    store.build(_emb(spark).filter(F.col("vec_id") < 100), k=4, iters=1)
    plan = formatted_plan(store.query(_queries(spark, 2), k=3, n_probe=1))
    assert "PushedFilters: [" in plan
    assert "cell" in plan.split("PushedFilters: [", 1)[1][:80]


def test_build_vector_index_pipeline_gates_defective_vectors(
    spark, tmp_path
):
    """The embedding-side lifecycle entry: defective vectors are
    censused and EXCLUDED from the index; cell occupancy covers exactly
    the clean ones."""
    from biodata_pipeline_spark.pipelines import build_vector_index

    clean = _emb(spark).filter(F.col("vec_id") < 80)
    bad = spark.createDataFrame(
        [(900, None), (901, [1.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    emb = clean.select("vec_id", "embedding").unionByName(bad)
    census, cells = build_vector_index(
        emb, str(tmp_path / "ivf_pipe"), dim=64, k=4, iters=1
    )
    by_defect = {r.defect: r.n_vecs for r in census.collect()}
    assert by_defect["ok"] == 80
    assert by_defect["null"] == 1 and by_defect["wrong_dim"] == 1
    assert sum(r.n_vecs for r in cells.collect()) == 80

    # pq_m attaches the PQ layer in the same pass: every clean vector
    # gets codes and the ADC path serves immediately
    census2, _ = build_vector_index(
        emb, str(tmp_path / "ivf_pipe_pq"), dim=64, k=4, iters=1, pq_m=4
    )
    census2.collect()  # pipelines return lazy frames; force the census
    store = VectorIndexStore(str(tmp_path / "ivf_pipe_pq"))
    q = _queries(spark, n=2)
    got = store.query(q, 1, n_probe=4, scoring="adc")
    assert {(r[0], r[1]) for r in got.collect()} == {
        (r["query_id"], r["query_id"]) for r in q.collect()
    }


def test_compaction_preserves_query_results(spark, tmp_path):
    store = VectorIndexStore(str(tmp_path / "ivf3"))
    base = _emb(spark).filter(F.col("vec_id") < 120)
    store.build(base, k=4, iters=1)
    store.add(
        _emb(spark).filter(
            (F.col("vec_id") >= 120) & (F.col("vec_id") < 140)
        ),
        batch_id="1",
    )
    q = _queries(spark)
    before = sorted(
        (r.query_id, r.vec_id, r.rank, r.sim)
        for r in store.query(q, k=5, n_probe=4).collect()
    )
    stats = store.compact(spark, n_buckets=4)
    assert stats["assignments"]["files_after"] <= 5
    after = sorted(
        (r.query_id, r.vec_id, r.rank, r.sim)
        for r in store.query(q, k=5, n_probe=4).collect()
    )
    assert after == before
    # occupancy survives the fold
    assert sum(
        r.n_vecs for r in store.cell_stats(spark).collect()
    ) == 140
    # post-compaction adds land in the delta dir and are queried too
    store.add(
        _emb(spark).filter(
            (F.col("vec_id") >= 140) & (F.col("vec_id") < 145)
        ),
        batch_id="2",
    )
    probe = (
        _emb(spark)
        .filter((F.col("vec_id") >= 140) & (F.col("vec_id") < 145))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_emb"),
        )
    )
    found = store.query(probe, k=1, n_probe=4).collect()
    assert all(r.vec_id == r.query_id for r in found)


def test_cell_stats_counts_a_replayed_batch_once(spark, tmp_path):
    """A batch replayed after a compaction lands a second copy of its
    rows in the delta dir; occupancy counts the live corpus, one row
    per id, exactly as ``describe`` and ``vectors`` do."""
    store = VectorIndexStore(str(tmp_path / "ivf_replay"))
    emb = _emb(spark)
    store.build(emb.filter(F.col("vec_id") < 150), k=4, iters=1)
    b2 = emb.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 200))
    store.add(b2, batch_id="b2")
    store.compact(spark, n_buckets=4)
    store.add(b2, batch_id="b2")
    n_live = store.describe(spark)["n_live_vectors"]
    assert n_live == 200
    assert sum(r.n_vecs for r in store.cell_stats(spark).collect()) == n_live


def test_assign_cells_parity_with_kmeans_argmin(spark):
    """ADVICE r9 (low): the large-k assignment must argmin the UNROUNDED
    fold exactly as kmeans.assign_clusters does. The crafted vector sits
    2e-8 closer to centroid 1 — rounding at SUM_GRAIN before the argmin
    made the two distances tie and flipped it to centroid 0."""
    from biodata_pipeline_spark.operators.kmeans import (
        assign_clusters,
        assign_clusters_kernel,
        seed_centroids,
    )

    cents = [[0.0, 0.0], [1.0, 0.0]]
    near_tie = spark.createDataFrame(
        [(1, [0.50000002, 0.0])], "vec_id long, embedding array<double>"
    )
    got = assign_clusters_kernel(near_tie, cents).collect()[0]
    want = assign_clusters(near_tie, cents).collect()[0]
    assert got.cluster == want.cluster == 1

    # and THREE-WAY row-for-row parity (cluster AND 6dp dist2) on real
    # embeddings: unrolled chains (the oracle's textual mirror), the
    # matrix-literal fold, and the Arrow kernel must be bit-identical
    from biodata_pipeline_spark.operators.kmeans import assign_clusters_matrix

    emb = _emb(spark).filter(F.col("vec_id") < 200)
    cents = seed_centroids(emb, 6, "vec_id", "embedding")
    b = assign_clusters(emb, cents).select(
        "vec_id",
        F.col("cluster").alias("c_ref"),
        F.col("dist2").alias("d_ref"),
    )
    for impl in (assign_clusters_matrix, assign_clusters_kernel):
        a = impl(emb, cents, with_dist2=True).select(
            "vec_id",
            F.col("cluster").alias("c_got"),
            F.col("dist2").alias("d_got"),
        )
        diff = a.join(b, "vec_id").filter(
            (F.col("c_got") != F.col("c_ref"))
            | (F.col("d_got") != F.col("d_ref"))
        )
        assert diff.count() == 0, impl.__name__


def _manual_store(spark, path, cents, assignments):
    store = VectorIndexStore(path)
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.parquet(f"{path}/centroids")
    spark.createDataFrame(
        assignments, "id long, emb array<double>, cell int"
    ).write.parquet(f"{path}/assignments")
    return store


def test_probe_tie_break_prefers_lowest_cell(spark, tmp_path):
    """ADVICE r9 (low): identical centroids tie on query similarity; the
    probed cell must be the LOWEST index (engine-wide convention) — the
    old reverse(array_sort) probed the highest."""
    store = _manual_store(
        spark,
        str(tmp_path / "ivf_tie"),
        [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]],  # cells 0 and 1 identical
        [(10, [1.0, 0.0], 0), (20, [1.0, 0.0], 1), (30, [0.0, 1.0], 2)],
    )
    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "query_id long, query_emb array<double>"
    )
    got = store.query(q, k=5, n_probe=1).collect()
    assert [r.vec_id for r in got] == [10]


def test_query_dedups_duplicate_index_rows(spark, tmp_path):
    """ADVICE r9 (medium): duplicate index rows (stale deltas after a
    crash, a batch replayed post-compaction) are decision-neutral for
    the dedup path; the IVF query must dedupe candidates too, or a
    duplicated vector takes two adjacent ranks and displaces a
    legitimate top-k result."""
    store = _manual_store(
        spark,
        str(tmp_path / "ivf_dup"),
        [[1.0, 0.0]],
        [
            (10, [1.0, 0.0], 0),
            (10, [1.0, 0.0], 0),  # byte-identical duplicate row
            (11, [0.9, 0.1], 0),
        ],
    )
    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "query_id long, query_emb array<double>"
    )
    got = sorted(
        (r.rank, r.vec_id) for r in store.query(q, k=2, n_probe=1).collect()
    )
    assert got == [(1, 10), (2, 11)]


def test_sample_trained_build_parity_and_exactness(spark, tmp_path):
    """train_sample trains the quantizer on the deterministic md5-top-n
    sample (bit-identical to fitting that subset directly), enrolls the
    FULL corpus, and stays exhaustive-exact at n_probe=k."""
    from biodata_pipeline_spark.operators.kmeans import kmeans_fit
    from biodata_pipeline_spark.operators.similarity import brute_force_ann

    base = _emb(spark).filter(F.col("vec_id") < 150)
    store = VectorIndexStore(str(tmp_path / "ivf_sample"))
    cents = store.build(base, k=8, iters=2, train_sample=60)

    sub = (
        base.filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(60)
    )
    assert kmeans_fit(sub, 8, 2, "vec_id", "embedding") == cents

    # every vector is enrolled regardless of the training subset
    assert spark.read.parquet(f"{store.path}/assignments").count() == 150
    # exhaustive probing is exact no matter where the centroids came from
    q = _queries(spark)
    got = store.query(q, k=5, n_probe=8).collect()
    exact = brute_force_ann(q, base, 5).collect()
    assert {(r.query_id, r.vec_id, r.rank) for r in got} == {
        (r.query_id, r.vec_id, r.rank) for r in exact
    }


def test_rebuild_retrains_and_reenrolls_full_corpus(spark, tmp_path):
    """rebuild: the drift answer — new quantizer (bigger k) over the
    enrolled corpus into a fresh path; the old store stays live, every
    vector is re-enrolled, and the new store is exhaustive-exact."""
    from biodata_pipeline_spark.operators.similarity import brute_force_ann

    store = VectorIndexStore(str(tmp_path / "ivf_old"))
    base = _emb(spark).filter(F.col("vec_id") < 120)
    store.build(base, k=4, iters=1)
    store.add(
        _emb(spark).filter(
            (F.col("vec_id") >= 120) & (F.col("vec_id") < 140)
        ),
        batch_id="1",
    )
    q = _queries(spark)
    old_results = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in store.query(q, k=5, n_probe=4).collect()
    )

    new = store.rebuild(spark, str(tmp_path / "ivf_new"), k=8, iters=2)
    assert spark.read.parquet(f"{new.path}/assignments").count() == 140
    got = {
        (r.query_id, r.vec_id, r.rank)
        for r in new.query(q, k=5, n_probe=8).collect()
    }
    full = _emb(spark).filter(F.col("vec_id") < 140)
    exact = {
        (r.query_id, r.vec_id, r.rank)
        for r in brute_force_ann(q, full, 5).collect()
    }
    assert got == exact
    # the old store is untouched and still serves identical results
    again = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in store.query(q, k=5, n_probe=4).collect()
    )
    assert again == old_results


def test_recommended_n_probe_reaches_target_recall(spark, tmp_path):
    """VERDICT r9 #3: the recall-targeted setting must actually reach
    >= 0.9 recall@10 on the fixture corpus. recommended_n_probe uses
    the distribution-free bound (n_probe/n_cells lower-bounds recall —
    the sweep tables in SCALING.md), so this holds regardless of how
    the fixture embeddings cluster. Also pins the helper's arithmetic
    and that target 1.0 == exhaustive."""
    from biodata_pipeline_spark.operators.ann_store import (
        recommended_n_probe,
    )
    from biodata_pipeline_spark.operators.similarity import brute_force_ann

    assert recommended_n_probe(8) == 8  # ceil(0.9*8)
    assert recommended_n_probe(64) == 58
    assert recommended_n_probe(64, target_recall=1.0) == 64
    assert recommended_n_probe(16, target_recall=0.5) == 8
    with pytest.raises(ValueError):
        recommended_n_probe(8, target_recall=0.0)

    store = VectorIndexStore(str(tmp_path / "ivf_rec"))
    corpus = _emb(spark)
    k_cells = 8
    store.build(corpus, k=k_cells, iters=2)
    q = _queries(spark, n=10)
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_ann(q, corpus, 10).collect()
    }
    got = {
        (r.query_id, r.vec_id)
        for r in store.query(
            q, k=10, n_probe=recommended_n_probe(k_cells)
        ).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, recall


def test_measured_n_probe_cheapest_setting_meets_target(spark, tmp_path):
    """VERDICT r10 #4: measured_n_probe must return a setting that (a)
    is no more expensive than recommended_n_probe's conservative
    fallback and (b) actually meets the recall target when used —
    verified against the exact ranker, not the helper's own truth."""
    from biodata_pipeline_spark.operators.ann_store import (
        measured_n_probe,
        recommended_n_probe,
    )
    from biodata_pipeline_spark.operators.similarity import brute_force_ann

    store = VectorIndexStore(str(tmp_path / "ivf_meas"))
    corpus = _emb(spark)
    k_cells = 8
    store.build(corpus, k=k_cells, iters=2)
    q = _queries(spark, n=10)

    n_probe = measured_n_probe(store, q, target_recall=0.9, k=10)
    assert 1 <= n_probe <= recommended_n_probe(k_cells, 0.9)

    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_ann(q, corpus, 10).collect()
    }
    got = {
        (r.query_id, r.vec_id)
        for r in store.query(q, k=10, n_probe=n_probe).collect()
    }
    assert len(got & exact) / len(exact) >= 0.9

    # powers-of-two walk: a target of 1.0 still terminates (exhaustive)
    assert measured_n_probe(store, q, target_recall=1.0, k=10) <= k_cells

    with pytest.raises(ValueError):
        measured_n_probe(store, q, target_recall=0.0)


def test_remove_tombstone_then_compact_drops_physically(spark, tmp_path):
    """Deletion path (r11): remove() tombstones ids — queries, vectors()
    and cell_stats() exclude them immediately and a removed vector
    cannot displace a live top-k result; compact() physically drops the
    rows while folding and clears the tombstones; add() after the
    compact resurrects the id."""
    store = VectorIndexStore(str(tmp_path / "ivf_del"))
    base = _emb(spark).filter(F.col("vec_id") < 150)
    store.build(base, k=4, iters=1)
    q = _queries(spark, n=3)  # query_ids 0,1,2 — own twins rank 1

    before = store.query(q, k=5, n_probe=4).collect()
    n_before = store.vectors(spark).count()
    total_cells_before = sum(
        r.n_vecs for r in store.cell_stats(spark).collect()
    )
    assert {r.vec_id for r in before if r.rank == 1} == {0, 1, 2}

    # remove query 0's twin (vec_id 0) + a no-op never-enrolled id
    assert store.remove(spark, [0, 999_999]) == 2

    got = store.query(q, k=5, n_probe=4).collect()
    assert 0 not in {r.vec_id for r in got}
    # ranks stay dense: query 0 still gets a full k=5 of LIVE vectors
    # (the tombstoned row must not eat a rank)
    q0 = sorted(r.rank for r in got if r.query_id == 0)
    assert q0 == [1, 2, 3, 4, 5]
    assert store.vectors(spark).count() == n_before - 1
    assert (
        sum(r.n_vecs for r in store.cell_stats(spark).collect())
        == total_cells_before - 1
    )

    # compact folds the deletion into the physical layout
    stats = store.compact(spark, n_buckets=4)
    assert stats["tombstones_folded"] == 2
    import os

    assert not os.path.exists(f"{store.path}/tombstones")
    assert store.vectors(spark).count() == n_before - 1
    post = store.query(q, k=5, n_probe=4).collect()
    assert sorted((r.query_id, r.vec_id, r.rank) for r in post) == sorted(
        (r.query_id, r.vec_id, r.rank) for r in got
    )

    # resurrect: re-add vec_id 0 after the compact cleared its tombstone
    store.add(base.filter(F.col("vec_id") == 0), batch_id="resurrect")
    back = store.query(q, k=1, n_probe=4).collect()
    assert {r.query_id: r.vec_id for r in back}[0] == 0


def test_remove_dataframe_form_and_masking_until_compact(spark, tmp_path):
    """remove() accepts a DataFrame of ids; an id re-added while its
    tombstone is pending stays invisible until a compact clears it —
    the documented removal-wins visibility rule."""
    store = VectorIndexStore(str(tmp_path / "ivf_del2"))
    base = _emb(spark).filter(F.col("vec_id") < 100)
    store.build(base, k=4, iters=1)

    ids_df = _emb(spark).filter(F.col("vec_id") < 2).select("vec_id")
    assert store.remove(spark, ids_df) == 2

    # re-add before compact: still masked by the pending tombstone
    store.add(base.filter(F.col("vec_id") < 2), batch_id="early")
    assert store.vectors(spark).filter(F.col("id") < 2).count() == 0

    # that compaction drops the re-added rows with the old ones
    store.compact(spark, n_buckets=4)
    assert store.vectors(spark).filter(F.col("id") < 2).count() == 0

    # post-compact add is visible
    store.add(base.filter(F.col("vec_id") < 2), batch_id="late")
    assert store.vectors(spark).filter(F.col("id") < 2).count() == 2


def test_query_kernel_path_bit_parity_with_fold(spark, tmp_path):
    """r11: above KERNEL_INDEX_THRESHOLD query() scores candidates in
    the Arrow kernel (the interpreted JVM HOF fold went bimodal under
    JIT pressure at 200k rows). Forcing each path on the same store
    must produce IDENTICAL (query_id, vec_id, rank, sim) rows — the
    ascending-dim fold contract."""
    store = VectorIndexStore(str(tmp_path / "ivf_kern"))
    store.build(_emb(spark), k=8, iters=2)
    q = _queries(spark, n=10)

    fold = store.query(q, k=10, n_probe=4, kernel_threshold=10**9).collect()
    kern = store.query(q, k=10, n_probe=4, kernel_threshold=0).collect()
    assert sorted(
        (r.query_id, r.vec_id, r.rank, r.sim) for r in fold
    ) == sorted((r.query_id, r.vec_id, r.rank, r.sim) for r in kern)


def test_query_duplicate_query_ids_keep_full_probe_width(spark, tmp_path):
    """ADVICE r12: duplicate query_id rows shared one cell-rank window,
    so each duplicate re-listed every cell and the top-n_probe rows
    covered only ~n_probe/dups DISTINCT cells — a silent recall drop.
    query() now collapses to one row per query_id before the centroid
    cross-join: a retried/unioned query batch returns exactly the
    single-copy result."""
    store = VectorIndexStore(str(tmp_path / "ivf_dupq"))
    store.build(_emb(spark).filter(F.col("vec_id") < 200), k=8, iters=2)
    q = _queries(spark, n=4)
    dup = q.unionByName(q).unionByName(q).unionByName(q)  # 4 copies each

    want = sorted(
        (r.query_id, r.vec_id, r.rank, r.sim)
        for r in store.query(q, k=5, n_probe=2).collect()
    )
    got = sorted(
        (r.query_id, r.vec_id, r.rank, r.sim)
        for r in store.query(dup, k=5, n_probe=2).collect()
    )
    assert got == want


def test_query_row_count_cache_lifecycle(spark, tmp_path):
    """ADVICE r12: the kernel-gate row count is computed once per index
    state and cached on the instance — query() no longer pays one count
    job per index part per call; add() and compact() invalidate."""
    store = VectorIndexStore(str(tmp_path / "ivf_cache"))
    base = _emb(spark).filter(F.col("vec_id") < 100)
    store.build(base, k=4, iters=1)
    assert store._n_rows_cache is None  # build()'s add() leaves it unset
    n0 = store.vectors(spark).count()
    q = _queries(spark, n=2)

    store.query(q, k=3, n_probe=4).collect()
    assert store._n_rows_cache == n0

    extra = _emb(spark).filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 110)
    )
    store.add(extra, batch_id="b1")
    assert store._n_rows_cache is None  # invalidated by add
    store.query(q, k=3, n_probe=4).collect()
    n1 = store._n_rows_cache
    assert n1 is not None and n1 > n0

    store.remove(spark, [0])
    store.compact(spark, n_buckets=4)
    assert store._n_rows_cache is None  # invalidated by compact
    store.query(q, k=3, n_probe=4).collect()
    assert store._n_rows_cache == n1 - 1  # fold dropped the tombstoned row


# --- IVF-PQ: the code-compressed probe path ------------------------------


def _pq_store(spark, tmp_path, name="ivfpq"):
    store = VectorIndexStore(str(tmp_path / name))
    store.build(_emb(spark), k=8, iters=1)
    store.enable_pq(spark)
    return store


def test_pq_adc_matches_operator_level_topk(spark, tmp_path):
    """query(scoring='adc') at full probe == pq_adc_topk over the same
    codes and books — the store adds probing/persistence, never a
    different score (bit-equal: the shared subspace-grouped fold)."""
    from biodata_pipeline_spark.sources.store import component_frames
    from biodata_pipeline_spark.operators.pq import pq_adc_topk

    store = _pq_store(spark, tmp_path)
    q = _queries(spark)
    got = store.query(q, 10, n_probe=8, scoring="adc")
    books = store._pq_books(spark)
    codes = None
    for p in component_frames(spark, store.path, "pq_codes"):
        codes = p if codes is None else codes.unionByName(p)
    want = pq_adc_topk(
        q,
        codes.select(F.col("id").alias("vec_id"), "codes"),
        books,
        10,
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_pq_refine_recall_at_least_adc(spark, tmp_path):
    store = _pq_store(spark, tmp_path)
    q = _queries(spark)
    exact = {
        (r[0], r[1]) for r in store.query(q, 10, n_probe=8).collect()
    }
    adc = {
        (r[0], r[1])
        for r in store.query(q, 10, n_probe=8, scoring="adc").collect()
    }
    ref = {
        (r[0], r[1])
        for r in store.query(
            q, 10, n_probe=8, scoring="adc_refine", refine=8
        ).collect()
    }
    assert len(ref & exact) >= len(adc & exact)
    # each query's identical twin is in the index: ADC scores it 1.0
    # (same codes as the query's own encoding), refine keeps it at rank 1
    top1 = store.query(q, 10, n_probe=8, scoring="adc_refine").filter(
        "rank = 1"
    )
    assert {(r[0], r[1]) for r in top1.collect()} == {
        (r["query_id"], r["query_id"]) for r in q.collect()
    }


def test_pq_add_remove_compact_lifecycle(spark, tmp_path):
    """New batches are encoded on enroll; a removed id disappears from
    ADC results immediately; compaction folds pq_codes alongside
    assignments with identical post-fold results."""
    store = VectorIndexStore(str(tmp_path / "ivfpq_life"))
    store.build(_emb(spark).filter(F.col("vec_id") < 300), k=8, iters=1)
    store.enable_pq(spark)
    q = _queries(spark)

    extra = _emb(spark).filter(F.col("vec_id") >= 300)
    store.add(extra, batch_id="b1")
    # an exact-duplicate probe of a newly added vector finds it via ADC
    probe = extra.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_emb"),
    )
    got = store.query(probe, 1, n_probe=8, scoring="adc").first()
    assert got["vec_id"] == probe.first()["query_id"]

    top = store.query(q, 3, n_probe=8, scoring="adc")
    dead = [r["vec_id"] for r in top.filter("rank = 1").collect()]
    store.remove(spark, dead)
    after = store.query(q, 3, n_probe=8, scoring="adc")
    assert not set(dead) & {r["vec_id"] for r in after.collect()}

    pre = sorted(map(tuple, after.collect()))
    stats = store.compact(spark, n_buckets=4)
    assert "pq_codes" in stats and "assignments" in stats
    post = sorted(
        map(tuple, store.query(q, 3, n_probe=8, scoring="adc").collect())
    )
    assert pre == post
    # refine contract: every refined result was one of the top
    # refine·k ADC candidates of its query (exact rescoring reorders
    # WITHIN that set, never reaches outside it)
    ref_post = store.query(
        q, 3, n_probe=8, scoring="adc_refine", refine=4
    ).collect()
    adc12 = {
        (r[0], r[1])
        for r in store.query(q, 12, n_probe=8, scoring="adc").collect()
    }
    assert {(r[0], r[1]) for r in ref_post} <= adc12
    assert all(1 <= r["rank"] <= 3 for r in ref_post)


def test_pq_requires_enable(spark, tmp_path):
    store = VectorIndexStore(str(tmp_path / "ivf_nopq"))
    store.build(_emb(spark).filter(F.col("vec_id") < 100), k=4, iters=1)
    q = _queries(spark, n=2)
    with pytest.raises(ValueError, match="enable_pq"):
        store.query(q, 3, n_probe=4, scoring="adc").collect()
    with pytest.raises(ValueError, match="unknown scoring"):
        store.query(q, 3, scoring="cosine")


def test_pq_reenable_is_idempotent_retrain(spark, tmp_path):
    store = _pq_store(spark, tmp_path, "ivfpq_re")
    q = _queries(spark, n=3)
    a = sorted(
        map(tuple, store.query(q, 5, n_probe=8, scoring="adc").collect())
    )
    n = store.enable_pq(spark)  # same corpus -> same books -> same codes
    assert n == _emb(spark).filter(F.col("embedding").isNotNull()).count()
    fresh = VectorIndexStore(store.path)  # no warm caches
    b = sorted(
        map(tuple, fresh.query(q, 5, n_probe=8, scoring="adc").collect())
    )
    assert a == b


def test_measured_pq_refine_cheapest_crossing(spark, tmp_path):
    """measured_refine(scoring="adc_refine") returns the smallest
    power-of-two refine whose measured recall@k vs the
    exact-at-same-n_probe ranking meets the target — verified against a
    manual sweep on the fixture store."""
    from biodata_pipeline_spark.operators.ann_store import measured_refine

    store = _pq_store(spark, tmp_path, "ivfpq_cal")
    q = _queries(spark, n=8)
    truth = {
        (r[0], r[1]) for r in store.query(q, 10, n_probe=8).collect()
    }

    def recall(refine):
        got = {
            (r[0], r[1])
            for r in store.query(
                q, 10, n_probe=8, scoring="adc_refine", refine=refine
            ).collect()
        }
        return len(got & truth) / len(truth)

    target = 0.8
    picked = measured_refine(
        store, q, scoring="adc_refine", target_recall=target, k=10,
        n_probe=8, max_sample=8,
    )
    assert recall(picked) >= target
    # cheapest among the walked powers of two
    r = 1
    while r < picked:
        assert recall(r) < target
        r *= 2
    # monotonicity spot-check (the proof's empirical witness)
    assert recall(picked * 2) >= recall(picked)


def test_measured_pq_refine_contract_edges(spark, tmp_path):
    from biodata_pipeline_spark.operators.ann_store import measured_refine

    store = _pq_store(spark, tmp_path, "ivfpq_cal2")
    q = _queries(spark, n=2)
    with pytest.raises(ValueError, match="target_recall"):
        measured_refine(store, q, scoring="adc_refine", target_recall=0.0)
    # unreachable target returns the cap, not an infinite walk
    got = measured_refine(
        store, q, scoring="adc_refine", target_recall=1.0, k=10, n_probe=8,
        max_sample=2, max_refine=4,
    )
    assert got <= 4


def test_pq_codes_missing_is_visible_not_wrong(spark, tmp_path):
    """The enable_pq crash-window contract: codebooks present but codes
    absent (the window between the delete and the rewrite) must raise a
    visible error from the ADC path — never score stale codes against
    new books."""
    import shutil

    store = _pq_store(spark, tmp_path, "ivfpq_dark")
    shutil.rmtree(f"{store.path}/pq_codes")
    q = _queries(spark, n=2)
    with pytest.raises(ValueError, match="no PQ codes"):
        store.query(q, 3, n_probe=8, scoring="adc").collect()
    # recovery: re-running enable_pq restores service
    store.enable_pq(spark)
    assert store.query(q, 3, n_probe=8, scoring="adc").count() == 6


def test_pq_reenable_after_compact_retires_compacted_codes(
    spark, tmp_path
):
    """r12 review (confirmed): enable_pq after a compaction must retire
    the COMPACTED code table too — the delta-dir delete alone left it
    live in the meta, giving every previously enrolled id two
    CONFLICTING code rows (old books' codes under new books) and
    silently wrong ADC sims."""
    from biodata_pipeline_spark.sources.store import component_frames
    from biodata_pipeline_spark.operators.pq import pq_adc_topk

    store = VectorIndexStore(str(tmp_path / "ivfpq_rc"))
    store.build(_emb(spark).filter(F.col("vec_id") < 300), k=8, iters=1)
    store.enable_pq(spark)
    store.compact(spark, n_buckets=4)
    store.add(_emb(spark).filter(F.col("vec_id") >= 300), batch_id="b1")
    store.enable_pq(spark)  # retrain on the grown corpus

    codes = None
    for p in component_frames(spark, store.path, "pq_codes"):
        codes = p if codes is None else codes.unionByName(p)
    # exactly one code row per enrolled id — no stale-table survivors
    n_ids = codes.select("id").distinct().count()
    assert codes.count() == n_ids == _emb(spark).filter(
        F.col("embedding").isNotNull()
    ).count()
    # and the ADC results equal the operator-level ranking under the
    # CURRENT books (a stale survivor would diverge)
    q = _queries(spark, n=3)
    fresh = VectorIndexStore(store.path)
    got = fresh.query(q, 5, n_probe=8, scoring="adc")
    want = pq_adc_topk(
        q,
        codes.select(F.col("id").alias("vec_id"), "codes"),
        fresh._pq_books(spark),
        5,
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_pq_enable_after_compact_then_compact_again(spark, tmp_path):
    """r12 review (confirmed): a store whose compaction meta predates
    enable_pq could never compact again — the files_before accounting
    indexed meta['pq_codes_path'] unconditionally (KeyError). The
    sequence build → compact → enable_pq → compact must fold both
    components."""
    store = VectorIndexStore(str(tmp_path / "ivfpq_mc"))
    store.build(_emb(spark).filter(F.col("vec_id") < 200), k=4, iters=1)
    store.compact(spark, n_buckets=4)  # pre-PQ meta
    store.enable_pq(spark)
    q = _queries(spark, n=3)
    pre = sorted(
        map(tuple, store.query(q, 5, n_probe=4, scoring="adc").collect())
    )
    stats = store.compact(spark, n_buckets=4)  # crashed before the fix
    assert "pq_codes" in stats and "assignments" in stats
    post = sorted(
        map(tuple, store.query(q, 5, n_probe=4, scoring="adc").collect())
    )
    assert pre == post


def test_pq_refine_zero_raises(spark, tmp_path):
    """refine < 1 would silently return ZERO rows per query (rank <= 0)
    — must raise instead."""
    store = _pq_store(spark, tmp_path, "ivfpq_r0")
    q = _queries(spark, n=2)
    with pytest.raises(ValueError, match="refine >= 1"):
        store.query(q, 5, n_probe=8, scoring="adc_refine", refine=0)


def test_structure_probe_bounded_on_full_corpus_fit(
    spark, tmp_path, monkeypatch
):
    """ADVICE r14: enable_pq(train_sample=None) deliberately FITS on
    the full corpus, but the structure PROBE (interpreted zip_with
    subtract + corpus×dim shuffle) must still run on a capped
    md5_top_n sample — never a full-corpus pass. Pin by shrinking the
    cap and capturing what _structure_ratio actually receives."""
    from biodata_pipeline_spark.operators import ann_store as mod

    seen = {}
    real = mod._structure_ratio

    def spy(sample, cents, *a, **kw):
        seen["n"] = sample.count()
        return real(sample, cents, *a, **kw)

    monkeypatch.setattr(mod, "_structure_ratio", spy)
    monkeypatch.setattr(mod, "STRUCTURE_PROBE_CAP", 7)

    store = VectorIndexStore(str(tmp_path / "ivf_probe_cap"))
    store.build(_emb(spark).filter(F.col("vec_id") < 120), k=4, iters=1)
    store.enable_pq(spark, train_sample=None)  # full-corpus fit
    assert seen["n"] == 7  # probe capped, not the 120-row corpus

    # an explicit train_sample keeps probing THAT sample (one universe
    # for fit + probe), not the cap
    store2 = VectorIndexStore(str(tmp_path / "ivf_probe_ts"))
    store2.build(_emb(spark).filter(F.col("vec_id") < 120), k=4, iters=1)
    store2.enable_pq(spark, train_sample=30)
    assert seen["n"] == 30


def test_describe_reports_store_state(spark, tmp_path):
    store = VectorIndexStore(str(tmp_path / "ivf_desc"))
    store.build(_emb(spark).filter(F.col("vec_id") < 100), k=4, iters=1)
    d = store.describe(spark)
    assert d["n_live_vectors"] == 100 and d["n_cells"] == 4
    assert d["n_pending_tombstones"] == 0 and d["pq"] is None
    assert d["compaction_version"] == 0
    store.remove(spark, [1, 2, 3])
    store.enable_pq(spark)
    d = store.describe(spark)
    assert d["n_live_vectors"] == 97
    assert d["n_pending_tombstones"] == 3
    sr = d["pq"].pop("structure_ratio")
    assert sr is None or 0.0 < sr  # measured signal, corpus-dependent
    assert d["pq"] == {
        "m": PQ_M, "k_sub": 16, "subdim": 64 // PQ_M, "residual": False,
        "recommended_k_sub": 16,  # 97 live rows: far below the byte rung
    }
    store.compact(spark, n_buckets=4)
    d = store.describe(spark)
    assert d["n_pending_tombstones"] == 0
    assert d["compaction_version"] >= 1


# --- calibration persistence + cross-instance books guard (r13) ----------


def test_calibrate_once_semantics_across_reopen(spark, tmp_path):
    """VERDICT r12 #4: calibration is measured once per corpus state —
    a fresh instance against the same path serves the PERSISTED record
    (reused=True) without re-running the measurement walks."""
    import biodata_pipeline_spark.operators.ann_store as mod

    store = _pq_store(spark, tmp_path, name="ivf_cal")
    q = _queries(spark, n=8)
    first = store.calibrate(spark, q, target_recall=0.9, k=5)
    assert first["reused"] is False
    assert first["n_probe"] >= 1 and first["n_probe_recall"] >= 0.9
    assert first["refine"] >= 1  # PQ layer attached -> refine measured
    assert first["fingerprint"]["books_etag"] is not None

    reopened = VectorIndexStore(store.path)
    orig = mod.measured_n_probe

    def _boom(*a, **k):
        raise AssertionError("calibration re-measured despite fresh record")

    mod.measured_n_probe = _boom
    try:
        again = reopened.calibrate(spark, q, target_recall=0.9, k=5)
    finally:
        mod.measured_n_probe = orig
    assert again["reused"] is True
    assert again["n_probe"] == first["n_probe"]
    assert again["refine"] == first["refine"]

    d = reopened.describe(spark)
    assert d["calibration"]["n_probe"] == first["n_probe"]
    assert d["calibration_stale"] is False


def test_calibrate_invalidates_on_corpus_drift_and_retrain(
    spark, tmp_path
):
    """The persisted record stops speaking for the corpus when it
    drifts: >CALIBRATION_MAX_DRIFT live-row growth or a PQ retrain
    (books etag change) forces a re-measure; a small add does not."""
    store = _pq_store(spark, tmp_path, name="ivf_cal_drift")
    q = _queries(spark, n=8)
    base = store.calibrate(spark, q, target_recall=0.9, k=5)
    n0 = store.vectors(spark).count()

    # small drift: stays fresh
    small = _emb(spark).limit(int(n0 * 0.05)).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    store.add(small, batch_id="drift_small")
    store.enable_pq(spark)  # re-encode so the ADC path covers the adds
    # NB: enable_pq retrains on the grown corpus -> etag changed, so
    # this DOES invalidate; check the row-drift axis on a store whose
    # books are unchanged instead
    plain = VectorIndexStore(str(tmp_path / "ivf_cal_plain"))
    plain.build(_emb(spark), k=8, iters=1)
    pbase = plain.calibrate(spark, q, target_recall=0.9, k=5)
    assert pbase["refine"] is None  # no PQ layer
    plain.add(
        _emb(spark).limit(int(n0 * 0.05)).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        ),
        batch_id="p_small",
    )
    assert plain.calibrate(spark, q, 0.9, k=5)["reused"] is True
    plain.add(
        _emb(spark).select(
            (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding"
        ),
        batch_id="p_big",  # doubles the corpus: drift >> 0.2
    )
    assert plain.calibrate(spark, q, 0.9, k=5)["reused"] is False

    # retrained books on the PQ store: etag drift forces re-measure
    after = store.calibrate(spark, q, target_recall=0.9, k=5)
    assert after["reused"] is False
    assert (
        after["fingerprint"]["books_etag"]
        != base["fingerprint"]["books_etag"]
    )
    # a different target is never served from the stored record
    other = plain.calibrate(spark, q, target_recall=1.0, k=5)
    assert other["reused"] is False


def test_pq_books_cross_instance_staleness_guard(spark, tmp_path):
    """r12 advice: a long-lived instance must not keep encoding/scoring
    under codebooks another process has retrained. The content-etag
    check reloads the fresh books on the next _pq_books call."""
    store = _pq_store(spark, tmp_path, name="ivf_etag")
    books_v1 = store._pq_books(spark)

    other = VectorIndexStore(store.path)  # "another process"
    other.enable_pq(spark, train_sample=100)  # different training set
    books_v2 = other._pq_books(spark)
    assert books_v1 != books_v2

    # the stale instance picks up the new books, not its cache
    assert store._pq_books(spark) == books_v2
    assert store._pq_cache_etag == other._pq_cache_etag


def test_pq_books_etag_mismatch_fails_loudly(spark, tmp_path):
    """A crashed enable_pq (books overwritten, etag not yet flipped)
    must raise, not silently score mixed state."""
    import pytest as _pytest

    from biodata_pipeline_spark.sources.store import write_doc

    store = _pq_store(spark, tmp_path, name="ivf_etag_crash")
    write_doc(
        spark, store.path, "pq_etag", {"etag": "deadbeef"}
    )
    fresh = VectorIndexStore(store.path)
    with _pytest.raises(ValueError, match="re-run .?enable_pq"):
        fresh._pq_books(spark)


def test_measured_pq_refine_warns_at_cap_below_target(spark, tmp_path):
    """r12 advice: cap-hit-below-target is now programmatically
    distinguishable — a RuntimeWarning plus the (refine, recall) form."""
    import warnings as _warnings

    from biodata_pipeline_spark.operators.ann_store import measured_refine

    store = _pq_store(spark, tmp_path, name="ivf_cap")
    q = _queries(spark, n=4)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        refine, recall = measured_refine(
            store, q, scoring="adc_refine", target_recall=1.0, k=10, n_probe=1,
            max_sample=4, max_refine=1, with_recall=True,
        )
    assert refine == 1
    if recall < 1.0:  # cap-miss: the warning must have fired
        assert any(
            issubclass(w.category, RuntimeWarning)
            and "max_refine" in str(w.message)
            for w in caught
        )


# --- versioned store docs + calibration budget coverage (round 14) --------


def test_store_doc_flip_has_no_missing_window(spark, tmp_path):
    """r13 advice (medium): the doc replace renames a NEW versioned
    name — at every point in the protocol a committed doc is readable,
    so a crash can never demote a residual store to the legacy
    (residual=False) path. Also: highest version wins, superseded
    versions + legacy files prune after the flip."""
    import os

    from biodata_pipeline_spark.sources.store import read_doc, write_doc

    p = str(tmp_path / "docstore")
    os.makedirs(p)
    assert read_doc(spark, p, "pq_etag") is None

    # legacy unversioned doc reads as version 0
    with open(f"{p}/pq_etag.json", "w") as f:
        f.write('{"etag": "legacy", "residual": true}')
    doc = read_doc(spark, p, "pq_etag")
    assert doc == {"etag": "legacy", "residual": True}

    # a versioned write supersedes + prunes the legacy file, and the
    # final name never pre-exists (pure rename, no delete-first window)
    write_doc(spark, p, "pq_etag", {"etag": "a", "residual": False})
    assert not os.path.exists(f"{p}/pq_etag.json")
    assert os.path.exists(f"{p}/pq_etag_v1.json")
    write_doc(spark, p, "pq_etag", {"etag": "b", "residual": True})
    assert read_doc(spark, p, "pq_etag")["etag"] == "b"
    assert not os.path.exists(f"{p}/pq_etag_v1.json")

    # crash-after-rename simulation: two committed versions on disk —
    # the read takes the highest, never "no doc"
    with open(f"{p}/pq_etag_v1.json", "w") as f:
        f.write('{"etag": "stale", "residual": false}')
    assert read_doc(spark, p, "pq_etag")["etag"] == "b"
    # crash-before-rename simulation: an orphaned tmp is ignored by the
    # read and swept by the next write
    with open(f"{p}/pq_etag_v3.json.tmp", "w") as f:
        f.write("{torn")
    assert read_doc(spark, p, "pq_etag")["etag"] == "b"
    write_doc(spark, p, "pq_etag", {"etag": "c", "residual": True})
    assert read_doc(spark, p, "pq_etag")["etag"] == "c"
    assert not os.path.exists(f"{p}/pq_etag_v3.json.tmp")
    assert not os.path.exists(f"{p}/pq_etag_v1.json")


def test_calibrate_budget_covers_request(spark, tmp_path):
    """r13 advice: a stored record only serves requests within its
    measurement budget — a larger max_sample or max_refine re-measures
    instead of silently inheriting a possibly-cap-limited record."""
    store = _pq_store(spark, tmp_path, name="ivf_cal_budget")
    q = _queries(spark, n=8)
    first = store.calibrate(
        spark, q, target_recall=0.9, k=5, max_sample=8, max_refine=8
    )
    assert first["reused"] is False
    assert first["max_sample"] == 8 and first["max_refine"] == 8

    # smaller-or-equal budget: covered, served from the stored record
    assert store.calibrate(
        spark, q, 0.9, k=5, max_sample=4, max_refine=8
    )["reused"] is True
    # larger sample: not covered -> re-measure
    bigger = store.calibrate(
        spark, q, 0.9, k=5, max_sample=16, max_refine=8
    )
    assert bigger["reused"] is False
    assert bigger["max_sample"] == 16
    # larger refine cap: not covered -> re-measure
    assert store.calibrate(
        spark, q, 0.9, k=5, max_sample=16, max_refine=64
    )["reused"] is False


def test_calibrate_reuse_rewarns_below_target(spark, tmp_path):
    """A reused record measured at a cap BELOW target re-raises the
    RuntimeWarning — the shortfall is visible in every process, not
    just the one that first measured it."""
    import warnings as _warnings

    store = _pq_store(spark, tmp_path, name="ivf_cal_rewarn")
    q = _queries(spark, n=4)
    with _warnings.catch_warnings(record=True):
        _warnings.simplefilter("always")
        first = store.calibrate(
            spark, q, target_recall=1.0, k=10, max_sample=4, max_refine=1
        )
    assert first["reused"] is False
    if first["refine_recall"] is not None and first["refine_recall"] < 1.0:
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            again = VectorIndexStore(store.path).calibrate(
                spark, q, target_recall=1.0, k=10,
                max_sample=4, max_refine=1,
            )
        assert again["reused"] is True
        assert any(
            issubclass(w.category, RuntimeWarning)
            and "below the 1.0 target" in str(w.message)
            for w in caught
        )


def test_describe_snapshot_contract_uncalibrated(spark, tmp_path):
    """r13 advice: 'calibration_stale' is always present — None on an
    uncalibrated store, a bool once a record exists."""
    store = VectorIndexStore(str(tmp_path / "ivf_desc_uncal"))
    store.build(_emb(spark).filter(F.col("vec_id") < 60), k=4, iters=1)
    d = store.describe(spark)
    assert d["calibration"] is None
    assert d["calibration_stale"] is None
    store.calibrate(spark, _queries(spark, n=4), target_recall=0.5, k=3)
    d = store.describe(spark)
    assert d["calibration"] is not None
    assert d["calibration_stale"] is False


# --- size-aware k_sub default (round 14) ----------------------------------


def test_recommended_k_sub_thresholds():
    """The size-aware rule: byte codes (256) at and above the measured
    rung, the 4-bit declared-family default below it."""
    from biodata_pipeline_spark.operators.pq import (
        KSUB_BYTE_CODE_ROWS,
        PQ_KSUB,
        recommended_k_sub,
    )

    assert recommended_k_sub(10) == PQ_KSUB
    assert recommended_k_sub(KSUB_BYTE_CODE_ROWS - 1) == PQ_KSUB
    assert recommended_k_sub(KSUB_BYTE_CODE_ROWS) == 256
    assert recommended_k_sub(10 * KSUB_BYTE_CODE_ROWS) == 256


def test_enable_pq_size_aware_ksub_default(spark, tmp_path, monkeypatch):
    """VERDICT r13 #2: enable_pq(k_sub=None) consults the size-aware
    recommendation, the chosen representation persists across reopen
    (k_sub is a property of the stored books), and an explicit k_sub
    always wins. The recommendation is monkeypatched small so the test
    exercises the plumbing, not a 256-codeword fit."""
    import biodata_pipeline_spark.operators.ann_store as mod

    store = VectorIndexStore(str(tmp_path / "ivf_ksub"))
    store.build(_emb(spark).filter(F.col("vec_id") < 120), k=4, iters=1)
    monkeypatch.setattr(mod, "recommended_k_sub", lambda n: 8)
    store.enable_pq(spark)  # k_sub=None -> recommendation
    assert len(store._pq_books(spark)[0]) == 8
    # reopen: the representation is the books', no ambient state
    reopened = VectorIndexStore(store.path)
    assert len(reopened._pq_books(spark)[0]) == 8
    assert reopened.describe(spark)["pq"]["k_sub"] == 8
    # explicit k_sub overrides the recommendation
    store.enable_pq(spark, k_sub=4)
    assert len(VectorIndexStore(store.path)._pq_books(spark)[0]) == 4


# --- measured structure signal for the residual decision (round 14) -------


def _clustered_vecs(spark, n=240, dim=8, k=4):
    """k tight deterministic clusters: center c = unit-ish vector from
    the cluster index, each member = center + a tiny id-dependent
    offset. No RNG — the offsets are fixed rational functions of id."""
    rows = []
    for i in range(n):
        c = i % k
        center = [(1.0 if d == 2 * c else 0.2 * ((c + d) % 3)) for d in range(dim)]
        off = [((i * (d + 3)) % 7 - 3) * 0.004 for d in range(dim)]
        rows.append((i, [center[d] + off[d] for d in range(dim)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _uniformish_vecs(spark, n=240, dim=8):
    """Structure-free corpus: every coordinate an independent md5-based
    uniform draw (deterministic, no RNG) — no cluster geometry for the
    coarse cells to absorb."""
    import hashlib

    def u(i, d):
        h = int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:8], 16)
        return h / float(1 << 31) - 1.0

    rows = [
        (i, [u(i, d) for d in range(dim)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_structure_ratio_separates_clustered_from_uniform(spark, tmp_path):
    """VERDICT r13 #3: the residual operating rule's signal is now
    measured at fit time. A clustered corpus (residual's win case)
    reads ≪ 1; a structure-free corpus reads ≈ 1 — on the
    STRUCTURE_PARITY_RATIO side that triggers the warning. Persisted in
    the pq_etag doc and surfaced by describe() on reopen."""
    import warnings as _warnings

    from biodata_pipeline_spark.operators.ann_store import (
        STRUCTURE_PARITY_RATIO,
    )

    cl = VectorIndexStore(str(tmp_path / "ivf_clustered"))
    cl.build(_clustered_vecs(spark), k=4, iters=2)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        cl.enable_pq(spark, m=2, k_sub=4, residual=True)
    assert not any(
        "structure-free" in str(w.message) for w in caught
    ), "clustered corpus must not warn"
    d = VectorIndexStore(cl.path).describe(spark)
    assert d["pq"]["structure_ratio"] is not None
    assert d["pq"]["structure_ratio"] < 0.5

    un = VectorIndexStore(str(tmp_path / "ivf_uniform"))
    un.build(_uniformish_vecs(spark), k=4, iters=2)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        un.enable_pq(spark, m=2, k_sub=4, residual=True)
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "structure-free" in str(w.message)
        for w in caught
    ), "structure-free corpus must warn on residual=True"
    d = VectorIndexStore(un.path).describe(spark)
    assert d["pq"]["structure_ratio"] >= STRUCTURE_PARITY_RATIO

    # raw enable measures + persists the signal too, without warning
    raw = VectorIndexStore(str(tmp_path / "ivf_uniform_raw"))
    raw.build(_uniformish_vecs(spark), k=4, iters=2)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        raw.enable_pq(spark, m=2, k_sub=4)
    assert not any("structure-free" in str(w.message) for w in caught)
    assert (
        VectorIndexStore(raw.path).describe(spark)["pq"]["structure_ratio"]
        >= STRUCTURE_PARITY_RATIO
    )


# --- residual IVF-PQ at the store level (round 13) ------------------------


def test_pq_residual_store_matches_operator_level(spark, tmp_path):
    """query(scoring='adc') on a residual-enabled store at full probe ==
    pq_residual_topk over the same codes/books/centroids — the store
    adds probing/persistence, never a different score (the shared
    centroid-extended grouped fold, bit-equal across all three
    forms)."""
    from biodata_pipeline_spark.sources.store import component_frames
    from biodata_pipeline_spark.operators.pq import pq_residual_topk

    store = VectorIndexStore(str(tmp_path / "ivfr"))
    store.build(_emb(spark), k=8, iters=1)
    n = store.enable_pq(spark, residual=True)
    assert n == _emb(spark).count()
    q = _queries(spark)
    got = store.query(q, 10, n_probe=8, scoring="adc")
    books = store._pq_books(spark)
    cents = store.centroids(spark)
    codes = None
    for p in component_frames(spark, store.path, "pq_codes"):
        codes = p if codes is None else codes.unionByName(p)
    want = pq_residual_topk(
        q,
        codes.select(F.col("id").alias("vec_id"), "cell", "codes"),
        books,
        cents,
        10,
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    d = store.describe(spark)
    assert d["pq"]["residual"] is True


def test_pq_residual_add_and_reopen_encode_residuals(spark, tmp_path):
    """The residual flag persists with the books' etag: a FRESH instance
    (or the same one) encodes later batches as residuals, so their
    refined self-twins rank first — and the refine path returns exact
    cosine 1.0 for the twin, proving the codes decoded against the
    right representation."""
    store = VectorIndexStore(str(tmp_path / "ivfr2"))
    base = _emb(spark).filter(F.col("vec_id") < 150)
    store.build(base, k=4, iters=1)
    store.enable_pq(spark, residual=True)

    reopened = VectorIndexStore(store.path)
    extra = _emb(spark).filter(
        (F.col("vec_id") >= 150) & (F.col("vec_id") < 170)
    )
    reopened.add(extra, batch_id="r1")
    probe = extra.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_emb"),
    )
    found = reopened.query(
        probe, 1, n_probe=4, scoring="adc_refine", refine=4
    ).collect()
    assert len(found) == 20
    assert all(r.vec_id == r.query_id and r.rank == 1 for r in found)
    assert all(r.sim == pytest.approx(1.0) for r in found)


def test_pq_residual_reenable_flips_representation(spark, tmp_path):
    """residual=True -> False retrain flips the flag AND the etag, so a
    stale instance refreshes to the raw representation (results match a
    fresh raw-PQ store bit-for-bit)."""
    store = VectorIndexStore(str(tmp_path / "ivfr3"))
    store.build(_emb(spark), k=8, iters=1)
    store.enable_pq(spark, residual=True)
    stale = VectorIndexStore(store.path)
    stale._pq_books(spark)
    assert stale._pq_cache_residual is True

    store.enable_pq(spark, residual=False)
    q = _queries(spark)
    got_stale = stale.query(q, 5, n_probe=8, scoring="adc")
    raw = VectorIndexStore(str(tmp_path / "ivfr3_raw"))
    raw.build(_emb(spark), k=8, iters=1)
    raw.enable_pq(spark)
    want = raw.query(q, 5, n_probe=8, scoring="adc")
    assert stale._pq_cache_residual is False
    assert sorted(map(tuple, got_stale.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_calibrate_on_residual_store(spark, tmp_path):
    """calibrate() composes with residual=True: the refine walk runs
    through the residual ADC dispatch, the record persists with the
    residual books' etag, and a reopened instance serves it."""
    store = VectorIndexStore(str(tmp_path / "ivfr_cal"))
    store.build(_emb(spark), k=8, iters=1)
    store.enable_pq(spark, residual=True)
    q = _queries(spark, n=8)
    first = store.calibrate(spark, q, target_recall=0.9, k=5)
    assert first["reused"] is False and first["refine"] >= 1
    assert first["fingerprint"]["books_etag"] == store._pq_cache_etag
    again = VectorIndexStore(store.path).calibrate(
        spark, q, target_recall=0.9, k=5
    )
    assert again["reused"] is True and again["refine"] == first["refine"]


# --- per-scoring calibration + the ladder's operating rule (r15) ----------


def test_calibrate_covers_all_attached_layers(spark, tmp_path):
    """VERDICT r14 #3: calibrate() measures a refine funnel for EVERY
    attached representation (adc/sq8/bq1), persists them under
    doc["scorings"], serves the record across reopen without
    re-measuring, and re-measures when a NEW layer attaches (its etag
    joins the fingerprint)."""
    import biodata_pipeline_spark.operators.ann_store as mod

    store = VectorIndexStore(str(tmp_path / "ivf_cal_all"))
    store.build(_emb(spark).filter(F.col("vec_id") < 300), k=4, iters=1)
    store.enable_pq(spark)
    store.enable_sq8(spark)
    q = _queries(spark, n=6)
    first = store.calibrate(
        spark, q, target_recall=0.9, k=5, max_sample=6, max_refine=8
    )
    assert first["reused"] is False
    assert set(first["scorings"]) == {"adc_refine", "sq8_refine"}
    for rec in first["scorings"].values():
        assert rec["refine"] >= 1 and 0.0 <= rec["recall"] <= 1.0
    # legacy top-level form still mirrors the PQ funnel
    assert first["refine"] == first["scorings"]["adc_refine"]["refine"]
    assert first["fingerprint"]["sq_etag"] is not None
    assert first["fingerprint"]["bq_etag"] is None

    # reopen: served from the persisted record, no re-measure
    boom = lambda *a, **k: (_ for _ in ()).throw(  # noqa: E731
        AssertionError("re-measured despite fresh record")
    )
    reopened = VectorIndexStore(store.path)
    orig_np, orig_rf = mod.measured_n_probe, mod.measured_refine
    mod.measured_n_probe = mod.measured_refine = boom
    try:
        again = reopened.calibrate(
            spark, q, target_recall=0.9, k=5, max_sample=6, max_refine=8
        )
    finally:
        mod.measured_n_probe, mod.measured_refine = orig_np, orig_rf
    assert again["reused"] is True
    assert again["scorings"] == first["scorings"]

    # a newly attached layer joins the fingerprint -> record stale,
    # re-measure now covers the BQ1 funnel too
    store.enable_bq(spark)
    assert VectorIndexStore(store.path).describe(spark)[
        "calibration_stale"
    ] is True
    third = store.calibrate(
        spark, q, target_recall=0.9, k=5, max_sample=6, max_refine=8
    )
    assert third["reused"] is False
    assert set(third["scorings"]) == {
        "adc_refine", "sq8_refine", "bq1_refine"
    }
    assert third["fingerprint"]["bq_etag"] is not None


def test_measured_refine_rejects_unknown_scoring(spark, tmp_path):
    from biodata_pipeline_spark.operators.ann_store import measured_refine

    with pytest.raises(ValueError, match="scoring must be one of"):
        measured_refine(None, None, scoring="exact")


def test_recommended_scoring_rules():
    """The SCALING ladder's operating rule, branch by branch (pure
    decision function; the fixture-pair integration is below)."""
    from biodata_pipeline_spark.operators.ann_store import (
        recommended_scoring,
    )

    assert recommended_scoring(None, False, False)["scoring"] == "exact"
    # measured structure: PQ's win regime
    r = recommended_scoring({"structure_ratio": 0.03}, True, True)
    assert r["scoring"] == "adc_refine" and r["coarse_filter"] == "bq1"
    # structure-free with a byte layer: SQ8 wins
    r = recommended_scoring({"structure_ratio": 0.9}, True, False)
    assert r["scoring"] == "sq8_refine" and "coarse_filter" not in r
    # structure-free without SQ8: compressed codes measured-lose
    r = recommended_scoring({"structure_ratio": 0.9}, False, False)
    assert r["scoring"] == "exact" and "enable_sq8" in r["why"]
    # legacy PQ layer that never measured the signal
    r = recommended_scoring({"structure_ratio": None}, False, False)
    assert r["scoring"] == "adc_refine" and "unmeasured" in r["why"]
    # SQ8 only (no PQ, no measured structure)
    assert recommended_scoring(None, True, False)["scoring"] == "sq8_refine"
    # 1-bit only: wide-funnel Hamming
    r = recommended_scoring(None, False, True)
    assert r["scoring"] == "bq1_refine" and "coarse_filter" not in r


def test_recommended_scoring_on_fixture_pair(spark, tmp_path):
    """VERDICT r14 #4 done-criterion: the rule decides correctly on
    the measured clustered/uniform fixture pair — clustered + PQ →
    adc_refine; uniform + PQ only → exact (with the enable_sq8
    pointer); uniform + PQ + SQ8 → sq8_refine."""
    cl = VectorIndexStore(str(tmp_path / "ivf_rs_clustered"))
    cl.build(_clustered_vecs(spark), k=4, iters=2)
    cl.enable_pq(spark, m=2, k_sub=4)
    rs = cl.describe(spark)["recommended_scoring"]
    assert rs["scoring"] == "adc_refine"

    un = VectorIndexStore(str(tmp_path / "ivf_rs_uniform"))
    un.build(_uniformish_vecs(spark), k=4, iters=2)
    un.enable_pq(spark, m=2, k_sub=4)
    rs = un.describe(spark)["recommended_scoring"]
    assert rs["scoring"] == "exact" and "enable_sq8" in rs["why"]
    un.enable_sq8(spark)
    rs = un.describe(spark)["recommended_scoring"]
    assert rs["scoring"] == "sq8_refine"

    # declared-corpus consistency (64-dim, so BQ1 attaches too):
    # whatever structure the corpus measured, the recommendation
    # follows the measured branch, with BQ1 in the coarse-first role
    from biodata_pipeline_spark.operators.ann_store import (
        STRUCTURE_PARITY_RATIO,
    )

    dc = VectorIndexStore(str(tmp_path / "ivf_rs_declared"))
    dc.build(_emb(spark).filter(F.col("vec_id") < 300), k=4, iters=1)
    dc.enable_pq(spark)
    dc.enable_sq8(spark)
    dc.enable_bq(spark)
    d = dc.describe(spark)
    sr = d["pq"]["structure_ratio"]
    expect = (
        "adc_refine"
        if sr is not None and sr < STRUCTURE_PARITY_RATIO
        else "sq8_refine"
    )
    assert d["recommended_scoring"]["scoring"] == expect
    assert d["recommended_scoring"]["coarse_filter"] == "bq1"


def test_query_calibrated_rides_persisted_knobs(spark, tmp_path):
    """r15: query_calibrated is calibrate-once's other half — the
    persisted n_probe + per-scoring refine drive the query without the
    caller re-plumbing numbers; stale records and unmeasured funnels
    fail loudly instead of silently querying with wrong knobs."""
    store = VectorIndexStore(str(tmp_path / "ivf_qcal"))
    store.build(_emb(spark).filter(F.col("vec_id") < 300), k=4, iters=1)
    q = _queries(spark, n=5)

    with pytest.raises(ValueError, match="no calibration record"):
        store.query_calibrated(q, 5)

    store.enable_pq(spark)
    cal = store.calibrate(
        spark, q, target_recall=0.9, k=5, max_sample=5, max_refine=8
    )
    got = store.query_calibrated(q, 5, scoring="adc_refine").collect()
    want = store.query(
        q, 5, n_probe=cal["n_probe"], scoring="adc_refine",
        refine=cal["scorings"]["adc_refine"]["refine"],
    ).collect()
    assert {(r.query_id, r.vec_id, r.rank) for r in got} == {
        (r.query_id, r.vec_id, r.rank) for r in want
    }

    # attaching a layer makes the record stale -> loud, not wrong
    store.enable_sq8(spark)
    with pytest.raises(ValueError, match="stale"):
        store.query_calibrated(q, 5)

    # re-calibrated: scoring=None follows recommended_scoring and the
    # reopened instance serves the same measured knobs
    store.calibrate(
        spark, q, target_recall=0.9, k=5, max_sample=5, max_refine=8
    )
    reopened = VectorIndexStore(store.path)
    auto = reopened.query_calibrated(q, 5)
    assert auto.count() > 0
    with pytest.raises(ValueError, match="no measured funnel"):
        reopened.query_calibrated(q, 5, scoring="bq1_refine")


# --- SQ8 + BQ1 store layers: the byte and binary probe paths (r14) --------


def test_enable_sq8_lifecycle(spark, tmp_path):
    """Full SQ8 layer lifecycle on the store: enable → byte scoring at
    exhaustive probe ranks the identical twin first; the refined arm's
    sims equal the exact path's on shared pairs; add() byte-encodes
    new batches; remove() masks bytes too; compact folds sq_codes with
    results identical across the fold; the layer persists across
    reopen."""
    store = VectorIndexStore(str(tmp_path / "ivf_sq8"))
    base = _emb(spark).filter(F.col("vec_id") < 200)
    store.build(base, k=4, iters=1)
    q = _queries(spark)

    with pytest.raises(ValueError, match="enable_sq8"):
        store.query(q, 5, scoring="sq8").collect()
    n = store.enable_sq8(spark)
    assert n == 200

    got = store.query(q, 5, n_probe=4, scoring="sq8").collect()
    top = {r.query_id: r for r in got if r.rank == 1}
    for qid, r in top.items():
        assert r.vec_id == qid  # 8-bit reconstruction: twin still first

    exact = {
        (r.query_id, r.vec_id): r.sim
        for r in store.query(q, 5, n_probe=4, scoring="exact").collect()
    }
    refined = store.query(
        q, 5, n_probe=4, scoring="sq8_refine", refine=4
    ).collect()
    for r in refined:
        if (r.query_id, r.vec_id) in exact:
            assert r.sim == exact[(r.query_id, r.vec_id)]

    # add: the new batch is byte-encoded on enroll and searchable
    extra = _emb(spark).filter(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 230)
    ).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    store.add(extra, batch_id="b2")
    q2 = extra.limit(2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_emb"),
    )
    got2 = store.query(q2, 1, n_probe=4, scoring="sq8").collect()
    assert all(r.vec_id == r.query_id for r in got2)

    # remove: a tombstoned id is invisible to the byte path pre-compact
    victim = got2[0].vec_id
    store.remove(spark, [victim])
    after = store.query(q2, 5, n_probe=4, scoring="sq8").collect()
    assert victim not in {r.vec_id for r in after}

    # compact folds sq_codes; byte results identical across the fold
    pre = {
        (r.query_id, r.vec_id, r.rank, r.sim)
        for r in store.query(q, 5, n_probe=4, scoring="sq8").collect()
    }
    store.compact(spark, n_buckets=4)
    post = {
        (r.query_id, r.vec_id, r.rank, r.sim)
        for r in store.query(q, 5, n_probe=4, scoring="sq8").collect()
    }
    assert pre == post

    # reopen: the layer is a property of the store, not the process
    reopened = VectorIndexStore(store.path)
    assert reopened.sq_enabled(spark)
    d = reopened.describe(spark)
    assert d["sq8"] == {"dim": 64}
    got3 = reopened.query(q, 5, n_probe=4, scoring="sq8").collect()
    assert {(r.query_id, r.vec_id, r.rank, r.sim) for r in got3} == post


def test_enable_bq_lifecycle(spark, tmp_path):
    """Full BQ1 layer lifecycle: enable → Hamming scoring at exhaustive
    probe ranks the identical twin first (its distance is 0, sim 1.0);
    the refined arm's sims equal the exact path's on shared pairs;
    add()/remove()/compact/reopen behave exactly like the SQ8 layer."""
    store = VectorIndexStore(str(tmp_path / "ivf_bq1"))
    base = _emb(spark).filter(F.col("vec_id") < 200)
    store.build(base, k=4, iters=1)
    q = _queries(spark)

    with pytest.raises(ValueError, match="enable_bq"):
        store.query(q, 5, scoring="bq1").collect()
    n = store.enable_bq(spark)
    assert n == 200

    got = store.query(q, 5, n_probe=4, scoring="bq1").collect()
    top = {r.query_id: r for r in got if r.rank == 1}
    for qid, r in top.items():
        assert r.sim == pytest.approx(1.0)  # hamming 0 exists (the twin)
        assert qid in {
            g.vec_id for g in got
            if g.query_id == qid and g.sim == pytest.approx(1.0)
        }

    exact = {
        (r.query_id, r.vec_id): r.sim
        for r in store.query(q, 5, n_probe=4, scoring="exact").collect()
    }
    refined = store.query(
        q, 5, n_probe=4, scoring="bq1_refine", refine=8
    ).collect()
    for r in refined:
        if (r.query_id, r.vec_id) in exact:
            assert r.sim == exact[(r.query_id, r.vec_id)]

    # add + remove on the word component
    extra = _emb(spark).filter(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 230)
    ).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    store.add(extra, batch_id="b2")
    q2 = extra.limit(2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_emb"),
    )
    got2 = store.query(q2, 1, n_probe=4, scoring="bq1").collect()
    assert all(r.sim == pytest.approx(1.0) for r in got2)
    victim = got2[0].vec_id
    store.remove(spark, [victim])
    after = store.query(q2, 5, n_probe=4, scoring="bq1").collect()
    assert victim not in {r.vec_id for r in after}

    # compact folds bq_words; results identical across the fold
    pre = {
        (r.query_id, r.vec_id, r.rank, r.sim)
        for r in store.query(q, 5, n_probe=4, scoring="bq1").collect()
    }
    store.compact(spark, n_buckets=4)
    post = {
        (r.query_id, r.vec_id, r.rank, r.sim)
        for r in store.query(q, 5, n_probe=4, scoring="bq1").collect()
    }
    assert pre == post

    reopened = VectorIndexStore(store.path)
    assert reopened.bq_enabled(spark)
    assert reopened.describe(spark)["bq1"] == {"dim": 64}


def test_sq8_bq1_disable_first_protocol(spark, tmp_path):
    """The enable mutation order's crash window is VISIBLE, not wrong:
    a store whose doc is the `disabled` tombstone (simulating a crash
    between steps 1 and 4) refuses byte/Hamming scoring with the
    're-run' message, and reads as layer-off in describe(). All three
    code layers coexist independently."""
    from biodata_pipeline_spark.sources.store import write_doc

    store = VectorIndexStore(str(tmp_path / "ivf_proto"))
    store.build(_emb(spark).filter(F.col("vec_id") < 120), k=4, iters=1)
    store.enable_sq8(spark)
    store.enable_bq(spark)
    store.enable_pq(spark, m=2, k_sub=4)
    q = _queries(spark, n=2)
    for scoring in ("sq8", "bq1", "adc", "exact"):
        assert store.query(q, 3, n_probe=4, scoring=scoring).count() > 0
    d = store.describe(spark)
    assert d["sq8"] is not None and d["bq1"] is not None

    # simulate the mid-enable crash: doc tombstoned, scoring dark
    write_doc(spark, store.path, "bq_meta", {"disabled": True})
    fresh = VectorIndexStore(store.path)
    assert not fresh.bq_enabled(spark)
    assert fresh.describe(spark)["bq1"] is None
    with pytest.raises(ValueError, match="did not complete"):
        fresh.query(q, 3, scoring="bq1").collect()
    # the sibling layers are untouched
    assert fresh.sq_enabled(spark)
    assert fresh.query(q, 3, n_probe=4, scoring="sq8").count() > 0
    # re-running the enable repairs the layer (idempotent)
    fresh.enable_bq(spark)
    assert fresh.query(q, 3, n_probe=4, scoring="bq1").count() > 0


def test_sq_bq_drift_signals(spark, tmp_path):
    """The 'refit when drifted' rules are measured, not prose: at fit
    time sq_drift reads 0 by construction (the bounds cover the fit
    corpus) and bq_drift's bit balance sits near 0.5; enrolling an
    out-of-range batch moves exactly the clamp fraction, and the
    signals recover after a refit."""
    store = VectorIndexStore(str(tmp_path / "ivf_drift"))
    base = _emb(spark).filter(F.col("vec_id") < 150)
    store.build(base, k=4, iters=1)
    store.enable_sq8(spark)
    store.enable_bq(spark)

    d0 = store.sq_drift(spark)
    assert d0["n_live"] == 150 and d0["n_clamped"] == 0
    assert d0["frac_clamped"] == 0.0
    b0 = store.bq_drift(spark)
    assert b0["n_dims"] == 64
    assert b0["max_imbalance"] <= 0.2  # median split: ~balanced bits

    # enroll 50 far-out-of-range vectors: every one clamps
    wild = base.limit(50).select(
        (F.col("vec_id") + 50_000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x + F.lit(1.0e6)
        ).alias("embedding"),
    )
    store.add(wild, batch_id="wild")
    d1 = store.sq_drift(spark)
    assert d1["n_live"] == 200 and d1["n_clamped"] == 50
    assert d1["frac_clamped"] == 0.25
    b1 = store.bq_drift(spark)
    assert b1["max_imbalance"] > b0["max_imbalance"]  # polarized bits

    # refit: the new bounds cover the grown corpus again
    store.enable_sq8(spark)
    store.enable_bq(spark)
    assert store.sq_drift(spark)["n_clamped"] == 0
    assert store.bq_drift(spark)["max_imbalance"] <= 0.3


# --- driver-side probe ranking, the cached coarse quantizer, the batch bound


def _reference_probes(spark, queries, cents, n_probe):
    """The (query_id, cell) pairs the JVM cell ranking probes: unit
    centroids normalized in Python, a cross-join, ``round(dot, 9)``,
    ``row_number`` over (sim DESC, cell ASC) per query — the expression
    the store ranked cells with before the ranking moved to the driver,
    kept here as the reference it must match."""
    import math

    from pyspark.sql import Window

    from biodata_pipeline_spark.functions.vector import dot

    unit = []
    for c in cents:
        nrm = math.sqrt(sum(x * x for x in c)) or 1.0
        unit.append([x / nrm for x in c])
    cdf = spark.createDataFrame(
        list(enumerate(unit)), "cell int, cu array<double>"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cell")
    )
    rows = (
        queries.dropDuplicates(["query_id"])
        .crossJoin(F.broadcast(cdf))
        .withColumn("csim", F.round(dot(F.col("query_emb"), F.col("cu")), 9))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= n_probe)
        .select("query_id", "cell")
        .collect()
    )
    return {(r.query_id, r.cell) for r in rows}


_AXES = [
    [1.0, 0.0, 0.0],
    [0.0, 1.0, 0.0],
    [0.0, 0.0, 1.0],
    [-1.0, 0.0, 0.0],
    [2.0, 0.0, 0.0],  # normalizes onto [1, 0, 0]: an exact tie
    [0.6, 0.8, 0.0],
    [0.0, 3.0, 4.0],
]
# dot against an axis centroid IS the element, so these put sims on the
# 9-dp rounding boundary. Spark rounds HALF_UP on the shortest repr:
# 0.1234567895 -> 0.12345679 and 0.1234567885 -> 0.123456789. Python's
# round (the binary value, just below each) gives 0.123456789 and
# 0.123456788; numpy's half-even on x * 1e9 gives 0.123456788 for the
# second.
_BOUNDARY = [
    0.1234567895, 0.12345679, 0.1234567885, 0.123456789, -0.1234567895,
    0.5, 1.0,
]


_VEC3 = st.lists(st.sampled_from(_BOUNDARY), min_size=3, max_size=3)


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    cents=st.lists(st.sampled_from(_AXES), min_size=2, max_size=6),
    qvecs=st.lists(_VEC3, min_size=1, max_size=4),
    repeat=st.lists(st.integers(0, 3), max_size=4),  # query rows to repeat
    n_probe=st.integers(1, 6),
)
@example(  # rounding in Python or numpy would probe cell 1 here
    cents=[[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]],
    qvecs=[[0.1234567895, 0.12345679, -1.0], [0.1234567885, 0.123456789, -1.0]],
    repeat=[],
    n_probe=1,
)
@example(  # cells 0 and 4 tie exactly; duplicated query rows
    cents=[[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.6, 0.8, 0.0],
           [0.0, 0.0, 1.0], [2.0, 0.0, 0.0]],
    qvecs=[[1.0, 0.5, 0.5], [0.5, 0.5, 1.0]],
    repeat=[0, 1, 0],
    n_probe=2,
)
def test_probe_sets_match_jvm_cell_ranking(
    spark, tmp_path_factory, cents, qvecs, repeat, n_probe
):
    """The probed cells equal the JVM ranking's on duplicated centroids
    (exact ties), repeated query ids, and sims on the rounding
    boundary. One stored vector per cell, its id the cell: a query with
    k >= the cell count returns exactly the ids of the cells it
    probed."""
    store = _manual_store(
        spark, str(tmp_path_factory.mktemp("probe_parity") / "ivf"), cents,
        [(c, [1.0, 1.0, 1.0], c) for c in range(len(cents))],
    )
    rows = list(enumerate(qvecs))
    rows += [rows[i] for i in repeat if i < len(rows)]  # a retried batch
    q = spark.createDataFrame(rows, "query_id long, query_emb array<double>")
    got = {
        (r.query_id, r.vec_id)
        for r in store.query(q, k=len(cents), n_probe=n_probe).collect()
    }
    assert got == _reference_probes(spark, q, cents, n_probe)


def _read_paths(monkeypatch):
    """Record every path ``DataFrameReader.parquet`` reads."""
    from pyspark.sql.readwriter import DataFrameReader

    seen: list[str] = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        seen.extend(str(p) for p in paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    return seen


def test_query_after_build_reads_no_centroids(spark, tmp_path, monkeypatch):
    """build() primes the coarse-quantizer cache: query() and add() on
    the same instance never read centroids/ back through Spark."""
    store = VectorIndexStore(str(tmp_path / "ivf_cents"))
    store.build(_emb(spark).filter(F.col("vec_id") < 80), k=4, iters=1)
    seen = _read_paths(monkeypatch)
    store.query(_queries(spark, 2), k=3, n_probe=2).collect()
    store.add(
        _emb(spark).filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 90)),
        batch_id="b1",
    )
    assert seen and not [p for p in seen if p.endswith("/centroids")]


def test_centroid_cache_sees_rebuild_by_another_instance(spark, tmp_path):
    """A delete-and-rebuild of the same path by another instance is seen
    by the first instance's next query() and add(): both use the new
    coarse quantizer (here 2 cells instead of 4)."""
    import shutil

    path = str(tmp_path / "ivf_rebuilt")
    first = VectorIndexStore(path)
    first.build(_emb(spark).filter(F.col("vec_id") < 80), k=4, iters=1)
    q = _queries(spark, 3)
    first.query(q, k=3, n_probe=4).collect()  # warm every cache

    shutil.rmtree(path)
    other = VectorIndexStore(path)
    other.build(_emb(spark).filter(F.col("vec_id") >= 40), k=2, iters=1)
    assert first.centroids(spark) == other.centroids(spark)

    def rows(df):
        return sorted((r.query_id, r.vec_id, r.rank, r.sim) for r in df.collect())

    assert rows(first.query(q, k=5, n_probe=1)) == rows(
        other.query(q, k=5, n_probe=1)
    )
    first.add(
        _emb(spark).filter(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
        ),
        batch_id="late",
    )
    cells = {r.cell for r in first.cell_stats(spark).collect()}
    assert cells <= {0, 1}


def test_query_batch_bound(spark, tmp_path, monkeypatch):
    """query() collects its batch to the driver, so it is bounded like
    the kernel paths' query sets: over MAX_QUERY_ROWS scorable rows
    raises the collect_queries-style ValueError."""
    from biodata_pipeline_spark.operators import vector_kernels as vk

    store = VectorIndexStore(str(tmp_path / "ivf_bound"))
    store.build(_emb(spark).filter(F.col("vec_id") < 60), k=4, iters=1)
    monkeypatch.setattr(vk, "MAX_QUERY_ROWS", 3)
    assert len(store.query(_queries(spark, 3), k=2).collect()) == 6
    with pytest.raises(ValueError, match="driver-collect bound of 3"):
        store.query(_queries(spark, 4), k=2)
