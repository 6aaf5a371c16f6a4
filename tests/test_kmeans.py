"""Lloyd's k-means + SemDeDup semantic dedup (operators/kmeans.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from biodata_pipeline_spark.operators.kmeans import (
    KMEANS_K,
    _update_centroids,
    assign_clusters,
    kmeans_fit,
    semantic_dedup_survivors,
    seed_centroids,
)
from biodata_pipeline_spark.sources.tables import load_table


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def test_fit_deterministic(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    a = kmeans_fit(emb)
    b = kmeans_fit(emb)
    assert a == b  # exact float equality: no RNG, rounded sums


def test_assignment_covers_all_rows(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    out = assign_clusters(emb, kmeans_fit(emb))
    n = emb.count()
    assert out.count() == n
    stats = out.agg(
        F.min("cluster").alias("lo"),
        F.max("cluster").alias("hi"),
        F.count_distinct("cluster").alias("k"),
        F.min("dist2").alias("dmin"),
    ).first()
    assert 0 <= stats["lo"] and stats["hi"] < KMEANS_K
    assert stats["k"] >= 2  # seeds are spread by hash → multiple clusters
    assert stats["dmin"] >= 0.0


def test_lloyd_inertia_non_increasing(spark, sf_dir):
    """Each Lloyd update must not increase total inertia (the defining
    property of the algorithm); rounding the centroid sums to 6 dp can
    perturb it by at most ~dim * 1e-6 per point."""
    emb = _emb(spark, sf_dir)

    def inertia(cents):
        return assign_clusters(emb, cents).agg(F.sum("dist2")).first()[0]

    c0 = seed_centroids(emb, KMEANS_K, "vec_id", "embedding")
    c1 = _update_centroids(assign_clusters(emb, c0), c0, "embedding")
    c2 = _update_centroids(assign_clusters(emb, c1), c1, "embedding")
    i0, i1, i2 = inertia(c0), inertia(c1), inertia(c2)
    slack = 1e-4 * emb.count()
    assert i1 <= i0 + slack
    assert i2 <= i1 + slack


def test_empty_cluster_carries_previous_centroid(spark):
    prev = [[0.0, 0.0], [10.0, 10.0], [99.0, 99.0]]
    # cluster 2 receives no rows → must keep [99, 99]
    assigned = spark.createDataFrame(
        [(1, [0.0, 2.0], 0), (2, [0.0, 4.0], 0), (3, [12.0, 10.0], 1)],
        "vec_id long, embedding array<double>, cluster int",
    )
    nxt = _update_centroids(assigned, prev, "embedding")
    assert nxt[0] == [0.0, 3.0]
    assert nxt[1] == [12.0, 10.0]
    assert nxt[2] == [99.0, 99.0]


def test_semantic_dedup_drops_planted_copies(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    copies = emb.filter(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100_000)
    )
    corpus = emb.unionByName(copies)
    survivors = semantic_dedup_survivors(corpus, 0.98)
    ids = {r["vec_id"] for r in survivors.select("vec_id").collect()}
    n = emb.count()
    assert len(ids) == n  # every copy removed, nothing else
    assert all(i < 100_000 for i in ids)


def test_sql_chain_matches_hof_fold(spark, sf_dir):
    """The explicit left-assoc SQL chain in _sqdist_sql must be
    bit-identical to the zip_with+aggregate fold (_sqdist) — argmin and
    the oracle hash both depend on it (literal-type parity rule)."""
    from biodata_pipeline_spark.operators.kmeans import _sqdist, _sqdist_sql

    emb = _emb(spark, sf_dir)
    cents = seed_centroids(emb, KMEANS_K, "vec_id", "embedding")
    checks = emb.select(
        *[
            (
                F.expr(_sqdist_sql("embedding", c))
                == _sqdist(F.col("embedding"), F.lit(c))
            ).alias(f"eq{j}")
            for j, c in enumerate(cents)
        ]
    )
    bad = checks.filter(~F.expr(" AND ".join(f"eq{j}" for j in range(KMEANS_K))))
    assert bad.count() == 0


def test_kernel_dups_match_hof_cosine(spark, sf_dir):
    """The per-cluster numpy kernel's duplicate set must equal the HOF
    cosine join's (same in-order fold, same 9 dp rounding boundary)."""
    from biodata_pipeline_spark.functions.vector import cosine_sim, l2_norm

    emb = _emb(spark, sf_dir)
    copies = emb.filter(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100_000)
    )
    corpus = emb.unionByName(copies)
    a = assign_clusters(corpus, kmeans_fit(corpus))
    left = a.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a"), "cluster")
    right = a.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b"), "cluster")
    hof_dups = {
        r["id_b"]
        for r in left.join(right, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            cosine_sim("emb_a", "emb_b", l2_norm("emb_a"), l2_norm("emb_b"))
            >= 0.98
        )
        .select("id_b")
        .distinct()
        .collect()
    }
    kernel_survivors = {
        r["vec_id"] for r in semantic_dedup_survivors(corpus, 0.98).collect()
    }
    all_ids = {r["vec_id"] for r in corpus.select("vec_id").collect()}
    assert all_ids - kernel_survivors == hof_dups


def test_oversize_cluster_raises(spark):
    import biodata_pipeline_spark.operators.kmeans as km

    rows = [(i, [float(i % 7), 1.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    old = km.MAX_CLUSTER_PAIRWISE
    km.MAX_CLUSTER_PAIRWISE = 4
    try:
        import pytest as _pytest

        with _pytest.raises(Exception, match="dense-pairwise bound"):
            semantic_dedup_survivors(df, 0.98, k=2).collect()
    finally:
        km.MAX_CLUSTER_PAIRWISE = old


def test_exact_copies_share_cluster(spark, sf_dir):
    """Bit-identical vectors get bit-identical distances, hence the same
    argmin cluster — the invariant SemDeDup's recall guarantee rests on."""
    emb = _emb(spark, sf_dir)
    copies = emb.filter(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + F.lit(100_000)
    )
    corpus = emb.unionByName(copies)
    a = assign_clusters(corpus, kmeans_fit(corpus))
    pairs = (
        a.filter(F.col("vec_id") >= 100_000)
        .select(
            (F.col("vec_id") - 100_000).alias("vec_id"),
            F.col("cluster").alias("copy_cluster"),
        )
        .join(a.select("vec_id", "cluster"), "vec_id")
    )
    assert pairs.filter(F.col("cluster") != F.col("copy_cluster")).count() == 0


def test_kernel_nulls_defective_element_rows(spark):
    """ADVICE r9 (low): embeddings with null/non-finite ELEMENTS must
    not get a silently wrong cluster from the Arrow kernel. Null
    elements: NULL cluster/dist2, matching the JVM fold's NULL
    propagation (parity with assign_clusters_matrix asserted). NaN/Inf
    elements: the kernel surfaces NULL (visible) rather than letting
    numpy NaN-propagate into an arbitrary argmin. Clean rows in the
    same batch keep exact assignments."""
    from biodata_pipeline_spark.operators.kmeans import (
        assign_clusters_kernel,
        assign_clusters_matrix,
    )

    cents = [[0.0, 0.0], [10.0, 0.0]]
    rows = [
        (1, [0.5, 0.0]),          # clean -> cluster 0
        (2, [None, 1.0]),         # null element -> NULL
        (3, [float("nan"), 1.0]), # NaN element -> NULL (kernel contract)
        (4, [float("inf"), 1.0]), # Inf element -> NULL (kernel contract)
        (5, [9.5, 0.0]),          # clean -> cluster 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: (r.cluster, r.dist2)
        for r in assign_clusters_kernel(df, cents, with_dist2=True).collect()
    }
    assert got[1] == (0, 0.25) and got[5] == (1, 0.25)
    for vid in (2, 3, 4):
        assert got[vid] == (None, None), vid
    # ADVICE r10: the JVM matrix fold must agree on ALL defect classes,
    # not just null elements — without the exists guard a NaN row gets
    # all-NaN distances and (NaN = NaN being true in Spark SQL) a
    # silently wrong cluster 0 where the kernel reports NULL
    jvm = {
        r.vec_id: (r.cluster, r.dist2)
        for r in assign_clusters_matrix(df, cents, with_dist2=True).collect()
    }
    assert jvm == got
