"""Incremental near-dup index maintenance (VERDICT r7 #2): compaction
folds per-batch appends into bucketed tables, decisions are
bit-identical across the fold, file counts are bounded, and the
stored-side shuffle disappears on the bucketed layout."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from biodata_pipeline_spark.operators.dedup import (
    compact_dedup_index,
    incremental_near_dup_filter,
)
from biodata_pipeline_spark.sources.store import META, component_frames, read_doc


def _batch(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


BODIES = [
    "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    "one completely different document body with its own words here",
    "yet another unrelated piece of training text entirely present",
    "fourth body of text sharing nothing with any other body listed",
    "fifth distinct narrative string with a unique vocabulary again",
    "sixth standalone document text unlike every preceding entry",
]


def _enroll(spark, idx, n_batches=4):
    """n_batches single-doc batches of distinct texts + one near-dup."""
    for i in range(n_batches):
        incremental_near_dup_filter(
            _batch(spark, [(100 + i, BODIES[i % len(BODIES)])]),
            idx,
            0.5,
            batch_id=str(i),
        )


def _decide(spark, idx, probe_rows):
    kept, rep = incremental_near_dup_filter(
        _batch(spark, probe_rows), idx, 0.5, batch_id="probe"
    )
    return (
        sorted(r.doc_id for r in kept.collect()),
        sorted((r.id, r.matched_id, r.scope) for r in rep.collect()),
    )


PROBE = [
    (900, BODIES[0]),                                   # exact dup of enrolled
    (901, BODIES[1].replace("words", "terms")),         # near dup of enrolled
    (902, "a wholly novel probe document matching nothing in the index"),
]


def test_compaction_preserves_decisions_and_bounds_files(spark, tmp_path):
    idx = str(tmp_path / "nd_idx")
    _enroll(spark, idx, 4)
    # snapshot the uncompacted index: same logical state, two layouts
    idx_copy = str(tmp_path / "nd_idx_copy")
    shutil.copytree(idx, idx_copy)

    before = _decide(spark, idx_copy, PROBE)
    stats = compact_dedup_index(spark, idx, n_buckets=4)
    after = _decide(spark, idx, PROBE)
    assert after == before
    assert before[0] == [901, 902] or before[0] == [902]

    assert stats["version"] == 1
    for part in ("bands", "hashes"):
        # bounded by the bucket count (+_SUCCESS marker), independent of
        # how many batches were folded — the whole point; with only 4
        # single-doc batches the before-count is small too, so the probe
        # (tools/probe_stream_ingest.py) carries the 100-batch shrink
        assert stats[part]["files_after"] <= 4 + 1
        assert stats[part]["files_before"] >= 4
    meta = read_doc(spark, idx, META)
    assert meta["version"] == 1 and spark.catalog.tableExists(
        meta["bands_table"]
    )
    # the folded delta dirs are gone; the probe batch re-created them
    # with only its own enrollment
    delta_ids = {
        r.id
        for r in spark.read.parquet(f"{idx}/bands").select("id").collect()
    }
    assert delta_ids <= {901, 902}


def test_second_compaction_folds_table_plus_deltas(spark, tmp_path):
    idx = str(tmp_path / "nd_idx2")
    _enroll(spark, idx, 3)
    compact_dedup_index(spark, idx, n_buckets=4)
    # post-compaction batches append parquet deltas again
    incremental_near_dup_filter(
        _batch(spark, [(300, BODIES[4])]), idx, 0.5, batch_id="4"
    )
    stats2 = compact_dedup_index(spark, idx, n_buckets=4)
    assert stats2["version"] == 2
    meta = read_doc(spark, idx, META)
    assert meta["bands_table"].endswith("_v2")
    # v1 table dropped and its files deleted
    assert not spark.catalog.tableExists(meta["bands_table"][:-1] + "1")
    # all four enrolled docs are still history: re-offering any drops it
    kept, rep = incremental_near_dup_filter(
        _batch(spark, [(400, BODIES[0]), (401, BODIES[4])]),
        idx,
        0.5,
        batch_id="5",
    )
    assert kept.count() == 0
    assert {r.scope for r in rep.collect()} == {"index"}


def test_fresh_session_catalog_reregistration(spark, tmp_path):
    """A session that never wrote the table (simulated by dropping it
    from the catalog) re-registers it from the meta file and reads the
    same rows."""
    idx = str(tmp_path / "nd_idx3")
    _enroll(spark, idx, 2)
    compact_dedup_index(spark, idx, n_buckets=2)
    meta = read_doc(spark, idx, META)
    before = _decide(spark, idx, PROBE)
    spark.sql(f"DROP TABLE {meta['bands_table']}")
    spark.sql(f"DROP TABLE {meta['hashes_table']}")
    assert not spark.catalog.tableExists(meta["bands_table"])
    assert _decide(spark, idx, PROBE) == before
    assert spark.catalog.tableExists(meta["bands_table"])


def test_bucketed_layout_removes_stored_side_shuffle(spark, tmp_path):
    """The layout's scale claim, plan-asserted: joining batch bands
    against the compacted table on (band, bucket) adds NO Exchange for
    the stored side — only the batch side shuffles — while the plain
    parquet delta layout shuffles both sides (broadcast disabled so the
    shuffle strategy is actually exercised)."""
    from biodata_pipeline_spark.plans.inspect import count_shuffles

    idx = str(tmp_path / "nd_idx4")
    _enroll(spark, idx, 3)
    plain = component_frames(spark, idx, "bands")[0]
    compact_dedup_index(spark, idx, n_buckets=4)
    bucketed = component_frames(spark, idx, "bands")[0]

    batch = spark.createDataFrame(
        [(1, 0, 42), (2, 1, 43)], "id long, band int, bucket bigint"
    ).withColumn("bucket", F.col("bucket").cast("long"))
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sh_plain = count_shuffles(
            batch.join(plain.withColumnRenamed("id", "other_id"),
                       ["band", "bucket"])
        )
        sh_bucketed = count_shuffles(
            batch.join(bucketed.withColumnRenamed("id", "other_id"),
                       ["band", "bucket"])
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    assert sh_plain == 2  # both sides exchange
    assert sh_bucketed == 1  # batch side only; stored side scan is enough


def test_compact_empty_index_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="nothing to compact"):
        compact_dedup_index(spark, str(tmp_path / "missing"))


def test_signature_store_compaction_preserves_pairs(spark, tmp_path):
    """SignatureStore.compact folds its bands/shingles layout the same
    way: a batch admitted after the fold reports the identical pair set
    as one admitted against an uncompacted copy of the store."""
    from biodata_pipeline_spark.operators.dedup import SignatureStore

    store_dir = str(tmp_path / "sig")
    s = SignatureStore(store_dir)
    s.admit(
        _batch(spark, [(1, BODIES[0]), (2, BODIES[1])]), 0.5, batch_id="1"
    ).collect()
    s.admit(_batch(spark, [(3, BODIES[0])]), 0.5, batch_id="2").collect()

    copy_dir = str(tmp_path / "sig_copy")
    shutil.copytree(store_dir, copy_dir)
    stats = s.compact(spark, n_buckets=2)
    assert stats["version"] == 1 and "shingles" in stats

    b3 = _batch(
        spark,
        [(4, BODIES[0]),
         (5, "an entirely new body of text with no relatives anywhere")],
    )
    got = sorted(
        (r.id_new, r.id_old, r.jaccard)
        for r in s.admit(b3, 0.5, batch_id="3").collect()
    )
    want = sorted(
        (r.id_new, r.id_old, r.jaccard)
        for r in SignatureStore(copy_dir)
        .admit(b3, 0.5, batch_id="3")
        .collect()
    )
    assert got == want
    assert {(n, o) for n, o, _ in got} >= {(4, 1), (4, 3)}


def test_mixed_mode_replay_exclusion_is_null_safe(spark, tmp_path):
    """ADVICE r9 (high): plain-append history folded by compaction has
    batch_id NULL; batch_id-mode reads must still see it. With the
    non-null-safe `!=` the whole compacted index vanished from the read
    and an exact duplicate of enrolled history was admitted."""
    idx = str(tmp_path / "nd_idx_mixed")
    # enroll WITHOUT batch_id: plain appends, no batch_id partition
    for i in range(3):
        incremental_near_dup_filter(
            _batch(spark, [(100 + i, BODIES[i])]), idx, 0.5
        )
    compact_dedup_index(spark, idx, n_buckets=2)
    # batch_id mode against the compacted (all-NULL batch_id) history
    kept, rep = incremental_near_dup_filter(
        _batch(spark, [(900, BODIES[0]), (901, BODIES[4])]),
        idx,
        0.5,
        batch_id="b1",
    )
    assert sorted(r.doc_id for r in kept.collect()) == [901]
    dropped = {(r.id, r.matched_id, r.scope) for r in rep.collect()}
    assert dropped == {(900, 100, "index")}


def test_meta_pointer_flip_is_crash_safe(spark, tmp_path):
    """ADVICE r9 (medium): the pointer is now a versioned single file
    renamed into place — a half-written next version (.tmp) or a crash
    mid-flip leaves the previous pointer live, and a legacy `_meta`
    text dir migrates on the next compaction."""
    import json
    import pathlib

    idx_py = tmp_path / "nd_idx_meta"
    idx = str(idx_py)
    _enroll(spark, idx, 2)
    before = _decide(spark, idx, PROBE)
    compact_dedup_index(spark, idx, n_buckets=2)
    meta1 = read_doc(spark, idx, META)
    assert meta1["version"] == 1
    assert (idx_py / "_meta_v1.json").is_file()
    assert not (idx_py / "_meta").exists()

    # crash mid-flip: a partial tmp for v2 must be invisible to readers
    (idx_py / "_meta_v2.json.tmp").write_text('{"version": 2, "trunc')
    assert read_doc(spark, idx, META) == meta1
    assert _decide(spark, idx, PROBE) == before
    (idx_py / "_meta_v2.json.tmp").unlink()

    # legacy layout: pre-r9 indexes wrote a `_meta` text DIR — readable,
    # and the next compaction migrates it to the versioned file
    (idx_py / "_meta_v1.json").unlink()
    (idx_py / "_meta").mkdir()
    (idx_py / "_meta" / "part-00000").write_text(json.dumps(meta1))
    assert read_doc(spark, idx, META) == meta1
    assert _decide(spark, idx, PROBE) == before
    # a probe batch left deltas, so there is something to fold
    stats = compact_dedup_index(spark, idx, n_buckets=2)
    assert stats["version"] == 2
    assert (idx_py / "_meta_v2.json").is_file()
    assert not (idx_py / "_meta").exists()
    assert not (idx_py / "_meta_v1.json").exists()
    assert _decide(spark, idx, PROBE) == before


def test_compaction_sweeps_orphaned_version_dirs(spark, tmp_path):
    """A crash between a past flip and its deletes can orphan a version
    dir the pointer no longer references; the next compaction sweeps
    every older version, not just the one named in the meta."""
    idx_py = tmp_path / "nd_idx_orphan"
    idx = str(idx_py)
    _enroll(spark, idx, 2)
    compact_dedup_index(spark, idx, n_buckets=2)
    # simulate the orphan: an unreferenced older version dir
    (idx_py / "bands_v0").mkdir()
    (idx_py / "bands_v0" / "stale.parquet").write_bytes(b"junk")
    before = _decide(spark, idx, PROBE)  # also re-creates deltas to fold
    stats = compact_dedup_index(spark, idx, n_buckets=2)
    assert stats["version"] == 2
    assert not (idx_py / "bands_v0").exists()
    assert not (idx_py / "bands_v1").exists()
    assert (idx_py / "bands_v2").is_dir()
    assert _decide(spark, idx, PROBE) == before


def test_ingest_gate_remove_unblocks_and_compact_folds(spark, tmp_path):
    """Deletion path (r11, shared machinery): tombstoning an ENROLLED
    doc via remove_from_dedup_index lets its near-dup twin through the
    ingest gate immediately; compact_dedup_index folds the drop into
    every component and clears the tombstones; re-enrollment after the
    fold blocks the twin again."""
    from biodata_pipeline_spark.operators.dedup import (
        remove_from_dedup_index,
    )

    idx = str(tmp_path / "ingest_del")
    first = _batch(spark, [(1, BODIES[0]), (2, BODIES[1])])
    kept, rep = incremental_near_dup_filter(first, idx, 0.5, batch_id="0")
    assert kept.count() == 2

    twin = _batch(spark, [(3, BODIES[0] + " extra")])
    kept, rep = incremental_near_dup_filter(twin, idx, 0.5, batch_id="1")
    assert kept.count() == 0  # blocked by enrolled doc 1
    assert rep.collect()[0].scope == "index"

    # remove doc 1: its twin must now be ADMITTED (and enrolled)
    assert remove_from_dedup_index(spark, idx, [1]) == 1
    kept, rep = incremental_near_dup_filter(
        _batch(spark, [(4, BODIES[0] + " more")]), idx, 0.5, batch_id="2"
    )
    assert kept.count() == 1 and rep.count() == 0

    # the fold drops doc 1's rows from BOTH components and clears
    # tombstones; decisions afterwards unchanged
    stats = compact_dedup_index(idx and spark, idx, n_buckets=4)
    assert stats["tombstones_folded"] == 1
    import os

    assert not os.path.exists(f"{idx}/tombstones")
    for part in ("bands", "hashes"):
        frames = component_frames(spark, idx, part)
        ids = set()
        for f in frames:
            ids |= {r.id for r in f.select("id").collect()}
        assert 1 not in ids, part
        assert {2, 4} <= ids, part

    # decisions unchanged post-fold: doc 4 (admitted after the removal,
    # and itself a twin of the removed doc) now IS history and blocks
    # the next twin — an all-dropped batch, which also exercises the
    # empty-delta-dir write the next batch must tolerate
    kept, rep = incremental_near_dup_filter(
        _batch(spark, [(11, BODIES[0])]), idx, 0.5, batch_id="3"
    )
    assert kept.count() == 0 and rep.collect()[0].matched_id == 4
    kept, rep = incremental_near_dup_filter(
        _batch(spark, [(12, BODIES[0] + " tail")]), idx, 0.5, batch_id="4"
    )
    assert kept.count() == 0 and rep.collect()[0].matched_id == 4


def test_concurrent_tombstone_survives_compaction(spark, tmp_path, monkeypatch):
    """ADVICE r12 (medium): a tombstone appended AFTER compaction's
    snapshot but before its clear must survive the clear — the old
    whole-directory delete discarded it without ever folding it,
    silently resurrecting the removed id. Compaction now reads and
    deletes exactly the snapshot-time file set."""
    import os

    import biodata_pipeline_spark.operators.dedup as dd
    import biodata_pipeline_spark.sources.store as store

    idx = str(tmp_path / "conc_del")
    incremental_near_dup_filter(
        _batch(spark, [(1, BODIES[0]), (2, BODIES[1])]), idx, 0.5,
        batch_id="0",
    )
    dd.remove_from_dedup_index(spark, idx, [1])  # folds this compaction

    real = store._snapshot_tombstone_files

    def racy(spark_, index_dir):
        files = real(spark_, index_dir)
        # a concurrent remove() lands between snapshot and clear
        dd.remove_from_dedup_index(spark_, index_dir, [2])
        return files

    monkeypatch.setattr(store, "_snapshot_tombstone_files", racy)
    stats = compact_dedup_index(spark, idx, n_buckets=2)
    monkeypatch.setattr(store, "_snapshot_tombstone_files", real)
    assert stats["tombstones_folded"] == 1  # only doc 1's snapshot file

    # the concurrent tombstone is still pending: doc 2 stays masked, so
    # its near-dup twin is ADMITTED instead of blocked
    assert os.path.exists(f"{idx}/tombstones")
    kept, rep = incremental_near_dup_filter(
        _batch(spark, [(3, BODIES[1] + " extra")]), idx, 0.5, batch_id="1"
    )
    assert kept.count() == 1 and rep.count() == 0

    # and the NEXT compaction folds it physically
    stats = compact_dedup_index(spark, idx, n_buckets=2)
    assert stats["tombstones_folded"] == 1
    assert not os.path.exists(f"{idx}/tombstones")
    for part in ("bands", "hashes"):
        ids = set()
        for f in component_frames(spark, idx, part):
            ids |= {r.id for r in f.select("id").collect()}
        assert 2 not in ids, part
        assert 1 not in ids, part
        assert 3 in ids, part


def test_signature_store_tombstoned_id_invisible_both_sides(spark, tmp_path):
    """ADVICE r12: admit() anti-joins pending tombstones on BOTH pair
    sides — a doc re-admitted while its tombstone is pending neither
    blocks as id_old nor is reported as id_new (removal wins until
    compact, the visibility rule all three persistent stores share);
    the compact's fold then drops the re-admitted rows too, and a
    post-compact admit re-enrolls cleanly."""
    from biodata_pipeline_spark.operators.dedup import SignatureStore

    s = SignatureStore(str(tmp_path / "sig_del_sides"))
    s.admit(
        _batch(spark, [(5, BODIES[0]), (6, BODIES[1])]), 0.5, batch_id="0"
    ).collect()
    assert s.remove(spark, [5]) == 1

    # re-admit 5 alongside a smaller-id twin: the (id_new=5, id_old=2)
    # new-vs-new pair leaked through the old id_old-only filter
    pairs = s.admit(
        _batch(spark, [(5, BODIES[0]), (2, BODIES[0] + " tail")]),
        0.5,
        batch_id="1",
    ).collect()
    assert pairs == []

    # compact drops BOTH the original and the re-admitted rows of 5;
    # doc 2 (admitted clean) is history and reports against a new twin
    s.compact(spark, n_buckets=2)
    pairs = sorted(
        (r.id_new, r.id_old)
        for r in s.admit(
            _batch(spark, [(7, BODIES[0])]), 0.5, batch_id="2"
        ).collect()
    )
    assert pairs == [(7, 2)]
