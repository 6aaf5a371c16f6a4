"""The persistent-store protocol.

The engine keeps state across runs in four stores: ``Manifest``
(completed work-unit keys), the ingest gate's near-dup index
(``dedup.incremental_near_dup_filter``), ``dedup.SignatureStore`` and
``ann_store.VectorIndexStore``; the streaming export keeps a manifest
delta log. This module is the only code that knows how they lie on
disk. Under a store dir:

  ``{name}_v{n}.json``  a versioned doc; readers take the highest
                        committed version. The compaction pointer is the
                        doc ``_meta``, versioned by its compaction
                        version. Two legacy forms still read:
                        ``{name}.json`` as version 0, and a ``_meta``
                        text dir when no versioned pointer exists.
                        Store-level facts (the PQ books etag, the
                        calibration record) keep docs of their own:
                        compaction rebuilds the pointer on every fold
                        and would drop foreign keys.
  ``{comp}/``           a component's parquet delta dir: rows enrolled
                        since the last compaction, under ``batch_id=``
                        partitions when written with a batch id.
  ``{comp}_v{N}/``      the component's bucketed table of compaction
                        ``N``, registered as an external table.
  ``tombstones/``       ids removed since the last compaction.

Every probe checks ``fs.exists`` before ``spark.read``: a caught
``PATH_NOT_FOUND`` costs 40-90 ms of py4j exception conversion, and the
query path asks for absent components (tombstones, the pointer) on
every call. No write changes a session setting.
"""

from __future__ import annotations

import hashlib
import json
import re

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biodata_pipeline_spark.sources.local import local_frame
from biodata_pipeline_spark.sources.sinks import write_partitioned

META = "_meta"

# the ingest gate's component layout: compaction's default, and the
# bucket keys of a pointer written before the keys were recorded in it
_INDEX_BUCKET_KEYS = {"bands": ["band", "bucket"], "hashes": ["id"]}


def fs_path(spark, p: str):
    """``(FileSystem, Path)`` of ``p`` under the session's Hadoop conf."""
    hp = spark._jvm.org.apache.hadoop.fs.Path(p)
    return hp.getFileSystem(spark._jsc.hadoopConfiguration()), hp


def _delete(spark, p: str) -> None:
    fs, hp = fs_path(spark, p)
    fs.delete(hp, True)  # False, not an error, when absent


def _path_missing(e: AnalysisException) -> bool:
    """True only for the path-not-found condition (Spark 4 error class
    PATH_NOT_FOUND; message fallback for older surfaces)."""
    cond = e.getCondition() if hasattr(e, "getCondition") else None
    return cond == "PATH_NOT_FOUND" or "Path does not exist" in str(e)


def read_if_present(spark, path: str) -> DataFrame | None:
    """The parquet dir at ``path``, or None when it does not exist or
    exists empty. Anything else raises: a corrupt store must never read
    as "nothing stored yet" — that re-runs committed work and feeds
    duplicate rows to append sinks.

    The empty-dir case is real: a batch-partitioned write of zero rows
    still creates the dir with just a ``_SUCCESS`` marker, and reading
    it throws ``UNABLE_TO_INFER_SCHEMA``, which means "zero rows", not
    an error."""
    fs, hp = fs_path(spark, path)
    if not fs.exists(hp):
        return None
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        cond = e.getCondition() if hasattr(e, "getCondition") else None
        if _path_missing(e) or cond == "UNABLE_TO_INFER_SCHEMA":
            return None
        raise


# -- versioned docs ------------------------------------------------------
def _docs(spark, store_path: str, name: str):
    """``(fs, {version: Path}, legacy)``: the committed versions of doc
    ``name`` (``{name}.json`` as version 0) and whether the legacy
    ``_meta`` text dir exists. One listing, no Spark job."""
    fs, base = fs_path(spark, store_path)
    versions, legacy = {}, False
    if not fs.exists(base):
        return fs, versions, legacy
    pat = re.compile(rf"^{re.escape(name)}(?:_v(\d+))?\.json$")
    for st in fs.listStatus(base):
        fname = st.getPath().getName()
        m = pat.match(fname)
        if m:
            versions[int(m.group(1) or 0)] = st.getPath()
        legacy = legacy or (name == META and fname == META)
    return fs, versions, legacy


def read_doc(spark, store_path: str, name: str) -> dict | None:
    """The highest committed version of doc ``name``, read through the
    filesystem API (no Spark job); None when absent. A writer crash at
    any point leaves the previous version readable, so there is no
    window in which the doc is missing and a consumer silently takes a
    default."""
    fs, versions, legacy = _docs(spark, store_path, name)
    if versions:
        stream = fs.open(versions[max(versions)])
        try:
            text = spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        return json.loads(text)
    if not legacy:
        return None
    rows = spark.read.text(f"{store_path}/{name}").collect()
    return json.loads("".join(r.value for r in rows)) if rows else None


def write_doc(
    spark, store_path: str, name: str, doc: dict, version: int | None = None
) -> None:
    """Commit ``doc`` as ``{name}_v{version}.json`` (default: one past
    the highest committed version): write a ``.tmp``, rename it into
    place (a single-file rename, atomic on HDFS and local), and only
    then prune the superseded versions, orphaned ``.tmp`` files and the
    legacy forms. Nothing is deleted before the new version is durable."""
    fs, versions, legacy = _docs(spark, store_path, name)
    if version is None:
        version = max(versions, default=0) + 1
    _, tmp = fs_path(spark, f"{store_path}/{name}_v{version}.json.tmp")
    _, final = fs_path(spark, f"{store_path}/{name}_v{version}.json")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(doc).encode("utf-8")))
    finally:
        out.close()
    if fs.exists(final):  # a crashed prior commit of this same version
        fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise IOError(f"store doc flip failed: {tmp} -> {final}")
    pat = re.compile(rf"^{re.escape(name)}(?:_v(\d+))?\.json(?:\.tmp)?$")
    for st in fs.listStatus(fs_path(spark, store_path)[1]):
        m = pat.match(st.getPath().getName())
        if m and int(m.group(1) or 0) < version:
            fs.delete(st.getPath(), False)
    if legacy:
        _delete(spark, f"{store_path}/{META}")


# -- components ----------------------------------------------------------
def write_batch(df: DataFrame, path: str, batch_id: str | None = None) -> None:
    """Append ``df`` to the component at ``path``; with a ``batch_id``,
    replace exactly that batch's ``batch_id=`` partition instead, so a
    retried batch overwrites its own rows rather than adding a second
    copy. The overwrite mode goes on this write only."""
    if batch_id is None:
        df.write.mode("append").parquet(path)
    else:
        write_partitioned(
            df.withColumn("batch_id", F.lit(batch_id)), path, ["batch_id"]
        )


def _table_dirs(spark, index_dir: str, comp: str) -> list[tuple[int, str]]:
    """``(N, path)`` of every ``{comp}_v{N}`` table dir under the store."""
    fs, base = fs_path(spark, index_dir)
    if not fs.exists(base):
        return []
    pat = re.compile(rf"^{re.escape(comp)}_v(\d+)$")
    out = []
    for st in fs.listStatus(base):
        m = pat.match(st.getPath().getName())
        if m:
            out.append((int(m.group(1)), f"{index_dir}/{m.group(0)}"))
    return out


def _index_table_name(index_dir: str, part: str, version: int) -> str:
    token = hashlib.md5(index_dir.encode()).hexdigest()[:10]
    return f"nd_idx_{token}_{part}_v{version}"


def _ensure_index_table(spark, meta: dict, part: str) -> None:
    """Re-register the compacted external bucketed table in THIS
    session's catalog if absent (a fresh session knows only the pointer;
    the table definition — schema, bucket spec, location — is rebuilt
    from it, and the existing bucketed files are picked up as-is)."""
    name = meta[f"{part}_table"]
    if spark.catalog.tableExists(name):
        return
    keys = ", ".join(meta.get(f"{part}_keys") or _INDEX_BUCKET_KEYS[part])
    spark.sql(
        f"CREATE TABLE {name} ({meta[f'{part}_schema']}) USING PARQUET "
        f"CLUSTERED BY ({keys}) SORTED BY ({keys}) "
        f"INTO {meta['n_buckets']} BUCKETS "
        f"LOCATION '{meta[f'{part}_path']}'"
    )


def component_frames(
    spark,
    index_dir: str,
    part: str,
    exclude_batch_id: str | None = None,
    keep_batch_id: bool = False,
) -> list[DataFrame]:
    """Every live source of one index component, each as its OWN frame:
    the compacted bucketed table (when a compaction has run) plus the
    parquet delta dir (batches enrolled since). Deliberately NOT
    unioned — a union erases the bucketed scan's output partitioning,
    reintroducing the stored-side shuffle the layout exists to remove;
    the caller joins each part separately and unions the (small)
    results."""
    frames: list[DataFrame] = []
    meta = read_doc(spark, index_dir, META)
    if meta is not None and f"{part}_table" in meta:
        _ensure_index_table(spark, meta, part)
        frames.append(spark.table(meta[f"{part}_table"]))
    delta = read_if_present(spark, f"{index_dir}/{part}")
    if delta is not None:
        frames.append(delta)
    out = []
    for df in frames:
        if "batch_id" in df.columns:
            if exclude_batch_id is not None:
                # Replay safety: a retried batch must not see its OWN
                # prior (partial) enrollment as history — decisions must
                # match the no-crash run, and for transitive chains
                # (a~b, b~c, a≁c) they would not: seeing the enrolled
                # `a` removes `b` at the index stage BEFORE batch
                # pairing, so `c` loses its only smaller match and gets
                # admitted. Excluding the batch_id reproduces the
                # pre-crash state; the batch-partition overwrite then
                # replaces the delta partition. The inequality MUST be
                # null-safe: plain-append history folded by
                # compact_dedup_index carries batch_id NULL
                # (keep_batch_id adds lit(None)), and `NULL != x` is
                # NULL → row dropped → the entire compacted index would
                # vanish from the read and enrolled exact dups would be
                # re-admitted.
                df = df.filter(
                    ~F.col("batch_id").cast("string").eqNullSafe(
                        exclude_batch_id
                    )
                )
            df = (
                df.withColumn("batch_id", F.col("batch_id").cast("string"))
                if keep_batch_id
                else df.drop("batch_id")
            )
        elif keep_batch_id:
            df = df.withColumn("batch_id", F.lit(None).cast("string"))
        out.append(df)
    return out


# -- tombstones ----------------------------------------------------------
def tombstones(spark, index_dir: str) -> DataFrame | None:
    """The pending tombstone rows (``id``), or None when none are
    pending."""
    return read_if_present(spark, f"{index_dir}/tombstones")


def minus_tombstones(
    spark, index_dir: str, df: DataFrame, *id_cols: str
) -> DataFrame:
    """``df`` without the rows whose ``id_cols`` (default ``id``) name a
    pending tombstone: one anti-join per column, in the order given."""
    tomb = tombstones(spark, index_dir)
    if tomb is None:
        return df
    for c in id_cols or ("id",):
        df = df.join(tomb.select(F.col("id").alias(c)).distinct(), c, "left_anti")
    return df


def _snapshot_tombstone_files(spark, index_dir: str) -> list[str]:
    """The tombstone dir's file paths at THIS moment — the compaction
    fold reads and later deletes exactly this set, so tombstones
    appended mid-compaction are neither half-read nor clobbered."""
    fs, hp = fs_path(spark, f"{index_dir}/tombstones")
    if not fs.exists(hp):
        return []
    return [
        st.getPath().toString()
        for st in fs.listStatus(hp)
        if st.isFile()
    ]


def remove_from_dedup_index(spark, index_dir: str, ids) -> int:
    """Tombstone ``ids`` under ``index_dir`` — the shared deletion path
    of every persistent index on this layout
    (``incremental_near_dup_filter``'s ingest index,
    ``SignatureStore``, ``VectorIndexStore``): one bounded parquet
    append to ``{index_dir}/tombstones``, NO rewrite of enrolled state.
    Readers anti-join the tombstone set (``minus_tombstones``), and the
    next ``compact_dedup_index`` run physically drops tombstoned rows
    from every component while folding, then clears the tombstones.
    Removal wins until that compact: an id re-enrolled while its
    tombstone is pending stays invisible and is dropped by the fold —
    compact first to re-enroll. ``ids`` is a DataFrame (first column
    taken as the id) or a plain iterable; removing an unknown id is a
    no-op. Returns ids tombstoned."""
    if isinstance(ids, DataFrame):
        tomb = ids.select(F.col(ids.columns[0]).alias("id")).distinct()
    else:
        ids = list(ids)
        if not ids:
            return 0
        id_type = "string" if isinstance(ids[0], str) else "long"
        tomb = local_frame(spark, [(i,) for i in ids], f"id {id_type}").distinct()
    tomb = tomb.localCheckpoint()  # materialize before mutating
    write_batch(tomb, f"{index_dir}/tombstones")
    return tomb.count()


# -- compaction and retirement -------------------------------------------
def compact_dedup_index(
    spark,
    index_dir: str,
    n_buckets: int | None = None,
    parts: dict[str, list[str]] | None = None,
    transforms: dict | None = None,
) -> dict:
    """Index maintenance for ``incremental_near_dup_filter``: fold the
    accumulated per-batch parquet appends — plus any previous
    compaction — into ONE bucketed external table per component
    (``bands`` bucketed+sorted on (band, bucket), ``hashes`` on (id)),
    so a thousand-microbatch index keeps a bounded file count (admit
    cost stops paying the listing of every historical batch) and the
    admit-time bands join needs NO shuffle of the stored side (the
    bucketed scan's output partitioning already matches the join keys —
    plan-asserted in tests/test_dedup_index.py). ``batch_id`` survives
    as a plain column, so replay exclusion keeps working across a
    compaction.

    Returns ``{"version", "bands": {files_before, files_after},
    "hashes": {...}}``. ``parts`` overrides the component→bucket-key
    map for stores with a different layout (``SignatureStore.compact``
    passes ``{"bands": [...], "shingles": ["id"]}``); the keys are
    recorded in the pointer so re-registration stays layout-correct.
    ``transforms`` optionally maps a component name to a
    DataFrame→DataFrame fold applied to that component's full union
    BEFORE the bucketed write. Transforms must preserve the component's
    schema.

    Contract: run BETWEEN batches (e.g. after a streaming availableNow
    drain). A batch replayed after its rows were compacted still
    re-derives identical decisions (its batch_id is excluded from reads
    wherever it lives), but its delta-partition overwrite can no longer
    replace the compacted copy — the replay then leaves duplicate index
    rows until the next compaction (decision-neutral: candidates are
    deduplicated and exactly verified; just wasted join width).

    Crash safety, in write order: new tables first, then the pointer
    flip (``write_doc``: readers take the highest committed version, so
    a crash before OR DURING the flip leaves the previous pointer fully
    live), then deletion of the folded deltas and the previous version.
    A crash after the flip leaves stale deltas that are both re-read
    and already folded — duplicate rows, decision-neutral as above — and
    the next compaction clears them (the previous version's table files
    stay orphaned on disk in that window; storage-only, never read).
    """
    if n_buckets is None:
        # core-count-aware default: the bucket count caps BOTH the
        # compaction write's task parallelism (the pre-partition means
        # exactly n_buckets writing tasks) and every later scan of the
        # compacted table (one file per bucket). Measured at 1M vectors:
        # 16 buckets on a 32-core host cost 19.5 s to compact and 6.8 s
        # per warm post-compact query vs 3.2 s / 3.2 s at 32 — the fold
        # was half-idle. The floor keeps tiny test stores from
        # fragmenting; on a cluster defaultParallelism is the executor
        # core count, which is exactly the scan width you want.
        n_buckets = max(16, spark.sparkContext.defaultParallelism)
    # Qualify the index dir to an absolute URI FIRST: Spark resolves a
    # RELATIVE table location against the WAREHOUSE dir while the
    # parquet writers and the Hadoop FS calls here resolve against the
    # process working dir — with a relative index_dir the compacted
    # table would silently land under spark-warehouse/ and every file
    # count / delete would point at a path that does not exist.
    fs, hp = fs_path(spark, index_dir)
    index_dir = fs.makeQualified(hp).toString()
    meta = read_doc(spark, index_dir, META)
    version = (int(meta["version"]) + 1) if meta else 1
    new_meta: dict = {"version": version, "n_buckets": n_buckets}
    stats: dict = {"version": version}
    # Deletion fold: if remove_from_dedup_index has tombstoned ids under
    # this index, drop their rows from EVERY component while folding
    # (all index layouts here — bands/hashes/shingles/assignments —
    # carry an ``id`` column), then clear the tombstones after the flip.
    # A crash after the flip but before the clear leaves
    # already-applied tombstones behind — harmless (read-time
    # anti-joins re-drop nothing) except that an id re-enrolled in that
    # window stays masked until the NEXT compaction, the visibility
    # rule remove_from_dedup_index documents.
    #
    # The file list is SNAPSHOTTED before the fold and only those exact
    # files are deleted at the end: tombstone part files are immutable
    # once written (parquet appends only ever add new uniquely-named
    # files), so a remove() that lands concurrently with this
    # compaction appends files outside the snapshot — they survive the
    # clear, keep masking reads, and fold at the NEXT compaction. A
    # whole-directory delete would discard such a tombstone without
    # ever anti-joining it, silently resurrecting the removed id.
    tomb_files = _snapshot_tombstone_files(spark, index_dir)
    dead = None
    tomb_data = [
        f for f in tomb_files
        if not f.rsplit("/", 1)[-1].startswith(("_", "."))
    ]
    if tomb_data:
        dead = (
            spark.read.parquet(*tomb_data)
            .select("id")
            .distinct()
            .localCheckpoint()
        )

    def _file_count(p: str) -> int:
        fs, hp = fs_path(spark, p)
        return fs.getContentSummary(hp).getFileCount() if fs.exists(hp) else 0

    to_delete: list[str] = []
    for part, keys in (parts or _INDEX_BUCKET_KEYS).items():
        frames = component_frames(spark, index_dir, part, keep_batch_id=True)
        if not frames:
            raise ValueError(
                f"nothing to compact: no index state under {index_dir}/{part}"
            )
        full = frames[0]
        for f in frames[1:]:
            full = full.unionByName(f)
        if transforms and part in transforms:
            full = transforms[part](full)
        if dead is not None:
            full = full.join(dead, "id", "left_anti")
        # a component may be newer than the last compaction (a PQ layer
        # attached after a compact): the old pointer then has no keys
        # for it, which must mean "no compacted files yet", not a
        # KeyError that permanently blocks compaction
        files_before = _file_count(f"{index_dir}/{part}") + (
            _file_count(meta[f"{part}_path"])
            if meta and f"{part}_path" in meta
            else 0
        )
        path = f"{index_dir}/{part}_v{version}"
        name = _index_table_name(index_dir, part, version)
        spark.sql(f"DROP TABLE IF EXISTS {name}")  # crashed prior attempt
        (
            # pre-partition on the bucket keys: repartition's pmod(hash)
            # placement matches the bucket assignment, so each task
            # writes exactly one bucket file — without it every task
            # writes up to n_buckets files and the "compaction" would
            # multiply the file count it exists to bound
            full.repartition(n_buckets, *[F.col(k) for k in keys])
            .write.bucketBy(n_buckets, *keys)
            .sortBy(*keys)
            .option("path", path)
            .mode("overwrite")
            .saveAsTable(name)
        )
        new_meta[f"{part}_table"] = name
        new_meta[f"{part}_path"] = path
        new_meta[f"{part}_keys"] = keys
        new_meta[f"{part}_schema"] = ", ".join(
            f"{fld.name} {fld.dataType.simpleString()}"
            for fld in full.schema.fields
        )
        stats[part] = {
            "files_before": files_before,
            "files_after": _file_count(path),
        }
        to_delete.append(f"{index_dir}/{part}")
        # sweep EVERY older version dir, not just the one the previous
        # pointer names: a crash between a past flip and its deletes can
        # leave a version the pointer no longer references (storage-only
        # orphans — never read — but they'd otherwise persist forever)
        to_delete += [
            p for v, p in _table_dirs(spark, index_dir, part) if v < version
        ]
    write_doc(spark, index_dir, META, new_meta, version=version)
    for p in to_delete:
        _delete(spark, p)
    if meta:
        for part in (parts or _INDEX_BUCKET_KEYS):
            if f"{part}_table" in meta:  # component may postdate the meta
                spark.sql(f"DROP TABLE IF EXISTS {meta[f'{part}_table']}")
    if dead is not None:
        # clear exactly the snapshot-time files; concurrently-appended
        # tombstones stay pending (see the snapshot note above)
        for f in tomb_files:
            _delete(spark, f)
        tdir_fs, tdir_hp = fs_path(spark, f"{index_dir}/tombstones")
        if tdir_fs.exists(tdir_hp) and not list(tdir_fs.listStatus(tdir_hp)):
            tdir_fs.delete(tdir_hp, False)
        stats["tombstones_folded"] = dead.count()
    return stats


def retire_component(spark, index_dir: str, comp: str) -> None:
    """Retire ALL state of a component ahead of a full re-encode — the
    delta dir AND the compacted table when a compaction ran since it was
    last written. Order: flip the pointer minus the component's keys
    first (readers stop seeing the table), then drop/delete the
    now-unreferenced table dirs and the delta dir; a crash between the
    two leaves storage-only orphans, never readable stale rows (the
    sweep also clears versioned dirs a crashed prior retirement left)."""
    meta = read_doc(spark, index_dir, META)
    if meta is not None and f"{comp}_table" in meta:
        new_meta = {
            k: v for k, v in meta.items() if not k.startswith(f"{comp}_")
        }
        new_meta["version"] = int(meta["version"]) + 1
        write_doc(spark, index_dir, META, new_meta, version=new_meta["version"])
        spark.sql(f"DROP TABLE IF EXISTS {meta[f'{comp}_table']}")
        _delete(spark, meta[f"{comp}_path"])
    for _, p in _table_dirs(spark, index_dir, comp):
        _delete(spark, p)
    _delete(spark, f"{index_dir}/{comp}")
