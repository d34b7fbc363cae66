"""IVF index ON STORAGE — the ANN-at-100-TB layout: corpus vectors
written as parquet hive-partitioned by their IVF cell, so a search
touches only the probed cells' files via PARTITION PRUNING at the
scan. This is the piece that turns the in-memory IVF operators
(`operators.similarity`) into a serving path: at rest, a query with
nprobe=2 over k=4096 cells reads ~0.05% of the corpus bytes — the
scan never sees the rest, which is strictly better than any
post-scan filter.

No analog in the reference engine (profiling/validation surface only —
``/root/reference/sparvi/profiler/profile_engine.py:17``; SURVEY.md
§2.8): part of the training-data-pipeline extension surface.

Scale design (the part that matters at 100 TB):

- **Write once, prune forever.** `write_ivf_index` pays one
  assignment pass (broadcast centroids, `ivf_assign` — no corpus
  shuffle beyond the partitioned-write exchange) and one
  cluster-by-cell write. Every subsequent search is
  scan-of-probed-cells only; the pruning happens in the file listing,
  before a single corpus byte moves (plan-pinned: `PartitionFilters`
  carries the bucket predicate, and `inputFiles()` shrinks to the
  probed cells).
- **Self-describing index, snapshot-committed.** Centroids ride
  INSIDE the index dir as `_centroids/` parquet (underscore-prefixed
  → invisible to the data scan), plus `_ivf_manifest.json` (k, dim,
  column names, row count, per-cell rows — the skew report, AND the
  live data/staging/tombstone FILE LISTS). The manifest write is the
  single commit point (torn-write-safe): readers scan exactly the
  committed snapshot — never a directory listing — so maintenance
  swaps and crashed appends can neither duplicate a reader's rows
  nor break its scan, and `vacuum_ivf_index` retires unreferenced
  files after a retention window. A reader needs only the path.
- **File sizing is a knob, not an accident.** `files_per_bucket`
  salts the pre-write repartition so each cell lands in a bounded
  number of files — one file per cell for small indexes, more when a
  cell would otherwise exceed a task's appetite. Mega-cell skew is
  visible in the manifest and fixable by re-clustering (the
  `curation` module's job), not hidden by the writer.
- **Search cost model.** probe (tiny query side × broadcast
  centroids) → prune (file listing) → `cosine_topk_bucketed` on the
  surviving cells (per-cell equi-join + top-k, BLAS engine opt-in).
  Driver state is O(#probed cells) bucket ids — bounded by k, never
  by the corpus or the query count.
- **Full lifecycle, each step priced for its cadence.**
  `write_ivf_index` (once) → `append_ivf_index` (daily: assign the
  new batch only, parquet-append, no rebuild) →
  `compact_ivf_index` (weekly: rewrite ONLY the fragmented cells,
  snapshot-committed journaled swap healed by `repair_ivf_index`) →
  `vacuum_ivf_index` (GC: delete files unreferenced past a retention
  window) → `ivf_index_health` (audit: per-cell drift gauge) →
  `retrain_ivf_index` (rare: blue/green re-fit + rewrite to a NEW
  path — never in place).
"""

from __future__ import annotations

import json
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

MANIFEST = "_ivf_manifest.json"
CENTROIDS_DIR = "_centroids"
JOURNAL = "_compact_journal.json"
TMP_DIR = "_compact_tmp"
TOMBSTONES_DIR = "_tombstones"
VACUUM_LEDGER = "_vacuum_ledger.json"


def _write_text(spark: SparkSession, dir_path: str, name: str, text: str):
    from sparvi_core_spark.sources.writers import _hadoop_write_text

    _hadoop_write_text(spark, dir_path, name, text)


def _read_text(spark: SparkSession, dir_path: str, name: str) -> str:
    from sparvi_core_spark.sources.writers import _hadoop_read_text

    return _hadoop_read_text(spark, dir_path, name)


def _index_fs(spark: SparkSession, path: str):
    """(jvm, fs, Path-class) for the index root — every maintenance
    file op goes through the Hadoop FileSystem API so the index can
    live on any scheme the data write supports (s3a://, hdfs://,
    file:)."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, jvm.org.apache.hadoop.fs.Path


def _cell_files(fs, mkpath, path: str, bucket) -> list[str]:
    """Data-file names inside one cell dir (hidden/marker files
    excluded). A cell with no dir (zero rows ever assigned) is []."""
    d = mkpath(f"{path}/bucket={bucket}")
    if not fs.exists(d):
        return []
    out = []
    for st in fs.listStatus(d):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith((".", "_")):
            out.append(name)
    return sorted(out)


def _physical_cells(fs, mkpath, root: str) -> dict[str, list[str]]:
    """Physical listing of every cell dir under ``root`` —
    ``{bucket_str: [file names]}``. Used at index CREATION (adopt the
    initial write's files into the manifest snapshot) and by
    :func:`_vacuum_stores` (physical − referenced = garbage). Readers
    and maintenance NEVER list; they use the manifest's ``files``."""
    rp = mkpath(root)
    out: dict[str, list[str]] = {}
    if not fs.exists(rp):
        return out
    for st in fs.listStatus(rp):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("bucket="):
            b = name.split("=", 1)[1]
            out[b] = _cell_files(fs, mkpath, root, b)
    return out


def _snapshot_files(manifest: dict, store: str) -> dict[str, list[str]]:
    """The committed file snapshot for one store (``{bucket_str:
    [names]}``). Snapshot commits are the format contract: the
    manifest write that publishes counts ALSO publishes exactly which
    data files are live, so readers never list directories and
    maintenance never has to delete under a running scan. An index
    written before snapshot commits has no ``files`` key — rebuild
    it (same remedy as the pre-compaction manifests)."""
    files = manifest.get("files", {}).get(store)
    if files is None:
        raise ValueError(
            f"this index predates snapshot commits (no 'files.{store}' "
            f"in the manifest) — rebuild it with its write_* verb"
        )
    return files


def _snapshot_staging(manifest: dict, store: str) -> list[str]:
    """Committed staging-file names for one store (names under
    ``_staging/<sub>/``)."""
    names = manifest.get("staging_files", {}).get(store)
    if names is None:
        raise ValueError(
            f"this index predates snapshot commits (no "
            f"'staging_files.{store}' in the manifest) — rebuild it "
            f"with its write_* verb"
        )
    return names


# Resolved-scan memo per live SparkSession: creating the snapshot
# frame pays DataSource resolution over one explicit path per live
# file (driver-side existence/glob checks + file-index listing —
# measured ~1.1 s per store at 256 files, per open), and every
# probe/search opens 1-2 stores. The snapshot file list is immutable
# by design — any append/compact/delete commits a NEW manifest with a
# new list of fresh UUID part-file names — so the exact (root, files)
# key can never alias two different stores, and a changed manifest
# misses the memo and re-resolves. (The one way to defeat the key is
# to regenerate an index IN PLACE with byte-identical file names
# outside the write_*/append_*/compact_* verbs — hand-copying files
# over a live store — which the single-writer contract already
# forbids.) This is the table-format practice (manifest-listed files
# + a cached file index per snapshot); METADATA only — every query
# still scans the parquet files. The memo lives as an attribute ON
# the session object, not in a module-level registry: the memoized
# DataFrames strongly reference their session, so a global map keyed
# by session (even a weak-keyed one) would pin the session forever.
_SNAPSHOT_ATTR = "_sparvi_snapshot_frames"
_SNAPSHOT_MEMO_MAX = 32


def _snapshot_read(
    spark: SparkSession, root: str, files: dict[str, list[str]]
) -> DataFrame | None:
    """Scan EXACTLY the committed snapshot: explicit leaf files with
    ``basePath`` so the ``bucket`` partition column (and partition
    pruning — pinned in tests) still applies. A scan planned from
    this frame holds its file list for its whole run: a maintenance
    swap committing meanwhile neither duplicates its rows (new files
    are not in the list) nor breaks it mid-flight (replaced files are
    retired by :func:`vacuum` AFTER a retention window, never deleted
    at commit). None when the snapshot is empty."""
    paths = [
        f"{root}/bucket={b}/{n}"
        for b in sorted(files, key=int)
        for n in files[b]
    ]
    if not paths:
        return None
    memo = _session_memo(spark)
    key = (root, tuple(paths))
    hit = memo.get(key)
    if hit is not None:
        return hit
    df = spark.read.option("basePath", root).parquet(*paths)
    _memo_put(memo, key, df)
    return df


def _session_memo(spark: SparkSession) -> dict:
    memo = getattr(spark, _SNAPSHOT_ATTR, None)
    if memo is None:
        memo = {}
        setattr(spark, _SNAPSHOT_ATTR, memo)
    return memo


def _memo_put(memo: dict, key, value) -> None:
    while len(memo) >= _SNAPSHOT_MEMO_MAX:
        memo.pop(next(iter(memo)))
    memo[key] = value


def _snapshot_identity(manifest: dict, store: str) -> tuple:
    """Hashable identity of one store's committed snapshot — the exact
    live-file list, the same immutability argument as the scan memo."""
    files = manifest.get("files", {}).get(store) or {}
    return tuple(
        f"{b}/{n}" for b in sorted(files, key=int) for n in files[b]
    )


def _read_staging_names(
    spark: SparkSession, path: str, sub: str, names: list[str]
) -> DataFrame | None:
    """Committed staged rows for one store (bucket as a plain
    column), or None when nothing is staged."""
    if not names:
        return None
    return spark.read.parquet(
        *[f"{path}/{STAGING_DIR}/{sub}/{n}" for n in names]
    )


def _diff_new_files(
    fs, mkpath, root: str, buckets, pre: dict[str, set]
) -> dict[str, list[str]]:
    """Physical listing diff over the touched cells (post − pre) —
    how an append learns the file names its write just created,
    immune to any unreferenced garbage already in the dirs (garbage
    is in BOTH listings). Single-writer by contract, so nothing else
    writes between the two listings."""
    out: dict[str, list[str]] = {}
    for b in buckets:
        bs = str(b)
        now = set(_cell_files(fs, mkpath, root, bs))
        new = sorted(now - pre.get(bs, set()))
        if new:
            out[bs] = new
    return out


def _merge_appended(
    live: dict[str, list[str]], new_by_bucket: dict[str, list[str]]
) -> dict[str, list[str]]:
    out = {b: list(v) for b, v in live.items()}
    for b, names in new_by_bucket.items():
        out[b] = sorted(set(out.get(b, [])) | set(names))
    return {b: out[b] for b in sorted(out, key=int)}


def live_fragmentation(files: dict[str, list[str]]) -> dict:
    """Files-per-bucket gauge over the COMMITTED snapshot — the
    number of files a probe/search actually opens (unreferenced
    garbage awaiting vacuum is not read by anyone, so it must not
    trigger compaction). Pure dict math: no FS calls at all."""
    counts = [len(v) for v in files.values()]
    return {
        "n_buckets": len(counts),
        "total_files": sum(counts),
        "max_files_per_bucket": max(counts, default=0),
    }


def _staging_gauge_live(names: list[str]) -> dict:
    """Staging gauge over the committed snapshot: staged files are
    unpartitioned, so every probe/search reads all of them — their
    count is the per-bucket fan-in equivalent."""
    return {
        "n_buckets": 0,
        "total_files": len(names),
        "max_files_per_bucket": len(names),
    }


def _finish_swap(spark: SparkSession, root: str):
    """Drop a committed swap's journal + tmp dir — called strictly
    AFTER the manifest write that published the swap's files (the
    commit point). A crash before this leaves the journal; repair
    sees the manifest already references the new files and simply
    finishes the cleanup."""
    _, fs, mkpath = _index_fs(spark, root)
    tp = mkpath(f"{root}/{TMP_DIR}")
    if fs.exists(tp):
        fs.delete(tp, True)
    jp = mkpath(f"{root}/{JOURNAL}")
    if fs.exists(jp):
        fs.delete(jp, False)


def _require_unique_ids(df: DataFrame, id_col: str, what: str) -> int:
    """One cheap agg: total rows, non-null ids, distinct ids. The index
    layout assumes ids are a key — the data write is ``vectors JOIN
    assignment`` on the id, so a duplicate id multiplies stored rows
    past what the manifest records (and the compaction identity check
    then refuses a healthy index forever), while a NULL id is silently
    dropped by the join but still counted by the assignment. Both are
    caller bugs; fail BEFORE any file lands. Returns the row count so
    callers can reuse it for ``dropped_null``."""
    stats = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.col(id_col)).alias("n_ids"),
        F.countDistinct(F.col(id_col)).alias("n_distinct"),
    ).first()
    if stats["n_ids"] != stats["n_rows"]:
        raise ValueError(
            f"{what} has {stats['n_rows'] - stats['n_ids']} NULL "
            f"{id_col!r} values — index ids must be non-null"
        )
    if stats["n_distinct"] != stats["n_ids"]:
        raise ValueError(
            f"{what} has duplicate {id_col!r} values "
            f"({stats['n_ids']} rows, {stats['n_distinct']} distinct) — "
            f"index ids must be unique within a write/append batch"
        )
    return int(stats["n_rows"])


WRITER_LOCK = "_writer.lock"
# index roots whose lock THIS driver process currently holds — makes
# writer_lock reentrant within one process (a streaming foreachBatch
# that calls append under its own lock must not deadlock) while still
# fencing a second PROCESS (e.g. a concurrent CLI `compact`)
_HELD_LOCKS: set[str] = set()


def _lock_is_stale(payload: dict) -> bool:
    """A lock is stale when its holder was THIS host and the pid is
    gone — the crash case. A lock from another host is never declared
    stale automatically (no liveness signal); break it explicitly."""
    import os
    import socket

    if payload.get("host") != socket.gethostname():
        return False
    pid = payload.get("pid")
    if not isinstance(pid, int):
        return True
    try:
        os.kill(pid, 0)
        return False
    except ProcessLookupError:
        return True
    except PermissionError:
        return False  # alive, owned by someone else


def break_writer_lock(spark: SparkSession, path: str) -> dict | None:
    """Forcibly remove an index's writer lock (operator verb for a
    lock orphaned by a crash on another host). Returns the removed
    lock's payload, or None if there was no lock."""
    _, fs, mkpath = _index_fs(spark, path)
    lp = mkpath(f"{path}/{WRITER_LOCK}")
    if not fs.exists(lp):
        return None
    payload = json.loads(_read_text(spark, path, WRITER_LOCK))
    fs.delete(lp, False)
    _HELD_LOCKS.discard(path.rstrip("/"))
    return payload


@contextmanager
def writer_lock(spark: SparkSession, path: str, op: str):
    """Single-writer fence for a stored index root: create
    ``_writer.lock`` with create-if-absent semantics; a second writer
    process fails CLEANLY (naming the holder) instead of interleaving
    file swaps and corrupting a store. Reentrant within one process.
    A lock whose holder pid is dead on this host is auto-broken
    (crash recovery); a lock from another host must be removed with
    :func:`break_writer_lock`. Best-effort by design — object stores
    without atomic create can still race pathologically; the lock
    turns the overwhelmingly common accident (cron compact vs live
    stream) into a clean error."""
    import os
    import socket
    import time
    import uuid

    key = path.rstrip("/")
    if key in _HELD_LOCKS:
        yield
        return
    _, fs, mkpath = _index_fs(spark, path)
    lp = mkpath(f"{path}/{WRITER_LOCK}")
    token = uuid.uuid4().hex
    payload = json.dumps(
        {
            "pid": os.getpid(),
            "host": socket.gethostname(),
            "op": op,
            "token": token,
            "acquired_utc": time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            ),
        }
    )

    def _try_create() -> bool:
        try:
            out = fs.create(lp, False)  # fails if the lock exists
        except Exception:
            return False
        out.write(payload.encode("utf-8"))
        out.close()
        return True

    if not _try_create():
        try:
            holder = json.loads(_read_text(spark, path, WRITER_LOCK))
        except Exception:
            holder = {}
        if _lock_is_stale(holder) and fs.exists(lp):
            fs.delete(lp, False)  # crashed same-host holder
        if not _try_create():
            raise RuntimeError(
                f"index at {path} is locked by another writer "
                f"(holder: {holder or 'unreadable'}); wait for it, or "
                f"break_writer_lock() if it crashed on another host"
            )
        # the stale-break above is check-then-act: two acquirers that
        # both observed the same dead-pid lock can interleave so that
        # the second delete removes the FIRST winner's fresh lock and
        # both creates "succeed". Re-read and verify the token is ours
        # — the loser detects the overwrite and fails cleanly instead
        # of proceeding unfenced.
        try:
            current = json.loads(_read_text(spark, path, WRITER_LOCK))
        except Exception:
            current = {}
        if current.get("token") != token:
            raise RuntimeError(
                f"index at {path}: lost the lock race while breaking a "
                f"stale lock (now held by: {current or 'unreadable'}); "
                f"retry once the holder finishes"
            )
    _HELD_LOCKS.add(key)
    try:
        yield
    finally:
        _HELD_LOCKS.discard(key)
        # release ONLY a lock we still own: if someone break_writer_lock'd
        # a live holder and a new writer acquired, the on-disk token no
        # longer matches ours — deleting it would silently unfence the
        # new holder and re-open the two-writer window. The old
        # read-check-delete left a window between the read and the
        # delete; instead RENAME the lock aside first (one FS op takes
        # whatever file is at the lock path out of service), inspect
        # the captured file, and only then decide: ours → drop it
        # (released); foreign → rename it straight back. A crash
        # between the rename and the drop leaves a harmless
        # ``_writer.lock.rel-*`` orphan (not the lock path — nothing
        # reads it); a rename-back collision means a THIRD writer
        # already re-acquired — the captured foreign lock is dropped,
        # which is no worse than the old path's outright delete in the
        # same (documented best-effort) multi-break pathology.
        tomb_name = f"{WRITER_LOCK}.rel-{token}"
        tomb = mkpath(f"{path}/{tomb_name}")
        if fs.exists(lp) and fs.rename(lp, tomb):
            try:
                captured = json.loads(_read_text(spark, path, tomb_name))
            except Exception:
                captured = {}
            if captured.get("token") == token:
                fs.delete(tomb, False)
            elif not fs.rename(tomb, lp):
                fs.delete(tomb, False)


def _locked(op: str):
    """Decorator form of :func:`writer_lock` for mutating index verbs
    whose signature starts ``(spark, path, ...)``."""
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(spark, path, *args, **kwargs):
            with writer_lock(spark, path, op):
                return fn(spark, path, *args, **kwargs)

        return wrapper

    return deco


def _locked_df_first(op: str):
    """Same fence for verbs whose signature starts ``(df, path, ...)``
    (the append family)."""
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(df, path, *args, **kwargs):
            with writer_lock(df.sparkSession, path, op):
                return fn(df, path, *args, **kwargs)

        return wrapper

    return deco


def _read_tombstones(
    spark: SparkSession,
    path: str,
    id_col: str,
    names: list[str] | None = None,
) -> DataFrame | None:
    """Distinct tombstoned ids as a one-column frame named ``id_col``,
    or None when the index has no tombstones. The store is tiny by
    design (delete requests, not corpus rows) — every consumer
    broadcasts it. ``names`` is the manifest's committed tombstone
    file snapshot (snapshot-commit indexes read exactly those files —
    a purge that clears tombstones can then leave the physical files
    for vacuum instead of deleting them under a running reader);
    ``None`` is the legacy directory read."""
    if names is not None:
        if not names:
            return None
        df = spark.read.parquet(
            *[f"{path}/{TOMBSTONES_DIR}/{n}" for n in names]
        )
        return df.select(F.col(df.columns[0]).alias(id_col)).distinct()
    _, fs, mkpath = _index_fs(spark, path)
    if not fs.exists(mkpath(f"{path}/{TOMBSTONES_DIR}")):
        return None
    df = spark.read.parquet(f"{path}/{TOMBSTONES_DIR}")
    return df.select(F.col(df.columns[0]).alias(id_col)).distinct()


def _normalize_delete_ids(
    spark: SparkSession, ids, id_col: str, id_type
) -> DataFrame:
    """Accept a python sequence of id values or a DataFrame carrying
    ``id_col``; return a distinct one-column frame typed like the
    stored ids."""
    if isinstance(ids, DataFrame):
        if id_col not in ids.columns:
            raise ValueError(
                f"ids frame is missing the index's id column {id_col!r}"
            )
        out = ids.select(id_col)
    else:
        ids = list(ids)
        if not ids:
            raise ValueError("delete called with no ids")
        out = spark.createDataFrame([(i,) for i in ids], [id_col])
    return out.select(
        F.col(id_col).cast(id_type).alias(id_col)
    ).distinct()


def _append_tombstones(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    id_col: str,
    live_names: list[str] | None = None,
) -> int | tuple[int, list[str]]:
    """Append NEW ids into ``_tombstones/`` (already-tombstoned ids
    are not rewritten — delete is idempotent). Legacy mode
    (``live_names=None``) returns the total distinct tombstone count
    after the append. Snapshot mode (``live_names`` = the manifest's
    committed tombstone file list) reads exactly those files and
    returns ``(total, new_file_names)`` so the caller can publish the
    appended file in its manifest commit."""
    existing = _read_tombstones(spark, path, id_col, names=live_names)
    fresh = ids
    n_existing = 0
    if existing is not None:
        existing = existing.localCheckpoint()  # counted AND anti-joined
        n_existing = existing.count()
        fresh = ids.join(F.broadcast(existing), id_col, "left_anti")
    n_fresh = fresh.count()
    if live_names is None:
        if n_fresh:
            fresh.coalesce(1).write.mode("append").parquet(
                f"{path}/{TOMBSTONES_DIR}"
            )
        return n_existing + n_fresh
    new_names: list[str] = []
    if n_fresh:
        _, fs, mkpath = _index_fs(spark, path)
        pre = _tombstone_file_names(fs, mkpath, path)
        fresh.coalesce(1).write.mode("append").parquet(
            f"{path}/{TOMBSTONES_DIR}"
        )
        new_names = sorted(_tombstone_file_names(fs, mkpath, path) - pre)
    return n_existing + n_fresh, new_names


def _tombstone_file_names(fs, mkpath, path: str) -> set[str]:
    d = mkpath(f"{path}/{TOMBSTONES_DIR}")
    if not fs.exists(d):
        return set()
    return {
        st.getPath().getName()
        for st in fs.listStatus(d)
        if st.isFile() and not st.getPath().getName().startswith((".", "_"))
    }


def _clear_tombstones(spark: SparkSession, path: str):
    _, fs, mkpath = _index_fs(spark, path)
    p = mkpath(f"{path}/{TOMBSTONES_DIR}")
    if fs.exists(p):
        fs.delete(p, True)


def _reject_tombstoned(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    id_col: str,
    what: str,
    names: list[str] | None = None,
):
    """Appending an id that is tombstoned but not yet purged would
    resurrect rows the pending purge then deletes — refuse with the
    remedy in the message."""
    tomb = _read_tombstones(spark, path, id_col, names=names)
    if tomb is None:
        return
    n = batch.join(F.broadcast(tomb), id_col, "left_semi").count()
    if n:
        raise ValueError(
            f"{what} contains {n} id(s) that are tombstoned but not yet "
            f"purged — run the index's compaction (which folds deletes) "
            f"before re-using deleted ids"
        )


def _rename_into_cells(spark, fs, mkpath, root: str, tmp: str, produced):
    """Move a journaled swap's compacted/folded files from ``tmp``
    into their cell dirs. Two HDFS/ABFS realities the local FS hides
    (RawLocalFileSystem falls back to copy, which creates parents):
    ``rename`` into a MISSING parent dir returns False instead of
    raising — reachable whenever a fold targets a previously-empty
    cell (staged rows assigned to a bucket that never had a dir) —
    and its boolean return is the ONLY failure signal. So: mkdirs
    every target cell dir first, then check every rename. On a failed
    rename, roll the swap back (the journal is already on disk, the
    failed file never landed, and the manifest — the commit point —
    was not yet written, so deleting the partial new files restores
    the index exactly; the originals were never touched) and raise."""
    for b in sorted(produced):
        d = mkpath(f"{root}/bucket={b}")
        if not fs.exists(d):
            fs.mkdirs(d)
    for b in sorted(produced):
        for name in produced[b]:
            src = mkpath(f"{tmp}/bucket={b}/{name}")
            dst = mkpath(f"{root}/bucket={b}/{name}")
            if not fs.rename(src, dst):
                _abort_swap(spark, fs, mkpath, root, produced)
                raise IOError(
                    f"swap rename {src} -> {dst} failed — rolled the "
                    f"journaled swap back; store at {root} left as it "
                    f"was before this fold/compaction"
                )


def _abort_swap(spark, fs, mkpath, root: str, produced):
    """Roll an UNCOMMITTED swap back in place: delete whichever of
    the journal'd new files already landed in their cell dirs, then
    the tmp dir and the journal. Safe because the manifest — the
    commit point — has not been written: no reader references the
    new files, and the originals were never touched."""
    for b in produced:
        for name in produced[b]:
            p = mkpath(f"{root}/bucket={b}/{name}")
            if fs.exists(p):
                fs.delete(p, False)
    tp = mkpath(f"{root}/{TMP_DIR}")
    if fs.exists(tp):
        fs.delete(tp, True)
    jp = mkpath(f"{root}/{JOURNAL}")
    if fs.exists(jp):
        fs.delete(jp, False)


def _purge_cells(
    spark: SparkSession,
    root: str,
    data: DataFrame,
    id_col: str,
    drop: DataFrame,
    slice_salt: str,
    fpb: int = 1,
    live_files: dict[str, list[str]] | None = None,
) -> dict:
    """Journaled rewrite of exactly the cells holding rows whose id is
    in ``drop``, excluding those rows — the physical half of
    delete-by-id (the caller must run repair on ``root`` first, and
    owns the manifest). Verification is self-consistent rather than
    manifest-based: the kept-row count expected from the locating scan
    must equal the rewrite's observed row count, so a purge re-run
    after a crash (when the manifest may be stale) still verifies.
    Cost: one column-pruned (id, bucket) scan of the store to locate
    touched cells, then a rewrite of ONLY those cells. Returns
    ``{"cells_rewritten", "rows_dropped", "rows_kept"}``.

    With ``live_files`` (the manifest's committed snapshot for this
    store) the swap is snapshot-committed: ``data`` must be the
    snapshot frame, the replaced files come from the snapshot (never
    a listing), NOTHING is deleted here, and the journal is left in
    place — the caller publishes the returned ``new_files`` in its
    manifest write (the commit point) and then calls
    :func:`_finish_swap`; the replaced files stay on disk for any
    in-flight reader until :func:`vacuum` retires them. Without it,
    the legacy in-place protocol (list, swap, delete) runs."""
    from pyspark.sql import Observation

    _, fs, mkpath = _index_fs(spark, root)
    marked = drop.withColumn("__del", F.lit(True))
    per_cell = (
        data.join(F.broadcast(marked), id_col, "left")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(F.col("__del"), 1)).alias("dropped"),
        )
        .filter(F.col("dropped") > 0)
        .collect()
    )
    if not per_cell:
        return {"cells_rewritten": 0, "rows_dropped": 0, "rows_kept": 0}
    cells = sorted(int(r["bucket"]) for r in per_cell)
    rows_dropped = sum(int(r["dropped"]) for r in per_cell)
    expected_kept = sum(int(r["total"]) - int(r["dropped"]) for r in per_cell)
    if live_files is not None:
        old_files = {str(b): list(live_files.get(str(b), [])) for b in cells}
    else:
        old_files = {str(b): _cell_files(fs, mkpath, root, b) for b in cells}
    obs = Observation()
    slice_col = F.pmod(
        F.xxhash64(F.col(id_col), F.lit(slice_salt)), F.lit(fpb)
    )
    tmp = f"{root}/{TMP_DIR}"
    (
        data.filter(F.col("bucket").isin(cells))
        .join(F.broadcast(drop), id_col, "left_anti")
        .observe(obs, F.count(F.lit(1)).alias("rows"))
        .withColumn("__slice", slice_col)
        .repartition(F.col("bucket"), F.col("__slice"))
        .drop("__slice")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp)
    )
    kept = int(obs.get["rows"])
    if kept != expected_kept:
        fs.delete(mkpath(tmp), True)
        raise ValueError(
            f"purge rewrite kept {kept} rows where the locating scan "
            f"expected {expected_kept} for cells {cells} — store left "
            f"untouched (concurrent writer?)"
        )
    produced = {b: _cell_files(fs, mkpath, tmp, b) for b in cells}
    journal = {
        "cells": {
            str(b): {"new": produced[b], "old": old_files[str(b)]}
            for b in cells
        }
    }
    _write_text(spark, root, JOURNAL, json.dumps(journal))
    _rename_into_cells(spark, fs, mkpath, root, tmp, produced)
    out = {
        "cells_rewritten": len(cells),
        "rows_dropped": rows_dropped,
        "rows_kept": kept,
    }
    if live_files is not None:
        # snapshot-committed: nothing is deleted here — the caller's
        # manifest write publishes these files (the commit point),
        # then _finish_swap drops the journal + tmp
        out["new_files"] = {str(b): produced[b] for b in produced}
        return out
    for b in cells:
        for old in old_files[str(b)]:
            fs.delete(mkpath(f"{root}/bucket={b}/{old}"), False)
    if fs.exists(mkpath(tmp)):
        fs.delete(mkpath(tmp), True)
    fs.delete(mkpath(f"{root}/{JOURNAL}"), False)
    return out


def write_ivf_index(
    vectors: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
    files_per_bucket: int = 1,
) -> dict:
    """Assign every vector to its nearest centroid and write the
    corpus parquet-partitioned by cell (``bucket=<i>/`` dirs), with
    the centroid table and a manifest stored inside the index.
    Carries ALL of ``vectors``' columns (payload included), so
    retrieving a search hit's payload is a lookup INSIDE the pruned
    cells — never a second full-corpus scan. NULL vectors get no cell
    (``ivf_assign``'s contract) and are NOT indexed — their count is
    recorded in the manifest as ``dropped_null``. Returns the
    manifest dict."""
    from sparvi_core_spark.operators.similarity import ivf_assign
    from sparvi_core_spark.sources.writers import _hadoop_write_text

    if files_per_bucket < 1:
        raise ValueError(
            f"files_per_bucket must be >= 1, got {files_per_bucket}"
        )
    for c in ("bucket", "__slice"):
        if c in vectors.columns:
            raise ValueError(f"vectors already has a {c!r} column")
    spark = vectors.sparkSession
    n_rows = _require_unique_ids(vectors, id_col, "vectors")
    assigned = ivf_assign(
        vectors, centroids, id_col=id_col, vec_col=vec_col
    ).select(F.col("id").alias(id_col), "bucket")
    data = vectors.join(assigned, id_col)
    # one task-group per (cell, slice): each cell lands in at most
    # files_per_bucket files regardless of input layout
    slice_col = F.pmod(
        F.xxhash64(F.col(id_col), F.lit("ivf-slice")),
        F.lit(files_per_bucket),
    )
    (
        data.withColumn("__slice", slice_col)
        .repartition(F.col("bucket"), F.col("__slice"))
        .drop("__slice")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )
    cent = centroids.select("bucket", "centroid")
    cent.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/{CENTROIDS_DIR}"
    )
    # per-cell rows: one groupBy over the assignment, k rows collected
    per_cell = {
        int(r["bucket"]): int(r["n"])
        for r in assigned.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    dim_row = cent.select(F.size("centroid").alias("d")).first()
    n_vectors = sum(per_cell.values())
    # snapshot commit: the manifest records exactly which data files
    # are live (adopted here from the initial write's own listing —
    # the only time a listing feeds the manifest); every later verb
    # maintains the snapshot through its own single manifest write
    _, fs, mkpath = _index_fs(spark, path)
    manifest = {
        "format": "sparvi-ivf-index/2",
        "id_col": id_col,
        "vec_col": vec_col,
        "k": cent.count(),
        "dim": int(dim_row["d"]) if dim_row else None,
        "n_vectors": n_vectors,
        "dropped_null": n_rows - n_vectors,
        "files_per_bucket": files_per_bucket,
        "rows_per_bucket": {str(b): n for b, n in sorted(per_cell.items())},
        "files": {"vectors": _physical_cells(fs, mkpath, path)},
        "staging_files": {"vectors": []},
        "tombstone_files": [],
    }
    _hadoop_write_text(
        spark, path, MANIFEST, json.dumps(manifest, indent=1, sort_keys=True)
    )
    return manifest


@_locked_df_first("append")
def append_ivf_index(
    new_vectors: DataFrame,
    path: str,
    files_per_bucket: int | None = None,
    staged: bool = False,
    stream_batch_id: int | None = None,
) -> dict:
    """The daily ingest operation: assign a NEW batch against the
    STORED centroids and append it into the existing cell partitions —
    no rebuild, and no existing file is rewritten (parquet append into
    ``bucket=<i>/`` dirs). The manifest is updated in place:
    ``rows_per_bucket``/``n_vectors``/``dropped_null`` accumulate and
    ``appends`` counts the batches, so cell skew and growth stay
    visible across the index's life. Returns the updated manifest.

    ``staged=True`` lands the batch as ONE unpartitioned file under
    ``_staging/vectors/`` (bucket carried as a column) instead of up
    to ``files_per_bucket`` files in every touched cell — the
    micro-batch ingest path for the streaming sink; readers union
    staging transparently, and the next :func:`compact_ivf_index` (or
    the ``compact_ivf_index_if`` knob, which counts staged files as
    per-bucket fan-in) folds staged rows into their cells.

    Centroids are NOT moved by an append (that would silently
    invalidate every prior assignment); watch
    :func:`ivf_index_health`'s ``mean_distance`` creep to decide when
    a re-train + rewrite is due. Single-writer by contract — plain
    parquet has no commit protocol, so two concurrent appends race on
    the manifest (same as every bare-parquet append pipeline).

    ``stream_batch_id`` threads the streaming sink's batch id into the
    SAME manifest write as the counts and the file snapshot — ONE
    commit point, so the sink's replay fence, the counts, and the
    visible files can never disagree. That single write is also what
    makes a crashed append harmless: files that landed without their
    manifest commit are referenced by nothing (readers scan the
    snapshot, never the directory), so a replay simply appends the
    batch again and the orphans wait for :func:`vacuum_ivf_index` —
    no screening, no duplicate rows, exactly-once by construction."""
    from sparvi_core_spark.operators.similarity import ivf_assign
    from sparvi_core_spark.sources.writers import _hadoop_write_text

    spark = new_vectors.sparkSession
    _, cents, manifest = read_ivf_index(spark, path)
    id_col, vec_col = manifest["id_col"], manifest["vec_col"]
    fpb = manifest["files_per_bucket"] if files_per_bucket is None else files_per_bucket
    if fpb < 1:
        raise ValueError(f"files_per_bucket must be >= 1, got {fpb}")
    for c in (id_col, vec_col):
        if c not in new_vectors.columns:
            raise ValueError(
                f"new_vectors is missing the index's {c!r} column "
                f"(manifest: id_col={id_col!r}, vec_col={vec_col!r})"
            )
    _reject_tombstoned(
        spark, path, new_vectors, id_col, "new_vectors",
        names=manifest["tombstone_files"],
    )
    for c in ("bucket", "__slice"):
        if c in new_vectors.columns:
            raise ValueError(f"new_vectors already has a {c!r} column")
    # dim check BEFORE any file lands: one tiny agg over the batch
    dims = new_vectors.select(
        F.min(F.size(vec_col)).alias("lo"), F.max(F.size(vec_col)).alias("hi")
    ).first()
    if dims["lo"] is not None and (
        dims["lo"] != manifest["dim"] or dims["hi"] != manifest["dim"]
    ):
        raise ValueError(
            f"batch vector dims [{dims['lo']}, {dims['hi']}] do not match "
            f"the index dim {manifest['dim']}"
        )
    n_batch_rows = _require_unique_ids(new_vectors, id_col, "new_vectors")
    assigned = ivf_assign(
        new_vectors, cents, id_col=id_col, vec_col=vec_col
    ).select(F.col("id").alias(id_col), "bucket").localCheckpoint()
    data = new_vectors.join(assigned, id_col)
    per_cell = {
        int(r["bucket"]): int(r["n"])
        for r in assigned.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_new = sum(per_cell.values())
    _, fs, mkpath = _index_fs(spark, path)
    if n_new:
        if staged:
            sroot = f"{path}/{STAGING_DIR}/vectors"
            pre = {
                p.rsplit("/", 1)[-1]
                for p in _staging_files(spark, path, "vectors")
            }
            data.coalesce(1).write.mode("append").parquet(sroot)
            post = {
                p.rsplit("/", 1)[-1]
                for p in _staging_files(spark, path, "vectors")
            }
            manifest["staging_files"]["vectors"] = sorted(
                set(manifest["staging_files"]["vectors"]) | (post - pre)
            )
        else:
            touched = sorted(per_cell)
            pre = {
                str(b): set(_cell_files(fs, mkpath, path, b))
                for b in touched
            }
            slice_col = F.pmod(
                F.xxhash64(F.col(id_col), F.lit("ivf-slice")),
                F.lit(fpb),
            )
            (
                data.withColumn("__slice", slice_col)
                .repartition(F.col("bucket"), F.col("__slice"))
                .drop("__slice")
                .write.mode("append")
                .partitionBy("bucket")
                .parquet(path)
            )
            manifest["files"]["vectors"] = _merge_appended(
                manifest["files"]["vectors"],
                _diff_new_files(fs, mkpath, path, touched, pre),
            )
    rows = dict(manifest["rows_per_bucket"])
    for b, n in per_cell.items():
        rows[str(b)] = rows.get(str(b), 0) + n
    manifest["rows_per_bucket"] = {
        b: rows[b] for b in sorted(rows, key=int)
    }
    manifest["n_vectors"] += n_new
    manifest["dropped_null"] += n_batch_rows - n_new
    manifest["appends"] = manifest.get("appends", 0) + 1
    if stream_batch_id is not None:
        manifest["last_stream_batch_id"] = int(stream_batch_id)
    _hadoop_write_text(
        spark, path, MANIFEST, json.dumps(manifest, indent=1, sort_keys=True)
    )
    return manifest


@_locked("delete")
def delete_from_ivf_index(spark: SparkSession, path: str, ids) -> dict:
    """Delete-by-id — the takedown verb for the float IVF index.
    ``ids`` is a python sequence of id values or a DataFrame carrying
    the index's id column. Logical and immediate: tombstoned ids stop
    surfacing as neighbors on the next search;
    :func:`compact_ivf_index` folds the tombstones in (rewriting only
    the cells that held the deleted rows) and reconciles the manifest.
    Until then, deleted ids may not be re-appended. Idempotent.
    Returns ``{"requested", "tombstones_total", "pending_purge"}``."""
    data, _, manifest = read_ivf_index(spark, path)
    id_col = manifest["id_col"]
    id_type = data.schema[id_col].dataType
    drop = _normalize_delete_ids(spark, ids, id_col, id_type)
    drop = drop.localCheckpoint()  # counted, appended, presence-joined
    requested = drop.count()
    live_tombs = manifest["tombstone_files"]
    total, new_names = _append_tombstones(
        spark, path, drop, id_col, live_names=live_tombs
    )
    manifest["tombstone_files"] = sorted(set(live_tombs) | set(new_names))
    tomb = _read_tombstones(
        spark, path, id_col, names=manifest["tombstone_files"]
    )
    # presence: cell is a function of the VECTOR, so this check is a
    # column-pruned id scan of the data store
    pending = data.join(F.broadcast(tomb), id_col, "left_semi").count()
    manifest["n_tombstones"] = total
    manifest["n_deleted_pending"] = pending
    _write_text(
        spark, path, MANIFEST, json.dumps(manifest, indent=1, sort_keys=True)
    )
    return {
        "requested": requested,
        "tombstones_total": total,
        "pending_purge": pending,
    }


def _repair_store(
    spark: SparkSession,
    root: str,
    live_files: dict[str, list[str]] | None = None,
) -> dict:
    """Heal a crashed journaled swap on ONE store root.

    Snapshot protocol (``live_files`` = the manifest's committed file
    snapshot for this store): the manifest write is the commit point,
    so the journal alone decides — every journal'd new file already
    referenced by the manifest → the swap committed; finish the
    cleanup (drop journal + tmp, touch NO data file: the replaced
    files are vacuum's job, never repair's). Any new file
    unreferenced → the swap never committed; delete whichever new
    files landed (no reader references them) and the store is exactly
    as it was.

    Legacy protocol (``live_files=None`` — a store whose manifest
    predates snapshot commits, or a non-manifest store mid-
    transition): the old exists-based rule — every journal'd new
    file present on disk → roll forward (delete the replaced
    originals and any ``extra_old`` staging files); else roll back
    (delete the partial new files; originals are still complete).

    A tmp dir with no journal is a pre-journal crash — originals
    untouched, drop the tmp. Idempotent; no-op on a clean store.
    Returns ``{"action": ...}``."""
    _, fs, mkpath = _index_fs(spark, root)
    jp = mkpath(f"{root}/{JOURNAL}")
    tp = mkpath(f"{root}/{TMP_DIR}")
    if not fs.exists(jp):
        if fs.exists(tp):
            fs.delete(tp, True)
            return {"action": "removed_orphan_tmp"}
        return {"action": "clean"}
    journal = json.loads(_read_text(spark, root, JOURNAL))
    cells = journal["cells"]
    if live_files is not None:
        committed = all(
            n in live_files.get(str(b), ())
            for b, entry in cells.items()
            for n in entry["new"]
        )
        if committed:
            action = "rolled_forward"
        else:
            for b, entry in cells.items():
                for new in entry["new"]:
                    p = mkpath(f"{root}/bucket={b}/{new}")
                    if fs.exists(p):
                        fs.delete(p, False)
            action = "rolled_back"
        if fs.exists(tp):
            fs.delete(tp, True)
        fs.delete(jp, False)
        return {"action": action}
    landed = all(
        fs.exists(mkpath(f"{root}/bucket={b}/{n}"))
        for b, entry in cells.items()
        for n in entry["new"]
    )
    if landed:
        for b, entry in cells.items():
            for old in entry["old"]:
                p = mkpath(f"{root}/bucket={b}/{old}")
                if fs.exists(p):
                    fs.delete(p, False)
        # staging files folded by this swap (absolute paths) are
        # deleted on roll-forward only — on roll-back they are still
        # the sole copy of their rows
        for extra in journal.get("extra_old", ()):
            p = mkpath(extra)
            if fs.exists(p):
                fs.delete(p, False)
        action = "rolled_forward"
    else:
        for b, entry in cells.items():
            for new in entry["new"]:
                p = mkpath(f"{root}/bucket={b}/{new}")
                if fs.exists(p):
                    fs.delete(p, False)
        action = "rolled_back"
    if fs.exists(tp):
        fs.delete(tp, True)
    fs.delete(jp, False)
    return {"action": action}


def repair_ivf_index(spark: SparkSession, path: str) -> dict:
    """Heal a crashed swap on the float IVF index (see
    :func:`_repair_store`): the manifest's committed file snapshot
    decides — referenced new files mean the swap committed (just
    finish the cleanup); unreferenced ones never did (delete them,
    nothing else moved). Idempotent; no-op on a clean index."""
    try:
        manifest = json.loads(_read_text(spark, path, MANIFEST))
    except Exception:
        manifest = {}
    live = manifest.get("files", {}).get("vectors")
    return _repair_store(spark, path, live_files=live)


@_locked("compact")
def compact_ivf_index(
    spark: SparkSession,
    path: str,
    files_per_bucket: int | None = None,
) -> dict:
    """Fold appended small files back to ``files_per_bucket`` files
    per cell — the hygiene pass for the append pipeline (each
    :func:`append_ivf_index` adds up to ``files_per_bucket`` files to
    every touched cell; after N daily batches a cell scan opens ~N
    files). Cost is proportional to the FRAGMENTED fraction: cells
    already at or below the target are not read, not rewritten, and
    their files are never touched (pinned in tests) — on a 100 TB
    index where yesterday's append touched 3% of cells, compaction
    reads 3% of the corpus, not all of it. Row identity is checked
    before the swap: the rewrite's observed row count must equal the
    manifest's count for those cells, else the tmp output is discarded
    and the index is left exactly as found.

    Crash-safe via :func:`repair_ivf_index`; every swap here is
    snapshot-committed (the manifest write that publishes the new
    files IS the commit), so any prior crash either committed or
    left nothing referenced. Single-WRITER by contract, like
    ``append_ivf_index`` — but READERS need no quiescing: an
    in-flight :func:`search_ivf_index` holds the file snapshot it
    planned with, the replaced files stay on disk until
    :func:`vacuum_ivf_index` retires them after a retention window,
    and a search planned after the commit sees only the compacted
    files. Returns ``{"cells_compacted", "files_before",
    "files_after", "rows_rewritten"}``."""
    repair_ivf_index(spark, path)
    data, _, manifest = read_ivf_index(spark, path)
    fpb = (
        manifest["files_per_bucket"]
        if files_per_bucket is None
        else files_per_bucket
    )
    # fold the staging store FIRST (append-shaped: only the staged
    # mass is rewritten), so the purge and file-fold below see a
    # purely partitioned store — any fan-in the fold adds is swept by
    # the >fpb pass right below
    staging = None
    staged_names = manifest["staging_files"]["vectors"]
    if staged_names:
        staged = _read_staging_names(spark, path, "vectors", staged_names)
        staging = _fold_staged_cells(
            spark, path, staged, manifest["id_col"], fpb,
            slice_salt="ivf-slice",
            staged_files=[
                f"{path}/{STAGING_DIR}/vectors/{n}" for n in staged_names
            ],
            snapshot=True,
        )
        manifest["files"]["vectors"] = _merge_appended(
            manifest["files"]["vectors"], staging.pop("new_files", {})
        )
        manifest["staging_files"]["vectors"] = []
        _write_text(
            spark, path, MANIFEST,
            json.dumps(manifest, indent=1, sort_keys=True),
        )
        _finish_swap(spark, path)
        data, _, manifest = read_ivf_index(spark, path)
    purge = None
    tomb = _read_tombstones(
        spark, path, manifest["id_col"],
        names=manifest["tombstone_files"],
    )
    if tomb is not None:
        purge = _purge_cells(
            spark, path, data, manifest["id_col"],
            tomb.localCheckpoint(), slice_salt="ivf-slice", fpb=fpb,
            live_files=manifest["files"]["vectors"],
        )
        if purge.get("new_files") is not None:
            files = dict(manifest["files"]["vectors"])
            for b, names in purge.pop("new_files").items():
                files[b] = names
            manifest["files"]["vectors"] = {
                b: files[b] for b in sorted(files, key=int)
            }
        # re-measure the manifest from the NEW snapshot (bucket is
        # the partition key — parquet-footer counts), so a
        # crash-interrupted purge re-run always ends consistent
        snap = _snapshot_read(spark, path, manifest["files"]["vectors"])
        per_bucket = {} if snap is None else {
            int(r["bucket"]): int(r["n"])
            for r in snap.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        manifest["rows_per_bucket"] = {
            str(b): n for b, n in sorted(per_bucket.items())
        }
        manifest["n_vectors"] = sum(per_bucket.values())
        manifest["purged_total"] = manifest.get("purged_total", 0) + int(
            purge["rows_dropped"]
        )
        # the tombstones are consumed by the SAME commit that
        # publishes the purged files — the physical tombstone files
        # wait for vacuum, so a reader's pinned anti-join never breaks
        manifest["tombstone_files"] = []
        manifest.pop("n_tombstones", None)
        manifest.pop("n_deleted_pending", None)
        _write_text(
            spark, path, MANIFEST,
            json.dumps(manifest, indent=1, sort_keys=True),
        )
        _finish_swap(spark, path)
        data, _, manifest = read_ivf_index(spark, path)
    stats = _compact_cells(
        spark,
        path,
        data,
        manifest["id_col"],
        manifest["rows_per_bucket"],
        fpb,
        slice_salt="ivf-slice",
        live_files=manifest["files"]["vectors"],
    )
    if stats.get("new_files") is not None:
        files = dict(manifest["files"]["vectors"])
        for b, names in stats.pop("new_files").items():
            files[b] = names
        manifest["files"]["vectors"] = {
            b: files[b] for b in sorted(files, key=int)
        }
    if stats["cells_compacted"] > 0 or fpb != manifest["files_per_bucket"]:
        manifest["files_per_bucket"] = fpb
        if stats["cells_compacted"] > 0:
            manifest["compactions"] = manifest.get("compactions", 0) + 1
        _write_text(
            spark, path, MANIFEST,
            json.dumps(manifest, indent=1, sort_keys=True),
        )
        _finish_swap(spark, path)
    if purge is not None:
        stats = dict(stats)
        stats["purge"] = purge
    if staging is not None:
        stats = dict(stats)
        stats["staging"] = staging
    return stats


def _compact_cells(
    spark: SparkSession,
    root: str,
    data: DataFrame,
    id_col: str,
    rows_per_bucket: dict,
    fpb: int,
    slice_salt: str,
    force_cells=None,
    extra_old: list[str] | None = None,
    live_files: dict[str, list[str]] | None = None,
) -> dict:
    """The journaled fold shared by every cell-partitioned store
    (float IVF index, IVF-PQ code index, its ``_floats/`` side-store):
    rewrite ONLY the cells with more than ``fpb`` files, verify the
    rewrite's observed row count against ``rows_per_bucket`` BEFORE
    the swap, journal, move, delete — :func:`repair_ivf_index` heals a
    crash at any point (the caller must run it on ``root`` first).
    Touches no manifest (the caller owns that). Returns
    ``{"cells_compacted", "files_before", "files_after",
    "rows_rewritten"}``.

    ``force_cells`` rewrites those cells even when their file count is
    at or under ``fpb`` — the staging-fold hook: the caller passes
    ``data`` = store ∪ staging and the staged buckets, so staged rows
    land in their cell dirs during the same journaled swap.
    ``extra_old`` (absolute paths — e.g. the staging files whose rows
    the rewrite just folded in) is recorded in the journal and deleted
    strictly after the per-cell old files; on a crash,
    :func:`repair_ivf_index` deletes them on roll-forward and leaves
    them intact on roll-back (the fold never happened).

    With ``live_files`` the swap is snapshot-committed (see
    :func:`_purge_cells`): fragmentation and the replaced files come
    from the manifest's committed snapshot, ``data`` must be the
    snapshot frame, nothing is deleted here, and the journal stays
    until the caller's manifest write + :func:`_finish_swap`."""
    from pyspark.sql import Observation

    if fpb < 1:
        raise ValueError(f"files_per_bucket must be >= 1, got {fpb}")
    _, fs, mkpath = _index_fs(spark, root)
    if live_files is not None:
        listing = {
            b: list(live_files.get(str(b), [])) for b in rows_per_bucket
        }
    else:
        listing = {
            b: _cell_files(fs, mkpath, root, b) for b in rows_per_bucket
        }
    files_before = sum(len(v) for v in listing.values())
    frag = {b: v for b, v in listing.items() if len(v) > fpb}
    for b in force_cells or ():
        frag.setdefault(str(b), listing.get(str(b), []))
    if not frag:
        return {
            "cells_compacted": 0,
            "files_before": files_before,
            "files_after": files_before,
            "rows_rewritten": 0,
        }
    cells = sorted(int(b) for b in frag)
    expected = sum(rows_per_bucket[str(b)] for b in cells)
    obs = Observation()
    slice_col = F.pmod(
        F.xxhash64(F.col(id_col), F.lit(slice_salt)), F.lit(fpb)
    )
    tmp = f"{root}/{TMP_DIR}"
    (
        data.filter(F.col("bucket").isin(cells))
        .observe(obs, F.count(F.lit(1)).alias("rows"))
        .withColumn("__slice", slice_col)
        .repartition(F.col("bucket"), F.col("__slice"))
        .drop("__slice")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp)
    )
    rewritten = int(obs.get["rows"])
    if rewritten != expected:
        fs.delete(mkpath(tmp), True)
        raise ValueError(
            f"compaction rewrite saw {rewritten} rows where the manifest "
            f"records {expected} for cells {cells} — index left untouched "
            f"(were files mutated outside the append path?)"
        )
    # journal BEFORE any compacted file enters a cell dir; then ALL
    # moves, then ALL deletes — the repair protocol's ordering contract
    produced = {
        b: _cell_files(fs, mkpath, tmp, b) for b in cells
    }
    journal = {
        "cells": {
            str(b): {"new": produced[b], "old": frag[str(b)]}
            for b in cells
        }
    }
    if extra_old:
        journal["extra_old"] = list(extra_old)
    _write_text(spark, root, JOURNAL, json.dumps(journal))
    _rename_into_cells(spark, fs, mkpath, root, tmp, produced)
    files_after = files_before - sum(
        len(v) for v in frag.values()
    ) + sum(len(v) for v in produced.values())
    out = {
        "cells_compacted": len(cells),
        "files_before": files_before,
        "files_after": files_after,
        "rows_rewritten": rewritten,
    }
    if live_files is not None:
        out["new_files"] = {str(b): produced[b] for b in produced}
        return out
    for b in cells:
        for old in frag[str(b)]:
            fs.delete(mkpath(f"{root}/bucket={b}/{old}"), False)
    for p in extra_old or ():
        if fs.exists(mkpath(p)):
            fs.delete(mkpath(p), False)
    fs.delete(mkpath(tmp), True)
    fs.delete(mkpath(f"{root}/{JOURNAL}"), False)
    return out


def _fold_staged_cells(
    spark: SparkSession,
    root: str,
    staged: DataFrame,
    id_col: str,
    fpb: int,
    slice_salt: str,
    staged_files: list[str],
    snapshot: bool = False,
) -> dict:
    """Append-shaped staging fold — the O(staged) alternative to the
    round-10 force-rewrite (which rewrote every staged bucket's FULL
    contents; with uniform hashing that was ~the whole store per fold,
    i.e. write traffic proportional to index size at every fold).
    Here ONLY the staged mass is rewritten, partitioned by bucket into
    the swap tmp, then journal-renamed into the cell dirs as
    ADDITIONAL files (``old=[]`` — no store file is read, rewritten,
    or deleted); the staging files ride ``extra_old`` exactly as
    before. Cost: staged bytes + one file op per touched bucket —
    independent of index size. The fan-in this adds (≤ ``fpb`` files
    per touched bucket per fold) is the normal ``>fpb`` compaction
    sweep's job at its own, much rarer cadence — see
    ``compact_index_if``'s two-tier policy.

    Shares :func:`repair_ivf_index`'s journal protocol (caller runs
    repair on ``root`` first and holds the writer lock): roll-forward
    deletes the staging files, roll-back deletes the half-landed new
    files and keeps staging intact. The identity check compares the
    rewrite's observed row count against an independent pre-count of
    the same staged frame. Manifest counts are already logical
    (staged appends updated them at append time), so folding moves no
    numbers — the caller's manifest is untouched."""
    from pyspark.sql import Observation

    if fpb < 1:
        raise ValueError(f"files_per_bucket must be >= 1, got {fpb}")
    _, fs, mkpath = _index_fs(spark, root)
    per_bucket = {
        int(r["bucket"]): int(r["n"])
        for r in staged.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not per_bucket:
        return {"cells_folded": 0, "rows_folded": 0, "files_added": 0}
    expected = sum(per_bucket.values())
    obs = Observation()
    slice_col = F.pmod(
        F.xxhash64(F.col(id_col), F.lit(slice_salt)), F.lit(fpb)
    )
    tmp = f"{root}/{TMP_DIR}"
    (
        staged.observe(obs, F.count(F.lit(1)).alias("rows"))
        .withColumn("__slice", slice_col)
        .repartition(F.col("bucket"), F.col("__slice"))
        .drop("__slice")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp)
    )
    rewritten = int(obs.get["rows"])
    if rewritten != expected:
        fs.delete(mkpath(tmp), True)
        raise ValueError(
            f"staging fold saw {rewritten} rows where the staging "
            f"pre-count found {expected} — store left untouched "
            f"(concurrent writer?)"
        )
    produced = {
        b: _cell_files(fs, mkpath, tmp, b) for b in sorted(per_bucket)
    }
    journal = {
        "cells": {str(b): {"new": produced[b], "old": []} for b in produced},
        "extra_old": list(staged_files),
    }
    _write_text(spark, root, JOURNAL, json.dumps(journal))
    _rename_into_cells(spark, fs, mkpath, root, tmp, produced)
    out = {
        "cells_folded": len(produced),
        "rows_folded": rewritten,
        "files_added": sum(len(v) for v in produced.values()),
    }
    if snapshot:
        # snapshot-committed: the caller's manifest write publishes
        # the folded files AND empties staging_files in one commit;
        # the physical staging files stay on disk for any reader that
        # pinned the old manifest, until vacuum retires them
        out["new_files"] = {str(b): produced[b] for b in produced}
        return out
    for p in staged_files:
        if fs.exists(mkpath(p)):
            fs.delete(mkpath(p), False)
    fs.delete(mkpath(tmp), True)
    fs.delete(mkpath(f"{root}/{JOURNAL}"), False)
    return out


STAGING_DIR = "_staging"


def _staging_files(spark: SparkSession, path: str, sub: str) -> list[str]:
    """Absolute paths of the data files staged under
    ``<path>/_staging/<sub>/`` (hidden/marker files excluded) — the
    shared O(1)-file micro-batch append tier (see
    ``minhash_index``'s module docstring for the design)."""
    _, fs, mkpath = _index_fs(spark, path)
    root = f"{path}/{STAGING_DIR}/{sub}"
    rp = mkpath(root)
    if not fs.exists(rp):
        return []
    out = []
    for st in fs.listStatus(rp):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith((".", "_")):
            out.append(f"{root}/{name}")
    return sorted(out)


def store_fragmentation(spark: SparkSession, root: str) -> dict:
    """Files-per-bucket gauge for one cell-partitioned store root — a
    pure directory listing (no data read, no Spark job), O(n_buckets)
    LIST calls: the same order of FS work the append that fragmented
    the store just performed. Returns ``{"n_buckets", "total_files",
    "max_files_per_bucket"}``; a missing root gauges as empty (0s).

    This is the measurement half of the auto-compaction knob: the
    round-9 lifecycle study showed ~20 small appends fragment buckets
    to ~16 files and cost the constant-latency probe ~2.7× until a
    compaction folds them back — a maintenance policy should trigger
    on THIS number instead of relying on an operator reading docs."""
    _, fs, mkpath = _index_fs(spark, root)
    rp = mkpath(root)
    counts: list[int] = []
    if fs.exists(rp):
        for st in fs.listStatus(rp):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith("bucket="):
                counts.append(
                    len(_cell_files(fs, mkpath, root, name.split("=", 1)[1]))
                )
    return {
        "n_buckets": len(counts),
        "total_files": sum(counts),
        "max_files_per_bucket": max(counts, default=0),
    }


def _vacuum_stores(
    spark: SparkSession,
    path: str,
    stores: dict[str, tuple[str, dict]],
    staging: dict[str, tuple[str, list]],
    tombstones: list[str] | None,
    older_than_s: float,
) -> dict:
    """The GC half of snapshot commits, shared by all four stored
    indexes: delete files that are physically present but referenced
    by NOTHING in the manifest — files replaced by a committed swap,
    staging/tombstone files consumed by a committed fold/purge, and
    orphans from appends that crashed before their manifest commit.

    Readers are why deletion is deferred to here: a scan plans
    against the manifest's file snapshot and holds it for its whole
    run, so the commit that unreferences a file must not delete it.
    ``older_than_s`` is the retention window, measured from when a
    vacuum pass FIRST saw the file unreferenced (a torn-write-safe
    ledger at ``_vacuum_ledger.json`` carries first-seen stamps
    between passes — file mtimes can't be used: a file replaced by a
    swap was typically written long before it was retired). Deletion
    therefore needs two passes ``older_than_s`` apart unless the
    window is 0; run vacuum on a cadence shorter than the window and
    size the window past the longest-running reader.

    Caller must hold the writer lock and have run repair (so no
    journal is in flight — an uncommitted swap's files are protected
    by the journal, which repair resolves before we list). Returns
    ``{"files_vacuumed", "bytes_vacuumed", "files_pending"}``."""
    import time

    _, fs, mkpath = _index_fs(spark, path)
    now = time.time()
    try:
        ledger = json.loads(_read_text(spark, path, VACUUM_LEDGER))
    except Exception:
        ledger = {}
    prefix = path.rstrip("/") + "/"
    garbage: list[str] = []
    for key, (root, live) in stores.items():
        store_rel = ""
        if root.rstrip("/") != path.rstrip("/"):
            store_rel = root.rstrip("/")[len(prefix):] + "/"
        for b, names in _physical_cells(fs, mkpath, root).items():
            live_names = set(live.get(b, ()))
            for n in names:
                if n not in live_names:
                    garbage.append(f"{store_rel}bucket={b}/{n}")
    for key, (sub, live_names) in staging.items():
        live_set = set(live_names)
        for p in _staging_files(spark, path, sub):
            n = p.rsplit("/", 1)[-1]
            if n not in live_set:
                garbage.append(f"{STAGING_DIR}/{sub}/{n}")
    if tombstones is not None:
        live_set = set(tombstones)
        for n in sorted(_tombstone_file_names(fs, mkpath, path)):
            if n not in live_set:
                garbage.append(f"{TOMBSTONES_DIR}/{n}")
    # crashed-release lock tombstones (_writer.lock.rel-*) are off the
    # lock path and read by nothing — safe to drop while we hold the
    # writer lock (the live holder is us; only a crashed process's
    # orphans can exist)
    rp = mkpath(path)
    if fs.exists(rp):
        for st in fs.listStatus(rp):
            n = st.getPath().getName()
            if st.isFile() and n.startswith(f"{WRITER_LOCK}.rel-"):
                garbage.append(n)
    vacuumed = 0
    bytes_vacuumed = 0
    pending: dict[str, float] = {}
    for rel in garbage:
        first_seen = float(ledger.get(rel, now))
        if now - first_seen >= older_than_s:
            p = mkpath(f"{path}/{rel}")
            if fs.exists(p):
                bytes_vacuumed += int(fs.getFileStatus(p).getLen())
                fs.delete(p, False)
                vacuumed += 1
        else:
            pending[rel] = first_seen
    if pending:
        _write_text(
            spark, path, VACUUM_LEDGER,
            json.dumps(pending, indent=1, sort_keys=True),
        )
    else:
        lp = mkpath(f"{path}/{VACUUM_LEDGER}")
        if fs.exists(lp):
            fs.delete(lp, False)
    return {
        "files_vacuumed": vacuumed,
        "bytes_vacuumed": bytes_vacuumed,
        "files_pending": len(pending),
    }


@_locked("vacuum")
def vacuum_ivf_index(
    spark: SparkSession, path: str, older_than_s: float = 0.0
) -> dict:
    """Delete the float IVF index's unreferenced files (see
    :func:`_vacuum_stores`): swap-replaced cell files, folded staging
    files, purged tombstone files, and crashed-append orphans —
    none of which any reader can be planning against, once they have
    been unreferenced for ``older_than_s`` seconds. Size the window
    past the longest-running search; 0 deletes immediately (safe only
    when no reader is in flight)."""
    repair_ivf_index(spark, path)
    manifest = json.loads(_read_text(spark, path, MANIFEST))
    return _vacuum_stores(
        spark, path,
        stores={"vectors": (path, _snapshot_files(manifest, "vectors"))},
        staging={
            "vectors": ("vectors", _snapshot_staging(manifest, "vectors")),
        },
        tombstones=manifest.get("tombstone_files", []),
        older_than_s=older_than_s,
    )


def compact_index_if(
    spark: SparkSession,
    path: str,
    gauges: dict[str, tuple],
    max_files_per_bucket: int,
    compact,
    fold=None,
    op: str = "compact-if",
) -> dict:
    """The shared auto-compaction trigger, two-tier: gauge every store
    root's fragmentation (:func:`store_fragmentation`) plus the
    staging tier's file count, then

    - when some BUCKET DIR holds more than ``max_files_per_bucket``
      files → run ``compact()`` (the full verb: staging fold + purge +
      >fpb sweep; cost proportional to the fragmented fraction);
    - else when only the STAGING tier exceeds the knob and a ``fold``
      callable is given → run ``fold()`` alone — the append-shaped
      staging fold, O(staged bytes), never O(index). This is what
      bounds the round-10 write-amplification debt: staged fan-in is
      folded at staging-mass cost, and the full rewrite happens only
      when bucket fan-in itself passes the knob (≈ every knob folds,
      so full-rewrite traffic is amortized knob× further).

    All under the index's writer lock, so the gauge, the decision, and
    the fold are atomic against a concurrent writer (the inner verbs'
    own locks are reentrant). Returns ``{"fragmentation": {store:
    gauge}, "max_files_per_bucket", "threshold", "compacted",
    "folded", "stats": <verb output when one ran>}``. Cost when below
    the threshold is the gauge alone — safe to call after every
    append (the CLI's ``--auto-compact`` and the streaming sinks do).

    ``gauges`` maps a display name to ``(kind, callable)`` where
    ``kind`` is ``"bucket"`` (per-cell fan-in → drives the full
    compact tier) or ``"staging"`` (staged-file count → drives the
    cheap fold tier; staged files are read by EVERY probe, so their
    count is per-bucket fan-in equivalent) and the callable takes the
    session and returns a gauge dict. Snapshot-commit indexes gauge
    the manifest's LIVE file lists (pure dict math — unreferenced
    garbage awaiting vacuum is read by nobody and must not trigger
    compaction)."""
    if max_files_per_bucket < 1:
        raise ValueError(
            f"max_files_per_bucket must be >= 1, got {max_files_per_bucket}"
        )
    with writer_lock(spark, path, op):
        frag = {name: fn(spark) for name, (_, fn) in gauges.items()}
        bucket_worst = max(
            (frag[name]["max_files_per_bucket"]
             for name, (kind, _) in gauges.items() if kind == "bucket"),
            default=0,
        )
        staged_worst = max(
            (frag[name]["max_files_per_bucket"]
             for name, (kind, _) in gauges.items() if kind == "staging"),
            default=0,
        )
        worst = max(bucket_worst, staged_worst)
        out = {
            "fragmentation": frag,
            "max_files_per_bucket": worst,
            "threshold": max_files_per_bucket,
            "compacted": False,
            "folded": False,
        }
        if bucket_worst > max_files_per_bucket or (
            staged_worst > max_files_per_bucket and fold is None
        ):
            out["stats"] = compact()
            out["compacted"] = True
        elif staged_worst > max_files_per_bucket:
            out["stats"] = fold()
            out["folded"] = True
        return out


@_locked("fold-staging")
def fold_staging_ivf_index(spark: SparkSession, path: str) -> dict:
    """Fold the staging tier into the cell partitions WITHOUT touching
    any existing store file — the cheap, high-frequency half of the
    maintenance policy (O(staged bytes); the full
    :func:`compact_ivf_index` stays the rare, expensive half). Staged
    rows become ≤ ``files_per_bucket`` ADDITIONAL files per touched
    cell; the fan-in that accumulates over many folds is what the full
    compaction's ``>fpb`` sweep (and :func:`compact_ivf_index_if`'s
    bucket gauge) eventually rewrites. No-op when nothing is staged.
    Crash-safe via the same journal (:func:`repair_ivf_index` runs
    first); the fold is snapshot-committed, so readers never see it
    mid-swap. Returns ``{"cells_folded", "rows_folded",
    "files_added"}``."""
    repair_ivf_index(spark, path)
    _, _, manifest = read_ivf_index(spark, path)
    staged_names = manifest["staging_files"]["vectors"]
    if not staged_names:
        return {"cells_folded": 0, "rows_folded": 0, "files_added": 0}
    staged = _read_staging_names(spark, path, "vectors", staged_names)
    out = _fold_staged_cells(
        spark, path, staged, manifest["id_col"],
        manifest["files_per_bucket"], slice_salt="ivf-slice",
        staged_files=[
            f"{path}/{STAGING_DIR}/vectors/{n}" for n in staged_names
        ],
        snapshot=True,
    )
    manifest["files"]["vectors"] = _merge_appended(
        manifest["files"]["vectors"], out.pop("new_files", {})
    )
    manifest["staging_files"]["vectors"] = []
    _write_text(
        spark, path, MANIFEST,
        json.dumps(manifest, indent=1, sort_keys=True),
    )
    _finish_swap(spark, path)
    return out


def compact_ivf_index_if(
    spark: SparkSession,
    path: str,
    max_files_per_bucket: int = 16,
    files_per_bucket: int | None = None,
) -> dict:
    """Two-tier maintenance knob (see :func:`compact_index_if`):
    bucket fan-in past the knob → full :func:`compact_ivf_index`;
    staged-file count past the knob alone →
    :func:`fold_staging_ivf_index` (O(staged), no store rewrite).
    Staged files count as per-bucket fan-in because every search reads
    all of staging."""
    def _live(s):
        m = json.loads(_read_text(s, path, MANIFEST))
        return live_fragmentation(m["files"]["vectors"])

    def _staged(s):
        m = json.loads(_read_text(s, path, MANIFEST))
        return _staging_gauge_live(m["staging_files"]["vectors"])

    return compact_index_if(
        spark, path,
        {
            "vectors": ("bucket", _live),
            "staging": ("staging", _staged),
        },
        max_files_per_bucket,
        lambda: compact_ivf_index(spark, path, files_per_bucket),
        fold=lambda: fold_staging_ivf_index(spark, path),
    )


def retrain_ivf_index(
    spark: SparkSession,
    path: str,
    dest: str,
    k: int | None = None,
    init: str = "parallel",
    seed: int = 42,
    max_iter: int = 10,
    sample_fraction: float | None = None,
    files_per_bucket: int | None = None,
) -> tuple[dict, dict]:
    """Re-fit centroids from the stored corpus and write a NEW index
    at ``dest`` — the blue/green answer to :func:`ivf_index_health`'s
    drift gauge. Never in place (``dest == path`` raises): the rewrite
    reads the very files it would overwrite, and at 100 TB an in-place
    rebuild that crashes halfway destroys the serving index. The old
    index stays live until the caller flips the path.

    ``sample_fraction`` fits the k-means on a sample (the standard
    move at corpus scale — centroid quality needs a representative
    sample, not every row) while ALL rows are still assigned and
    written. Pending deletes on the source are EXCLUDED from both the
    fit and the rewrite (a retrain is a physical purge for free); the
    source keeps its tombstones until its own compaction. Returns
    ``(new_manifest, kmeans_info)``."""
    from sparvi_core_spark.operators.similarity import kmeans_fit

    if path.rstrip("/") == dest.rstrip("/"):
        raise ValueError(
            "retrain_ivf_index is blue/green by contract: dest must "
            "differ from the source index path"
        )
    data, _, manifest = read_ivf_index(spark, path)
    id_col, vec_col = manifest["id_col"], manifest["vec_col"]
    _tomb = _read_tombstones(
        spark, path, id_col, names=manifest["tombstone_files"]
    )
    if _tomb is not None:
        data = data.join(F.broadcast(_tomb), id_col, "left_anti")
    vecs = data.drop("bucket")
    fit_on = (
        vecs.sample(fraction=sample_fraction, seed=seed)
        if sample_fraction is not None
        else vecs
    )
    cents, info = kmeans_fit(
        fit_on,
        k=manifest["k"] if k is None else k,
        id_col=id_col,
        vec_col=vec_col,
        init=init,
        seed=seed,
        max_iter=max_iter,
    )
    new_manifest = write_ivf_index(
        vecs,
        cents,
        dest,
        id_col=id_col,
        vec_col=vec_col,
        files_per_bucket=(
            manifest["files_per_bucket"]
            if files_per_bucket is None
            else files_per_bucket
        ),
    )
    return new_manifest, info


def ivf_index_health(spark: SparkSession, path: str) -> DataFrame:
    """Per-cell report over the STORED index (one row per centroid:
    n, frac, mean/p95/max distance — `operators.ann_health.ivf_health`
    on the index's own files). The append-pipeline's "when do I
    rebuild" gauge: ``mean_distance`` creeping up across appends means
    centroid drift; ``frac`` spread means hot cells. Full-scan audit
    by design — run it at audit cadence, not per query."""
    from sparvi_core_spark.operators.ann_health import ivf_health

    data, cents, manifest = read_ivf_index(spark, path)
    return ivf_health(
        data.drop("bucket"),
        cents,
        id_col=manifest["id_col"],
        vec_col=manifest["vec_col"],
    )


def read_ivf_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, dict]:
    """Open an index: ``(data, centroids, manifest)``. ``data`` is the
    full partitioned corpus frame (bucket column included — filter it
    yourself or use :func:`search_ivf_index`, which prunes)."""
    from sparvi_core_spark.sources.writers import _hadoop_read_text

    manifest = json.loads(_hadoop_read_text(spark, path, MANIFEST))
    if manifest.get("format") == "sparvi-ivf-index/1":
        raise ValueError(
            f"{path}/{MANIFEST} predates snapshot commits "
            f"(sparvi-ivf-index/1) — rebuild it with write_ivf_index"
        )
    if manifest.get("format") != "sparvi-ivf-index/2":
        raise ValueError(
            f"{path}/{MANIFEST} is not a sparvi-ivf-index/2 manifest"
        )
    data = _snapshot_read(spark, path, _snapshot_files(manifest, "vectors"))
    if data is None:
        # empty snapshot (everything deleted): same failure surface a
        # listing read of an empty store had
        data = spark.read.parquet(path)
    staged = _read_staging_names(
        spark, path, "vectors", _snapshot_staging(manifest, "vectors")
    )
    if staged is not None:
        # lazy checkpoint, not a second parquet scan under the union:
        # Spark 4.1's dynamic partition pruning mis-plans a join on the
        # partition column over a union of two parquet scans ("IN
        # dynamicpruning#N has not finished"); a checkpointed staged
        # leg sidesteps it, and staging is O(pending micro-batches) by
        # contract so the materialization is small
        data = data.unionByName(staged.localCheckpoint(eager=False))
    cents = _centroids_frame(spark, path, manifest)
    return data, cents, manifest


def _centroids_frame(
    spark: SparkSession, path: str, manifest: dict
) -> DataFrame:
    """Resolved centroid-table scan, memoized per (session, snapshot).
    Centroids are immutable for a given snapshot — appends never move
    them (that would invalidate every prior assignment) and a rebuild
    or compaction commits a NEW snapshot with fresh part-file names —
    so keying the resolution on the vectors snapshot identity can
    never serve stale centroids. Metadata only: the frame is a lazy
    parquet scan."""
    memo = _session_memo(spark)
    key = (path, "__centroids__", _snapshot_identity(manifest, "vectors"))
    hit = memo.get(key)
    if hit is not None:
        return hit
    df = spark.read.parquet(f"{path}/{CENTROIDS_DIR}")
    _memo_put(memo, key, df)
    return df


def _centroid_rows(
    spark: SparkSession, path: str, manifest: dict, cents: DataFrame
) -> tuple:
    """Collected centroid rows + a local-relation frame over them,
    memoized per (session, snapshot) under the same immutability
    argument as :func:`_centroids_frame`. The table is the index's model
    parameters — k × dim doubles, bounded by the centroid contract —
    and collecting it once per snapshot removes one driver job from
    EVERY search call (the serving path's steady-state cost, guide §7
    driver-side work); building the frame once removes the per-call
    Python→JVM conversion of every row."""
    memo = _session_memo(spark)
    key = (path, "__centroid_rows__", _snapshot_identity(manifest, "vectors"))
    hit = memo.get(key)
    if hit is not None:
        return hit
    sel = cents.select("bucket", "centroid")
    rows = sel.collect()
    out = (rows, spark.createDataFrame(rows, schema=sel.schema))
    _memo_put(memo, key, out)
    return out


def search_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    engine: str = "expr",
) -> DataFrame:
    """Top-k cosine search against a stored index, reading ONLY the
    probed cells: queries are probed into their ``nprobe`` nearest
    centroids (broadcast — queries are the small side by contract),
    the distinct probed cell ids (≤ k, driver-bounded) become a
    partition-pruning ``bucket IN (...)`` on the index scan, and
    `cosine_topk_bucketed` finishes per cell. Same output contract as
    ``cosine_topk_ivf`` on the same (vectors, centroids, nprobe) —
    asserted in tests — but the non-probed cells never leave disk.
    Query frame must carry the manifest's ``id_col``/``vec_col``."""
    from sparvi_core_spark.operators.similarity import (
        LITERAL_CENTROID_MAX,
        cosine_topk_bucketed,
        ivf_assign_probes,
    )

    data, cents, manifest = read_ivf_index(spark, path)
    id_col, vec_col = manifest["id_col"], manifest["vec_col"]
    for c in (id_col, vec_col):
        if c not in queries.columns:
            raise ValueError(
                f"queries is missing the index's {c!r} column "
                f"(manifest: id_col={id_col!r}, vec_col={vec_col!r})"
            )
    # Driver-job floor (round 12): a search used to run THREE jobs
    # before the pruned scan — the auto-strategy centroid count, the
    # literal strategy's centroid collect, and the probe collect —
    # plus a per-call DataSource resolution of the centroid dir. The
    # centroid table is the index's immutable model parameters, so its
    # rows are collected once per (session, snapshot) into a LOCAL
    # relation (collect over LocalTableScan launches no job), and the
    # strategy is picked from the collected count —
    # leaving ONE driver job per search ahead of the main scan.
    cent_rows, cents_local = _centroid_rows(spark, path, manifest, cents)
    if nprobe > len(cent_rows):
        raise ValueError(
            f"nprobe={nprobe} exceeds the number of centroids "
            f"({len(cent_rows)})"
        )
    strategy = (
        "literal" if len(cent_rows) <= LITERAL_CENTROID_MAX else "join"
    )
    qp = ivf_assign_probes(
        queries, cents_local, nprobe=nprobe, id_col=id_col,
        vec_col=vec_col, strategy=strategy,
    ).select(F.col("id").alias(id_col), "bucket")
    # The probe assignment is needed twice (distinct cells for the scan
    # prune + the per-query join). Collect it ONCE — bounded by
    # n_queries × nprobe rows, and queries are the small side by
    # contract — and rebuild the join side locally. (An earlier .cache()
    # here leaked: the returned frame is lazy, so there is no safe point
    # inside this function to unpersist, and repeated searches in a
    # long-lived session accumulated cached partitions.)
    probe_rows = qp.collect()
    probed = sorted({r["bucket"] for r in probe_rows})
    qp_local = spark.createDataFrame(probe_rows, schema=qp.schema)
    pruned = data.filter(F.col("bucket").isin(probed))
    # tombstoned ids (deleted, not yet purged by compaction) never
    # surface as neighbors
    tomb = _read_tombstones(
        spark, path, id_col, names=manifest["tombstone_files"]
    )
    if tomb is not None:
        pruned = pruned.join(F.broadcast(tomb), id_col, "left_anti")
    q = queries.select(id_col, vec_col).join(qp_local, id_col)
    return cosine_topk_bucketed(
        pruned,
        q,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        bucket_col="bucket",
        engine=engine,
    )
