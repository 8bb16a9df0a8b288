"""Iceberg-LAYOUT table writer (SURVEY.md §1.3).

The north rule targets "Iceberg tables of image + caption pairs". No
``iceberg-spark-runtime`` jar exists in this offline sandbox [SURVEY §0], so
this module writes the same physical shape — partitioned parquet data files
plus a ``metadata/`` directory with snapshot manifests (schema, partition
spec, per-file row and byte counts) — and exposes read/write behind ONE
seam. On a real cluster, replace these functions with
``df.writeTo("catalog.db.tbl")`` / ``spark.table(...)``; nothing else in the
engine touches table layout.

Retention (Iceberg semantics, VERDICT r1 missing #3): every commit writes
its data files into an immutable per-snapshot directory and an overwrite
only REDIRECTS the current snapshot — prior snapshots' files stay on disk
and time travel to them reads exactly their committed file set, until
``expire_snapshots`` garbage-collects manifests and any data file no
retained snapshot references.

Layout:
    <root>/data/snap-<N>/[<part_col>=<v>/]part-*.parquet
    <root>/metadata/v<N>.metadata.json     (table metadata + snapshot log)
    <root>/metadata/snap-<N>.manifest.json (data files + stats)
    <root>/metadata/version-hint.text
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _current_version(root: str) -> int:
    hint = os.path.join(root, "metadata", "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as f:
            return int(f.read().strip())
    return 0


def write_table(df: DataFrame, root: str, partition_by: str | None = None,
                mode: str = "overwrite",
                cluster_by: str | None = None,
                properties: dict | None = None) -> dict:
    """Write data + commit a new snapshot manifest. Returns the manifest.

    Data files land in ``data/snap-<version>/`` (immutable once committed).
    ``mode='append'``: the new snapshot names the parent's files plus the
    newly written ones. ``mode='overwrite'``: the new snapshot names only
    the new files — the parent's files remain on disk and readable through
    their own snapshots until :func:`expire_snapshots`.

    ``cluster_by``: range-repartition + sort the data by this column before
    writing (Iceberg's sort-order / Z-order role for a single key — a
    space-filling cell id IS the interleaved-bit key, so sorting by it
    clusters spatially). Each file then covers a tight value range, which
    parquet's own row-group statistics record for a filtered scan to skip.
    ``properties`` are stored inside the manifest, atomic with the commit."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be 'overwrite' or 'append', not {mode!r}")
    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    # Never reuse a version that already has a committed manifest — a crash
    # between the manifest write and the version-hint update would otherwise
    # make the next commit collide with committed data.
    version = max([_current_version(root)] + _retained_versions(root)) + 1
    snap_dir = os.path.join(root, "data", f"snap-{version}")
    tmp_dir = os.path.join(root, "data", f".snap-{version}.inprogress")
    # An orphaned dir with no manifest is debris from a crash mid-write;
    # clear it so the commit can retry instead of wedging on mode('error').
    for stale in (tmp_dir, snap_dir):
        if os.path.isdir(stale):
            shutil.rmtree(stale)
    if cluster_by:
        df = df.repartitionByRange(cluster_by).sortWithinPartitions(cluster_by)
    w = df.write.mode("error")           # snapshot dirs are write-once
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(tmp_dir)
    os.rename(tmp_dir, snap_dir)         # atomic publish of the data dir

    import pyarrow.parquet as pq
    files = [{"path": os.path.relpath(p, root),
              "rows": pq.read_metadata(p).num_rows,
              "bytes": os.path.getsize(p)}
             for p in sorted(glob.glob(os.path.join(snap_dir, "**",
                                                    "*.parquet"),
                                       recursive=True))]
    if mode == "append" and version > 1:
        # Iceberg semantics: a snapshot names the table's FULL file set, so
        # an append snapshot = parent's files + the files this commit added.
        # The parent is the newest RETAINED MANIFEST, not the version hint:
        # after a crash between manifest write and hint update the hint is
        # one behind, and resolving the parent through it would silently
        # drop the committed-but-unhinted snapshot's rows from every
        # subsequent append.
        parent = max((v for v in _retained_versions(root) if v < version),
                     default=0)
        if parent:
            files = _data_files(table_stats(root, parent)) + files
    snapshot = {"snapshot_id": version, "ts_ms": int(time.time() * 1000),
                "operation": mode, "files": files,
                "total_rows": sum(f["rows"] for f in files)}
    if properties:
        # commit-level properties (e.g. the streaming micro-batch id) live
        # INSIDE the manifest so they are atomic with the snapshot itself
        snapshot["properties"] = dict(properties)
    # the metadata (the schema readers apply to this commit's files) goes
    # first: the manifest commits the snapshot, so every committed snapshot
    # has its metadata, and a crash before the manifest leaves a version
    # the next commit reuses
    retained = _retained_versions(root) + [version]
    metadata = {
        "format-version": 2, "table-root": root,
        "schema": json.loads(df.schema.json()),
        "partition-spec": [partition_by] if partition_by else [],
        "current-snapshot-id": version,
        "snapshots": [f"snap-{v}.manifest.json" for v in sorted(retained)],
    }
    with open(os.path.join(meta_dir, f"v{version}.metadata.json"), "w") as f:
        json.dump(metadata, f, indent=1)
    with open(os.path.join(meta_dir, f"snap-{version}.manifest.json"),
              "w") as f:
        json.dump(snapshot, f, indent=1)
    tmp = os.path.join(meta_dir, ".version-hint.tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(meta_dir, "version-hint.text"))
    return snapshot


def _retained_versions(root: str) -> list[int]:
    """Snapshot ids whose manifest still exists (not yet expired)."""
    return sorted(
        int(os.path.basename(p)[len("snap-"):-len(".manifest.json")])
        for p in glob.glob(os.path.join(root, "metadata",
                                        "snap-*.manifest.json")))


def _data_files(snap: dict) -> list:
    """The snapshot's data-file entries. Tables written by earlier versions
    of this module could carry merge-on-read equality deletes
    (``delete_files``); reading or appending past them without applying
    them would bring deleted rows back, so such a snapshot is refused."""
    if snap.get("delete_files"):
        raise ValueError(
            f"snapshot {snap['snapshot_id']} carries merge-on-read delete "
            "files, which this table layer no longer applies; rewrite the "
            "table from a snapshot without them")
    return snap["files"]


def read_table(spark: SparkSession, root: str,
               snapshot_id: int | None = None) -> DataFrame:
    """Read a snapshot — the manifest's exact file list, not a directory
    listing, so readers see a consistent committed file set (stray or
    in-flight files are invisible) and ``snapshot_id`` gives time travel
    to any retained version. A snapshot with no data files (an empty
    partitioned write) reads as an empty frame of its recorded schema."""
    snap = table_stats(root, snapshot_id)
    files = _data_files(snap)
    if not files:
        return spark.createDataFrame([], _schema(root, snap["snapshot_id"]))
    return _read_file_list(spark, root, [f["path"] for f in files],
                           snap["snapshot_id"])


def _schema(root: str, version: int) -> StructType:
    """The schema commit ``version`` recorded in its metadata."""
    with open(os.path.join(root, "metadata",
                           f"v{version}.metadata.json")) as f:
        return StructType.fromJson(json.load(f)["schema"])


def _read_file_list(spark: SparkSession, root: str, rel_paths: list[str],
                    version: int) -> DataFrame:
    """Scan an explicit manifest file list of snapshot ``version``. A
    snapshot may span several per-commit ``data/snap-N`` directories
    (appends); partition discovery needs one basePath per such directory,
    so the scan is a union of one read per referenced commit dir — bounded
    by the snapshot count, and Catalyst plans it as plain parallel scans
    (legacy pre-snapshot-dir layout keeps basePath at data/). Each dir
    reads with the schema its commit recorded, so a partition column keeps
    its written type instead of one inferred from the directory names
    ('007' stays a string, a bigint stays a bigint)."""
    by_dir: dict[str, list[str]] = {}
    for rel in rel_paths:
        parts = rel.split("/")                # data/snap-N/.../file.parquet
        key = ("/".join(parts[:2])
               if len(parts) > 1 and parts[1].startswith("snap-")
               else parts[0])
        by_dir.setdefault(key, []).append(os.path.join(root, rel))
    # data/snap-N holds commit N's files; a legacy data/ dir reads with the
    # snapshot's own schema
    reads = [spark.read.schema(_schema(
                 root, int(d[len("data/snap-"):]) if "/" in d else version))
             .option("basePath", os.path.join(root, d))
             .parquet(*sorted(paths))
             for d, paths in sorted(by_dir.items())]
    # allowMissingColumns: snapshots written before a column was added
    # surface NULLs for it (Iceberg schema-evolution read semantics)
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                  reads)


def table_stats(root: str, snapshot_id: int | None = None) -> dict:
    """The manifest of ``snapshot_id`` (default: the current snapshot)."""
    version = _current_version(root) if snapshot_id is None else snapshot_id
    path = os.path.join(root, "metadata", f"snap-{version}.manifest.json")
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"snapshot {version} is expired or was never committed "
            f"({path})")
    with open(path) as f:
        return json.load(f)


def expire_snapshots(root: str, keep_last: int = 1) -> dict:
    """Drop all but the newest ``keep_last`` snapshots (the current one is
    always retained) and delete every data file that no retained snapshot
    references — Iceberg's ``expireSnapshots`` maintenance action. Returns
    {"expired": [...ids], "deleted_files": n}."""
    retained_all = _retained_versions(root)
    current = _current_version(root)
    keep = set(sorted(retained_all)[-max(keep_last, 1):]) | {current}
    expired = [v for v in retained_all if v not in keep]
    if not expired:
        return {"expired": [], "deleted_files": 0}

    def _all_files(v: int) -> list:
        # manifests of earlier versions may name delete files: collect
        # those too
        s = table_stats(root, v)
        return s["files"] + (s.get("delete_files") or [])

    live = {f["path"] for v in keep for f in _all_files(v)}
    deleted = 0
    for v in expired:
        for f in _all_files(v):
            p = os.path.join(root, f["path"])
            if f["path"] not in live and os.path.exists(p):
                os.remove(p)
                deleted += 1
        os.remove(os.path.join(root, "metadata",
                               f"snap-{v}.manifest.json"))
        # drop the commit dir if nothing live remains inside it
        snap_dir = os.path.join(root, "data", f"snap-{v}")
        if os.path.isdir(snap_dir) and not glob.glob(
                os.path.join(snap_dir, "**", "*.parquet"), recursive=True):
            shutil.rmtree(snap_dir, ignore_errors=True)
    return {"expired": expired, "deleted_files": deleted}


def committed_stream_batches(root: str) -> set:
    """Micro-batch ids already committed into this table (scanned from the
    retained snapshot manifests' commit properties). Used by the streaming
    sink's exactly-once check: because the batch id is stored inside the
    manifest, a crash anywhere around the commit leaves the id visible iff
    the snapshot itself is visible — there is no window where data is
    committed but its batch id is not."""
    out = set()
    for v in _retained_versions(root):
        p = os.path.join(root, "metadata", f"snap-{v}.manifest.json")
        try:
            with open(p) as f:
                props = json.load(f).get("properties") or {}
        except (OSError, json.JSONDecodeError):
            continue
        if "stream_batch_id" in props:
            out.add(props["stream_batch_id"])
    return out


def append_stream_batch(batch_df: DataFrame, root: str, batch_id: int,
                        partition_by: str | None = None) -> dict | None:
    """Idempotent micro-batch append: commit ``batch_df`` as an append
    snapshot tagged with ``batch_id``, or do NOTHING if a retained snapshot
    already carries that id (checkpoint rewind / foreachBatch retry).
    Returns the manifest, or None when skipped/empty."""
    if batch_df.isEmpty():
        return None
    if batch_id in committed_stream_batches(root):
        return None
    return write_table(batch_df, root, mode="append",
                       partition_by=partition_by,
                       properties={"stream_batch_id": batch_id})
