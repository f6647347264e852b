"""Snapshot manifests + time-travel reads over a plain parquet layout —
the reproducibility primitive a 100 TB TRAINING-DATA pipeline needs (pin
the exact file set a run trained on; re-read it verbatim months later)
without adopting a table format. This is the manifest idea of
Iceberg/Delta reduced to its core: a snapshot is an immutable, numbered
list of (relative path, size); a time-travel read plans from the
MANIFEST, not from directory listing, so files appended after the
snapshot are invisible to it.

Lifecycle contract (documented, test-pinned):

- APPEND-ONLY operations (fleet ingest parts, ``mode("append")`` writes)
  compose with snapshots: old versions stay readable because their files
  are never touched.
- IN-PLACE operations (``delete_where``, compaction, vacuum of live
  data) REWRITE files and therefore invalidate older snapshots — read
  verification catches this (existence + size + mtime_ns per manifest
  entry; mtime closes the same-size-rewrite hole size alone misses) and
  refuses with a clear error instead of silently returning wrong rows.
  A format with tombstones keeps those reads alive; a manifest-less
  layout cannot, and saying so loudly is the correct behavior.
- RELOCATION: moving or copying a layout WITHOUT preserving mtimes
  (cp/rsync without -a, restore from a backup that stamps new times)
  also invalidates its snapshots — the mtime check cannot distinguish a
  byte-identical relocation from a same-size rewrite, and refusing is
  the safe side. Preserve mtimes when relocating, or re-snapshot after.

Scale posture: ``snapshot_create`` is a driver-side metadata walk (the
LIST an object store pays for any read planning) writing one small JSON
per version — no data is read or moved. ``read_snapshot`` hands Spark an
explicit file list (``basePath`` preserved so hive partition columns
still derive); scan behavior — pushdown, pruning, split planning — is
identical to a directory read of the same files. Reference parity: the
reference appends output parts per bag and never mutates them
(rosbag2parquet.cpp's per-bag parquet outputs), so its layouts are
exactly the append-only shape snapshots compose with.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rosbag2parquet_spark.sources.catalog import load_table

#: manifest directory at the layout root; underscore prefix keeps Spark,
#: DuckDB and our own walkers from reading it as data
SNAPSHOT_DIR = "_snapshots"


def _manifest_path(layout: str, version: int) -> str:
    return os.path.join(layout, SNAPSHOT_DIR, f"v{version}.json")


def snapshot_versions(layout: str) -> "list[int]":
    """Existing snapshot versions, ascending (empty if never snapshot)."""
    d = os.path.join(layout, SNAPSHOT_DIR)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _data_files(layout: str) -> "list[dict]":
    """The CURRENT visible data file set: every non-hidden file outside
    hidden or underscore directories (``_snapshots`` itself, Spark
    ``_temporary`` and the layout writers' ``_staging-*`` dirs, a swap's
    ``.old-*`` copy) and not itself underscore/hidden (``_SUCCESS``
    markers and ``.crc`` sidecars are metadata, not table content)."""
    files = []
    for root, dirs, fs in os.walk(layout):
        dirs[:] = sorted(
            d for d in dirs if not d.startswith(("_", "."))
        )
        for f in sorted(fs):
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(root, f)
            st = os.stat(p)
            files.append(
                {
                    "path": os.path.relpath(p, layout).replace(os.sep, "/"),
                    "size": st.st_size,
                    # size alone misses a same-length in-place rewrite (a
                    # delete_where swap can produce an equal-length file);
                    # any rewrite lands a NEW inode with a fresh mtime
                    "mtime_ns": st.st_mtime_ns,
                }
            )
    return files


def snapshot_create(layout: str) -> int:
    """Record the current file set as the next numbered snapshot and
    return its version. The manifest is written hidden-then-promoted
    (``os.replace``) so a crashed snapshot never leaves a half manifest a
    later read could trust."""
    ver = (snapshot_versions(layout) or [0])[-1] + 1
    manifest = {"version": ver, "files": _data_files(layout)}
    d = os.path.join(layout, SNAPSHOT_DIR)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".v{ver}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, _manifest_path(layout, ver))
    return ver


def read_snapshot(
    spark: SparkSession, layout: str, version: int, verify: bool = True
) -> DataFrame:
    """Time-travel read: the table exactly as of ``version``.

    With ``verify`` (default), every manifest entry is checked for
    existence and recorded size before planning — one driver-side stat
    per file, the same metadata a directory-listing read pays — so a
    layout mutated in place since the snapshot (delete/compact/vacuum)
    refuses loudly instead of returning silently wrong rows. An empty
    snapshot returns an empty, schema-less read error by the same rule
    Spark applies to an empty directory — snapshot v1 of a layout built
    before any write is a caller error, not a supported state."""
    mp = _manifest_path(layout, version)
    if not os.path.exists(mp):
        have = snapshot_versions(layout)
        raise ValueError(
            f"{layout}: no snapshot v{version} (have {have or 'none'})"
        )
    with open(mp) as f:
        manifest = json.load(f)
    paths = []
    stale = []
    for e in manifest["files"]:
        p = os.path.join(layout, e["path"])
        if verify:
            if not os.path.exists(p):
                stale.append(f"missing {e['path']}")
                continue
            st = os.stat(p)
            if st.st_size != e["size"]:
                stale.append(
                    f"rewritten {e['path']} ({e['size']} -> "
                    f"{st.st_size} bytes)"
                )
            elif (
                e.get("mtime_ns") is not None
                and st.st_mtime_ns != e["mtime_ns"]
            ):
                # equal size but touched since the manifest: catches the
                # same-size in-place rewrite that size-only verification
                # silently passes. Deliberately also fires on byte-identical
                # relocations (cp/rsync without -a, restore from backup) —
                # "touched" is the honest claim; a moved/copied layout
                # invalidates snapshots unless mtimes were preserved
                stale.append(f"touched {e['path']} (same size, new mtime)")
        paths.append(p)
    if stale:
        raise ValueError(
            f"{layout}: snapshot v{version} invalidated — "
            f"{'; '.join(stale[:5])}"
            + (f" (+{len(stale) - 5} more)" if len(stale) > 5 else "")
            + ". In-place ops (delete/compact) rewrite files and void "
            "older snapshots; moving/copying a layout without preserving "
            "mtimes (cp/rsync without -a) also invalidates them. "
            "Re-snapshot after mutating or relocating."
        )
    if not paths:
        raise ValueError(f"{layout}: snapshot v{version} records no files")
    return spark.read.option("basePath", layout).parquet(*paths)


# --------------------------------------------------------------- queries


def q_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel as a declared query: events land in two appends to one
    hive layout (event_id % 3 != 0, then the rest) with a snapshot after
    each; the v2 read must see everything, and the returned result is the
    AS-OF-v1 read — the oracle is the first batch's predicate, so the
    value match IS the proof that files appended after v1 are invisible
    to it. Partition columns re-derive through the explicit-file-list
    read (``basePath``); staleness refusal is pinned in
    tests/test_snapshot.py."""
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        "user_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
    )
    out = tempfile.mkdtemp(prefix="snapshot_read_")
    try:
        lay = os.path.join(out, "lay")
        ev.filter(F.col("event_id") % 3 != 0).write.partitionBy(
            "event_type"
        ).parquet(lay)
        v1 = snapshot_create(lay)
        ev.filter(F.col("event_id") % 3 == 0).write.mode(
            "append"
        ).partitionBy("event_type").parquet(lay)
        v2 = snapshot_create(lay)
        n_all = ev.count()
        n_v2 = read_snapshot(spark, lay, v2).count()
        if n_v2 != n_all:
            raise AssertionError(
                f"snapshot v{v2} must see the full table: {n_v2} != {n_all}"
            )
        back = (
            read_snapshot(spark, lay, v1)
            .select("event_id", "t_us", "user_id", "event_type", "value")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return back


ORACLE_SNAPSHOT_READ = """
SELECT event_id, epoch_us(ts) AS t_us, user_id, event_type,
       CAST(value AS DOUBLE) AS value
FROM events WHERE event_id % 3 <> 0
"""


QUERIES = {
    "snapshot-read": q_snapshot_read,
}

ORACLES = {
    "snapshot-read": ORACLE_SNAPSHOT_READ,
}
