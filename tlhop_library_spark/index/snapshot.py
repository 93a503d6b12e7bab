"""Index snapshot / restore — ES snapshot-restore parity (Lucene
commit-point copy) for the on-disk index layout.

A snapshot is a verified, checksummed copy of an index directory plus
a ``snapshot.json`` manifest (relative path → size + md5 per file).
Because the index layout is append-only and content-stable at file
granularity (cold segment groups never rewrite; appends add NEW delta
batch files; deletes add tombstone files — see index/append.py,
index/delete.py), repeated snapshots are INCREMENTAL for free: a file
whose (path, size, md5) already matches the previous snapshot is
skipped, so snapshotting a 100-TB index after a small append copies
only the delta batches — the same segment-reuse property ES snapshots
rely on. At real scale the byte copy would be a distributed
object-store transfer; the manifest/verify/skip logic here is
storage-agnostic.

Restore is refuse-by-default (never clobbers an existing index dir),
re-verifies every checksum during the copy, and the restored index is
rank-identical to the source by construction (tested).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from tlhop_library_spark.index.layout import STATS, is_index

SNAPSHOT_META = "snapshot.json"


def _walk_files(root: str) -> list[str]:
    """Relative paths of every regular file under root, sorted."""
    out = []
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out.append(os.path.relpath(p, root))
    return sorted(out)


def _md5(path: str, chunk: int = 1 << 20) -> str:
    h = hashlib.md5()
    with open(path, "rb") as f:
        while True:
            b = f.read(chunk)
            if not b:
                break
            h.update(b)
    return h.hexdigest()


def snapshot_index(
    index_dir: str, snap_dir: str, incremental: bool = True,
) -> dict:
    """Copy ``index_dir`` into ``snap_dir`` with a checksum manifest.

    ``incremental=True`` skips files whose (relative path, size, md5)
    already match the manifest of an existing snapshot at the same
    destination (the append-only layout makes this equivalent to ES's
    segment-reuse incremental snapshots). Files that vanished from the
    index since the last snapshot are removed from the snapshot (and
    its manifest) so a restore reproduces the CURRENT commit point.

    Returns a summary dict: n_files, bytes_copied, bytes_skipped."""
    if not is_index(index_dir):
        raise ValueError(f"{index_dir} is not an index (no {STATS})")
    # a snap_dir nested inside index_dir would make _walk_files pick
    # up the previous snapshot (manifest + copies) on the next run,
    # growing the snapshot recursively (round-3 ADVICE) — refuse
    abs_idx = os.path.abspath(index_dir)
    abs_snap = os.path.abspath(snap_dir)
    if (
        abs_snap == abs_idx
        or os.path.commonpath([abs_idx, abs_snap]) == abs_idx
    ):
        raise ValueError(
            f"snap_dir ({abs_snap}) must not be inside index_dir "
            f"({abs_idx}) — the snapshot would recursively include "
            "itself on the next incremental run"
        )
    prev: dict = {}
    if incremental and os.path.isfile(os.path.join(snap_dir, SNAPSHOT_META)):
        with open(os.path.join(snap_dir, SNAPSHOT_META)) as f:
            prev = json.load(f).get("files", {})
    os.makedirs(snap_dir, exist_ok=True)
    files: dict[str, dict] = {}
    copied = skipped = 0
    for rel in _walk_files(index_dir):
        src = os.path.join(index_dir, rel)
        dst = os.path.join(snap_dir, rel)
        size = os.path.getsize(src)
        digest = _md5(src)
        meta = {"size": size, "md5": digest}
        old = prev.get(rel)
        # skip only when the DESTINATION copy re-hashes to the source
        # md5 — a size-only check lets a same-size corrupted snapshot
        # file survive every incremental run while the refreshed
        # manifest asserts the source md5 (round-3 ADVICE); the extra
        # dst hash is the price of a trustworthy skip
        if (
            old == meta
            and os.path.isfile(dst)
            and os.path.getsize(dst) == size
            and _md5(dst) == digest
        ):
            skipped += size
        else:
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(src, dst)
            copied += size
        files[rel] = meta
    # drop snapshot files no longer in the index (rewritten manifests,
    # expunged tombstones) so restore == current commit point
    for rel in set(prev) - set(files):
        stale = os.path.join(snap_dir, rel)
        if os.path.isfile(stale):
            os.remove(stale)
    summary = {
        "created": time.time(),
        "source": os.path.abspath(index_dir),
        "files": files,
        "n_files": len(files),
        "bytes_copied": copied,
        "bytes_skipped": skipped,
    }
    with open(os.path.join(snap_dir, SNAPSHOT_META), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    return {
        "n_files": len(files),
        "bytes_copied": copied,
        "bytes_skipped": skipped,
    }


def verify_snapshot(snap_dir: str) -> dict:
    """Re-checksum every file against the snapshot manifest. Returns
    {ok: bool, bad: [relpath…], missing: [relpath…]}."""
    with open(os.path.join(snap_dir, SNAPSHOT_META)) as f:
        manifest = json.load(f)
    bad, missing = [], []
    for rel, meta in sorted(manifest["files"].items()):
        p = os.path.join(snap_dir, rel)
        if not os.path.isfile(p):
            missing.append(rel)
        elif os.path.getsize(p) != meta["size"] or _md5(p) != meta["md5"]:
            bad.append(rel)
    return {"ok": not bad and not missing, "bad": bad,
            "missing": missing}


def restore_index(
    snap_dir: str, dest_dir: str, overwrite: bool = False,
) -> dict:
    """Materialize an index directory from a snapshot, verifying every
    checksum during the copy (a corrupted snapshot fails loudly BEFORE
    a reader can serve wrong postings). Refuses an existing non-empty
    ``dest_dir`` unless ``overwrite=True``."""
    with open(os.path.join(snap_dir, SNAPSHOT_META)) as f:
        manifest = json.load(f)
    if os.path.isdir(dest_dir) and os.listdir(dest_dir):
        if not overwrite:
            raise FileExistsError(
                f"{dest_dir} exists and is non-empty; pass "
                "overwrite=True to replace it"
            )
        shutil.rmtree(dest_dir)
    n = 0
    for rel, meta in sorted(manifest["files"].items()):
        src = os.path.join(snap_dir, rel)
        if not os.path.isfile(src):
            raise IOError(f"snapshot is missing {rel}")
        if os.path.getsize(src) != meta["size"] or _md5(src) != meta["md5"]:
            raise IOError(
                f"snapshot checksum mismatch on {rel} — refusing to "
                "restore a corrupted snapshot"
            )
        dst = os.path.join(dest_dir, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(src, dst)
        n += 1
    return {"n_files": n, "dest": os.path.abspath(dest_dir)}
