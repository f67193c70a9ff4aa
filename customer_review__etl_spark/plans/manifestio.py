"""io15's manifest/commit protocol — deliberately Spark-free.

The snapshot-table control plane (latest-version resolution, the
optimistic commit, the manifest read) is pure metadata: on a cluster it is
a conditional put against an object store, here plain filesystem calls.
Keeping it in a module with no pyspark import means writer processes
(and the multi-process race test) can exercise the REAL protocol
without dragging a Spark runtime into every participant. io15's
registry query commits and reads its snapshots through this module.
"""

from __future__ import annotations

import json
import os
import re
import uuid


class CommitConflict(Exception):
    """Another writer landed the version this commit targeted."""


def io15_latest_version(root: str) -> int:
    """Highest committed manifest version (0 if none)."""
    try:
        names = os.listdir(f"{root}/manifests")
    except FileNotFoundError:
        return 0
    vs = [int(m.group(1)) for n in names
          if (m := re.fullmatch(r"v(\d+)\.json", n))]
    return max(vs, default=0)


def io15_commit_snapshot(root: str, files: list[str],
                         expected_version: int) -> int:
    """Optimistic-concurrency commit: atomically create manifest
    v{expected_version + 1}; if ANOTHER writer already created it,
    raise CommitConflict so the caller re-reads the new latest, rebases
    its file set, and retries — the Delta/Iceberg commit protocol in
    miniature. On an object store the slot-claim is a conditional put
    (If-None-Match: *) — same protocol, different primitive. Data
    files are immutable and already landed, so a lost race costs one
    manifest retry, never a data rewrite.

    The claim is WRITE-TEMP-THEN-LINK, not O_CREAT|O_EXCL on the final
    path: the multi-process race test caught the dirty-read window of
    the naive form — O_EXCL makes the path visible BEFORE its bytes
    land, so a losing writer re-reading "latest" could parse a
    still-empty manifest. os.link() publishes the fully-written,
    fsynced temp file atomically (it fails with FileExistsError iff
    the slot is taken), so a manifest is either absent or complete —
    exactly the all-or-nothing visibility a conditional put gives."""
    v = expected_version + 1
    os.makedirs(f"{root}/manifests", exist_ok=True)
    path = f"{root}/manifests/v{v}.json"
    # uuid4 (not id(files)): id() values are reused after GC, so two
    # same-pid threads racing the same version could share a tmp path
    # and publish an interleaved manifest via os.link, breaking the
    # absent-or-complete invariant. uuid4 is collision-safe per writer.
    tmp = f"{root}/manifests/.tmp_v{v}_{os.getpid()}_{uuid.uuid4().hex}.json"
    with open(tmp, "w") as fh:
        json.dump({"version": v, "files": files}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise CommitConflict(
            f"version {v} was committed by another writer"
        ) from None
    finally:
        os.unlink(tmp)
    return v


def manifest_files(root: str, version: int) -> list[str]:
    """The file set named by manifest `version` (driver-side O(1))."""
    with open(f"{root}/manifests/v{version}.json") as fh:
        return json.load(fh)["files"]
