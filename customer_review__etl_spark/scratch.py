"""The one owner of per-query state: cached relations, scratch
directories and the landings built from a corpus.

Plans return LAZY DataFrames, so whatever a plan reads must outlive
the call that built it: a cached relation, or files it wrote and reads
back (the IO roundtrips, the streaming sinks, the shared dedup
landings). Deleting them before returning would force a driver-side
``collect()``. Instead every such thing is held in one registry, one
dict under one lock, under a key, with one release rule: the next
request for a key releases what the key held before. Storage is
bounded by the number of keys, not the number of calls, and a still-
held DataFrame from an earlier call is the only thing that can see a
release (a cached one recomputes; one over released files fails).

Keys:
- ``cache_slot(key, df)``: the caller's slot name.
- ``run_scratch(prefix)`` from plan code: the call-site prefix, so a
  query's next call removes its previous directory.
- ``run_scratch(prefix)`` while ``tables.derived`` builds a value:
  derived's own ``(sf_dir, kind)`` with the prefix. Such a directory
  lives as long as the derived value, and goes when that identity is
  superseded (a table under ``sf_dir`` was rewritten) and the value is
  built again. A landing for another ``sf_dir`` has another key and
  never goes.

``materialized_df`` is the landing helper built on both: a parquet
copy of a shared intermediate, built once per corpus identity.

All directories live in ONE run directory per process under
``<repo>/.tmp``. The first request sweeps the run directories of
processes that are dead, which is crash safety only: a live process
releases its own. Run dirs embed their owner PID
(``run_<pid>_<hex>``); the sweep skips any dir whose owner process is
still alive, and also any dir modified within the last ``_GRACE_SEC``
seconds (unparseable names, PID reuse).

At cluster scale the base would be a job-scoped object-store prefix
(e.g. ``s3a://bucket/tmp/{app_id}/``); the ownership rule is the same.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import time
import uuid
from collections.abc import Callable, Hashable
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame

from .sources import tables

_BASE = Path(__file__).resolve().parents[1] / ".tmp"
_RUN = f"run_{os.getpid()}_{uuid.uuid4().hex[:12]}"
_GRACE_SEC = 6 * 3600  # never sweep dirs idle less than this
_swept = False

# key -> the cached DataFrame or the directory path the key holds.
# Plans are built from several threads: an unguarded pop/assign pair
# could leak a held value or release one another thread just took.
_HELD: dict[Hashable, Any] = {}
_LOCK = threading.Lock()


def _release(held: Any) -> None:
    if isinstance(held, str):
        shutil.rmtree(held, ignore_errors=True)
        return
    try:
        held.unpersist()
    except Exception:
        pass  # session already stopped — nothing to release


def _hold(key: Hashable, make: Callable[[], Any]) -> Any:
    """Release what `key` held, then hold and return `make()`."""
    with _LOCK:
        prev = _HELD.pop(key, None)
        if prev is not None:
            _release(prev)
        _HELD[key] = held = make()
        return held


def cache_slot(key: str, df: DataFrame) -> DataFrame:
    """`df.cache()`, held under `key`: the key's previous relation is
    unpersisted first. Without a slot a long-lived session keeps every
    cached relation, and Spark's CacheManager, which matches a scan by
    path, serves it after its table is rewritten in place. Builders
    that cache the same plan share a slot: the CacheManager keeps one
    entry per plan, so two slots over one plan would release each
    other's entry."""
    return _hold(key, df.cache)


def _owner_pid(name: str) -> int | None:
    """Parse the owner PID out of a ``run_<pid>_<hex>`` dir name."""
    parts = name.split("_")
    if len(parts) >= 3 and parts[0] == "run" and parts[1].isdigit():
        return int(parts[1])
    return None


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _sweepable(stale: Path, now: float) -> bool:
    """True only if the dir's owner is dead AND it is idle past grace."""
    try:
        if now - stale.stat().st_mtime < _GRACE_SEC:
            return False
    except OSError:
        return False
    pid = _owner_pid(stale.name)
    if pid is not None and _pid_alive(pid):
        return False
    return True


def run_scratch(prefix: str) -> str:
    """A fresh scratch dir under this process's run directory, held
    under the call site's prefix (or, inside a `tables.derived` build,
    under that build's key): the dir the same key held before is
    removed, and this one stays until the key is requested again, so
    callers may hand back lazy DataFrames over files inside it."""
    global _swept
    root = _BASE / _RUN
    if not _swept:
        _swept = True
        if _BASE.exists():
            now = time.time()
            for stale in _BASE.iterdir():
                if stale.name != _RUN and _sweepable(stale, now):
                    shutil.rmtree(stale, ignore_errors=True)
    root.mkdir(parents=True, exist_ok=True)
    return _hold(
        (tables.building(), prefix),
        lambda: tempfile.mkdtemp(prefix=prefix, dir=root),
    )


def materialized_df(spark, sf_dir, kind, builder, cols):
    """Return `builder(spark, sf_dir).select(*cols)` backed by a
    parquet landing, built once per kind and identity of the tables
    under sf_dir (tables.derived): rewriting a table lands again, and
    the superseded landing's directory goes.

    The explicit-schema read keeps the result well-defined even when
    the result set is empty (zero part files).

    Thread-safe with one lock PER KIND (not a global lock): callers
    build warm kinds concurrently (Spark schedules jobs from many
    threads), and d02's builder itself calls shingles_m — per-key
    locking lets the d02 thread block on exactly the shingles landing
    while unrelated kinds keep building, with no duplicated work."""

    def land():
        out = run_scratch(f"edges_{kind}_")
        df = builder(spark, sf_dir).select(*cols)
        df.write.mode("overwrite").parquet(out)
        return out, df.schema

    path, schema = tables.derived(sf_dir, ("landing", kind), land)
    return spark.read.schema(schema).parquet(path)
