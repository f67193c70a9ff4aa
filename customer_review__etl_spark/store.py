"""The one store for everything the engine keeps between calls.

Four kinds of value outlive the call that made them: a table's
inferred schema (`tables.load`), a value derived from a corpus
(`tables.derived`), a cached relation (`scratch.cache_slot`) and a
scratch directory (`scratch.run_scratch`). All of them live here,
under one rule:

A request names a key and the identity of the inputs its value is
made for. If the key holds a value made for that identity, that value
comes back. Otherwise, or when the identity is None (nothing to key
on), the store releases what the key held, then makes, holds and
returns a new value.

So storage is bounded by the number of keys, not of calls, and nothing
made from superseded inputs is served. Each kind says how its held
value is released: a directory is removed, a relation unpersisted, and
a superseded table schema refreshes Spark's cached data over that path.

Locking is per key: unrelated keys are made at the same time (a maker
may itself request another key), while one key is never made twice.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Hashable
from typing import Any

# key -> (identity, value)
_HELD: dict[Hashable, tuple[Any, Any]] = {}
_LOCKS: dict[Hashable, threading.Lock] = {}
_GUARD = threading.Lock()


def request(
    key: Hashable,
    ident: Any,
    make: Callable[[], Any],
    release: Callable[[Any], None] = lambda held: None,
) -> Any:
    """The value `key` holds if it was made for `ident`; otherwise
    `release` the held value, then hold and return `make()`."""
    with _GUARD:
        lock = _LOCKS.setdefault(key, threading.Lock())
    with lock:
        hit = _HELD.get(key)
        if hit is not None:
            if ident is not None and hit[0] == ident:
                return hit[1]
            del _HELD[key]
            release(hit[1])
        value = make()
        _HELD[key] = (ident, value)
        return value
