"""The one store for everything the engine keeps between calls.

Five kinds of value outlive the call that made them: a table's
inferred schema (`tables.load`), a value derived from a corpus
(`tables.derived`), a cached relation (`scratch.cache_slot`), a
scratch directory (`scratch.run_scratch`) and a registry query's
analyzed plan (`plans.all_queries`). All of them live here, under one
rule:

A request names a key and the identity of the inputs its value is
made for. If the key holds a value made for that identity, that value
comes back. Otherwise, or when the identity is None (nothing to key
on), the store releases what the key held, then makes, holds and
returns a new value.

So storage is bounded by the number of keys, not of calls, and nothing
made from superseded inputs is served. Each kind says how its held
value is released: a directory is removed, a relation unpersisted, and
a superseded table schema refreshes Spark's cached data over that path.

A maker may find that its value depends on more than the identity it
was asked for: a plan whose build ran a Spark job or made a request
with no identity (a cache slot, a per-call directory). It returns the
value wrapped in `Unheld`: the value goes to this caller only and the
key is left empty, so the next request makes again. `unkeyed()` counts
the requests whose value is held for no identity, so a maker can tell
whether anything it called made one.

A held plan is not handed out itself, only a new DataFrame over it:
a second collect() of one DataFrame reuses the first one's shuffle
output (a01 ran 1 job instead of 4), which would make the plan a
result cache. Each call gets its own QueryExecution and runs every job.

Locking is per key: unrelated keys are made at the same time (a maker
may itself request another key), while one key is never made twice.
"""

from __future__ import annotations

import threading
from collections.abc import Callable, Hashable
from typing import Any, NamedTuple

# key -> (identity, value)
_HELD: dict[Hashable, tuple[Any, Any]] = {}
_LOCKS: dict[Hashable, threading.Lock] = {}
_GUARD = threading.Lock()
# requests whose value is held for no identity
_UNKEYED = [0]


class Unheld(NamedTuple):
    """A made value that is not held: it depends on more than the
    request's identity."""

    value: Any


def unkeyed() -> int:
    """The requests whose value is held for no identity (it had none,
    or its maker returned `Unheld`), counted since the process
    started."""
    return _UNKEYED[0]


def _count_unkeyed() -> None:
    with _GUARD:
        _UNKEYED[0] += 1


def request(
    key: Hashable,
    ident: Any,
    make: Callable[[], Any],
    release: Callable[[Any], None] = lambda held: None,
) -> Any:
    """The value `key` holds if it was made for `ident`; otherwise
    `release` the held value, then hold and return `make()` (an
    `Unheld` one is returned and not held)."""
    with _GUARD:
        lock = _LOCKS.setdefault(key, threading.Lock())
    with lock:
        hit = _HELD.get(key)
        if hit is not None:
            if ident is not None and hit[0] == ident:
                return hit[1]
            del _HELD[key]
            release(hit[1])
        if ident is None:
            _count_unkeyed()
        value = make()
        if isinstance(value, Unheld):
            _count_unkeyed()
            return value.value
        _HELD[key] = (ident, value)
        return value
