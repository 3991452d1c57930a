"""One memo for the whole package, stored on the object it describes.

`memo(owner, key, build)` keeps `build()`'s result in a dict attribute of
`owner`, so the value lives exactly as long as the owner does. Metadata
about an immutable lazy plan (distinct levels, row counts) hangs off the
DataFrame; session state (scan handles, index tables, Column trees, the
shipped package zip) hangs off the SparkContext. A stopped session or a
new py4j gateway means a new SparkContext object with an empty memo, so
no key scheme or eviction code is needed.
"""

from __future__ import annotations

import threading

_ATTR = "_s2_memo"
_LOCK = threading.Lock()


def _store(owner) -> dict | None:
    try:
        return vars(owner).setdefault(_ATTR, {})
    except TypeError:  # no __dict__ (None, slotted objects): don't memoize
        return None


def memo(owner, key, build):
    """Return the value stored on `owner` under `key`, building it once.

    A stored None counts as a hit. The lock guards only the lookup and
    the insert, never `build()`: concurrent first callers of one key may
    each build, and all of them get the one value stored first.
    """
    with _LOCK:
        store = _store(owner)
        if store is not None and key in store:
            return store[key]
    value = build()
    if store is None:
        return value
    with _LOCK:
        return store.setdefault(key, value)


def forget(owner, key) -> None:
    """Drop `owner`'s entry for `key`, if any (the next memo call rebuilds)."""
    with _LOCK:
        store = _store(owner)
        if store is not None:
            store.pop(key, None)
