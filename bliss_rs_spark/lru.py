"""One bounded, thread-safe LRU map for the driver-side memos.

A warm serving process runs queries from several threads (and the engine
itself runs driver work from a thread pool, sources/index_store.py:
_run_parallel), so every read-touch-evict sequence holds one lock: an
unlocked ``OrderedDict`` LRU lets one thread's ``popitem`` evict the key
another thread is between its membership test and its ``move_to_end``,
which raises ``KeyError``.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Callable, Hashable, Iterable


class LRU:
    """``capacity``-bounded least-recently-used map.  ``None`` is a value
    (negative entries: a key the loader could not resolve is cached as
    None so it never re-queries)."""

    def __init__(self, capacity: int):
        self.capacity = int(capacity)
        self._d: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def __len__(self) -> int:
        with self._lock:
            return len(self._d)

    def values(self) -> list:
        with self._lock:
            return list(self._d.values())

    def get_or_load(
        self, keys: Iterable[Hashable], load: Callable[[list], dict]
    ) -> dict:
        """-> {key: value} for every key in ``keys``.  Keys not cached are
        passed once, as a list, to ``load`` (outside the lock: it may run a
        Spark job), which returns {key: value}; keys it leaves out are
        cached as None.  Every returned key becomes most-recently-used."""
        out = {}
        missing = []
        with self._lock:
            for k in dict.fromkeys(keys):
                if k in self._d:
                    self._d.move_to_end(k)
                    out[k] = self._d[k]
                else:
                    missing.append(k)
        if not missing:
            return out
        loaded = load(missing)
        with self._lock:
            for k in missing:
                out[k] = self._d[k] = loaded.get(k)
                self._d.move_to_end(k)
            while len(self._d) > self.capacity:
                self._d.popitem(last=False)
        return out
