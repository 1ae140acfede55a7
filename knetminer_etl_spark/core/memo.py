"""Bounded LRU mapping for the two session-lifetime caches.

Two caches outlive a single call, both keyed per Spark application:
table handles for static datasets (runtime/catalog) and small
deterministic trained models (runtime/modelcache). Neither holds a
plan-choice input: operators measure what their plan choices need
(counts, clone statistics, split counts, size estimates) on every call,
so a file rewritten in place can never leave a stale verdict behind.

An evicted entry is re-resolved or retrained on the next use —
latency, never different output — so unbounded growth is the only
hazard: a long-lived session driving many distinct inputs would
accumulate entries forever (VERDICT r9 #5). Both caches are therefore
a :class:`BoundedMemo` — least-recently-USED eviction at a size bound
generous enough that batch jobs never evict.
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Any, Hashable


class BoundedMemo:
    """An LRU-bounded mapping with the small dict surface the memos use.

    Reads refresh recency; inserting past ``maxsize`` evicts the least
    recently used entry. Not thread-safe by design — all users are
    driver-side plan construction, which Spark serializes per action.
    """

    def __init__(self, maxsize: int = 1024) -> None:
        if maxsize < 1:
            raise ValueError(f"maxsize must be positive, got {maxsize}")
        self.maxsize = maxsize
        self._data: OrderedDict[Hashable, Any] = OrderedDict()

    def get(self, key: Hashable, default: Any = None) -> Any:
        if key in self._data:
            self._data.move_to_end(key)
            return self._data[key]
        return default

    def __contains__(self, key: Hashable) -> bool:
        return key in self._data

    def __getitem__(self, key: Hashable) -> Any:
        if key not in self._data:
            raise KeyError(key)
        self._data.move_to_end(key)
        return self._data[key]

    def __setitem__(self, key: Hashable, value: Any) -> None:
        if key in self._data:
            self._data.move_to_end(key)
        self._data[key] = value
        while len(self._data) > self.maxsize:
            self._data.popitem(last=False)

    def __len__(self) -> int:
        return len(self._data)

    def __delitem__(self, key: Hashable) -> None:
        del self._data[key]

    def __iter__(self):
        # snapshot: safe to delete entries while iterating
        return iter(list(self._data))

    def clear(self) -> None:
        self._data.clear()
