"""One bounded memo for the unresolved Column trees a commit builds.

PySpark wraps every Column function call in call-site capture, a few
Py4J round trips each (``F.col`` alone costs ~2 ms), so rebuilding a
commit's predicates, projections and aggregates from scratch costs more
driver time than its executors spend on a 5k-event batch. The trees are
unresolved expressions: they name columns, never bind to a plan, and
are immutable, so one tree serves every batch whose inputs have the
same shape.

The key always starts with the live ``SparkContext`` (a tree holds JVM
objects of the session that built it: a restarted JVM never gets a
stale one); callers add everything the tree depends on, such as the
table schema, the key and bucket layout, the update policy and the
source columns. Hit or miss, the result is the same tree a fresh build
would give, so sharing the memo across callers is invisible to them.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Any, Callable

MAX_ENTRIES = 64

_entries: OrderedDict = OrderedDict()
_lock = threading.Lock()


class ByIdentity:
    """Key part for an unhashable object (a ``Column`` overloads
    ``==``): equal only to a key holding the same object. The memo
    keeps the key, hence the object, alive, so its id is never reused
    while the entry exists."""

    __slots__ = ("obj",)

    def __init__(self, obj: Any):
        self.obj = obj

    def __hash__(self) -> int:
        return id(self.obj)

    def __eq__(self, other: object) -> bool:
        return isinstance(other, ByIdentity) and other.obj is self.obj


def memo_exprs(key: tuple, build: Callable[[], Any]) -> Any:
    """``build()``'s result, built once per ``(SparkContext, *key)``
    and kept for the ``MAX_ENTRIES`` most recently used keys. The
    result is shared: never mutate it (use tuples)."""
    from pyspark import SparkContext

    full = (SparkContext._active_spark_context, *key)
    with _lock:
        hit = _entries.get(full)
        if hit is not None:
            _entries.move_to_end(full)
            return hit
    value = build()
    with _lock:
        _entries[full] = value
        while len(_entries) > MAX_ENTRIES:
            _entries.popitem(last=False)
    return value
