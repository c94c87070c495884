"""App-scoped LRU memo for UNRESOLVED column-expression trees.

Building a deep Column tree costs one py4j round-trip per operator
node (~0.3-0.4 ms each on this driver); a sun-times tree is ~0.37 s
of pure driver latency, a neighbour-window dict ~0.24 s, a clear-sky
tree ~0.15 s — and the met query family rebuilds them per query (and
the fused humidity path twice per query). The trees themselves are
immutable and CONTEXT-FREE whenever every input is referenced by
name (an unresolved ``F.col("lon")`` resolves against whatever frame
the expression is later attached to), so rebuilding one per query
buys nothing. This memo returns the same tree for the same
(application, name-key) — the guide's "driver should do almost no
work" rule (§5) applied to plan construction.

Only memoize trees whose inputs are all literals or column NAMES:
a caller-supplied Column object may wrap arbitrary context (a
resolved attribute from a specific plan, a non-deterministic
expression), so those calls must keep building fresh. Keying on the
active application's id means a JVM gateway restart in-process
invalidates the cached py4j-backed trees instead of replaying stale
ones; the cache is LRU-bounded.
"""

from __future__ import annotations

from typing import Callable


def memo_part(v):
    """Stable key component for a literal or a column NAME; ``None``
    (not memoizable) for anything else — e.g. a Column object, whose
    tree may carry plan-specific context."""
    if isinstance(v, bool):
        return ("lit", v)
    if isinstance(v, (int, float)):
        return ("lit", float(v))
    if isinstance(v, str):
        return ("col", v)
    return None


def _own(v):
    """The caller's own view of a cached value: a dict of trees is
    copied so a caller's ``pop``/assignment cannot strip entries from
    every later hit; Column trees are immutable and shared as is."""
    return dict(v) if isinstance(v, dict) else v


class PlanMemo:
    """LRU memo of built expression trees, scoped to the active Spark
    application (see module docstring)."""

    def __init__(self, cap: int = 256):
        self._cap = cap
        self._d: dict = {}

    def get(self, key_parts: tuple, build: Callable):
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        app_id = (
            active.sparkContext.applicationId if active is not None else None
        )
        key = (app_id, *key_parts)
        got = self._d.get(key)
        if got is not None:
            # move-to-end on hit so eviction is actually LRU (not
            # FIFO): a hot geometry inserted first must survive
            del self._d[key]
            self._d[key] = got
            return _own(got)
        out = build()
        if len(self._d) >= self._cap:
            self._d.pop(next(iter(self._d)))
        self._d[key] = out
        return _own(out)

    def clear(self):
        self._d.clear()

    def __len__(self) -> int:
        return len(self._d)
