"""Counter-based uniforms: every random draw is a pure function of its key.

A draw is hex digits ``d .. d+14`` of ``md5(key)`` read as an integer
and divided by 16^15, a uniform in [0, 1) with 60 bits. ``key`` joins
the draw's counters (station keys, seed, a time counter, ...) by
U+001F. This is the idea of Salmon et al., "Parallel random numbers: as
easy as 1, 2, 3" (SC 2011): no generator state, so partitioning, task
retries and cluster size cannot change a draw, and other engines
rebuild it from the same key string:

- DuckDB: ``('0x' || substr(md5(key), d, 15))::BIGINT / 16^15``;
- Python: ``int(hashlib.md5(key.encode()).hexdigest()[d - 1:d + 14], 16) / 16**15``.

The builders return SQL text, so a draw fits inside a
higher-order-function lambda as well as in ``F.expr``.
"""

from __future__ import annotations

#: 16^15 = 2^60, exact in a double
SPACE = float(16**15)


def counter_key(*parts) -> str:
    """SQL text of the key string: ``parts`` (SQL expressions or integer
    literals) cast to string and joined by U+001F. Integer counters keep
    it the same in every engine; formatted timestamps would not."""
    return "concat_ws(chr(31), " + ", ".join(f"string({p})" for p in parts) + ")"


def digest_uniform(digest: str, digit: int = 1) -> str:
    """SQL text of the uniform in hex digits ``digit .. digit+14`` of
    the md5 hex string ``digest``; one digest gives two independent
    draws, at ``digit`` 1 and 16."""
    return f"double(bigint(conv(substring({digest}, {digit}, 15), 16, 10))) / {SPACE!r}D"


def uniform(key: str) -> str:
    """SQL text of the uniform keyed by the string expression ``key``."""
    return digest_uniform(f"md5({key})")


def sql_string(s: str) -> str:
    """``s`` as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
