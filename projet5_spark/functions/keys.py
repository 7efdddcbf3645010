"""Deterministic surrogate keys (reference R11, SURVEY.md §7.4.2).

The reference mints Mongo ``ObjectId``s (migration.py:185, :229) — unique
but different every run, which breaks differential testing and idempotent
re-runs. Here the key is a pure function of the natural key:
``sha2(concat_ws(US, cols), 256)``.

- 256-bit keeps the birthday bound far beyond 100 TB row counts (the
  hash is also the dedup identity, so collisions would merge entities).
- ``\\x1f`` (ASCII unit separator) delimits columns so ``("ab","c")``
  and ``("a","bc")`` hash differently.
- NULL columns are encoded as an empty string by ``concat_ws`` — callers
  that must distinguish NULL from '' should coalesce to a sentinel first.
- Computed JVM-side inside codegen; no shuffle, no Python.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_SEP = "\x1f"


def _plain_names(cols) -> bool:
    """Whether every column is a plain ``\\w+`` name — the only names the
    backticked SQL-text fast paths resolve exactly as ``F.col`` does.
    ``F.col("a.b")`` is the nested field ``b`` of struct ``a``, while
    the backticked ``a.b`` names a top-level column literally called
    "a.b", and a backtick inside a name breaks the SQL text."""
    return all(isinstance(c, str) and re.fullmatch(r"\w+", c) for c in cols)


def surrogate_key(*cols: Column | str, bits: int = 256) -> Column:
    """Deterministic hex surrogate key over the natural-key columns."""
    if _plain_names(cols):
        # SQL-text fast path (r13): one py4j call instead of ~4 per
        # column — chr(31) constant-folds to the same separator literal
        args = ", ".join(f"cast(`{c}` as string)" for c in cols)
        return F.expr(f"sha2(concat_ws(chr(31), {args}), {bits})")
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.sha2(F.concat_ws(_SEP, *[c.cast("string") for c in cs]), bits)


def tuple_digest(*cols: Column | str) -> Column:
    """Injective, never-NULL 32-byte digest of a column tuple — a join
    key that makes single-column equality equivalent to null-safe
    tuple equality.

    Unlike :func:`surrogate_key`, NULL is distinguishable from any
    string value: each field is encoded ``N`` for NULL or
    ``V<len>:<value>`` otherwise (length prefix prevents separator
    injection), then sha2-256'd. Collision odds ~2⁻¹²⁸. Use it to
    replace a wide multi-column ``eqNullSafe`` conjunction with one
    32-byte hash-join key — smaller broadcast hash table, one
    comparison per probe.
    """
    if _plain_names(cols):
        # SQL-text fast path (r13): one py4j call instead of ~10 per
        # column; identical encoding
        enc = ", ".join(
            f"(CASE WHEN cast(`{c}` as string) IS NULL THEN 'N' "
            f"ELSE concat('V', cast(length(cast(`{c}` as string)) as string),"
            f" ':', cast(`{c}` as string)) END)"
            for c in cols
        )
        return F.expr(f"sha2(concat({enc}), 256)")
    parts = []
    for c in cols:
        s = (F.col(c) if isinstance(c, str) else c).cast("string")
        parts.append(
            F.when(s.isNull(), F.lit("N")).otherwise(
                F.concat(F.lit("V"), F.length(s).cast("string"), F.lit(":"), s)
            )
        )
    return F.sha2(F.concat(*parts), 256)


def surrogate_key64(*cols: Column | str) -> Column:
    """64-bit variant (``xxhash64``) — cheaper joins/shuffles when the
    keyspace is small enough that 64-bit collision odds are acceptable."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.xxhash64(*[c.cast("string") for c in cs])
