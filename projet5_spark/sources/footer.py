"""Parquet footer metadata for local paths: the driver-side fast path
behind every plan-build pivot that needs a row count, a column max, a
schema or a decoded size. A footer read costs ~1 ms per part file; the
Spark count, max or schema-inference job it replaces costs ~0.1-0.2 s
of scheduling round-trip on every plan build.

This module is the only code that lists a parquet path's part files
and reads their footers. One listing rule decides whether a path gets
the fast path at all:

- a single file is one part;
- a flat directory yields its sorted ``*.parquet`` parts and skips
  ``_``/``.``-prefixed markers (``_SUCCESS``, ``.crc`` sidecars);
- a remote path, a missing or empty path, or any directory that
  contains a subdirectory gets no fast path. Spark's partition
  discovery turns ``k=v/`` subdirectories into columns and decides
  which files a mixed layout scans; a flat listing cannot reproduce
  either.

Every function returns None where the rule, the part cap or the
footers give no exact answer, and on any error reading them: a fast
path must never fail a plan build, and every caller keeps its Spark
fallback for that case.
"""

from __future__ import annotations

import os

#: Part cap: past this, serial footer reads on the driver cost more
#: than Spark's own (distributed) job. The exact answers below return
#: None above it; :func:`decoded_bytes` samples this many footers.
MAX_PARTS = 64


def _parts(path: str) -> list[str] | None:
    """The local part files of a parquet ``path`` under the listing
    rule (module docstring), or None when it gives no fast path."""
    p = path[7:] if path.startswith("file://") else path
    if os.path.isfile(p):
        return [p]
    if not os.path.isdir(p):
        return None  # remote URI (hdfs://, s3a://, ...) or missing
    files = []
    with os.scandir(p) as entries:
        for entry in entries:
            if entry.is_dir():
                return None  # partitioned or mixed layout: Spark decides
            if entry.name.endswith(".parquet") and not entry.name.startswith(
                ("_", ".")
            ):
                files.append(entry.path)
    return sorted(files) or None


def _footer(part: str):
    """One part file's footer reader — the single place a footer is
    opened (tests count calls here)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(part)


def _exact(path: str) -> list | None:
    """Footer readers for every part of ``path``, or None when the
    listing rule gives no fast path, the parts exceed the cap, or a
    part cannot be opened (missing pyarrow, non-parquet content)."""
    try:
        files = _parts(path)
        if files is None or len(files) > MAX_PARTS:
            return None
        return [_footer(f) for f in files]
    except Exception:  # unlistable directory / undecodable footer
        return None


def row_count(path: str) -> int | None:
    """Exact row count: the sum of the parts' ``num_rows`` (plain
    parquet has no deletion vectors, so it is what ``count()`` says)."""
    footers = _exact(path)
    if footers is None:
        return None
    return sum(pf.metadata.num_rows for pf in footers)


def column_max(path: str, column: str):
    """Exact max of ``column`` from row-group statistics, or None when
    it is not a leaf column, any row group lacks min/max stats, or no
    part holds a row group. Fixed-width (integer) statistics are never
    truncated, so for the key columns the pivots read this is what the
    ``max`` job returns."""
    mx = None
    try:
        for pf in _exact(path) or ():
            md = pf.metadata
            # statistics are per LEAF column: a struct before ``column``
            # shifts its leaf index past its top-level field index
            leaves = [md.schema.column(i).path for i in range(md.num_columns)]
            idx = leaves.index(column)  # ValueError: not a leaf column
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                mx = st.max if mx is None else max(mx, st.max)
    except Exception:  # absent column / undecodable statistics
        return None
    return mx


def arrow_schema(path: str):
    """The parts' one arrow schema, or None when parts differ (schema
    evolution: Spark's inference decides) or any part stores legacy
    INT96 timestamps, which pyarrow reports as ``timestamp[ns]`` and
    so cannot be told apart from the ns-annotated encoding."""
    try:
        arrow = None
        for pf in _exact(path) or ():
            md = pf.metadata
            if any(
                md.schema.column(i).physical_type == "INT96"
                for i in range(md.num_columns)
            ):
                return None
            if arrow is None:
                arrow = pf.schema_arrow
            elif pf.schema_arrow != arrow:
                return None
        return arrow
    except Exception:
        return None


def decoded_bytes(path: str) -> int | None:
    """Decoded (uncompressed) row-group bytes of ``path``. Reads at most
    :data:`MAX_PARTS` footers, evenly spread over the sorted parts, and
    scales their mean bytes per part by the part count — exact up to
    the cap, a bounded driver probe past it (~100k parts at 100 TB)."""
    try:
        files = _parts(path)
        if files is None:
            return None
        sample = files[:: -(-len(files) // MAX_PARTS)]
        total = 0
        for f in sample:
            md = _footer(f).metadata
            for rg in range(md.num_row_groups):
                total += md.row_group(rg).total_byte_size
        return total * len(files) // len(sample)
    except Exception:
        return None
